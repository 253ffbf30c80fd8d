"""The two drivers of the shared upload rules agree.

The extractor round runs the upload rules per table in plain Python
(`runner.batch_timeline`, inside its upload task). The batching queries
and the streaming twin run them as DataFrame operators
(`batch_instants`, then `compute_checkpoint_updates`). Both sit on
`create_batches` and `last_uploaded_file_from_batch`. Here both drivers
get the same candidate files and checkpoints, and must return the same
batches and the same new checkpoint row per table, so neither can drift
from the other.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lakeview_spark.config import EngineConfig
from lakeview_spark.constants import (
    EPOCH,
    HOODIE_PROPERTIES_FILE,
    INITIAL_CHECKPOINT,
    V1_ARCHIVED_NUMERIC_PATTERN,
)
from lakeview_spark.operators.batcher import BLOCK, CONTINUE, batch_instants
from lakeview_spark.operators.uploader import ACTIVE, ARCHIVED, files_to_upload
from lakeview_spark.runner import batch_timeline, compute_checkpoint_updates
from lakeview_spark.schemas import CHECKPOINTS_SCHEMA

T0 = datetime(2024, 7, 20, 12, 0, 0)
CKPT_TS = datetime(2024, 7, 22)
FILES_DDL = "table_id string, filename string, last_modified timestamp"


def ckpt(table_id, batch_id=0, ts=EPOCH, last="", first_incomplete="", archived=False):
    return {
        **INITIAL_CHECKPOINT,
        "table_id": table_id,
        "batch_id": batch_id,
        "checkpoint_ts": ts,
        "last_uploaded_file": last,
        "first_incomplete_commit_file": first_incomplete,
        "archived_commits_processed": archived,
    }


def files(names, lm=T0):
    return [(n, lm, False, 1) for n in names]


def triple(ts, action="commit", lm=T0):
    inflight = f"{ts}.inflight" if action == "commit" else f"{ts}.{action}.inflight"
    return files([f"{ts}.{action}.requested", inflight, f"{ts}.{action}"], lm)


def random_active_table(rng, i):
    """A seeded timeline: complete, in-flight and requested-only instants
    of every whitelisted shape (triples, savepoint pairs, 1/2/3-file
    rollbacks), mtimes on both sides of the checkpoint, plus listing
    noise; the checkpoint is fresh or mid-timeline."""
    entries, ts = [], 100 + i
    for _ in range(rng.randint(0, 14)):
        ts += rng.randint(1, 40)
        lm = T0 + timedelta(hours=rng.randint(0, 96))
        action = rng.choice(["commit", "deltacommit", "clean", "compaction", "rollback", "savepoint"])
        state = rng.choice(["done", "done", "done", "inflight", "requested"])
        if action == "savepoint":
            names = [f"{ts}.savepoint.inflight"] + ([f"{ts}.savepoint"] if state == "done" else [])
        elif action == "rollback" and state == "done" and rng.random() < 0.5:
            names = rng.choice([[f"{ts}.rollback"], [f"{ts}.rollback.inflight", f"{ts}.rollback"]])
        else:
            names = [n for n, *_ in triple(ts, action)]
            names = names[: {"done": 3, "inflight": 2, "requested": 1}[state]]
        entries += files(names, lm)
    entries += [("archived", T0, True, 0), ("notes.txt", T0, False, 1)]
    if rng.random() < 0.5:
        entries.append((HOODIE_PROPERTIES_FILE, T0 + timedelta(seconds=i), False, 10))
    rng.shuffle(entries)
    tid = f"rand{i}"
    if rng.random() < 0.4:
        return tid, entries, ckpt(tid)
    instants = sorted(n for n, _, d, _ in entries if not d and n[0].isdigit())
    last = rng.choice(instants) if instants else ""
    return tid, entries, ckpt(tid, rng.randint(1, 5), CKPT_TS, last, rng.choice(["", "150"]), True)


def active_cases():
    cases = [
        # a V1 listing: hoodie.properties is listed, so the properties-only
        # first batch takes its checkpoint_ts from the listed mtime
        ("props_listed", [(HOODIE_PROPERTIES_FILE, T0 + timedelta(minutes=5), False, 10),
                          ("archived", T0, True, 0)], ckpt("props_listed")),
        # a V2 listing holds no properties file: checkpoint_ts stays empty
        ("props_synthesized", files(["100.commit.requested", "100.inflight"]), ckpt("props_synthesized")),
        # after a properties-only archived batch: no checkpoint_ts at all
        ("after_archived_props", triple(100) + triple(200),
         ckpt("after_archived_props", 1, None, HOODIE_PROPERTIES_FILE, archived=True)),
        ("savepoint_tail", triple(100) + triple(200) + files(["300.savepoint.inflight", "300.savepoint"]),
         ckpt("savepoint_tail", 2, CKPT_TS, "100.commit")),
        ("rollback_triple_tail", triple(100) + triple(200, "rollback"), ckpt("rollback_triple_tail")),
        ("rollback_pair_tail", triple(100) + files(["200.rollback.inflight", "200.rollback"]),
         ckpt("rollback_pair_tail", 3, CKPT_TS, "50.commit")),
        ("rollback_single_tail", triple(100) + files(["200.rollback"]), ckpt("rollback_single_tail")),
        # ContinueOnIncompleteCommitStrategyTest.java:102-256
        ("reference_scenario",
         triple(111, "deltacommit", CKPT_TS + timedelta(days=1))
         + files(["333.clean", "333.clean.requested", "333.clean.inflight", "444.rollback.requested",
                  "444.rollback.inflight", "666.rollback.requested", "777.rollback.requested",
                  "777.rollback.inflight", "777.rollback"], CKPT_TS + timedelta(days=1))
         + files(["222.clean.inflight", "222.clean.requested"], CKPT_TS - timedelta(days=1)),
         ckpt("reference_scenario", 3, CKPT_TS, archived=True)),
    ]
    rng = random.Random(20240723)
    return cases + [random_active_table(rng, i) for i in range(24)]


def archived_cases():
    rng = random.Random(7)
    cases = [
        ("fresh", files([f".commits_.archive.{n}_1-0-1" for n in (10, 2, 3, 1, 7)]), ckpt("fresh")),
        ("resumed", files([f".commits_.archive.{n}_1-0-1" for n in (10, 2, 3)]),
         ckpt("resumed", 1, CKPT_TS, ".commits_.archive.2_1-0-1")),
        # an archived folder with no instants: a properties-only batch
        ("props_only", [("sub", T0, True, 0), ("README", T0, False, 1)], ckpt("props_only")),
        # names with no numeric token sort first, the properties file first of all
        ("untokened", files(["manifest_3", ".commits_.archive.4_1-0-1", "_version_"]), ckpt("untokened")),
    ]
    for i in range(8):
        nums = rng.sample(range(1, 400), rng.randint(1, 9))
        entries = [(f".commits_.archive.{n}_1-0-1", T0 + timedelta(minutes=n), False, 1) for n in nums]
        start = ckpt(f"rand{i}")
        if i % 2:
            start = ckpt(f"rand{i}", 1, CKPT_TS, f".commits_.archive.{min(nums)}_1-0-1")
        cases.append((f"rand{i}", entries, start))
    return cases


def archived_packing(candidates_df, size):
    """The DataFrame form of uniform archived packing: numeric order,
    batch ids from 1."""
    n = F.regexp_extract("filename", V1_ARCHIVED_NUMERIC_PATTERN, 1).try_cast("long")
    w = Window.partitionBy("table_id").orderBy(
        n.asc_nulls_first(), F.col("filename") != HOODIE_PROPERTIES_FILE, "filename"
    )
    pos = F.row_number().over(w) - 1
    return candidates_df.select(
        "table_id",
        (F.floor(pos / size) + 1).cast("int").alias("batch_id"),
        (pos % size).cast("int").alias("seq_in_batch"),
        "filename",
        F.lit("").alias("first_incomplete"),
    )


@pytest.mark.parametrize(
    "timeline_type,strategy,size",
    [(ACTIVE, BLOCK, 4), (ACTIVE, BLOCK, 20), (ACTIVE, CONTINUE, 4), (ACTIVE, CONTINUE, 20),
     (ARCHIVED, BLOCK, 2), (ARCHIVED, BLOCK, 3)],
)
def test_per_table_step_matches_dataframe_operators(spark, timeline_type, strategy, size):
    cases = active_cases() if timeline_type == ACTIVE else archived_cases()
    config = EngineConfig(parser_config=[], upload_strategy=strategy, active_batch_size=size, archived_batch_size=size)

    want_batches, want_ckpts = {}, {}
    for tid, entries, start in cases:
        batches, updated = batch_timeline(entries, start, timeline_type, config)
        base = start["batch_id"] if timeline_type == ACTIVE else 0
        want_batches[tid] = {base + i + 1: b for i, b in enumerate(batches)}
        if updated:
            want_ckpts[tid] = updated
    assert any(want_ckpts.values()), "no case produced a checkpoint"

    candidates_df = spark.createDataFrame(
        [(tid, fn, lm) for tid, entries, start in cases
         for fn, lm in files_to_upload(entries, start, timeline_type, strategy)],
        FILES_DDL,
    )
    files_df = spark.createDataFrame(
        [(tid, fn, lm) for tid, entries, _ in cases for fn, lm, _, _ in entries], FILES_DDL
    )
    ckpts_df = spark.createDataFrame([start for _, _, start in cases], CHECKPOINTS_SCHEMA)
    if timeline_type == ACTIVE:
        batches_df = batch_instants(candidates_df, size, strategy, ckpts_df)
    else:
        batches_df = archived_packing(candidates_df, size)
    batches_df = batches_df.cache()

    got_batches = {tid: {} for tid, _, _ in cases}
    for r in sorted(batches_df.collect(), key=lambda r: (r.table_id, r.batch_id, r.seq_in_batch)):
        got_batches[r.table_id].setdefault(r.batch_id, []).append(r.filename)
    got_ckpts = {
        r.table_id: r.asDict()
        for r in compute_checkpoint_updates(batches_df, files_df, ckpts_df, timeline_type).collect()
    }
    batches_df.unpersist()

    assert got_batches == want_batches
    assert got_ckpts == want_ckpts
