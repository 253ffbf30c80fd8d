"""Spark-job budget of one extractor round.

A small V1 + V2 lake goes through `run_once` three times: cold (every
file is new), delta (one V1 table gains a commit and the V2 manifest
advances) and no-op (nothing changed). Each round runs under its own
job group, and the status tracker counts the jobs it launched. The
ceilings sit a little above what the round needs today, so a per-table
Spark job or a plan evaluated twice fails here before it shows up in a
benchmark.
"""

from __future__ import annotations

import json
import os
import uuid

from lakeview_spark.config import load_config
from lakeview_spark.runner import run_once

# Spark jobs per round. On Spark 4.1 local[4] each round takes 1 job,
# the upload job for every table: the discovery walk, hoodie.properties
# reads included, finishes on the driver inside its 0.3 s budget. The
# ceiling leaves room for the one walk job a slower host may launch.
# With a discovery job per directory level and a Spark properties read
# the rounds took 6, 6 and 6; when the upload ran as DataFrame phases (a
# listing, the batcher's adaptive-execution stages, a mirror and a
# checkpoint aggregation per timeline) 37, 26 and 20; with the
# checkpoint store on Spark jobs as well, 63, 41 and 25.
JOB_CEILING = {"cold": 2, "delta": 2, "noop": 2}


def _write(path, text="x"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _properties(hoodie, name, layout):
    _write(
        os.path.join(hoodie, "hoodie.properties"),
        f"hoodie.table.name={name}\nhoodie.table.type=COPY_ON_WRITE\n"
        f"hoodie.table.version={6 if layout == 1 else 8}\n"
        f"hoodie.timeline.layout.version={layout}\n",
    )


def _commit(timeline, instant):
    for suffix in (".commit.requested", ".inflight", ".commit"):
        _write(os.path.join(timeline, f"{instant}{suffix}"))


def _manifest(history, version, files):
    for fn in files:
        _write(os.path.join(history, fn))
    _write(
        os.path.join(history, f"manifest_{version}"),
        json.dumps({"files": [{"fileName": fn, "fileLen": 1} for fn in files]}),
    )
    _write(os.path.join(history, "_version_"), str(version))


V2_TABLES = ("v2_a", "v2_b")


def _history(root, name):
    return os.path.join(root, "db", name, ".hoodie", "timeline", "history")


def _lake(root):
    # three V1 tables, one of them without an archived timeline
    for name, archived in (("v1_a", 2), ("v1_b", 1), ("v1_c", 0)):
        hoodie = os.path.join(root, "db", name, ".hoodie")
        _properties(hoodie, name, 1)
        for i in range(1, 6):
            _commit(hoodie, 100 + i)
        for i in range(1, archived + 1):
            _write(os.path.join(hoodie, "archived", f".commits_.archive.{i}_1-0-1"))
    for name in V2_TABLES:
        timeline = os.path.dirname(_history(root, name))
        _properties(os.path.dirname(timeline), name, 2)
        for i in range(1, 4):
            _commit(timeline, 200 + i)
        _manifest(_history(root, name), 1, ["20260101_20260115_0.parquet"])


def _delta(root):
    """One V1 table gains a commit; every V2 manifest advances by one file."""
    _commit(os.path.join(root, "db", "v1_a", ".hoodie"), 110)
    for name in V2_TABLES:
        _manifest(
            _history(root, name), 2, ["20260101_20260115_0.parquet", "20260116_20260131_0.parquet"]
        )


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "extractor round job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_extractor_round_job_budget(spark, tmp_path):
    root = str(tmp_path / "lake")
    _lake(root)
    cfg = load_config(
        {
            "version": "V1",
            "metadataExtractorConfig": {
                "jobRunMode": "ONCE",
                "uploadStrategy": "BLOCK_ON_INCOMPLETE_COMMIT",
                "parserConfig": [{"lake": "l", "databases": [{"name": "d", "basePaths": [root]}]}],
            },
        }
    )
    state, mirror = str(tmp_path / "state"), str(tmp_path / "mirror")

    def round_():
        return run_once(spark, cfg, state, mirror)

    jobs = {}
    cold, jobs["cold"] = _jobs_of(spark, round_)
    assert cold["tables_discovered"] == 5 and cold["v2_files_uploaded"] == 2
    assert cold["archived_batched_files"] == 5  # three archive files + two properties
    _delta(root)
    delta, jobs["delta"] = _jobs_of(spark, round_)
    assert delta["active_batched_files"] == 3 and delta["v2_files_uploaded"] == 2
    noop, jobs["noop"] = _jobs_of(spark, round_)
    assert noop["active_batched_files"] == 0 and noop["v2_files_uploaded"] == 0

    over = {k: (n, JOB_CEILING[k]) for k, n in jobs.items() if n > JOB_CEILING[k]}
    assert not over, f"Spark jobs per round over budget (jobs, ceiling): {over}"
