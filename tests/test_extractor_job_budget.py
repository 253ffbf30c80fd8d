"""Spark-job budget of one extractor round, and the two sides of its
driver-first switch.

A small V1 + V2 lake goes through `run_once` three times: cold (every
file is new), delta (one V1 table gains a commit and the V2 manifest
advances) and no-op (nothing changed). Each round runs under its own
job group, and the status tracker counts the jobs it launched. The
ceilings sit a little above what the round needs today, so a per-table
Spark job or a plan evaluated twice fails here before it shows up in a
benchmark.

Every round on these small lakes finishes on the driver, so the job
side of the switch is run here on purpose: the same lake is uploaded
with no driver budget (every table goes to the job) and with the
default (every table stays on the driver), and both must agree. The
budget itself is the price of the job a round would launch: the
application's first job until one has run, a warm job after.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pytest

from lakeview_spark import driver_first
from lakeview_spark.config import load_config
from lakeview_spark.functions.ids import uuid3_from_uri
from lakeview_spark.operators.checkpoints import CheckpointStore
from lakeview_spark.runner import UploadRoundError, run_once
from lakeview_spark.sources.listing import list_dir_local

# Spark jobs per round. On Spark 4.1 local[4] each round takes 0 jobs:
# the discovery walk, hoodie.properties reads included, and the upload
# of every table both finish on the driver inside their budget (0.3 s
# or more).
# The ceiling leaves room for the one overflow job a slower host may
# launch. With the upload always a job the rounds took 1, 1 and 1; with
# a discovery job per directory level and a Spark properties read 6, 6
# and 6; when the upload ran as DataFrame phases (a listing, the
# batcher's adaptive-execution stages, a mirror and a checkpoint
# aggregation per timeline) 37, 26 and 20; with the checkpoint store on
# Spark jobs as well, 63, 41 and 25.
JOB_CEILING = {"cold": 1, "delta": 1, "noop": 1}


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


def _config(root):
    return load_config(
        {
            "version": "V1",
            "metadataExtractorConfig": {
                "jobRunMode": "ONCE",
                "uploadStrategy": "BLOCK_ON_INCOMPLETE_COMMIT",
                "parserConfig": [{"lake": "l", "databases": [{"name": "d", "basePaths": [root]}]}],
            },
        }
    )


def test_extractor_round_job_budget(spark, tmp_path):
    root = str(tmp_path / "lake")
    _lake(root)
    cfg = _config(root)
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
    for m in (cold, delta, noop):
        assert m["upload_tables_in_job"] == 0  # the driver uploaded every table


def _tree(root):
    """Every file under ``root``: relative path -> content."""
    out = {}
    for d, _, files in os.walk(root):
        for fn in files:
            with open(os.path.join(d, fn)) as f:
                out[os.path.relpath(os.path.join(d, fn), root)] = f.read()
    return out


def test_upload_on_driver_and_in_job_agree(spark, tmp_path, monkeypatch):
    """One lake, uploaded twice: with no driver budget every table goes
    to the job, with the default every table stays on the driver. Both
    give the same failure (its metrics included), mirror, checkpoints
    and metrics."""
    root = str(tmp_path / "lake")
    _lake(root)
    # an in-flight commit: BLOCK_ON_INCOMPLETE_COMMIT stops v1_b before it
    for suffix in (".commit.requested", ".inflight"):
        _write(os.path.join(root, "db", "v1_b", ".hoodie", f"110{suffix}"))
    blocked = uuid3_from_uri(os.path.join(root, "db", "v1_a"))
    cfg = _config(root)

    def side_of(metrics):
        """Pop what depends on the side that ran: (tables uploaded in the
        job, whether the walk shipped directories)."""
        metrics.pop("elapsed_s", None)
        return metrics.pop("upload_tables_in_job"), metrics.pop("discover_dirs_in_job") > 0

    rounds, in_job = {}, {}
    for side, price in (("job", lambda spark: 0.0), ("driver", driver_first.job_start_s)):
        monkeypatch.setattr(driver_first, "job_start_s", price)
        state, mirror = str(tmp_path / side / "state"), str(tmp_path / side / "mirror")
        store = CheckpointStore(spark, os.path.join(state, "checkpoints"))
        # a regular file where v1_a's mirror directory must go
        _write(os.path.join(mirror, blocked), "not a directory")
        with pytest.raises(UploadRoundError) as failure:
            run_once(spark, cfg, state, mirror)
        error = str(failure.value).replace(mirror, "<mirror>")
        failed_side = side_of(failure.value.metrics)
        failed = {
            "error": error,
            "metrics": failure.value.metrics,
            "ids": failure.value.failed_table_ids,
            "ckpts": store.snapshot(),
            "tree": _tree(mirror),
        }

        os.remove(os.path.join(mirror, blocked))
        metrics = run_once(spark, cfg, state, mirror)
        assert side_of(metrics) == failed_side
        in_job[side] = failed_side[0]
        after = {"metrics": metrics, "ckpts": store.snapshot(), "tree": _tree(mirror)}
        rounds[side] = (failed, after)

    assert in_job == {"job": 5, "driver": 0}
    assert rounds["job"] == rounds["driver"]

    failed, after = rounds["driver"]
    assert failed["error"].startswith(f"upload failed for 1 table(s) ['{blocked}']")
    assert failed["ids"] == [blocked]
    # the failed round keeps its counts: discovery's, and the four tables
    # that uploaded (v1_b stops before its in-flight commit)
    assert failed["metrics"]["tables_discovered"] == 5
    assert failed["metrics"]["v2_files_uploaded"] == 2
    assert failed["metrics"]["archived_batched_files"] == 2  # v1_b's archive + properties
    ckpts = failed["ckpts"]
    assert ckpts[blocked]["batch_id"] == 0 and ckpts[blocked]["last_uploaded_file"] == ""
    assert not ckpts[blocked]["archived_commits_processed"]
    assert [path for path in failed["tree"] if path.startswith(blocked)] == [blocked]
    # the other tables advanced in the failed round
    v1_b = uuid3_from_uri(os.path.join(root, "db", "v1_b"))
    assert ckpts[v1_b]["last_uploaded_file"] == "105.commit"  # stopped at 110
    for name in V2_TABLES:
        v2 = uuid3_from_uri(os.path.join(root, "db", name))
        assert ckpts[v2]["last_archived_manifest_version"] == 1
    # unblocked, the next round uploads v1_a alone: two archive files and
    # hoodie.properties, then five commits of three files each
    assert after["metrics"]["archived_batched_files"] == 3
    assert after["metrics"]["active_batched_files"] == 15
    assert after["ckpts"][blocked]["last_uploaded_file"] == "105.commit"


def test_first_job_priced_until_the_application_has_run_one(spark, tmp_path, monkeypatch):
    """A round whose driver work costs more than a warm job's start but
    less than the application's first job's stays on the driver until
    the application has run an extractor job, and ships after."""
    root = str(tmp_path / "lake")
    _lake(root)
    cfg = _config(root)

    def slow_lister(path):  # 7 discovery and 8 timeline listings a cold round
        time.sleep(0.06)
        return list_dir_local(path)

    def cold_round(name):
        state, mirror = str(tmp_path / name / "state"), str(tmp_path / name / "mirror")
        metrics, jobs = _jobs_of(spark, lambda: run_once(spark, cfg, state, mirror, slow_lister))
        store = CheckpointStore(spark, os.path.join(state, "checkpoints"))
        return metrics, jobs, (store.snapshot(), _tree(mirror))

    monkeypatch.setattr(driver_first, "_warm_app_id", None)
    first, first_jobs, first_out = cold_round("first")
    assert first_jobs == 0
    assert first["upload_tables_in_job"] == 0 and first["discover_dirs_in_job"] == 0

    driver_first.finish_in_job(spark, [0], lambda share: share)
    warm, warm_jobs, warm_out = cold_round("warm")
    assert warm_jobs >= 1 and warm["upload_tables_in_job"] > 0
    assert warm_out == first_out
