"""CheckpointStore: the driver-side single-file store (S8/S9).

Covers the timestamp contract against Spark's own conversion under a
non-UTC TZ, last-writer-wins merging, idempotent seeding, loading a
store the earlier Spark writer left, and the crash window of a write.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

import pyarrow.parquet as pq
import pytest

from lakeview_spark.constants import INITIAL_CHECKPOINT
from lakeview_spark.operators.checkpoints import STORE_FILE, CheckpointStore
from lakeview_spark.schemas import CHECKPOINTS_SCHEMA


def row(table_id, batch_id, ts=datetime(2026, 1, 2), last="", archived=False, version=0):
    return {
        "table_id": table_id,
        "batch_id": batch_id,
        "checkpoint_ts": ts,
        "last_uploaded_file": last,
        "first_incomplete_commit_file": "",
        "archived_commits_processed": archived,
        "last_archived_manifest_version": version,
    }


def by_id(rows):
    return {r.table_id: r for r in rows}


@pytest.fixture()
def local_tz(monkeypatch):
    """Run the test with the process in a non-UTC zone (UTC+05:30)."""
    monkeypatch.setenv("TZ", "Asia/Kolkata")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_checkpoint_ts_round_trip_under_non_utc_tz(spark, tmp_path, local_tz):
    ts = datetime(2026, 1, 2, 3, 4, 5, 678901)
    store = CheckpointStore(spark, str(tmp_path / "ckpts"))
    # through Spark: createDataFrame -> collect inside upsert
    store.upsert(spark.createDataFrame([row("t1", 1, ts)], CHECKPOINTS_SCHEMA))
    # plain driver rows
    store.upsert([row("t2", 2, ts)])

    snap = store.snapshot()
    collected = by_id(store.load().collect())
    for tid in ("t1", "t2"):
        # naive datetimes mean local wall time, as in PySpark's conversion
        assert snap[tid]["checkpoint_ts"] == ts
        assert collected[tid].checkpoint_ts == ts
    # the file holds the UTC instant of that local wall time
    stored = pq.read_table(store.file).column("checkpoint_ts").to_pylist()
    assert stored == [ts.astimezone(timezone.utc)] * 2
    assert stored[0].hour == 21  # 03:04 at UTC+05:30 is 21:34 the day before


def test_upsert_is_last_writer_wins(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ckpts"))
    store.upsert([row("t1", 1)])
    store.upsert([row("t1", 2, last="200.commit"), row("t2", 5)])
    store.upsert(spark.createDataFrame([row("t1", 3), row("t1", 4)], CHECKPOINTS_SCHEMA))

    got = by_id(store.load().collect())
    assert len(got) == store.load().count() == 2
    assert got["t1"].batch_id == 4 and got["t2"].batch_id == 5
    snap = store.snapshot()
    assert {k: v["batch_id"] for k, v in snap.items()} == {"t1": 4, "t2": 5}
    # re-applying the same batch gives the same state
    store.upsert([row("t2", 5)])
    assert store.snapshot() == snap


def test_initialize_tables_is_idempotent_for_lists_and_dataframes(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ckpts"))
    assert store.snapshot() == {} and store.load().count() == 0
    assert store.initialize_tables(["t1", "t2", "t1"]) == 2
    assert store.initialize_tables(["t1", "t2"]) == 0
    store.upsert([row("t1", 7, last="700.commit")])

    tables = spark.createDataFrame([("t2",), ("t3",)], "table_id string")
    assert store.initialize_tables(tables) == 1
    assert store.initialize_tables(tables) == 0

    snap = store.snapshot()
    assert sorted(snap) == ["t1", "t2", "t3"]
    assert snap["t1"]["batch_id"] == 7  # an existing row is never reseeded
    assert snap["t3"] == {"table_id": "t3", **INITIAL_CHECKPOINT}
    assert store.load().count() == 3


def test_store_written_by_spark_loads_and_is_replaced(spark, tmp_path):
    path = str(tmp_path / "ckpts")
    ts = datetime(2026, 1, 2, 3, 4, 5)
    legacy = spark.createDataFrame(
        [row("t1", 3, ts, "300.commit", True, 2), row("t2", 0)], CHECKPOINTS_SCHEMA
    )
    # the earlier Spark writer: a directory of part files
    legacy.coalesce(1).write.mode("overwrite").parquet(path)
    assert any(f.startswith("part-") for f in os.listdir(path))

    store = CheckpointStore(spark, path)
    snap = store.snapshot()
    assert snap["t1"]["checkpoint_ts"] == ts
    assert snap["t1"]["last_archived_manifest_version"] == 2
    assert by_id(store.load().collect())["t1"].last_uploaded_file == "300.commit"

    store.upsert([row("t2", 1)])
    # the new file replaces the part files: nothing is read twice
    assert not any(f.startswith("part-") for f in os.listdir(path))
    assert os.listdir(path) == [STORE_FILE]
    got = by_id(store.load().collect())
    assert len(got) == store.load().count() == 2
    assert got["t1"].batch_id == 3 and got["t1"].checkpoint_ts == ts
    assert got["t2"].batch_id == 1


def test_crash_between_write_and_swap_keeps_previous_state(spark, tmp_path, monkeypatch):
    store = CheckpointStore(spark, str(tmp_path / "ckpts"))
    store.upsert([row("t1", 1)])
    before = store.snapshot()

    def crash(src, dst):
        # the new state is fully written but never swapped in
        assert os.path.getsize(src) > 0
        raise OSError("crash before swap")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="crash before swap"):
        store.upsert([row("t1", 2), row("t2", 9)])
    monkeypatch.undo()

    # a crash of the process leaves its temporary file behind
    with open(os.path.join(store.path, f".{STORE_FILE}.tmp-deadbeef"), "wb") as f:
        f.write(b"not parquet")
    assert store.snapshot() == before
    got = by_id(store.load().collect())
    assert list(got) == ["t1"] and got["t1"].batch_id == 1

    store.upsert([row("t1", 2)])
    assert store.snapshot()["t1"]["batch_id"] == 2
