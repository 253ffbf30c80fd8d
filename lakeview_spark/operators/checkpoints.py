"""Checkpoint store (SURVEY §2.1 S8/S9, §2.9 exactly-once state).

The reference keeps one row of incremental state per table
(Checkpoint.java:13-24) behind a REST upsert (OnehouseApiClient.java:69-105).
Here that state is one parquet file, read and written on the driver
with pyarrow. It is the extractor's control state: one small row per
table, where a Spark job per read or write would cost more in job
launch than the data is worth. Spark only sees it as the broadcast side
of the per-file operators.

- `snapshot()` -> {table_id: row dict}, read on the driver;
- `load()` -> the same rows as a DataFrame, for the broadcast joins;
- `upsert(updates)` -> last-writer-wins per table_id, from a DataFrame
  (collected once) or plain rows; idempotent under re-run (the same
  batch re-applied gives the same state, SURVEY §7.3.5);
- `initialize_tables(tables)` -> seed INITIAL_CHECKPOINT rows for the
  table ids that have none (TableMetadataUploaderService.java:125-132,
  MetadataExtractorConstants.java:61-69).

Every write goes to a hidden temporary file in the store directory,
synced to disk, and one `os.replace` swaps it in, so a crash at any
point leaves the old or the new state, never none. A store written by
the earlier Spark writer (a directory of `part-*.parquet` files) still
loads; once the first write has replaced it, its part files are removed
and never read again.

Timestamps convert the way PySpark does (TimestampType.toInternal /
fromInternal): a naive datetime is local wall time. Rows from
`snapshot()` therefore equal rows Spark collects from `load()` under any
TZ, and the file holds UTC microseconds.
"""

from __future__ import annotations

import os
import uuid
from typing import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import TimestampType

from lakeview_spark.constants import INITIAL_CHECKPOINT
from lakeview_spark.schemas import CHECKPOINTS_SCHEMA

STORE_FILE = "checkpoints.parquet"
FIELDS = [f.name for f in CHECKPOINTS_SCHEMA.fields]
ARROW_SCHEMA = to_arrow_schema(CHECKPOINTS_SCHEMA)
_TS = TimestampType()


def _as_dict(row) -> dict:
    """A Row or a dict -> row dict with exactly the store's fields."""
    if hasattr(row, "asDict"):
        row = row.asDict()
    return {k: row.get(k) for k in FIELDS}


class CheckpointStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.file = os.path.join(path, STORE_FILE)

    def _legacy_files(self) -> list[str]:
        """Files of a store the Spark writer left: part files plus their
        checksums and `_SUCCESS` markers."""
        if not os.path.isdir(self.path):
            return []
        return sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.startswith(("part-", ".part-", "_SUCCESS", "._SUCCESS"))
        )

    def _data_files(self) -> list[str]:
        if os.path.exists(self.file):
            return [self.file]
        return [
            f for f in self._legacy_files()
            if os.path.basename(f).startswith("part-") and f.endswith(".parquet")
        ]

    def snapshot(self) -> dict[str, dict]:
        """The stored rows as {table_id: row dict}, read on the driver."""
        files = self._data_files()
        if not files:
            return {}
        table = pa.concat_tables([pq.read_table(f, columns=FIELDS) for f in files])
        ts = table.column("checkpoint_ts")
        micros = ts.cast(pa.timestamp("us", tz=ts.type.tz)).cast(pa.int64()).to_pylist()
        out: dict[str, dict] = {}
        for row, us in zip(table.drop_columns(["checkpoint_ts"]).to_pylist(), micros):
            row["checkpoint_ts"] = _TS.fromInternal(us)
            out[row["table_id"]] = _as_dict(row)
        return out

    def load(self) -> DataFrame:
        """The stored rows as a DataFrame. It reads the store when an
        action forces it, so force it before the next write."""
        files = self._data_files()
        if files:
            return self.spark.read.schema(CHECKPOINTS_SCHEMA).parquet(*files)
        return self.spark.createDataFrame([], CHECKPOINTS_SCHEMA)

    def upsert(self, updates: DataFrame | Iterable) -> None:
        """MERGE INTO checkpoints USING updates ON table_id (last-writer-wins)."""
        if isinstance(updates, DataFrame):
            updates = updates.select(*FIELDS).collect()
        state = self.snapshot()
        for row in map(_as_dict, updates):
            state[row["table_id"]] = row
        self._atomic_overwrite(state)

    def initialize_tables(self, tables: DataFrame | Iterable[str]) -> int:
        """Seed INITIAL_CHECKPOINT rows for table ids with no checkpoint (S9/J2)."""
        if isinstance(tables, DataFrame):
            tables = [r.table_id for r in tables.select("table_id").collect()]
        state = self.snapshot()
        new = set(tables) - state.keys()
        for table_id in new:
            state[table_id] = _as_dict({"table_id": table_id, **INITIAL_CHECKPOINT})
        if new:
            self._atomic_overwrite(state)
        return len(new)

    def _atomic_overwrite(self, state: dict[str, dict]) -> None:
        rows = [state[k] for k in sorted(state)]
        cols = {k: [r[k] for r in rows] for k in FIELDS}
        cols["checkpoint_ts"] = [_TS.toInternal(v) for v in cols["checkpoint_ts"]]
        table = pa.Table.from_pydict(cols, schema=ARROW_SCHEMA)
        legacy = self._legacy_files()
        os.makedirs(self.path, exist_ok=True)
        # a hidden name: Spark and pyarrow dataset reads of the directory skip it
        tmp = os.path.join(self.path, f".{STORE_FILE}.tmp-{uuid.uuid4().hex[:8]}")
        try:
            with open(tmp, "wb") as f:
                pq.write_table(table, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self.file)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        # make the swap itself durable before the old part files go
        fd = os.open(self.path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        for f in legacy:
            os.remove(f)
