"""Sized dataset export: the write edge of the curation pipeline.

At 100 TB the failure mode on the way OUT is file sizing — thousands of
tiny files (driver/namenode pressure, slow downstream scans) or
multi-GB files (no read parallelism, straggler tasks). `write_sized`
targets a bytes-per-file budget with Spark's own knobs:

- `maxRecordsPerFile` caps rows per file from a measured average row
  size (no repartition needed for the cap itself — each task rolls to
  a new file at the limit);
- an optional `coalesce_small=True` repartitions down when the whole
  dataset is smaller than one target file per partition, so a 100-row
  result doesn't ship 32 shard files.

Row size is measured from a bounded sample (never a full collect), so
the estimate costs one small job regardless of dataset size; the exact
row count (a second evaluation of the input) is paid only when
`coalesce_small=True` asks for the small-result decision.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def estimate_row_bytes(df: DataFrame, sample_rows: int = 500) -> int:
    """Average serialized row size from a bounded sample — pandas'
    in-memory size is a reasonable proxy for parquet-before-compression;
    parquet compression then gives headroom inside the target."""
    pdf = df.limit(sample_rows).toPandas()
    if len(pdf) == 0:
        return 1
    total = int(pdf.memory_usage(index=False, deep=True).sum())
    return max(1, total // len(pdf))


def write_sized(
    df: DataFrame,
    path: str,
    target_mb: int = 256,
    partition_by: tuple[str, ...] = (),
    coalesce_small: bool = True,
    fmt: str = "parquet",
    sample_rows: int = 500,
) -> dict:
    """Write `df` targeting ~`target_mb` per file; returns the sizing
    decisions (rows, est_row_bytes, max_records_per_file, n_partitions)
    so callers/tests can audit them."""
    row_bytes = estimate_row_bytes(df, sample_rows)
    target_bytes = target_mb * 1024 * 1024
    max_records = max(1, target_bytes // row_bytes)
    out = df
    n_rows = None
    n_partitions = None
    if coalesce_small:
        # the exact count (a second evaluation of the input) is paid
        # ONLY for the coalesce decision; with coalesce_small=False the
        # sizing costs just the bounded row-size sample
        n_rows = df.count()
        # if the whole dataset fits in fewer files than current
        # parallelism would emit, repartition down to the file budget
        n_partitions = max(1, math.ceil(n_rows * row_bytes / target_bytes))
        if n_partitions < out.rdd.getNumPartitions():
            out = out.repartition(n_partitions, *partition_by) if partition_by else out.repartition(n_partitions)
    writer = out.write.mode("overwrite").option("maxRecordsPerFile", max_records)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    getattr(writer, fmt)(path)
    return {
        "rows": n_rows,
        "est_row_bytes": row_bytes,
        "max_records_per_file": int(max_records),
        "n_partitions": n_partitions,
    }


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    samples_per_shard: int = 1000,
    key_col: str = "doc_id",
) -> int:
    """WebDataset-style export: tar shards where each sample is one or
    more files sharing a key prefix (`<key>.txt` here; a multimodal row
    adds `<key>.jpg`/`<key>.json` members the same way) — the de-facto
    container format multimodal training loaders stream. Returns the
    shard count.

    Distribution contract: rows are assigned to shards by a
    DETERMINISTIC key hash (never monotonically_increasing_id, which
    depends on partitioning), then each shard is written by exactly one
    task via repartition(shard) + foreachPartition with the stdlib
    tarfile writer streaming to `out_dir`. Shard contents are sorted by
    key inside the tar so byte output is reproducible run-to-run.
    `out_dir` must be executor-visible (local dir on local[*], a fuse/
    NFS mount or staging-then-upload on a cluster — the same contract
    as the extractor's mirror_dir, cf. runner.py upload_table)."""
    n_rows = df.count()
    n_shards = max(1, -(-n_rows // samples_per_shard))
    os.makedirs(out_dir, exist_ok=True)

    # columnar shard hash (md5 32-bit prefix mod shards) — no Python in
    # the row path; the only Python is the tarfile writer per shard
    shard = (
        F.conv(F.substring(F.md5(F.col("__key").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % n_shards
    ).cast("int")
    prepared = df.select(
        F.col(key_col).cast("long").alias("__key"),
        # NULL text would crash the executor task (None.encode); an
        # empty member keeps the sample count identical to the input
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    ).withColumn("__shard", shard)

    def write_partition(rows) -> None:
        import io
        import tarfile
        import uuid

        by_shard: dict[int, list] = {}
        for r in rows:
            by_shard.setdefault(r["__shard"], []).append((r["__key"], r["text"]))
        for shard, samples in by_shard.items():
            samples.sort()
            path = os.path.join(out_dir, f"shard-{shard:06d}.tar")
            # write to a unique temp name, then atomically replace: under
            # task retry / speculative execution two attempts may run
            # concurrently, and os.replace guarantees readers only ever
            # see one attempt's COMPLETE bytes (both attempts produce
            # identical tars, so last-replace-wins is safe)
            tmp = f"{path}.tmp-{uuid.uuid4().hex}"
            try:
                with tarfile.open(tmp, "w") as tf:
                    for key, text in samples:
                        payload = text.encode("utf-8")
                        info = tarfile.TarInfo(name=f"{key:012d}.txt")
                        info.size = len(payload)
                        info.mtime = 0  # reproducible bytes
                        tf.addfile(info, io.BytesIO(payload))
                os.replace(tmp, path)
            finally:
                # a task killed mid-write (OOM, preemption, speculative
                # duplicate) must not orphan its temp file in out_dir
                if os.path.exists(tmp):
                    try:
                        os.unlink(tmp)
                    except OSError:
                        pass

    prepared.repartition(n_shards, "__shard").foreachPartition(write_partition)
    return n_shards
