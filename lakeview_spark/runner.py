"""End-to-end extractor pipeline (SURVEY §3).

run_once(config): discover -> read properties -> initialize new tables ->
upload. Per table the upload is one sequential chain, in the reference's
order (TableMetadataUploaderService.java:393-442): the V2 manifest diff,
the V1-style archived timeline (once ever), then the active timeline,
each step listing -> filter -> sort -> batch -> mirror -> checkpoint.

The reference runs tables in batches of 20 on a thread pool. Here the
upload follows the same driver-first rule as discovery
(lakeview_spark.driver_first): the driver uploads one table after
another, in table_uri order, until it has spent what the Spark job it
would launch costs to start (an application's first job costs several
times a warm one); the tables left over go to one Spark job, dealt
round-robin over its tasks (parallelism across tables = Spark tasks,
order within a table kept inside one call, SURVEY.md:240). A table's
metadata is KBs, so a steady round, where few files are new, finishes
on the driver and launches no job, and so does a small lake's cold
round. The per-table control state (the table list, checkpoints,
manifest versions) stays in plain Python on the driver: one checkpoint
snapshot goes out and one upsert writes back what the calls return. A
failed table keeps the progress of its finished steps and does not stop
the others; the round then raises an UploadRoundError naming it and
carrying the round's metrics.

CONTINUOUS mode (§3.2, run_continuous) runs the two phases on the
reference's own schedules: discovery every 30 min, an upload poll every
30 s gated to 5 min, and the config re-merged every 2 min.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import traceback

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeview_spark import driver_first
from lakeview_spark.config import EngineConfig
from lakeview_spark.constants import (
    ARCHIVED_FOLDER_NAME,
    HISTORY_FOLDER_NAME,
    HOODIE_FOLDER_NAME,
    HOODIE_PROPERTIES_FILE,
    MANIFEST_FILE_PREFIX,
    TIMELINE_FOLDER_NAME,
    TIMELINE_LAYOUT_VERSION_V2,
    VERSION_MARKER_FILE,
)
# batch_instants is the DataFrame twin of the per-table active step
# (active_batch_packing and the streaming twin use it); it stays a
# runner name so runner-level tracing can wrap it
from lakeview_spark.operators.batcher import batch_instants, create_batches  # noqa: F401
from lakeview_spark.operators.checkpoints import CheckpointStore
from lakeview_spark.operators.uploader import (
    ACTIVE,
    ARCHIVED,
    files_to_upload,
    last_uploaded_file_from_batch,
)
from lakeview_spark.sources.listing import FileEntry, Lister, discover_tables, list_dir_local
from lakeview_spark.sources.properties import read_hoodie_properties


class UploadRoundError(RuntimeError):
    """An upload round that failed: some of its tables
    (``failed_table_ids``, sorted), or the phase itself (no ids).
    ``metrics`` are the round's counts, the tables that did upload
    included; run_once adds discovery's."""

    def __init__(self, message: str, metrics: dict, failed_table_ids: list[str]):
        super().__init__(message)
        self.metrics = metrics
        self.failed_table_ids = failed_table_ids


def timeline_dir(table_uri: str, layout_version: int, timeline_type: str) -> str:
    """Timeline folder per layout (TimelineCommitInstantsUploader.java:922-936)."""
    base = f"{table_uri.rstrip('/')}/{HOODIE_FOLDER_NAME}"
    if layout_version == TIMELINE_LAYOUT_VERSION_V2:
        base = f"{base}/{TIMELINE_FOLDER_NAME}"
        return f"{base}/{HISTORY_FOLDER_NAME}" if timeline_type == ARCHIVED else base
    return f"{base}/{ARCHIVED_FOLDER_NAME}" if timeline_type == ARCHIVED else base


def list_timeline_files(
    table: dict, timeline_type: str, lister: Lister = list_dir_local
) -> list[FileEntry]:
    """One table's timeline listing."""
    return lister(timeline_dir(table["table_uri"], table["timeline_layout_version"], timeline_type))


def compute_checkpoint_updates(
    batches_df: DataFrame,
    files_df: DataFrame,
    checkpoints_df: DataFrame,
    timeline_type: str,
) -> DataFrame:
    """Per-table new checkpoint after its batches (W2 lookback + watermark).

    checkpoint_ts advances to the last uploaded file's last_modified
    (Checkpoint.java:15); batch_id advances by the number of batches;
    CONTINUE mode's first_incomplete is carried from the batcher.
    """
    joined = batches_df.select(
        "table_id", "batch_id", "seq_in_batch", "filename", "first_incomplete"
    ).join(
        files_df.select("table_id", "filename", "last_modified"),
        ["table_id", "filename"],
        "left",
    )

    # Per-table scalars via partial-aggregable built-ins (guide §2.3:
    # aggregate before you shuffle — the previous groupBy.applyInPandas
    # shipped EVERY timeline row to a Python worker per table; only the
    # ≤ batch-size tail is ever read by the lookback rule). Two-level
    # shape: collapse to one row per (table, batch) first — the
    # collect_list state is bounded by the batch size — then one tiny
    # per-table aggregation keeps the LAST batch's rows (max_by), the
    # global last_modified watermark, and the first row's
    # first_incomplete (min over the (batch_id, seq) total order, the
    # sort the pandas summarizer used to pay for every row).
    per_batch = joined.groupBy("table_id", "batch_id").agg(
        F.sort_array(
            F.collect_list(F.struct("seq_in_batch", "filename", "last_modified"))
        ).alias("rows"),
        F.max("last_modified").alias("_lm_max"),
        F.min(F.struct("seq_in_batch", "first_incomplete")).alias("_fi_min"),
    )
    per_table = per_batch.groupBy("table_id").agg(
        F.max("batch_id").alias("batch_id"),
        F.max_by("rows", "batch_id").alias("rows"),
        F.max("_lm_max").alias("_lm_max"),
        F.min(F.struct(F.col("batch_id").alias("b"), F.col("_fi_min").alias("m"))).alias(
            "_fi_struct"
        ),
    )

    # The savepoint/rollback lookback itself stays the shared Python
    # rule (last_uploaded_file_from_batch), but now sees one ordered
    # filename array per TABLE (≤ batch size elements) instead of the
    # whole timeline: the plan's only Python node runs on tables-many
    # rows.
    lookback = F.udf(
        lambda names: last_uploaded_file_from_batch(list(names), timeline_type),
        "string",
    )
    lastf = per_table.withColumn(
        "last_uploaded_file", lookback(F.col("rows.filename"))
    )
    # checkpoint_ts = last_modified of the FIRST row (in seq order) of
    # the last batch whose filename is the lookback result — exactly the
    # pandas `.loc[filename == last_file].iloc[0]`; the fallback to the
    # per-table watermark is kept for parity (the lookback result is by
    # construction a member of the batch, so the match always exists).
    first_match = F.element_at(
        F.filter(
            F.col("rows"), lambda r: r["filename"] == F.col("last_uploaded_file")
        ),
        1,
    )
    lastf = lastf.withColumn(
        "checkpoint_ts",
        F.when(first_match.isNotNull(), first_match["last_modified"]).otherwise(
            F.col("_lm_max")
        ),
    )

    ck = F.broadcast(
        checkpoints_df.select(
            "table_id",
            F.col("archived_commits_processed").alias("_arch_done"),
            F.col("last_archived_manifest_version").alias("_manifest_v"),
        )
    )
    return (
        lastf.join(ck, "table_id", "left")
        .select(
            "table_id",
            F.col("batch_id").cast("int").alias("batch_id"),
            F.col("checkpoint_ts").cast("timestamp").alias("checkpoint_ts"),
            "last_uploaded_file",
            F.coalesce(F.col("_fi_struct")["m"]["first_incomplete"], F.lit("")).alias(
                "first_incomplete_commit_file"
            ),
            (
                F.coalesce(F.col("_arch_done"), F.lit(False))
                | F.lit(timeline_type == ARCHIVED)
            ).alias("archived_commits_processed"),
            F.coalesce(F.col("_manifest_v"), F.lit(0))
            .cast("int")
            .alias("last_archived_manifest_version"),
        )
    )


def process_archived_v2(
    table: dict, checkpoint: dict, mirror_dir: str | None = None
) -> tuple[dict, int] | None:
    """One table's V2 (LSM) archived timeline: manifest-version-driven
    incremental mirror (TimelineCommitInstantsUploader.java:267-318).

    Reads `_version_`; if it advanced past the checkpoint's
    last_archived_manifest_version, mirrors the manifest-listed parquet
    files that the previously processed manifest did not list (J4), and
    returns the checkpoint at the new version with the number of files
    mirrored. Returns None when nothing is new, and when `_version_` or
    the manifest cannot be read: the reference logs and continues
    (TableDiscoveryService exceptionally -> emptySet pattern).
    """
    d = timeline_dir(table["table_uri"], TIMELINE_LAYOUT_VERSION_V2, ARCHIVED)
    prev = (
        checkpoint["last_archived_manifest_version"]
        if checkpoint["archived_commits_processed"]
        else None
    )

    def manifest_files(version):
        with open(os.path.join(d, f"{MANIFEST_FILE_PREFIX}{version}")) as f:
            return [x["fileName"] for x in json.load(f).get("files", [])]

    try:
        vf = os.path.join(d, VERSION_MARKER_FILE)
        if not os.path.exists(vf):
            return None
        with open(vf) as f:
            version = int(f.read().strip())
        if prev is not None and version <= prev:
            return None  # nothing new since the mirrored manifest
        files = []
        if os.path.exists(os.path.join(d, f"{MANIFEST_FILE_PREFIX}{version}")):
            files = manifest_files(version)
    except (ValueError, OSError, KeyError):
        return None
    prev_files: set = set()
    if prev:
        try:
            prev_files = set(manifest_files(prev))
        except (ValueError, OSError, KeyError):
            pass  # unreadable previous manifest: upload everything listed
    new_files = [f for f in files if f not in prev_files]
    if mirror_dir:
        for fn in new_files:
            _mirror(os.path.join(d, fn), mirror_dir, table["table_id"], ARCHIVED, fn)
    updated = {**checkpoint, "archived_commits_processed": True, "last_archived_manifest_version": version}
    return updated, len(new_files)


def batch_timeline(
    entries: list[FileEntry], checkpoint: dict, timeline_type: str, config: EngineConfig
) -> tuple[list[list[str]], dict | None]:
    """One table's timeline step before the copies: files_to_upload,
    then commit-group batching (active) or uniform packing of the
    single-file archived instants. Returns the ordered batches and the
    checkpoint after the last one, or ([], None) when nothing batches.

    The checkpoint follows compute_checkpoint_updates: batch_id advances
    by the number of batches (archived batches number from 1), the
    savepoint/rollback lookback picks last_uploaded_file, and
    checkpoint_ts is that file's listed last_modified (None when the
    listing does not hold it, as for a synthesized hoodie.properties).
    """
    candidates = files_to_upload(entries, checkpoint, timeline_type, config.upload_strategy)
    if timeline_type == ACTIVE:
        base = checkpoint["batch_id"]
        first_incomplete, batches = create_batches(
            candidates,
            config.active_batch_size,
            config.upload_strategy,
            checkpoint["checkpoint_ts"],
            checkpoint["first_incomplete_commit_file"] or "",
        )
    else:
        base, first_incomplete, size = 0, "", config.archived_batch_size
        names = [fn for fn, _ in candidates]
        batches = [names[i : i + size] for i in range(0, len(names), size)]
    if not batches:
        return [], None
    last = last_uploaded_file_from_batch(batches[-1], timeline_type)
    mtimes = {name: lm for name, lm, _, _ in entries}
    return batches, {
        **checkpoint,
        "batch_id": base + len(batches),
        "checkpoint_ts": mtimes.get(last),
        "last_uploaded_file": last,
        "first_incomplete_commit_file": first_incomplete,
        "archived_commits_processed": checkpoint["archived_commits_processed"]
        or timeline_type == ARCHIVED,
    }


def _mirror(src: str, mirror_dir: str, table_id: str, timeline_type: str, name: str) -> None:
    dest = os.path.join(mirror_dir, table_id, timeline_type, name)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    shutil.copyfile(src, dest)


def upload_table(
    item: tuple[dict, dict], config: EngineConfig, mirror_dir: str | None, lister: Lister
) -> dict:
    """Upload one table, strictly in order: the V2 manifest diff, the
    V1-style archived timeline if not yet processed (README.md:423-427),
    then the active timeline, each step starting from the checkpoint the
    previous one produced. Runs on the driver or inside a Spark task
    (upload_round), with the same result either way.

    Returns one row: the checkpoint after the last step that succeeded,
    the per-step counts, and the traceback of a failure (steps after a
    failed one do not run, as in the reference's per-table future
    chain)."""
    table, checkpoint = item
    out = {"table_id": table["table_id"], "checkpoint": checkpoint, "error": None, "v2_files": 0}
    for tt in (ARCHIVED, ACTIVE):
        out[f"{tt}_listed"] = out[f"{tt}_batched"] = 0
    try:
        if table["timeline_layout_version"] == TIMELINE_LAYOUT_VERSION_V2:
            v2 = process_archived_v2(table, checkpoint, mirror_dir)
            if v2:
                out["checkpoint"], out["v2_files"] = v2
        for tt in (ARCHIVED, ACTIVE):  # archived strictly first (§2.9)
            if tt == ARCHIVED and out["checkpoint"]["archived_commits_processed"]:
                continue
            entries = list_timeline_files(table, tt, lister)
            out[f"{tt}_listed"] = len(entries)
            batches, updated = batch_timeline(entries, out["checkpoint"], tt, config)
            if mirror_dir:
                src_dir = timeline_dir(table["table_uri"], table["timeline_layout_version"], tt)
                props = f"{table['table_uri'].rstrip('/')}/{HOODIE_FOLDER_NAME}/{HOODIE_PROPERTIES_FILE}"
                for name in (n for batch in batches for n in batch):
                    src = props if name == HOODIE_PROPERTIES_FILE else os.path.join(src_dir, name)
                    _mirror(src, mirror_dir, table["table_id"], tt, name)
            out[f"{tt}_batched"] = sum(map(len, batches))
            if updated:
                out["checkpoint"] = updated
    except Exception:  # noqa: BLE001 — one table's failure is its own
        out["error"] = traceback.format_exc()
    return out


def discover_round(
    spark: SparkSession,
    config: EngineConfig,
    lister: Lister = list_dir_local,
) -> tuple[list[dict], dict]:
    """Discovery phase of one extractor round: one walk finds the tables
    and reads their hoodie.properties, then each text is parsed. Returns
    the enriched table list (the `tablesToProcess` snapshot of
    TableDiscoveryAndUploadJob.java:43,150-156) and its metrics. An
    unreadable or corrupt file gives its table a failure_reason
    (ParsedHudiProperties.java:16-22) instead of failing the run.
    ``discover_dirs_in_job`` counts the frontier directories the walk
    shipped to a Spark job (0 when it finished on the driver)."""
    tables, dirs_in_job = discover_tables(
        spark, config.parser_config, config.path_exclusion_patterns, lister
    )
    for t in tables:
        t.update(read_hoodie_properties(t.pop("properties_text")))
    failed = {t["table_uri"] for t in tables if t["failure_reason"]}
    return tables, {
        "tables_discovered": len(tables),
        "table_metadata_processing_failures": len(failed),
        "discover_dirs_in_job": dirs_in_job,
    }


def upload_round(
    spark: SparkSession,
    config: EngineConfig,
    tables: list[dict],
    state_dir: str,
    mirror_dir: str | None = None,
    lister: Lister = list_dir_local,
) -> dict:
    """Upload phase of one extractor round, over an already-discovered
    table snapshot (uploadInstantsInTables,
    TableMetadataUploaderService.java). Separated from discovery so
    CONTINUOUS mode can run the two on independent cadences.

    upload_table runs on the driver, table after table in the order
    given (discovery's table_uri order), until
    ``driver_first.job_start_s(spark)`` is spent; the tables left over go
    to one Spark job, and ``upload_tables_in_job`` reports how many (0
    when the driver finished). The checkpoints go out as one snapshot and
    come back as one upsert of the changed rows. If any table failed, the
    round raises an UploadRoundError after that upsert, so the tables
    that succeeded (and the finished steps of those that did not) keep
    their progress, and the error carries the round's metrics."""
    metrics: dict = {}
    store = CheckpointStore(spark, os.path.join(state_dir, "checkpoints"))
    metrics["tables_initialized"] = store.initialize_tables(t["table_id"] for t in tables)

    # tables whose properties read/parse failed are SKIPPED from timeline
    # processing — uploading against a guessed timeline layout version
    # would mis-batch, so the reference logs, counts, and moves on
    # (TableMetadataUploaderService.java:159-167) — the run continues for
    # the healthy tables
    healthy = [t for t in tables if not t["failure_reason"]]
    ckpts = store.snapshot()
    items = [(t, ckpts[t["table_id"]]) for t in healthy]
    task = functools.partial(upload_table, config=config, mirror_dir=mirror_dir, lister=lister)
    results: list[dict] = []
    budget_s = driver_first.job_start_s(spark)
    start = time.perf_counter()
    while len(results) < len(items) and time.perf_counter() - start < budget_s:
        results.append(task(items[len(results)]))
    rest = items[len(results) :]
    if rest:
        results += driver_first.finish_in_job(spark, rest, lambda share: map(task, share))
    metrics["upload_tables_in_job"] = len(rest)
    changed = [r["checkpoint"] for r in results if r["checkpoint"] != ckpts[r["table_id"]]]
    if changed:
        store.upsert(changed)

    v2_tables = sum(t["timeline_layout_version"] == TIMELINE_LAYOUT_VERSION_V2 for t in healthy)
    metrics["v2_tables"] = v2_tables
    if v2_tables:
        metrics["v2_files_uploaded"] = sum(r["v2_files"] for r in results)
    for tt in (ARCHIVED, ACTIVE):
        # a timeline whose listings are all empty reports `{tt}_files: 0`
        if sum(r[f"{tt}_listed"] for r in results):
            metrics[f"{tt}_batched_files"] = sum(r[f"{tt}_batched"] for r in results)
        else:
            metrics[f"{tt}_files"] = 0

    # sorted, so the message does not depend on which side ran a table
    failed = sorted((r for r in results if r["error"]), key=lambda r: r["table_id"])
    if failed:
        ids = [r["table_id"] for r in failed]
        raise UploadRoundError(
            f"upload failed for {len(failed)} table(s) {ids}; first error:\n{failed[0]['error']}",
            metrics,
            ids,
        )
    return metrics


def run_once(
    spark: SparkSession,
    config: EngineConfig,
    state_dir: str,
    mirror_dir: str | None = None,
    lister: Lister = list_dir_local,
) -> dict:
    """One extractor round (ONCE mode): discovery then upload, fused
    (runOnce, TableDiscoveryAndUploadJob.java:88-101). Returns a metrics
    dict (SURVEY §2.4 A5). A failure after discovery raises an
    UploadRoundError that carries discovery's metrics too, so it is not
    taken for a failed discovery."""
    t0 = time.perf_counter()
    tables, metrics = discover_round(spark, config, lister)
    try:
        metrics.update(upload_round(spark, config, tables, state_dir, mirror_dir, lister))
    except UploadRoundError as ex:
        ex.metrics = {**metrics, **ex.metrics}
        raise
    except Exception as ex:  # the phase itself failed, not one table
        raise UploadRoundError(f"upload round failed: {ex!r}", metrics, []) from ex
    metrics["elapsed_s"] = round(time.perf_counter() - t0, 3)
    return metrics


def _failure(ex: Exception) -> dict:
    """A failed round's event fields: the counts a failed upload round
    carries, ``succeeded: False`` and the error."""
    out = {}
    if isinstance(ex, UploadRoundError):
        out = {**ex.metrics, "failed_table_ids": ex.failed_table_ids}
    return {**out, "succeeded": False, "error": repr(ex)}


def run_continuous(
    spark: SparkSession,
    config: EngineConfig,
    state_dir: str,
    mirror_dir: str | None = None,
    lister: Lister = list_dir_local,
    max_events: int | None = None,
    sleep_fn=time.sleep,
    base_config_source=None,
    override_source=None,
    refresh_interval_s: float = 120.0,
    on_event=None,
) -> list[dict]:
    """CONTINUOUS mode on the reference's TWO independent cadences
    (TableDiscoveryAndUploadJob.java:66-82 runInContinuousMode):

    - discovery re-runs every ``tableDiscoveryIntervalMinutes`` (30 min
      default) and replaces the shared ``tablesToProcess`` snapshot
      (:146-156); a FAILED discovery keeps the previous snapshot and the
      schedule (:158-166);
    - the upload POLL fires every
      ``processTableMetadataSyncDurationSeconds`` (30 s default) but
      only uploads if >= ``tableMetadataUploadIntervalMinutes`` (5 min)
      passed since the PREVIOUS upload run START and the snapshot is
      non-empty (:169-205); the gate clock advances whenever an upload
      runs, even a failed one (:203 sits outside the error callback).

    The reference interleaves the two schedules on a 2-thread executor
    sharing the snapshot under a lock; on Spark the driver is the
    scheduler, so this is a single-threaded event loop over the same
    two clocks — at equal fire times discovery runs first (both are
    scheduled with initialDelay=0, discovery registered first). Sleeps
    go through ``sleep_fn`` so tests drive virtual time; each emitted
    event carries its virtual timestamp ``t``. ``max_events`` bounds the
    loop; None (the default) runs until shutdown, as the reference does.

    When ``base_config_source`` is given, a THIRD clock re-merges the
    config (plus ``override_source``) every ``refresh_interval_s`` —
    the ConfigRefresher's own schedule (ConfigRefresher.java:17,39-52).
    The first merge runs before the cadences are read, so ``config`` may
    be None when a source is given. Refreshes emit no event; their
    running counters ride every event, and their unit is the refresh
    ATTEMPT, not the event: ``config_refresh_attempts`` counts every
    merge (the initial one included) and ``config_refresh_failures``
    the failed ones, so a reader can form the failure rate. A failed
    re-merge keeps the last good config (ConfigRefresher.java:44-49).

    ``on_event`` (optional) is called with each event dict as it is
    emitted — the reference updates its Prometheus gauges/counters
    inside every extraction round, not at job exit, so a long-lived
    CONTINUOUS run must feed the scrape endpoint live (r10 ADVICE)."""
    import logging

    from lakeview_spark.config import load_config_with_override

    log = logging.getLogger(__name__)
    events: list[dict] = []
    tables_snapshot: list[dict] | None = None
    prev_upload_start = float("-inf")  # Instant.EPOCH (:44)
    refresh_failures = 0
    refresh_attempts = 0

    def refresh():
        nonlocal config, refresh_failures, refresh_attempts
        if base_config_source is None:
            return
        refresh_attempts += 1
        try:
            config = load_config_with_override(base_config_source, override_source)
        except Exception as ex:  # noqa: BLE001 — keep last good config
            refresh_failures += 1
            log.warning("config refresh failed, keeping last good config: %r", ex)

    def emit(ev):
        if base_config_source is not None:
            ev["config_refresh_attempts"] = refresh_attempts
            ev["config_refresh_failures"] = refresh_failures
        events.append(ev)
        if on_event is not None:
            on_event(ev)

    refresh()
    disc_every = config.table_discovery_interval_minutes * 60.0
    poll_every = config.process_table_metadata_sync_duration_seconds
    upload_gate = config.table_metadata_upload_interval_minutes * 60.0
    now = 0.0
    next_disc = 0.0
    next_poll = 0.0
    next_refresh = refresh_interval_s if base_config_source is not None else None
    while max_events is None or len(events) < max_events:
        due = min(next_disc, next_poll)
        if next_refresh is not None:
            due = min(due, next_refresh)
        if due > now:
            sleep_fn(due - now)
            now = due
        if next_refresh is not None and next_refresh <= now:
            # refresh first, so a round due at the same time runs on it
            refresh()
            next_refresh = now + refresh_interval_s
            if now < next_disc and now < next_poll:
                continue  # pure refresh tick: no event
        if next_disc <= now:
            ev: dict = {"kind": "discovery", "t": now}
            try:
                tables_snapshot, m = discover_round(spark, config, lister)
                ev.update(m)
                ev["succeeded"] = True
            except Exception as ex:  # noqa: BLE001 — keep last good snapshot
                log.warning("discovery failed, keeping last snapshot: %r", ex)
                ev["succeeded"] = False
                ev["error"] = repr(ex)
            emit(ev)
            next_disc = now + disc_every
            continue
        ev = {"kind": "upload_poll", "t": now}
        if now - prev_upload_start < upload_gate:
            ev["uploaded"] = False
            ev["skipped_reason"] = "upload_interval_gate"
        elif not tables_snapshot:
            ev["uploaded"] = False
            ev["skipped_reason"] = "no_tables_discovered"
        else:
            ev["uploaded"] = True
            ev["tables_in_snapshot"] = len(tables_snapshot)
            try:
                ev.update(
                    upload_round(
                        spark, config, tables_snapshot, state_dir, mirror_dir, lister
                    )
                )
                ev["succeeded"] = True
            except Exception as ex:  # noqa: BLE001 — poll schedule survives
                log.warning("upload round failed: %r", ex)
                ev.update(_failure(ex))
            prev_upload_start = now
        emit(ev)
        next_poll = now + poll_every
    return events


def sync_table(
    spark: SparkSession,
    table_base_path: str,
    state_dir: str,
    mirror_dir: str | None = None,
    lake: str = "lake",
    database: str = "database",
    upload_strategy: str = "BLOCK_ON_INCOMPLETE_COMMIT",
    lister: Lister = list_dir_local,
) -> dict:
    """Single-table post-commit sync (SyncTool/Glue equivalent, §3.3):
    the reference's LakeviewSyncTool narrows parserConfig to the one
    `hoodie.base.path` and runs the ONCE pipeline
    (lakeview-sync-tool/.../LakeviewSyncTool.java:112-165). Both the
    Hudi SyncTool and the Glue UDF wrapper collapse into this call."""
    from lakeview_spark.config import load_config

    cfg = load_config(
        {
            "version": "V1",
            "metadataExtractorConfig": {
                "jobRunMode": "ONCE",
                "uploadStrategy": upload_strategy,
                "parserConfig": [
                    {
                        "lake": lake,
                        "databases": [{"name": database, "basePaths": [table_base_path]}],
                    }
                ],
            },
        }
    )
    return run_once(spark, cfg, state_dir, mirror_dir, lister)


def run_once_with_retry(
    spark: SparkSession,
    config: EngineConfig,
    state_dir: str,
    mirror_dir: str | None = None,
    lister: Lister = list_dir_local,
    start_time=None,
    run_fn=None,
) -> list[dict]:
    """ONCE_WITH_RETRY mode (TableDiscoveryAndUploadJob.java:94-139):
    run once; on failure retry up to maxRunCountForPullModel total runs,
    but stop early when the next scheduled cron fire (estimated from
    cronScheduleForPullModel against the job start time) is under
    minIntervalMinutes away — the next scheduled run covers the work.

    Returns one metrics dict per attempt; each carries ``succeeded``.
    """
    from datetime import datetime

    from lakeview_spark.config import minutes_until_next_cron

    start_time = start_time or datetime.utcnow()
    run_fn = run_fn or run_once
    attempts: list[dict] = []
    for counter in range(1, config.max_run_count_for_pull_model + 1):
        try:
            metrics = run_fn(spark, config, state_dir, mirror_dir, lister)
            metrics["succeeded"] = True
        except Exception as ex:  # noqa: BLE001 — retryable by policy
            metrics = _failure(ex)
        attempts.append(metrics)
        if metrics["succeeded"]:
            break
        if (
            minutes_until_next_cron(config.cron_schedule_for_pull_model, start_time)
            < config.min_interval_minutes
        ):
            break  # :131-137 — next scheduled run is imminent
    return attempts
