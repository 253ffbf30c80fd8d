"""End-to-end extractor pipeline (SURVEY §3).

run_once(config): discover -> read properties -> initialize new tables ->
per table: archived timeline first, then active (TableMetadataUploaderService.java:393-442)
-> filter -> sort -> batch -> mirror -> checkpoint upsert.

The reference iterates tables in batches of 20 on a thread pool; here the
per-file work is data-parallel: listings fan out as Spark jobs, the
batcher runs per-table inside applyInPandas, and the mirror sink is a
foreachPartition writer. Per-table sequential ordering (batches strictly
ordered, archived before active) is preserved inside each table's group.
The per-table control state (the table list, checkpoints, manifest
versions) stays in plain Python on the driver: one row per table is
cheaper to hold than a Spark job is to launch.

CONTINUOUS mode (§3.2) wraps run_once in a driver loop — same dataflow,
trigger semantics of a 30 min discovery / 5 min upload cadence.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeview_spark.config import EngineConfig
from lakeview_spark.constants import (
    ARCHIVED_FOLDER_NAME,
    HISTORY_FOLDER_NAME,
    HOODIE_FOLDER_NAME,
    HOODIE_PROPERTIES_FILE,
    INITIAL_CHECKPOINT,
    TIMELINE_FOLDER_NAME,
    TIMELINE_LAYOUT_VERSION_V2,
)
from lakeview_spark.operators.batcher import batch_instants
from lakeview_spark.operators.checkpoints import CheckpointStore
from lakeview_spark.operators.uploader import (
    ACTIVE,
    ARCHIVED,
    files_to_upload,
    last_uploaded_file_from_batch,
)
from lakeview_spark.sources.listing import Lister, discover_tables, list_dir_local
from lakeview_spark.sources.properties import read_hoodie_properties

def timeline_dir(table_uri: str, layout_version: int, timeline_type: str) -> str:
    """Timeline folder per layout (TimelineCommitInstantsUploader.java:922-936)."""
    base = f"{table_uri.rstrip('/')}/{HOODIE_FOLDER_NAME}"
    if layout_version == TIMELINE_LAYOUT_VERSION_V2:
        base = f"{base}/{TIMELINE_FOLDER_NAME}"
        return f"{base}/{HISTORY_FOLDER_NAME}" if timeline_type == ARCHIVED else base
    return f"{base}/{ARCHIVED_FOLDER_NAME}" if timeline_type == ARCHIVED else base


def list_timeline_files(
    spark: SparkSession, tables: list[dict], timeline_type: str, lister: Lister = list_dir_local
) -> DataFrame:
    """Distributed listing of every table's timeline dir -> files DF."""
    sc = spark.sparkContext

    def probe(t, _lister=lister, _tt=timeline_type):
        d = timeline_dir(t["table_uri"], t["timeline_layout_version"], _tt)
        return [
            (t["table_id"], _tt, name, lm, is_dir, size)
            for name, lm, is_dir, size in _lister(d)
        ]

    if not tables:
        return spark.createDataFrame(
            [], "table_id string, timeline string, filename string, "
            "last_modified timestamp, is_directory boolean, size long"
        )
    rdd = sc.parallelize(tables, max(1, min(256, (len(tables) + 7) // 8))).flatMap(probe)
    return spark.createDataFrame(
        rdd,
        "table_id string, timeline string, filename string, "
        "last_modified timestamp, is_directory boolean, size long",
    )


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
    spark: SparkSession,
    tables: list[dict],
    store: CheckpointStore,
    mirror_dir: str | None = None,
) -> dict:
    """V2 (LSM) archived timeline: manifest-version-driven incremental
    mirror (TimelineCommitInstantsUploader.java:267-318).

    Per table: read `_version_`; if it advanced past the checkpoint's
    last_archived_manifest_version, upload the manifest-listed parquet
    files that the previously-processed manifest did not list (anti
    join on fileName), then record the new version. Manifest files are
    tiny (KBs), so one distributed parallelize probe reads every table's
    `_version_`, current manifest and previous manifest and returns the
    new files; the checkpoints are one driver snapshot.
    """
    v2_tables = [t for t in tables if t.get("timeline_layout_version") == 2]
    if not v2_tables:
        return {"v2_tables": 0}
    ckpts = store.snapshot()

    def processed_version(table_id):
        """The manifest version already mirrored, None if none was."""
        ck = ckpts.get(table_id)
        return ck["last_archived_manifest_version"] if ck and ck["archived_commits_processed"] else None

    def probe(item):
        import json as _json
        import os as _os

        t, prev = item
        d = timeline_dir(t["table_uri"], 2, ARCHIVED)

        def manifest_files(version):
            with open(_os.path.join(d, f"manifest_{version}")) as f:
                return [x["fileName"] for x in _json.load(f).get("files", [])]

        # per-table failures (corrupt _version_/manifest) are skipped, not
        # fatal — reference logs and continues (TableDiscoveryService
        # exceptionally -> emptySet pattern)
        try:
            vf = _os.path.join(d, "_version_")
            if not _os.path.exists(vf):
                return []
            with open(vf) as f:
                version = int(f.read().strip())
            if prev is not None and version <= prev:
                return []  # nothing new since the mirrored manifest
            files = []
            if _os.path.exists(_os.path.join(d, f"manifest_{version}")):
                files = manifest_files(version)
        except (ValueError, OSError, KeyError):
            return []
        prev_files: set = set()
        if prev:
            try:
                prev_files = set(manifest_files(prev))
            except (ValueError, OSError, KeyError):
                pass  # unreadable previous manifest: upload everything listed
        return [(t["table_id"], version, [f for f in files if f not in prev_files])]  # J4

    items = [(t, processed_version(t["table_id"])) for t in v2_tables]
    sc = spark.sparkContext
    results = sc.parallelize(items, max(1, min(len(items), 256))).flatMap(probe).collect()

    uploaded = 0
    updates = []
    tables_by_id = {x["table_id"]: x for x in v2_tables}
    for table_id, version, new_files in results:
        if mirror_dir and new_files:
            t = tables_by_id[table_id]
            d = timeline_dir(t["table_uri"], 2, ARCHIVED)
            for fn in new_files:
                dest = os.path.join(mirror_dir, table_id, "archived", fn)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                shutil.copyfile(os.path.join(d, fn), dest)
        uploaded += len(new_files)
        base = ckpts.get(table_id) or {"table_id": table_id, **INITIAL_CHECKPOINT}
        updates.append(
            {**base, "archived_commits_processed": True, "last_archived_manifest_version": version}
        )
    if updates:
        store.upsert(updates)
    return {"v2_tables": len(v2_tables), "v2_files_uploaded": uploaded}


def discover_round(
    spark: SparkSession,
    config: EngineConfig,
    lister: Lister = list_dir_local,
) -> tuple[list[dict], dict]:
    """Discovery phase of one extractor round: BFS table discovery plus
    the one distributed hoodie.properties read. Returns the enriched
    table list (the `tablesToProcess` snapshot of
    TableDiscoveryAndUploadJob.java:43,150-156) and its metrics."""
    metrics: dict = {}
    tables = discover_tables(spark, config.parser_config, config.path_exclusion_patterns, lister)
    metrics["tables_discovered"] = len(tables)

    # properties: one distributed read over every table's hoodie.properties;
    # unreadable/corrupt files become sentinel rows with failure_reason
    # (ParsedHudiProperties.java:16-22) instead of failing the run
    all_prop_paths = [
        f"{t['table_uri'].rstrip('/')}/{HOODIE_FOLDER_NAME}/{HOODIE_PROPERTIES_FILE}"
        for t in tables
    ]
    prop_paths = [p for p in all_prop_paths if os.path.exists(p)]
    missing_paths = [p for p in all_prop_paths if not os.path.exists(p)]
    props = {
        r.path: r.asDict()
        for r in read_hoodie_properties(spark, prop_paths, missing_paths).collect()
    }
    metrics["table_metadata_processing_failures"] = sum(
        1 for p in props.values() if p.get("failure_reason")
    )
    for t in tables:
        base = f"{t['table_uri'].rstrip('/')}/{HOODIE_FOLDER_NAME}/{HOODIE_PROPERTIES_FILE}"
        p = props.get(base) or props.get(f"file:{base}") or props.get(f"file://{base}")
        t["table_name"] = (p or {}).get("table_name")
        t["table_type"] = (p or {}).get("table_type")
        t["table_version"] = (p or {}).get("table_version", 6)
        t["timeline_layout_version"] = (p or {}).get("timeline_layout_version", 1)
        t["failure_reason"] = (p or {}).get("failure_reason")
    return tables, metrics


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
    CONTINUOUS mode can run the two on independent cadences."""
    metrics: dict = {}
    store = CheckpointStore(spark, os.path.join(state_dir, "checkpoints"))
    metrics["tables_initialized"] = store.initialize_tables(t["table_id"] for t in tables)

    # tables whose properties read/parse failed are SKIPPED from timeline
    # processing — uploading against a guessed timeline layout version
    # would mis-batch, so the reference logs, counts, and moves on
    # (TableMetadataUploaderService.java:159-167) — the run continues for
    # the healthy tables
    healthy = [t for t in tables if not t["failure_reason"]]

    # V2 (LSM) archived timelines go through the manifest-diff path
    metrics.update(process_archived_v2(spark, healthy, store, mirror_dir))

    for timeline_type in (ARCHIVED, ACTIVE):  # archived strictly first (§2.9)
        scope = healthy
        if timeline_type == ARCHIVED:
            # archived timeline is processed once ever (README.md:423-427):
            # skip tables whose checkpoint says archived_commits_processed
            done = {k for k, ck in store.snapshot().items() if ck["archived_commits_processed"]}
            scope = [t for t in healthy if t["table_id"] not in done]
        if not scope:
            metrics[f"{timeline_type}_files"] = 0
            continue
        # the listing runs once, in this count: batching, the mirror and
        # the checkpoint join all read the cached files
        files_df = list_timeline_files(spark, scope, timeline_type, lister).cache()
        if files_df.count() == 0:
            metrics[f"{timeline_type}_files"] = 0
            files_df.unpersist()
            continue
        ckpts = store.load()
        candidates = files_to_upload(
            files_df, ckpts, timeline_type, config.upload_strategy
        )
        if timeline_type == ACTIVE:
            batches = batch_instants(
                candidates, config.active_batch_size, config.upload_strategy, ckpts
            )
        else:
            # archived files are single-file groups: uniform packing
            from pyspark.sql.window import Window

            w = Window.partitionBy("table_id").orderBy("sort_key")
            batches = (
                candidates.withColumn(
                    "batch_id",
                    F.floor((F.row_number().over(w) - 1) / config.archived_batch_size).cast("int") + 1,
                )
                .withColumn(
                    "seq_in_batch",
                    ((F.row_number().over(w) - 1) % config.archived_batch_size).cast("int"),
                )
                .withColumn("first_incomplete", F.lit(""))
                .select("table_id", "batch_id", "seq_in_batch", "filename", "first_incomplete")
            )
        batches = batches.cache()
        n = batches.count()
        metrics[f"{timeline_type}_batched_files"] = n
        if n == 0:
            batches.unpersist()
            files_df.unpersist()
            continue

        if mirror_dir:
            uri_by_id = {t["table_id"]: t for t in tables}
            layout = {
                t["table_id"]: t["timeline_layout_version"] for t in tables
            }

            def mirror(rows, _tt=timeline_type):
                import shutil as _sh

                for row in rows:
                    t = uri_by_id[row.table_id]
                    src_dir = timeline_dir(t["table_uri"], layout[row.table_id], _tt)
                    if row.filename == HOODIE_PROPERTIES_FILE:
                        src = f"{t['table_uri'].rstrip('/')}/{HOODIE_FOLDER_NAME}/{HOODIE_PROPERTIES_FILE}"
                    else:
                        src = os.path.join(src_dir, row.filename)
                    dest = os.path.join(mirror_dir, row.table_id, _tt, row.filename)
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    _sh.copyfile(src, dest)

            batches.foreachPartition(mirror)

        # ckpts loaded above is still current (no upsert since)
        updates = compute_checkpoint_updates(batches, files_df, ckpts, timeline_type)
        store.upsert(updates)
        batches.unpersist()
        files_df.unpersist()

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
    dict (SURVEY §2.4 A5)."""
    t0 = time.time()
    tables, metrics = discover_round(spark, config, lister)
    metrics.update(
        upload_round(spark, config, tables, state_dir, mirror_dir, lister)
    )
    metrics["elapsed_s"] = round(time.time() - t0, 3)
    return metrics


def run_continuous_dual(
    spark: SparkSession,
    config: EngineConfig,
    state_dir: str,
    mirror_dir: str | None = None,
    lister: Lister = list_dir_local,
    max_events: int = 20,
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
    loop (the reference runs until shutdown()).

    When ``base_config_source`` is given, a THIRD clock re-merges the
    config (plus ``override_source``) every ``refresh_interval_s`` —
    the ConfigRefresher's own schedule (ConfigRefresher.java:17,39-52),
    exactly as in the fused ``run_continuous``; refreshes emit no event
    (their running attempt/failure counters ride the next one) and a
    failed re-merge keeps the last good config.

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
    disc_every = config.table_discovery_interval_minutes * 60.0
    poll_every = config.process_table_metadata_sync_duration_seconds
    upload_gate = config.table_metadata_upload_interval_minutes * 60.0
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

    refresh()
    now = 0.0
    next_disc = 0.0
    next_poll = 0.0
    next_refresh = refresh_interval_s if base_config_source is not None else None
    while len(events) < max_events:
        due = min(next_disc, next_poll)
        if next_refresh is not None:
            due = min(due, next_refresh)
        if due > now:
            sleep_fn(due - now)
            now = due
        if next_refresh is not None and next_refresh <= now:
            if now < next_disc and now < next_poll:
                # pure refresh tick: re-merge and carry on, no event
                refresh()
                next_refresh = now + refresh_interval_s
                continue
            # coincides with a scheduled round: refresh first, then run it
            refresh()
            next_refresh = now + refresh_interval_s
        if next_disc <= now:
            ev: dict = {"kind": "discovery", "t": now}
            try:
                tables_snapshot, m = discover_round(spark, config, lister)
                ev.update(m)
                ev["succeeded"] = True
            except Exception as ex:  # noqa: BLE001 — keep last good snapshot
                ev["succeeded"] = False
                ev["error"] = repr(ex)
            if base_config_source is not None:
                ev["config_refresh_attempts"] = refresh_attempts
                ev["config_refresh_failures"] = refresh_failures
            events.append(ev)
            if on_event is not None:
                on_event(ev)
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
                ev["succeeded"] = False
                ev["error"] = repr(ex)
            prev_upload_start = now
        if base_config_source is not None:
            ev["config_refresh_attempts"] = refresh_attempts
            ev["config_refresh_failures"] = refresh_failures
        events.append(ev)
        if on_event is not None:
            on_event(ev)
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
            metrics = {"succeeded": False, "error": repr(ex)}
        attempts.append(metrics)
        if metrics["succeeded"]:
            break
        if (
            minutes_until_next_cron(config.cron_schedule_for_pull_model, start_time)
            < config.min_interval_minutes
        ):
            break  # :131-137 — next scheduled run is imminent
    return attempts


def run_continuous(
    spark: SparkSession,
    config: EngineConfig,
    state_dir: str,
    mirror_dir: str | None = None,
    lister: Lister = list_dir_local,
    interval_s: float = 300.0,
    max_rounds: int | None = None,
    base_config_source=None,
    override_source=None,
    sleep_fn=time.sleep,
    refresh_interval_s: float = 120.0,
    on_event=None,
) -> list[dict]:
    """Driver-loop CONTINUOUS mode (§3.2).

    ``on_event`` (optional) receives each round's metrics dict as the
    round completes, so a live scrape endpoint reflects the run in
    progress rather than only at exit (the reference updates its
    registry inside every extraction round).

    When ``base_config_source`` is given (dict or YAML path/string), the
    config — including the optional ``override_source`` file — is
    re-merged on its OWN ``refresh_interval_s`` clock (default 2 min,
    ConfigRefresher.java:17,39-52), independent of the round interval:
    the inter-round sleep is chopped into refresh-cadence slices with a
    fetch-and-merge after each, so an override edited mid-interval is in
    force within one refresh period, not one round period. A failed
    refresh keeps the previous config (the refresher logs and carries
    on, :44-49).

    Failures are surfaced, never swallowed: a failed round appends a
    ``{"succeeded": False, "error": ...}`` entry and the loop carries on
    (the reference increments a discovery-failure metric and keeps its
    schedule, TableDiscoveryAndUploadJob.java:141-163). Every round also
    carries the running refresh counters, and their unit is the refresh
    ATTEMPT, not the round: each refresh-cadence slice of the
    inter-round sleep is one attempt (plus the initial merge before
    round 1), so at the defaults a 300 s round holds ~3 attempts.
    ``config_refresh_failures`` counts failed attempts cumulatively and
    ``config_refresh_attempts`` counts all attempts, so a reader can
    form the failure RATE — the per-round framing the r5 ADVICE flagged
    as misleading is now explicit in both name and denominator.
    """
    import logging

    from lakeview_spark.config import load_config_with_override

    log = logging.getLogger(__name__)
    rounds: list[dict] = []
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

    refresh()
    while max_rounds is None or len(rounds) < max_rounds:
        try:
            metrics = run_once(spark, config, state_dir, mirror_dir, lister)
            metrics["succeeded"] = True
        except Exception as ex:  # noqa: BLE001 — loop must survive a bad round
            log.warning("discovery/upload round failed: %r", ex)
            metrics = {"succeeded": False, "error": repr(ex)}
        metrics["config_refresh_failures"] = refresh_failures
        metrics["config_refresh_attempts"] = refresh_attempts
        rounds.append(metrics)
        if on_event is not None:
            on_event(metrics)
        if max_rounds is not None and len(rounds) >= max_rounds:
            break
        # sleep to the next round in refresh-cadence slices, re-merging
        # the override after each — the refresher's independent clock
        remaining = interval_s
        while True:
            step = (
                min(refresh_interval_s, remaining)
                if refresh_interval_s > 0
                else remaining
            )
            sleep_fn(step)
            remaining -= step
            refresh()
            if remaining <= 0:
                break
    return rounds
