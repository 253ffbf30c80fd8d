"""Recursive table discovery (SURVEY §2.1 S1-S3, §2.2 P4/P6).

Reference: TableDiscoveryService.java:129-192 — DFS over object-store
prefixes; a dir is a Hudi table iff it contains a child starting with
`.hoodie` (descent stops there); excluded paths are pruned with Java
full-match regexes; `basePath#tableId` pins an explicit id when the path
discovers exactly one table (TableDiscoveryService.java:100-111).

Spark has no unknown-depth recursive scan primitive, so discovery is an
iterative per-level BFS: the driver holds only the frontier of directory
*paths* (never file contents), and each level's listing fans out as one
``parallelize(dirs).flatMap(lister)`` job. At 100 TB / millions of
prefixes the frontier is bounded by directory count per level and the
listing I/O is fully distributed; pruning (exclusions + stop-at-table)
keeps the frontier from exploding.

The lister is pluggable: ``list_dir_local`` for tests/local lakes; a
boto3/fsspec-backed callable drops in for S3/GCS/ABFS (the pagination +
startAfter pushdown of S2/S3 lives inside that callable).
"""

from __future__ import annotations

import os
import re
from datetime import datetime
from typing import Callable, Iterable

from pyspark.sql import SparkSession

from lakeview_spark.constants import HOODIE_FOLDER_NAME
from lakeview_spark.functions.ids import uuid3_from_uri

# (filename, last_modified, is_directory, size)
FileEntry = tuple
Lister = Callable[[str], "list[FileEntry]"]

TABLE_ID_SEPARATOR = "#"


def list_dir_local(path: str) -> list[FileEntry]:
    """Single-level listing of a local directory (S2 equivalent)."""
    out = []
    try:
        with os.scandir(path) as it:
            for e in it:
                st = e.stat(follow_symlinks=False)
                out.append(
                    (
                        e.name,
                        datetime.utcfromtimestamp(st.st_mtime),
                        e.is_dir(follow_symlinks=False),
                        st.st_size,
                    )
                )
    except FileNotFoundError:
        return []
    return out


def _is_excluded(path: str, patterns: list[str]) -> bool:
    # Java String.matches is a FULL match (TableDiscoveryService.java:194-196)
    return any(re.fullmatch(p, path) for p in patterns)


def _join_uri(base: str, name: str) -> str:
    return base.rstrip("/") + "/" + name


def split_base_path_config(base_path_config: str) -> tuple[str, str]:
    """'path#tableId' -> (path, tableId-or-'')."""
    parts = base_path_config.split(TABLE_ID_SEPARATOR)
    return parts[0], (parts[1] if len(parts) > 1 else "")


def discover_tables(
    spark: SparkSession,
    parser_config: Iterable[dict],
    exclusion_patterns: list[str] | None = None,
    lister: Lister = list_dir_local,
    max_depth: int = 64,
) -> list[dict]:
    """BFS discovery -> one dict per table (table_id, table_uri, lake,
    database), sorted by table_uri. The list stays on the driver: the
    extractor round keeps its per-table control state there.

    ``parser_config``: [{lake, databases: [{name, basePaths: [...]}]}]
    (ConfigV1 parserConfig shape, configv1/ParserConfig.java:12-15).
    """
    exclusion_patterns = list(exclusion_patterns or [])
    sc = spark.sparkContext

    # frontier rows: (path, lake, database, base_path_config)
    frontier: list[tuple] = []
    for pc in parser_config:
        for db in pc["databases"]:
            for bp in db["basePaths"]:
                base, _ = split_base_path_config(bp)
                frontier.append((base, pc["lake"], db["name"], bp))

    found: list[tuple] = []  # (table_uri, lake, database, base_path_config)
    patterns = exclusion_patterns
    depth = 0
    while frontier and depth < max_depth:
        # One distributed listing job per level; the driver only ever
        # holds (dir, is_table, child_dirs) tuples — never file payloads.
        def probe(row, _lister=lister):
            path, lake, db, bp = row
            entries = _lister(path)
            is_table = any(name.startswith(HOODIE_FOLDER_NAME) for name, *_ in entries)
            child_dirs = [] if is_table else [name for name, _, is_dir, _ in entries if is_dir]
            return [(path, lake, db, bp, is_table, child_dirs)]

        # ~8 dirs per task: enough fan-out to hide listing latency without
        # drowning in per-task overhead (256 one-dir tasks cost more
        # scheduler time than the listings themselves on a local FS)
        n_parts = max(1, min(256, (len(frontier) + 7) // 8))
        results = sc.parallelize(frontier, n_parts).flatMap(probe).collect()

        next_frontier = []
        for path, lake, db, bp, is_table, child_dirs in results:
            if is_table:
                if not _is_excluded(path, patterns):
                    found.append((path, lake, db, bp))
            else:
                for name in child_dirs:
                    child = _join_uri(path, name)
                    if not _is_excluded(child, patterns):
                        next_frontier.append((child, lake, db, bp))
        frontier = next_frontier
        depth += 1

    # #tableId override: honored only when the base path found exactly one
    # table (TableDiscoveryService.java:100-111), else those tables are skipped
    per_bp: dict[str, list] = {}
    for row in found:
        per_bp.setdefault(row[3], []).append(row)
    rows: dict[tuple, dict] = {}
    for bp, tables in per_bp.items():
        _, pinned_id = split_base_path_config(bp)
        if pinned_id and len(tables) != 1:
            continue
        for uri, lake, db, _ in tables:
            # union across base paths can rediscover the same table (U1):
            # the first base path that found it wins
            rows.setdefault(
                (uri, lake, db),
                {
                    "table_id": pinned_id or uuid3_from_uri(uri),
                    "table_uri": uri,
                    "lake": lake,
                    "database": db,
                },
            )
    return sorted(rows.values(), key=lambda r: r["table_uri"])
