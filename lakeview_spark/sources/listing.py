"""Recursive table discovery (SURVEY §2.1 S1-S3, §2.2 P4/P6).

Reference: TableDiscoveryService.java:129-192 — DFS over object-store
prefixes; a dir is a Hudi table iff it contains a child starting with
`.hoodie` (descent stops there); excluded paths are pruned with Java
full-match regexes; `basePath#tableId` pins an explicit id when the path
discovers exactly one table (TableDiscoveryService.java:100-111). As in
the reference (HoodiePropertiesReader.java:37-61), a table's
`.hoodie/hoodie.properties` is read as soon as the walk finds the table.

One walk, run in two places by the driver-first rule of
``lakeview_spark.driver_first``. The driver walks breadth-first, with
the same lister, until it has spent ``driver_first.job_start_s``, what
the Spark job it would launch costs to start. A walk that finishes
inside that budget launches no job. Otherwise the frontier left over, a
whole level or more, is dealt into one share per task of one job, and
each task finishes the walk through its share's subtrees. The rule
needs no estimate of the lake's size or the lister's latency. Both
places run ``_walk``.

The lister is pluggable: ``list_dir_local`` for local lakes, an
``ObjectStoreLister`` (sources/object_store.py) for S3/GCS/ABFS. The
properties read uses ``open()``, so on an object-store URI it finds
nothing and the table is reported unreadable (NO_SUCH_KEY).
"""

from __future__ import annotations

import functools
import os
import re
import time
from collections import deque
from datetime import datetime
from typing import Callable, Iterable

from pyspark.sql import SparkSession

from lakeview_spark import driver_first
from lakeview_spark.constants import HOODIE_FOLDER_NAME, HOODIE_PROPERTIES_FILE
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


def _read_properties_text(table_uri: str) -> str | None:
    """The table's hoodie.properties text, or None when it cannot be read."""
    path = f"{table_uri.rstrip('/')}/{HOODIE_FOLDER_NAME}/{HOODIE_PROPERTIES_FILE}"
    try:
        with open(path, encoding="utf-8", errors="replace") as f:
            return f.read()
    except OSError:
        return None


def _walk(
    frontier: deque,
    lister: Lister,
    patterns: list[str],
    max_depth: int,
    budget_s: float | None = None,
) -> list[tuple]:
    """Walk breadth-first from the ``(path, depth, origin)`` rows of
    ``frontier``, consuming it, and return ``(table_uri, origin,
    properties_text)`` per table found. With ``budget_s``, stop once that
    many seconds have passed and the frontier holds more than one
    directory (one directory cannot be split across tasks), and leave
    the rest in it."""
    found = []
    start = time.perf_counter()
    while frontier:
        if budget_s is not None and len(frontier) > 1 and time.perf_counter() - start >= budget_s:
            break
        path, depth, origin = frontier.popleft()
        if depth >= max_depth:
            continue
        entries = lister(path)
        if any(name.startswith(HOODIE_FOLDER_NAME) for name, *_ in entries):
            if not _is_excluded(path, patterns):
                found.append((path, origin, _read_properties_text(path)))
            continue
        for name, _, is_dir, _ in entries:
            child = _join_uri(path, name)
            if is_dir and not _is_excluded(child, patterns):
                frontier.append((child, depth + 1, origin))
    return found


def discover_tables(
    spark: SparkSession,
    parser_config: Iterable[dict],
    exclusion_patterns: list[str] | None = None,
    lister: Lister = list_dir_local,
    max_depth: int = 64,
) -> tuple[list[dict], int]:
    """Walk every base path -> one dict per table (table_id, table_uri,
    lake, database, properties_text), sorted by table_uri, and the
    number of frontier directories the walk shipped to a Spark job (0
    when it finished on the driver). ``properties_text`` is the table's
    hoodie.properties, None when it could not be read. The list stays on
    the driver: the extractor round keeps its per-table control state
    there.

    ``parser_config``: [{lake, databases: [{name, basePaths: [...]}]}]
    (ConfigV1 parserConfig shape, configv1/ParserConfig.java:12-15).
    """
    origins = [
        (pc["lake"], db["name"], bp)
        for pc in parser_config
        for db in pc["databases"]
        for bp in db["basePaths"]
    ]
    frontier = deque((split_base_path_config(bp)[0], 0, i) for i, (_, _, bp) in enumerate(origins))
    walk = functools.partial(
        _walk, lister=lister, patterns=list(exclusion_patterns or []), max_depth=max_depth
    )
    found = walk(frontier, budget_s=driver_first.job_start_s(spark))
    dirs_in_job = len(frontier)
    if frontier:
        found += driver_first.finish_in_job(spark, list(frontier), lambda share: walk(deque(share)))

    per_origin: dict[int, list] = {}
    for uri, i, text in found:
        per_origin.setdefault(i, []).append((uri, text))
    rows: dict[tuple, dict] = {}
    for i in sorted(per_origin):
        lake, db, bp = origins[i]
        # #tableId override: honored only when the base path found exactly
        # one table (TableDiscoveryService.java:100-111), else its tables
        # are skipped
        _, pinned_id = split_base_path_config(bp)
        if pinned_id and len(per_origin[i]) != 1:
            continue
        for uri, text in per_origin[i]:
            # union across base paths can rediscover the same table (U1):
            # the first base path in the config that found it wins
            rows.setdefault(
                (uri, lake, db),
                {
                    "table_id": pinned_id or uuid3_from_uri(uri),
                    "table_uri": uri,
                    "lake": lake,
                    "database": db,
                    "properties_text": text,
                },
            )
    return sorted(rows.values(), key=lambda r: r["table_uri"]), dirs_in_job
