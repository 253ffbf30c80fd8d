"""Registry hygiene: every registered query is documented and every
oracle has a query — keeps COVERAGE.md and the driver contract honest
as the registry grows."""

from __future__ import annotations

import os

from lakeview_spark.plans import ORACLES, QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES), set(ORACLES) - set(QUERIES)


def test_rows_only_queries_are_exactly_the_documented_set():
    """Only the iterative float-mean k-means trainer
    (pipeline/iterative.py docstring) lacks an oracle — the packing
    pair graduated to hash-checked in r8 via the closed-form windowed
    replay (plans/coverage.py _BATCH_CTE). Every other query must
    carry an oracle."""
    assert set(QUERIES) - set(ORACLES) == {"kmeans_train"}


def test_every_registered_query_is_mentioned_in_coverage_md():
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    missing = [name for name in QUERIES if f"`{name}`" not in text]
    assert not missing, f"undocumented queries: {missing}"


def test_coverage_md_counts_match_registry():
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    assert f"({len(QUERIES)} registered; {len(ORACLES)} oracle-exact, 1" in text, (
        f"COVERAGE.md header count stale: registry has {len(QUERIES)}/{len(ORACLES)}"
    )


def test_driver_window_covers_every_query_without_a_green_row():
    """The driver snapshots correctness for the first 50 queries in
    registration order. Every query with no green row in ANY recorded
    CORRECTNESS_r*.json (err != null does not count) must sit inside
    that window, or it can never earn a driver row."""
    import glob
    import json

    from lakeview_spark.plans import _DRIVER_WINDOW, ensure_driver_order

    ensure_driver_order()
    assert len(_DRIVER_WINDOW) == 50
    assert len(set(_DRIVER_WINDOW)) == 50
    assert set(_DRIVER_WINDOW) <= set(QUERIES), set(_DRIVER_WINDOW) - set(QUERIES)
    # the window IS the registration prefix
    assert list(QUERIES)[:50] == _DRIVER_WINDOW

    green: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rows = json.load(open(path))
        green |= {name for name, row in rows.items() if row.get("err") is None}
    unchecked = set(QUERIES) - green
    outside = unchecked - set(_DRIVER_WINDOW)
    assert not outside, f"queries with no driver row outside the first-50 window: {outside}"


def test_funnel_oracle_literals_match_the_shared_constants():
    """streaming_twins cannot import curation/dedup at module level (a
    Python worker entering via pipeline/__init__ would re-enter the
    half-initialized dedup module — the r10 circular-import incident
    that broke every mapInPandas query), so the funnel oracle uses
    LITERAL copies of the shared constants; this pin is the no-drift
    guarantee the shared import used to provide."""
    from lakeview_spark.pipeline.curation import _EN_STOP, _PROBE_MOD
    from lakeview_spark.pipeline.dedup import _SHINGLES_SQL
    from lakeview_spark.plans.streaming_twins import (
        _FUNNEL_EN_STOP,
        _FUNNEL_PROBE_MOD,
        _FUNNEL_SHINGLES_SQL,
    )

    assert _FUNNEL_PROBE_MOD == _PROBE_MOD
    assert _FUNNEL_EN_STOP == _EN_STOP
    assert _FUNNEL_SHINGLES_SQL.split() == _SHINGLES_SQL.split()


def test_python_workers_can_import_the_library_through_pipeline():
    """The exact import order a mapInPandas worker uses: a fresh
    interpreter entering through lakeview_spark.pipeline must import
    cleanly (the r10 incident's regression test — a module-level
    cross-import from plans/* into pipeline/* re-enters half-
    initialized modules in this order only, so the driver-side suite
    can be green while every worker crashes)."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-c", "import lakeview_spark.pipeline; print('ok')"],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == "ok"


def test_bench_query_lists_are_registered():
    """bench.py reports a missing name as a failed query, so a rename
    would cost the headline a tracked number — pin the list."""
    import bench

    missing = [n for n in bench.BENCH_QUERIES if n not in QUERIES]
    assert not missing, f"headline bench names not registered: {missing}"
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)
