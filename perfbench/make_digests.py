"""Regenerate perfbench/digests.json from the DuckDB oracles.

Every query of the benchmark's query mix that has an entry in the
registry's ORACLES is run through DuckDB over perfbench/data/sf0.01 and
its digest (perfbench/digest.py) stored. The benchmark recomputes the
Spark side on every run and compares. Run from the repository root:

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

from digest import digest  # noqa: E402
from queries import DATA_DIR, MIX, TABLES  # noqa: E402


def main() -> None:
    from lakeview_spark.plans import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')"
        )
    out = {}
    for name in sorted(MIX):
        if name not in ORACLES:
            continue
        t0 = time.perf_counter()
        out[name] = digest(con.execute(ORACLES[name]).df())
        print(f"{name}: {out[name]['rows']} rows, {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(
            {"command": "python3 perfbench/make_digests.py", "data": "perfbench/data/sf0.01", "digests": out},
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")


if __name__ == "__main__":
    main()
