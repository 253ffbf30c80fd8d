"""Headline query benchmark: runs BENCH_QUERIES at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS] and prints
one JSON line {"metric", "value", "unit", "queries", "sf", "n_queries",
"errors"}; "value" is the sum of the per-query seconds.

Each query is timed from the registry call to the end of
`write.format("noop").mode("overwrite").save()`, as perfbench/queries.py
does, so the whole result is computed and nothing is pruned. One
untimed warm-up runs the same way first. Queries run once each in list
order, so a query that first touches a shared scratch table pays its
build. A failing query does not stop the others; the script exits 1 if
any query failed.

The perf gate for both layers is perfbench/run.py (perfbench/README.md);
this script keeps the headline number that BENCH_r*.json records.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

BENCH_QUERIES = [
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "region_segment_profile",
    "table_stats_daily",
    "partition_size_distribution",
    "file_size_percentiles",
    "compaction_backlog",
    "timeline_trends",
    "timeline_parse",
    "timeline_completeness",
    "table_counts_rollup",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "similarity_topk_cosine",
    "similarity_ann_ivf",
    "text_language_id",
    "text_token_count",
    "text_fingerprint",
    "multimodal_metadata",
    "forecast_revenue",
    "returned_items",
    "brand_revenue_share",
    "events_sessionization",
    "dedup_embedding_cosine",
    "pack_training_sequences",
    "text_boilerplate_lines",
    "events_funnel_conversion",
]


def _run(spark, query) -> None:
    query(spark, SF_DIR).write.format("noop").mode("overwrite").save()


def main() -> None:
    from lakeview_spark import get_spark
    from lakeview_spark.plans import QUERIES

    spark = get_spark("lakeview-bench", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM and the parquet footers once, untimed
    _run(spark, QUERIES["pricing_summary"])

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in BENCH_QUERIES:
        t0 = time.perf_counter()
        try:
            _run(spark, QUERIES[name])
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — a broken query must not hide the others' numbers
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
    spark.stop()

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    if errors:
        print(json.dumps({"errors": errors}))
    print(json.dumps({
        "metric": "lakeview_spark bench: headline query wall-clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "n_queries": len(timings),
        "errors": len(errors),
    }))
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
