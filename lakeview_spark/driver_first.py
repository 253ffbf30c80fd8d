"""Driver first, one Spark job for the rest: the rule both extractor
phases follow (discovery's walk in sources/listing.py, the upload in
runner.upload_round).

Each phase runs its per-item function on the driver until it has spent
``JOB_START_S``, what a Spark job costs before its tasks do any work.
A phase that finishes inside that budget launches no job. Otherwise the
items left over are dealt round-robin into one share per task of one
job, whose tasks run the same function on them. Like renting skis until
the rent paid equals the price, the rule needs no estimate of how much
work is left: its cost stays within about twice that of the better
choice while a task runs an item no slower than the driver.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import SparkSession

# What a Spark job costs before its tasks do any work: median 0.32 s,
# minimum 0.29 s over 14 warm one-slice jobs on local[4], 4-core host.
# Unmeasured on a cluster.
JOB_START_S = 0.3


def finish_in_job(
    spark: SparkSession, rest: list, run_share: Callable[[list], Iterable]
) -> list:
    """Deal ``rest`` round-robin into at most ``defaultParallelism``
    shares, run ``run_share`` on each in one task of one Spark job, and
    return everything the shares yield. Round-robin keeps neighbours
    apart: in the order a phase leaves its items, the larger ones (a
    walk's shallow directories) sit together at the front."""
    n = min(spark.sparkContext.defaultParallelism, len(rest))
    shares = [rest[k::n] for k in range(n)]
    return spark.sparkContext.parallelize(shares, n).flatMap(run_share).collect()
