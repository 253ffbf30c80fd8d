"""Driver first, one Spark job for the rest: the rule both extractor
phases follow (discovery's walk in sources/listing.py, the upload in
runner.upload_round).

Each phase runs its per-item function on the driver until it has spent
``job_start_s(spark)``, what the job it would launch now costs before
its tasks do any work. That price is the application's first job
(``FIRST_JOB_START_S``: the JVM's first job, Python worker start and
worker imports) until this application has run a ``finish_in_job`` job,
and a warm job (``JOB_START_S``) from then on. A phase that finishes
inside that budget launches no job. Otherwise the items left over are
dealt round-robin into one share per task of one job, whose tasks run
the same function on them. Like renting skis until the rent paid equals
the price, the rule needs no estimate of how much work is left: its
cost stays within about twice that of the better choice while a task
runs an item no slower than the driver.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import SparkSession

# What a warm Spark job costs before its tasks do any work: median
# 0.32 s, minimum 0.29 s over 14 warm one-slice jobs on local[4], 4-core
# host. Unmeasured on a cluster.
JOB_START_S = 0.3

# What the application's first such job costs: median 2.04 s, minimum
# 1.86 s over 11 fresh local[4] applications on a 4-core host, each
# timing its first parallelize(4 one-item shares, 4).flatMap(...).collect()
# whose task imports lakeview_spark.runner, as the extractor's tasks do
# (a bare task: median 1.67 s; the second job: median 0.30 s).
# Unmeasured on a cluster.
FIRST_JOB_START_S = 2.0

# the application id of the last finish_in_job job: that application's
# Python workers are started and have imported the extractor
_warm_app_id: str | None = None


def job_start_s(spark: SparkSession) -> float:
    """What the job a phase would launch now costs to start: the warm
    price once this application has run a ``finish_in_job`` job, the
    first-job price until then."""
    warm = spark.sparkContext.applicationId == _warm_app_id
    return JOB_START_S if warm else FIRST_JOB_START_S


def finish_in_job(
    spark: SparkSession, rest: list, run_share: Callable[[list], Iterable]
) -> list:
    """Deal ``rest`` round-robin into at most ``defaultParallelism``
    shares, run ``run_share`` on each in one task of one Spark job, and
    return everything the shares yield. Round-robin keeps neighbours
    apart: in the order a phase leaves its items, the larger ones (a
    walk's shallow directories) sit together at the front."""
    global _warm_app_id
    sc = spark.sparkContext
    n = min(sc.defaultParallelism, len(rest))
    shares = [rest[k::n] for k in range(n)]
    out = sc.parallelize(shares, n).flatMap(run_share).collect()
    _warm_app_id = sc.applicationId
    return out
