"""Iterative algorithms over the embedding corpus.

`kmeans_train` is the canonical Spark iterative-algorithm shape: a
driver loop of Lloyd's iterations where each step is a fully
distributed DataFrame job and the only driver state is the k×dim
centroid matrix (k x dim — broadcast-scale metadata, same class as
a dim table build side). The per-step pieces are already oracle-proven
elsewhere: the assignment step is `embedding_centroid_assign`
(similarity.py, hash-checked every round) and this loop simply replays
it against updated literal centroids.

Registered rows-only (the documented third exemption,
test_registry_hygiene.py): the centroid update is an element-wise MEAN
of doubles, and distributed float summation has no deterministic
cross-engine order, so after one update the fourth decimal of a
centroid — and with it any hash — can differ between Spark and DuckDB
even when both are correct. Iterative refinement is exactly the
"iterative algorithms" case the driver contract exempts; the
assignment math it iterates stays oracle-checked via
`embedding_centroid_assign` / `embedding_centroid_stats`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeview_spark.pipeline.similarity import (
    _CLUSTER_TARGET,
    _K_MAX,
    _K_MIN,
    _dot,
    _norm,
    centroid_seed_predicate,
)
from lakeview_spark.plans.registry import register, t

_ITERATIONS = 3


def _assign(emb: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest-centroid assignment against literal centroid vectors:
    broadcast k rows, score columnar, then argmax per vector as
    min(struct(-cosine, cluster_id)) — negating the score turns the
    (cosine DESC, cluster_id ASC) total order into a struct-min, which
    is PARTIAL-AGGREGABLE: each partition collapses its n*k scored rows
    to n best-so-far rows map-side instead of sorting the full pair set
    through a row_number window (same upgrade as _kq_assign; double
    negation is an exact sign flip, so the emitted cosine is
    bit-identical).

    Norms are HOISTED out of the n*k pair expression (r14
    optimization): the vector norm is computed once per row and the
    centroid norm once per broadcast row instead of once per PAIR —
    the interpreted zip_with/aggregate folds are the kernel's cost
    (CLAUDE.md r13: higher-order lambdas run interpreted), and hoisting
    cuts the per-pair fold count from 3 to 1. The cosine is
    bit-identical: same _norm expression over the same doubles, and
    en * cn keeps the operand order of _norm(e) * _norm(c). `label`
    rides along (any_value over the single row per vec_id) so the
    final report needs no second scan+join of the input."""
    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(cid, [float(v) for v in vec]) for cid, vec in centroids],
        "cluster_id int, ce array<double>",
    ).withColumn("cn", _norm("ce"))
    scored = (
        emb.withColumn("en", _norm("embedding"))
        .crossJoin(F.broadcast(cdf))
        .select(
            "vec_id",
            "label",
            "embedding",
            F.struct(
                (
                    -(_dot("embedding", "ce") / (F.col("en") * F.col("cn")))
                ).alias("neg_cosine"),
                "cluster_id",
            ).alias("sc"),
        )
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min("sc").alias("best"),
            F.any_value("embedding").alias("embedding"),
            F.any_value("label").alias("label"),
        )
        .select(
            "vec_id",
            "label",
            "embedding",
            F.col("best.cluster_id").alias("cluster_id"),
            (-F.col("best.neg_cosine")).alias("cosine"),
        )
    )


@register("kmeans_train")  # rows-only: iterative float-mean updates (module docstring)
def kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means: {_ITERATIONS} assign/update rounds from the
    data-derived seeds (vec_id 1..k, corpus-sized k), then the final assignment's
    per-cluster report (size, cosine spread).

    Each update is one distributed job: posexplode the assigned vectors
    and average per (cluster, dimension) — an algebraic agg, so
    partial aggregation collapses every partition to <= k×dim rows
    before the (tiny, 256-key) shuffle. The driver holds only the
    centroid matrix between rounds; an empty cluster keeps its previous
    centroid (the standard Lloyd's guard).

    The input repartitions once per job: each testdata table is ONE
    single-row-group parquet file Spark cannot split, and the n*k*dim
    distance fold is a heavy kernel (the shingle/simhash builders'
    documented exception to the no-extra-exchange rule, SCALE.md §6) —
    measured 2.5 -> 0.8 s per assign at sf0.1."""
    emb = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    centroids = [
        (int(r.vec_id), [float(v) for v in r.embedding])
        for r in emb.filter(centroid_seed_predicate(spark, sf_dir))
        .select("vec_id", "embedding")
        .collect()
    ]
    for _ in range(_ITERATIONS):
        assign = _assign(emb, centroids)
        upd = (
            assign.select("cluster_id", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cluster_id", "pos")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in upd:
            by_cluster.setdefault(r.cluster_id, {})[r.pos] = r.m
        centroids = [
            (
                cid,
                [comp[i] for i in sorted(comp)] if (comp := by_cluster.get(cid)) else vec,
            )
            for cid, vec in centroids
        ]
    final = _assign(emb, centroids)
    return final.groupBy("cluster_id").agg(
        F.count("*").alias("n_vectors"),
        F.countDistinct("label").alias("n_labels"),
        F.min("cosine").alias("min_cosine"),
        F.max("cosine").alias("max_cosine"),
    )


# ---------------------------------------------------------------------------
# Quantized (integer-domain) Lloyd's — the hash-checkable twin
# ---------------------------------------------------------------------------
#
# The float trainer above is rows-only because distributed float MEANS
# have no deterministic summation order. This twin removes floats from
# the loop entirely: coordinates are quantized once to 2^-20 grid cells
# (floor(x * 2^20) — float->double cast, power-of-two multiply, and
# floor are all IEEE-exact, so BOTH engines derive identical integers
# from the same parquet floats), and every step after that is integer
# arithmetic:
#
#   distance   sum((q_i - c_i)^2)          BIGINT, exact, order-free
#   update     floor(sum(q_i) / n)         sums are exact integers
#                                          < 2^39 << 2^53, so the one
#                                          double division is correctly
#                                          rounded to the SAME value in
#                                          both engines, and floor of it
#                                          is engine-identical
#
# Exact integer aggregation is commutative, so the shuffle order that
# blocks the float twin from ever hashing stably is irrelevant here —
# the full 3-iteration trainer replays bit-for-bit in DuckDB (unrolled
# CTEs below). Quantized training is also the honest 100 TB design:
# run-to-run reproducibility of a distributed trainer is a feature, and
# a 2^-20 grid on unit-scale embeddings is far below the noise floor of
# any downstream consumer.
_QUANT = 1 << 20

_KQ_K_SQL = (
    f"SELECT GREATEST({_K_MIN}, LEAST({_K_MAX}, count(*) // {_CLUSTER_TARGET})) "
    "FROM embeddings"
)

# squared L2 between the row vector e.qv and centroid c.cv (BIGINT lists)
_KQ_DIST_SQL = (
    "list_sum(list_transform(range(1, len(e.qv)+1), "
    "i -> (e.qv[i]-c.cv[i])*(e.qv[i]-c.cv[i])))"
)


def _kq_iter_sql(prev: str, n: int) -> str:
    """One unrolled Lloyd's round: assign to nearest centroid (ties to
    the lower cluster_id), then per-(cluster, dimension) floored integer
    mean; clusters that captured no vectors keep their previous centroid
    (the same guard the Spark loop applies)."""
    return f"""
    a{n} AS (
      SELECT vec_id, label, qv, cluster_id FROM (
        SELECT e.vec_id, e.label, e.qv, c.cluster_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_KQ_DIST_SQL} ASC, c.cluster_id) AS rn
        FROM q e, {prev} c) WHERE rn = 1
    ),
    m{n} AS (
      SELECT cluster_id, pos,
             CAST(floor(CAST(sum(v) AS DOUBLE)/count(*)) AS BIGINT) AS m
      FROM (SELECT cluster_id, unnest(qv) AS v,
                   unnest(range(1, len(qv)+1)) AS pos FROM a{n})
      GROUP BY cluster_id, pos
    ),
    cl{n} AS (
      SELECT cluster_id, list(m ORDER BY pos) AS cv FROM m{n}
      GROUP BY cluster_id
    ),
    c{n} AS (
      SELECT p.cluster_id, coalesce(u.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN cl{n} u USING (cluster_id)
    )"""


_KMEANS_QUANTIZED_SQL = f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_QUANT}.0) AS BIGINT)) AS qv
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cluster_id, qv AS cv FROM q
  WHERE vec_id BETWEEN 1 AND ({_KQ_K_SQL})
),{_kq_iter_sql('c0', 1)},{_kq_iter_sql('c1', 2)},{_kq_iter_sql('c2', 3)},
fin AS (
  SELECT vec_id, label, cluster_id, CAST(sqdist AS BIGINT) AS sqdist FROM (
    SELECT e.vec_id, e.label, c.cluster_id, {_KQ_DIST_SQL} AS sqdist,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_KQ_DIST_SQL} ASC, c.cluster_id) AS rn
    FROM q e, c3 c) WHERE rn = 1
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
       CAST(min(sqdist) AS BIGINT) AS min_sqdist,
       CAST(max(sqdist) AS BIGINT) AS max_sqdist
FROM fin GROUP BY cluster_id
"""


def _kq_quantize(col: str) -> Column:
    return F.transform(
        F.col(col),
        lambda x: F.floor(x.cast("double") * F.lit(float(_QUANT))).cast("long"),
    )


# quantized-vector width == the embedding width (one integer cell per
# float coordinate) — the unrolled-kernel dim pin for qv-family columns
_QV_DIM = 64


def _kq_sqdist(a: str, b: str, dim: int | None = None) -> Column:
    """Exact integer squared-L2: zip_with difference products folded
    into a long accumulator — commutative, so partition order is moot.

    With ``dim`` (r14 optimization, guide §4.1): the fold unrolls to a
    fixed-width codegen sum `(a[0]-b[0])*(a[0]-b[0]) + ...` — the
    higher-order lambda runs INTERPRETED per element, and
    e5e3d31:scripts/kernel_probe.py measured the unrolled form ~1.3x faster on
    the probes x corpus pair kernel with an identical checksum.
    Integer addition is exact in any order, so the sum is identical;
    quantized values are |v| <= 2^20, so 64 terms stay <= 2^46 — no
    ANSI overflow in either order. Callers pass dim ONLY where the
    array width is structurally pinned (qv-family = 64, sv/cv
    subvectors = _PQ_SUB); under ANSI an over-large dim fails loudly
    (invalid array index), an under-sized one would truncate — which
    is why every consumer query stays oracle-checked after the dim
    edits (this round's verification log)."""
    if dim is not None:
        terms = " + ".join(
            f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])" for i in range(dim)
        )
        return F.expr(f"CAST(0 AS BIGINT) + {terms}")
    prods = F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y))
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _kq_centroid_rounds(
    emb: DataFrame, centroids: list[tuple[int, list[int]]], rounds: int
) -> list[tuple[int, list[int]]]:
    """Label-free quantized Lloyd's loop: `rounds` iterations of
    broadcast-assign (struct-min argmin, ties to the lower cluster_id)
    + floored-integer centroid update, returning the trained k x dim
    centroid list. The kmeans_train_quantized loop distilled for
    reuse by the IVF-PQ coarse quantizer (r10): emb needs only
    (vec_id, qv); empty clusters keep their previous centroid. Driver
    state is k x dim integers per round — catalog-scale."""
    spark = emb.sparkSession
    for _ in range(rounds):
        cdf = spark.createDataFrame(
            [(cid, [int(v) for v in vec]) for cid, vec in centroids],
            "cluster_id int, cv array<bigint>",
        )
        assign = (
            emb.crossJoin(F.broadcast(cdf))
            .select(
                "vec_id",
                "qv",
                F.struct(
                    _kq_sqdist("qv", "cv", dim=_QV_DIM).alias("sqdist"), "cluster_id"
                ).alias("sc"),
            )
            .groupBy("vec_id")
            .agg(F.min("sc").alias("best"), F.any_value("qv").alias("qv"))
        )
        upd = (
            assign.select(
                F.col("best.cluster_id").alias("cluster_id"),
                F.posexplode("qv").alias("pos", "v"),
            )
            .groupBy("cluster_id", "pos")
            .agg(
                F.floor(F.sum("v").cast("double") / F.count("*"))
                .cast("long")
                .alias("m")
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in upd:
            by_cluster.setdefault(r.cluster_id, {})[r.pos] = r.m
        centroids = [
            (
                cid,
                [comp[i] for i in sorted(comp)]
                if (comp := by_cluster.get(cid))
                else vec,
            )
            for cid, vec in centroids
        ]
    return centroids


def _kq_assign(emb: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Nearest-centroid assignment in the quantized domain: broadcast k
    literal integer centroids, one narrow map for the distance fold,
    then argmin as min(struct(sqdist, cluster_id)) — a PARTIAL-
    AGGREGABLE agg, so each partition collapses its n*k scored rows to
    n best-so-far rows map-side before any shuffle. (The row_number
    window this replaced sorted the full n*k pair set through one
    exchange — the sf1 probe showed that cost; struct-min is the same
    total order: sqdist ASC, ties to the lower cluster_id.)"""
    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(cid, [int(v) for v in vec]) for cid, vec in centroids],
        "cluster_id int, cv array<bigint>",
    )
    scored = emb.crossJoin(F.broadcast(cdf)).select(
        "vec_id",
        "label",
        "qv",
        F.struct(_kq_sqdist("qv", "cv", dim=_QV_DIM).alias("sqdist"), "cluster_id").alias("sc"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min("sc").alias("best"),
            F.any_value("label").alias("label"),
            F.any_value("qv").alias("qv"),
        )
        .select(
            "vec_id",
            "label",
            "qv",
            F.col("best.cluster_id").alias("cluster_id"),
            F.col("best.sqdist").alias("sqdist"),
        )
    )


@register("kmeans_train_quantized", oracle=_KMEANS_QUANTIZED_SQL)
def kmeans_train_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means on 2^-20-quantized integer coordinates: the
    hash-checked twin of `kmeans_train` (module header explains why the
    integer domain makes the FULL iterative loop — not just one assign
    step — replayable bit-for-bit in DuckDB).

    Identical distributed shape to the float trainer: per round, one
    broadcast-assign job and one posexplode/groupBy update whose partial
    aggregation collapses each partition to <= k*dim rows before a tiny
    (k*dim keys) shuffle; the driver holds only the k*dim centroid
    matrix. Empty clusters keep their previous centroid. Output is the
    final assignment's per-cluster report, all-integer (sizes, label
    breadth, squared-distance spread).

    Repartitions the unsplittable single-file local scan before the
    heavy n*k*dim fold — same justification and measurement as the
    float trainer's docstring."""
    emb = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _kq_quantize("embedding").alias("qv"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    centroids = [
        (int(r.vec_id), [int(v) for v in r.qv])
        for r in emb.filter(centroid_seed_predicate(spark, sf_dir))
        .select("vec_id", "qv")
        .collect()
    ]
    for _ in range(_ITERATIONS):
        assign = _kq_assign(emb, centroids)
        upd = (
            assign.select("cluster_id", F.posexplode("qv").alias("pos", "v"))
            .groupBy("cluster_id", "pos")
            .agg(
                F.floor(F.sum("v").cast("double") / F.count("*"))
                .cast("long")
                .alias("m")
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in upd:
            by_cluster.setdefault(r.cluster_id, {})[r.pos] = r.m
        centroids = [
            (
                cid,
                [comp[i] for i in sorted(comp)] if (comp := by_cluster.get(cid)) else vec,
            )
            for cid, vec in centroids
        ]
    final = _kq_assign(emb, centroids)
    return final.groupBy("cluster_id").agg(
        F.count("*").alias("n_vectors"),
        F.countDistinct("label").alias("n_labels"),
        F.min("sqdist").alias("min_sqdist"),
        F.max("sqdist").alias("max_sqdist"),
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection (Gonzalez farthest-point traversal)
# ---------------------------------------------------------------------------
_KC_K = 4  # selected coreset size (seed + 3 unrolled selection rounds)

_KC_DIST = (
    "list_sum(list_transform(range(1, len(e.qv)+1), "
    "i -> (e.qv[i]-c.qv[i])*(e.qv[i]-c.qv[i])))"
)


def _kc_round_sql(prev_d: str, prev_s: str, n: int) -> str:
    """One unrolled Gonzalez round: fold the newest center into the
    running min-distance, then pick the farthest point (ties to the
    lower vec_id). AS MATERIALIZED — without it DuckDB re-inlines the
    whole selection chain per reference (the eval_rq_recall lesson)."""
    return f"""
    d{n} AS MATERIALIZED (
      SELECT e.vec_id, e.qv, LEAST(e.d, {_KC_DIST}) AS d
      FROM {prev_d} e, {prev_s} c
    ),
    s{n} AS MATERIALIZED (
      SELECT vec_id, qv FROM d{n} ORDER BY d DESC, vec_id LIMIT 1
    )"""


_KCENTER_SQL = f"""
WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_QUANT}.0) AS BIGINT)) AS qv
  FROM embeddings
),
s0 AS MATERIALIZED (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),
d1 AS MATERIALIZED (
  SELECT e.vec_id, e.qv, {_KC_DIST} AS d FROM q e, s0 c
),
s1 AS MATERIALIZED (
  SELECT vec_id, qv FROM d1 ORDER BY d DESC, vec_id LIMIT 1
),{_kc_round_sql('d1', 's1', 2)},{_kc_round_sql('d2', 's2', 3)},
cent AS (
  SELECT CAST(0 AS BIGINT) AS center_order, vec_id, qv FROM s0
  UNION ALL SELECT 1, vec_id, qv FROM s1
  UNION ALL SELECT 2, vec_id, qv FROM s2
  UNION ALL SELECT 3, vec_id, qv FROM s3
),
fin AS (
  SELECT vec_id, center_order, cid, CAST(d AS BIGINT) AS d FROM (
    SELECT e.vec_id, c.center_order, c.vec_id AS cid, {_KC_DIST} AS d,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_KC_DIST} ASC, c.center_order) AS rn
    FROM q e, cent c) WHERE rn = 1
)
SELECT center_order,
       CAST(cid AS BIGINT) AS center_vec_id,
       CAST(count(*) AS BIGINT) AS n_assigned,
       CAST(max(d) AS BIGINT) AS radius,
       CAST(sum(d) AS BIGINT) AS sum_sqdist
FROM fin GROUP BY center_order, cid
"""


@register("sample_kcenter_select", oracle=_KCENTER_SQL)
def sample_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez farthest-point
    traversal) over the embedding corpus — the geometric data-PRUNING
    selector next to the distribution-matching one (sample_dsir_select):
    pick the seed, then repeatedly the point FARTHEST from everything
    selected so far, giving a 2-approximation of the k-center cover.
    Selecting for coverage (not density) is the "keep the rare stuff"
    pruning rule — the complement of SemDeDup's "drop the crowded
    stuff". Output: each selected center with its coverage population,
    radius (the k-center objective), and total squared distance.

    Determinism (the kmeans_train_quantized device end-to-end):
    coordinates quantize ONCE to the 2^-20 integer grid, distances are
    exact BIGINT folds, the per-round farthest pick is an exact
    argmax with (distance DESC, vec_id) ties — so the FULL iterative
    selection replays bit-for-bit in a DuckDB unrolled-CTE oracle (AS
    MATERIALIZED on the chain, the eval_rq_recall rule) and in a
    pure-Python replay test. sum_sqdist stays < 2^63 at audit scales
    (n * 64 dims * 2^40); an extreme-scale run rescales first.

    Scale shape: selection is k-1 scans, each a partial-aggregable
    struct-max that collapses map-side (never a sort); the running
    center set is <= k driver rows broadcast back as literals; the
    final assignment is the _kq_assign shape (struct-min, ties to the
    lower selection order). Repartitions the unsplittable single-file
    local scan before the n*k*dim folds — the shingle-builder
    exception (SCALE.md §6). At 100 TB greedy selection is k
    sequential scans by nature; production k-center uses a sampled
    candidate pool, same arithmetic."""
    emb = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", _kq_quantize("embedding").alias("qv"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    seed_row = emb.select(
        F.min(F.struct("vec_id", "qv")).alias("s")
    ).collect()[0].s
    if seed_row is None:
        return spark.createDataFrame(
            [],
            "center_order bigint, center_vec_id bigint, n_assigned bigint,"
            " radius bigint, sum_sqdist bigint",
        )
    centers = [(0, int(seed_row.vec_id), [int(v) for v in seed_row.qv])]
    for i in range(1, _KC_K):
        cdf = spark.createDataFrame(
            [(o, cid, cv) for o, cid, cv in centers],
            "center_order bigint, cid bigint, cv array<bigint>",
        )
        # running min-distance to the selected set, then the farthest
        # point: max(struct(d, -vec_id, ...)) IS the (d DESC, vec_id
        # ASC) total order — partial-aggregable, no sort
        far = (
            emb.crossJoin(F.broadcast(cdf))
            .select("vec_id", "qv", _kq_sqdist("qv", "cv", dim=_QV_DIM).alias("d"))
            .groupBy("vec_id")
            .agg(F.min("d").alias("d"), F.any_value("qv").alias("qv"))
            .select(
                F.max(
                    F.struct(
                        "d",
                        (-F.col("vec_id")).alias("neg_id"),
                        "vec_id",
                        "qv",
                    )
                ).alias("s")
            )
            .collect()[0]
            .s
        )
        centers.append((i, int(far.vec_id), [int(v) for v in far.qv]))
    cdf = spark.createDataFrame(
        [(o, cid, cv) for o, cid, cv in centers],
        "center_order bigint, cid bigint, cv array<bigint>",
    )
    assigned = (
        emb.crossJoin(F.broadcast(cdf))
        .select(
            "vec_id",
            F.struct(
                _kq_sqdist("qv", "cv", dim=_QV_DIM).alias("d"), "center_order", "cid"
            ).alias("sc"),
        )
        .groupBy("vec_id")
        .agg(F.min("sc").alias("b"))
    )
    return assigned.groupBy(
        F.col("b.center_order").alias("center_order"),
        F.col("b.cid").alias("center_vec_id"),
    ).agg(
        F.count("*").cast("bigint").alias("n_assigned"),
        F.max("b.d").cast("bigint").alias("radius"),
        F.sum("b.d").cast("bigint").alias("sum_sqdist"),
    )
