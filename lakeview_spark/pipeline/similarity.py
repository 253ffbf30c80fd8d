"""Similarity search over the embeddings table (array<float>, 64-dim).

Brute-force cosine top-k is the exactness baseline; the LSH
(random-hyperplane) bucketing is the scale path — at 100 TB you bucket
once (one narrow map), then search only within buckets.

Determinism: both engines compute dot products as an explicit LEFT FOLD
over index order (Spark `aggregate`, DuckDB `list_reduce`) on doubles, so
the floating-point result is bit-identical and top-k order (with vec_id
tiebreak) matches exactly.

The hyperplanes for LSH are data-derived (embeddings of vec_id
1..planes, with the plane count sized to the corpus) to stay
deterministic and oracle-checkable without a random seed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeview_spark.operators.materialize import materialized
from lakeview_spark.plans.registry import register, t

_QUERY_VEC_ID = 0
_TOP_K = 20


# Bucket count is 2^planes, so the same-bucket candidate load is
# ~n^2/2^planes: the plane count must GROW with the corpus. The sizing
# rule keeps the expected bucket occupancy near _TARGET_BUCKET:
#   planes = clamp(floor(log2(n_vectors / _TARGET_BUCKET)), 2, _MAX_PLANES)
# derived at query time from the corpus row count, IDENTICALLY on both
# engines: Python uses exact integer bit_length, the oracle SQL uses
# floor(log2(count(*) // target)) — equal for every n because log2 of an
# integer is exact at powers of two and bounded > 4e-8 away from an
# integer otherwise. Planes stay data-derived (embeddings of vec_id
# 1..planes), so every corpus size is deterministic and oracle-checkable.
_TARGET_BUCKET = 30
_MAX_PLANES = 24


def _env_planes() -> int | None:
    """Optional fixed override (LAKEVIEW_LSH_PLANES): clamped 2..24, or
    None (the default) for the corpus-derived sizing rule above. Read at
    import time so the generated oracle SQL agrees with the Spark side."""
    raw = os.environ.get("LAKEVIEW_LSH_PLANES")
    if raw is None:
        return None
    try:
        n = int(raw)
    except ValueError:
        return None
    return max(2, min(n, _MAX_PLANES))


_FORCED_PLANES = _env_planes()


def _planes_for_n(n_vectors: int) -> int:
    """Plane count for a corpus of ``n_vectors`` (exact integer form of
    the floor(log2(n / target)) rule; bit_length(m) - 1 == floor(log2(m))
    for every m >= 1)."""
    if _FORCED_PLANES is not None:
        return _FORCED_PLANES
    m = max(n_vectors // _TARGET_BUCKET, 1)
    return max(2, min(m.bit_length() - 1, _MAX_PLANES))


# the same derivation as one scalar SQL subquery (DuckDB), generated
# once at import: either the forced constant or the dynamic rule
if _FORCED_PLANES is not None:
    _NP_SQL = f"SELECT {_FORCED_PLANES} AS p"
else:
    _NP_SQL = f"""SELECT LEAST({_MAX_PLANES}, GREATEST(2,
        CAST(floor(log2(GREATEST(count(*) // {_TARGET_BUCKET}, 1))) AS INT))) AS p
      FROM embeddings"""

# k-means cluster count is corpus-derived, a separate knob from the LSH
# planes: one centroid per ~_CLUSTER_TARGET vectors, clamped to
# [_K_MIN, _K_MAX] — the SemDeDup sizing rule (k grows with n so
# per-cluster pair candidates stay constant; a FIXED k is an O(n²/k)
# pair blowup, which the r5 profile measured as the registry's heaviest
# steady query). Seeds are vec_id 1.._k_for_n(n) — data-derived, and
# the clamp means the driver correctness scales (<= 512 vectors) keep
# the historical k=4 byte-identically, same device as _planes_for_n.
_CLUSTER_TARGET = 128
_K_MIN = 4
_K_MAX = 4096


def _k_for_n(n: int) -> int:
    return max(_K_MIN, min(_K_MAX, n // _CLUSTER_TARGET))


# (application id, dataset path, dataset fingerprint) -> embeddings row
# count; bounded cache keyed like _PLANE_CACHE. Every corpus-derived
# knob (cluster count, recall-probe stride) shares this one count job.
_N_CACHE: dict[tuple[str, str, str, str], int] = {}


def corpus_n(spark: SparkSession, sf_dir: str, table: str = "embeddings") -> int:
    """Corpus size of `table`; one cached metadata-only count job per
    (session, dataset, table). The single counting device behind every
    corpus-derived constant (LSH planes, k-means k, probe strides, the
    simhash eval mod) — r8 review: evaluation.py briefly grew its own
    copy for the documents table; one cache, one invalidation rule."""
    from lakeview_spark.operators.materialize import _dataset_fingerprint

    key = (
        spark.sparkContext.applicationId,
        os.path.realpath(sf_dir),
        _dataset_fingerprint(sf_dir),
        table,
    )
    n = _N_CACHE.get(key)
    if n is None:
        n = t(spark, sf_dir, table).count()
        _N_CACHE[key] = n
    return n


def centroid_ids(spark: SparkSession, sf_dir: str) -> tuple[int, ...]:
    """Seed vec_ids (1..k) for the corpus-sized cluster count."""
    return tuple(range(1, _k_for_n(corpus_n(spark, sf_dir)) + 1))


def centroid_seed_predicate(spark: SparkSession, sf_dir: str) -> F.Column:
    """The ONE filter selecting the centroid seed rows — call sites must
    not re-encode the id scheme (a between(1, k) written inline would
    silently diverge if the scheme ever changed, e.g. to strided or
    0-based seeds). Contiguity is this module's implementation detail,
    so the range form lives only here."""
    ids = centroid_ids(spark, sf_dir)
    return F.col("vec_id").between(ids[0], ids[-1])


# Near-dup cosine threshold: 0.5 matches nothing on the synthetic
# embeddings (same-bucket max ≈ 0.49), which made the oracle vacuous;
# 0.35 keeps ~40 pairs at every SF so the check exercises real arithmetic.
_NEAR_DUP_COSINE = 0.35


# Embedding width is fixed (testdata schema; every oracle's _DOT_SQL
# hardcodes range(1, 65)), so the float kernels unroll to codegen
# arithmetic (r14 optimization, guide §4.1: higher-order lambdas run
# INTERPRETED — e5e3d31:scripts/kernel_probe.py measured the unrolled form
# ~1.3x the fold on the pair kernel). Bit-identical by construction:
# `0.0 + t0 + t1 + ...` parses left-associative, which IS the fold's
# evaluation order including the 0.0 seed (the seed matters only for
# a leading -0.0 term, kept anyway), and Catalyst's
# ReorderAssociativeOperator only touches integral types, never
# doubles.
_EMB_DIM = 64


def _dot(a: str, b: str) -> F.Column:
    """Left-fold dot product in double: deterministic across engines.
    Unrolled fixed-dim codegen form of
    aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0.0, +)
    — same order, same seed, bit-identical."""
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(_EMB_DIM)
    )
    return F.expr(f"CAST(0 AS DOUBLE) + {terms}")


# (application id, dataset path, dataset fingerprint) -> plane list.
# Bounded (one small entry per dataset per session); keyed like the
# materialize cache so a rewritten dataset re-derives.
_PLANE_CACHE: dict[tuple[str, str, str], list[tuple[int, list[float]]]] = {}


def _plane_vectors(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """The LSH planes as driver-side (plane_id, vector) pairs for
    vec_id 1..planes_for_n(corpus size). A bounded collect (<= 24 rows)
    — the same metadata scale as a broadcast dim's build side; the
    vectors become literal arrays so bucket assignment is a map-only
    plan. float32 -> Python float -> double literal is exact, so bits
    match an exploded-join formulation bit-for-bit."""
    from lakeview_spark.operators.materialize import _dataset_fingerprint

    key = (
        spark.sparkContext.applicationId,
        os.path.realpath(sf_dir),
        _dataset_fingerprint(sf_dir),
    )
    planes = _PLANE_CACHE.get(key)
    if planes is None:
        emb = t(spark, sf_dir, "embeddings")
        p = _planes_for_n(emb.count())
        rows = (
            emb.filter(F.col("vec_id").between(1, p))
            .select("vec_id", "embedding")
            .collect()
        )
        by_id = {r["vec_id"]: list(r["embedding"]) for r in rows}
        planes = [(pid, by_id[pid]) for pid in range(1, p + 1) if pid in by_id]
        _PLANE_CACHE[key] = planes
    return planes


def _sql_double(v: float) -> str:
    # repr round-trips doubles exactly and ANSI string->double cast is
    # correctly rounded, so the literal equals the collected value
    return f"CAST('{v!r}' AS DOUBLE)"


def _bucket_expr(planes: list[tuple[int, list[float]]], col: str = "embedding") -> F.Column:
    """Bucket id for ``col`` against literal plane vectors: the bit for
    plane_id is sign(dot(v, plane)), weighted 2^(plane_id-1) — identical
    math to the exploded join + groupBy form, with zero shuffles. Built
    as ONE sql expression (a single parse) instead of hundreds of
    per-literal py4j Column calls, which dominated plan-build latency.
    Each plane dot is UNROLLED (r14, the _dot device): the plane side
    becomes per-term double literals instead of an array literal +
    interpreted aggregate/zip_with fold — same left-assoc order and
    0.0 seed, bit-identical, all codegen."""
    terms = []
    for pid, pv in planes:
        dot = "CAST(0 AS DOUBLE) + " + " + ".join(
            f"CAST({col}[{i}] AS DOUBLE) * {_sql_double(float(v))}"
            for i, v in enumerate(pv)
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << (pid - 1)} ELSE 0 END)")
    return F.expr("CAST(" + (" + ".join(terms) or "0") + " AS BIGINT)")


def _l2sq(a: str, b: str) -> F.Column:
    """Unrolled float squared-L2: same left-assoc order and 0.0 seed
    as aggregate(zip_with(a, b, (x, y) -> (double(x) - double(y))^2),
    0.0, +) — see the _dot comment for the bit-identity argument."""
    terms = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in range(_EMB_DIM)
    )
    return F.expr(f"CAST(0 AS DOUBLE) + {terms}")


def _norm(a: str) -> F.Column:
    """Unrolled twin of sqrt(aggregate(transform(a, x -> double(x)^2),
    0.0, +)) — see the _dot comment for the bit-identity argument."""
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE)"
        for i in range(_EMB_DIM)
    )
    return F.sqrt(F.expr(f"CAST(0 AS DOUBLE) + {terms}"))


_DOT_SQL = (
    "list_reduce(list_transform(range(1, 65), i -> "
    "CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_transform(range(1, 65), i -> "
    "CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y))"
)


@register(
    "similarity_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
    scored AS (
      SELECT e.vec_id, e.label,
             {_DOT_SQL.format(a="e.embedding", b="q.qe")}
             / ({_NORM_SQL.format(a="e.embedding")} * {_NORM_SQL.format(a="q.qe")}) AS cosine
      FROM embeddings e, q
      WHERE e.vec_id <> {_QUERY_VEC_ID}
    )
    SELECT vec_id, label, cosine FROM scored
    ORDER BY cosine DESC, vec_id LIMIT {_TOP_K}
    """,
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the vec_id=0 query vector.

    The query vector is a 1-row broadcast cross join; the scan stays a
    single narrow map + TakeOrderedAndProject (no full sort at scale)."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qe")
    )
    scored = (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            (_dot("embedding", "qe") / (_norm("embedding") * _norm("qe"))).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), "vec_id").limit(_TOP_K)


_PLANES_SQL = f"""
    SELECT vec_id AS plane_id, embedding AS pe FROM embeddings, ({_NP_SQL}) np
    WHERE vec_id BETWEEN 1 AND np.p
"""


@register(
    "similarity_lsh_buckets",
    oracle=f"""
    WITH planes AS ({_PLANES_SQL}),
    bits AS (
      SELECT e.vec_id, p.plane_id,
             CASE WHEN {_DOT_SQL.format(a="e.embedding", b="p.pe")} > 0 THEN 1 ELSE 0 END AS bit
      FROM embeddings e, planes p
    )
    SELECT vec_id,
           CAST(sum(bit * (1 << (plane_id - 1))) AS BIGINT) AS bucket
    FROM bits GROUP BY vec_id
    """,
)
def similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket per vector; the plane count is
    corpus-sized (floor(log2(n/30)), clamped 2..24) so bucket occupancy
    stays ~constant as data grows. One narrow map over the scan: the
    plane vectors are inlined as literals (a bounded plane-count
    collect, same scale class as a broadcast dim), so NO crossJoin, NO
    groupBy shuffle — at 100 TB the bucket assignment is a pure map
    stage."""
    emb = t(spark, sf_dir, "embeddings")
    return emb.select("vec_id", _bucket_expr(_plane_vectors(spark, sf_dir)).alias("bucket"))


@register(
    "similarity_ann_ivf",
    oracle=f"""
    WITH planes AS ({_PLANES_SQL}),
    bits AS (
      SELECT e.vec_id, e.label, e.embedding, p.plane_id,
             CASE WHEN {_DOT_SQL.format(a="e.embedding", b="p.pe")} > 0 THEN 1 ELSE 0 END AS bit
      FROM embeddings e, planes p
    ),
    bucketed AS (
      SELECT vec_id, any_value(label) AS label, any_value(embedding) AS embedding,
             CAST(sum(bit * (1 << (plane_id - 1))) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id
    ),
    q AS (SELECT embedding AS qe, bucket AS qbucket FROM bucketed WHERE vec_id = {_QUERY_VEC_ID})
    SELECT b.vec_id, b.label,
           {_DOT_SQL.format(a="b.embedding", b="q.qe")}
           / ({_NORM_SQL.format(a="b.embedding")} * {_NORM_SQL.format(a="q.qe")}) AS cosine
    FROM bucketed b, q
    WHERE b.bucket = q.qbucket AND b.vec_id <> {_QUERY_VEC_ID}
    ORDER BY cosine DESC, vec_id LIMIT {_TOP_K}
    """,
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via LSH-bucket restriction (IVF-style): score only the query's
    bucket — the candidate set shrinks ~2^planes-fold; recall trades off
    with probe count (single-probe here, deterministic)."""
    bucketed = _lsh_bucketed(spark, sf_dir)
    q = bucketed.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qbucket"),
        F.col("norm").alias("qnorm"),
    )
    cand = (
        bucketed.crossJoin(F.broadcast(q))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != _QUERY_VEC_ID))
        .select(
            "vec_id",
            "label",
            (_dot("embedding", "qe") / (F.col("norm") * F.col("qnorm"))).alias("cosine"),
        )
    )
    return cand.orderBy(F.desc("cosine"), "vec_id").limit(_TOP_K)


@register(
    "similarity_ann_multiprobe",
    oracle=f"""
    WITH planes AS ({_PLANES_SQL}),
    bits AS (
      SELECT e.vec_id, e.label, e.embedding, p.plane_id,
             CASE WHEN {_DOT_SQL.format(a="e.embedding", b="p.pe")} > 0 THEN 1 ELSE 0 END AS bit
      FROM embeddings e, planes p
    ),
    bucketed AS (
      SELECT vec_id, any_value(label) AS label, any_value(embedding) AS embedding,
             CAST(sum(bit * (1 << (plane_id - 1))) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id
    ),
    q AS (SELECT embedding AS qe, bucket AS qbucket FROM bucketed WHERE vec_id = {_QUERY_VEC_ID})
    SELECT b.vec_id, b.label,
           {_DOT_SQL.format(a="b.embedding", b="q.qe")}
           / ({_NORM_SQL.format(a="b.embedding")} * {_NORM_SQL.format(a="q.qe")}) AS cosine
    FROM bucketed b, q
    WHERE bit_count(xor(b.bucket, q.qbucket)) <= 1 AND b.vec_id <> {_QUERY_VEC_ID}
    ORDER BY cosine DESC, vec_id LIMIT {_TOP_K}
    """,
)
def similarity_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN: score the query's LSH bucket plus every bucket
    at hamming distance 1 (one flipped hyperplane bit) — planes+1
    probes. The standard recall knob for bucketed ANN: candidates grow
    ~(1 + planes)/2^planes-fold while staying bucket-restricted, never
    all-pairs. Probe selection is a popcount on the bucket id, so the
    candidate filter stays a single columnar predicate."""
    bucketed = _lsh_bucketed(spark, sf_dir)
    q = bucketed.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qbucket"),
        F.col("norm").alias("qnorm"),
    )
    cand = (
        bucketed.crossJoin(F.broadcast(q))
        .filter(
            (F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= 1)
            & (F.col("vec_id") != _QUERY_VEC_ID)
        )
        .select(
            "vec_id",
            "label",
            (_dot("embedding", "qe") / (F.col("norm") * F.col("qnorm"))).alias("cosine"),
        )
    )
    return cand.orderBy(F.desc("cosine"), "vec_id").limit(_TOP_K)


# k derived in SQL exactly as _k_for_n derives it in Python: integer
# floor-div and min/max clamp, so both engines seed identical centroids
# at every SF
_CENTROID_SQL = f"""
    SELECT vec_id AS cluster_id, embedding AS ce FROM embeddings
    WHERE vec_id BETWEEN 1 AND (
      SELECT GREATEST({_K_MIN}, LEAST({_K_MAX}, count(*) // {_CLUSTER_TARGET}))
      FROM embeddings
    )
"""

_ASSIGN_SQL = f"""
    WITH c AS ({_CENTROID_SQL}),
    scored AS (
      SELECT e.vec_id, e.label, c.cluster_id,
             {_DOT_SQL.format(a="e.embedding", b="c.ce")}
             / ({_NORM_SQL.format(a="e.embedding")} * {_NORM_SQL.format(a="c.ce")}) AS cosine
      FROM embeddings e, c
    ),
    r AS (
      SELECT vec_id, label, cluster_id, cosine,
             row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cluster_id) AS rn
      FROM scored
    )
    SELECT vec_id, label, cluster_id, cosine FROM r WHERE rn = 1
"""


@register("embedding_centroid_assign", oracle=_ASSIGN_SQL)
def embedding_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means assignment step: nearest of the corpus-sized k
    data-derived centroids (vec_id 1.._k_for_n(n)) by cosine,
    tie-broken on cluster_id.

    The distributed k-means inner loop: centroids broadcast, one narrow
    map to score, one window partitioned by vec_id (k rows each, k =
    clamp(n / 128, 4, 4096) — corpus-derived, see _k_for_n) for the
    argmax — no global shuffle beyond the per-vector partition. Cosines
    are left-fold doubles, so the argmax (and its tiebreak) is
    deterministic across engines."""
    return materialized(spark, "centroid_assign", sf_dir, _centroid_assign_build)


def _centroid_assign_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    cent = emb.filter(centroid_seed_predicate(spark, sf_dir)).select(
        F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("ce")
    )
    # argmax as min(struct(-cosine, cluster_id)): the (cosine DESC,
    # cluster_id ASC) total order as a PARTIAL-AGGREGABLE struct-min —
    # n*k scored rows collapse to n map-side instead of sorting through
    # a row_number window (late-r8 upgrade shared with the k-means
    # assigns; double negation is exact, output bit-identical and the
    # oracle unchanged)
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        F.struct(
            (
                -(_dot("embedding", "ce") / (_norm("embedding") * _norm("ce")))
            ).alias("neg_cosine"),
            "cluster_id",
        ).alias("sc"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min("sc").alias("best"), F.any_value("label").alias("label"))
        .select(
            "vec_id",
            "label",
            F.col("best.cluster_id").alias("cluster_id"),
            (-F.col("best.neg_cosine")).alias("cosine"),
        )
    )


@register(
    "embedding_centroid_stats",
    oracle=f"""
    WITH assign AS ({_ASSIGN_SQL})
    SELECT cluster_id, label, count(*) AS n_vectors,
           min(cosine) AS min_cosine, max(cosine) AS max_cosine
    FROM assign GROUP BY cluster_id, label
    """,
)
def embedding_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster quality stats per (cluster, label): sizes and cosine
    spread. count/min/max only — order-independent aggregates, so no
    float-summation nondeterminism — over the materialized assignment
    (the k-means convergence check reads this same table each round)."""
    assign = embedding_centroid_assign(spark, sf_dir)
    return assign.groupBy("cluster_id", "label").agg(
        F.count("*").alias("n_vectors"),
        F.min("cosine").alias("min_cosine"),
        F.max("cosine").alias("max_cosine"),
    )


def _lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, embedding, bucket, norm) — bucket assignment AND
    the vector's L2 norm materialized once per run: self-joins and
    repeat consumers scan parquet instead of recomputing the plane dot
    products, and the candidate-pair cosine needs only the dot-product
    fold (the two norm folds — 2/3 of the per-pair array work — become
    a parquet column read; doubles round-trip parquet exactly, so the
    cosine is bit-identical to computing the norm in place). Written
    BUCKETED on `bucket`, so the same-bucket self-join (near-dup pairs,
    kNN graph) plans no Exchange once the index outgrows broadcast."""
    from lakeview_spark.operators.materialize import materialized_bucketed

    return materialized_bucketed(
        spark, "lsh_bucketed", sf_dir, _lsh_bucketed_build, ["bucket"]
    )


def _lsh_bucketed_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single narrow map: norm fold + literal-plane bucket bits in one
    # pass over the scan — no join back onto the embeddings (the old
    # crossJoin -> groupBy -> join form paid two shuffles for the same
    # columns). No builder-side repartition here: materialized_bucketed
    # already repartitions on the bucket column for the write, and a
    # second exchange of the full vector table would double the shuffle
    # at scale for zero local gain (A/B: 4.3 s either way at sf0.1).
    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        "embedding",
        _norm("embedding").alias("norm"),
        _bucket_expr(_plane_vectors(spark, sf_dir)).alias("bucket"),
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH planes AS ({_PLANES_SQL}),
    bits AS (
      SELECT e.vec_id, e.embedding, p.plane_id,
             CASE WHEN {_DOT_SQL.format(a="e.embedding", b="p.pe")} > 0 THEN 1 ELSE 0 END AS bit
      FROM embeddings e, planes p
    ),
    bucketed AS (
      SELECT vec_id, any_value(embedding) AS embedding,
             CAST(sum(bit * (1 << (plane_id - 1))) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id
    )
    SELECT a.vec_id AS vec1, b.vec_id AS vec2,
           {_DOT_SQL.format(a="a.embedding", b="b.embedding")}
           / ({_NORM_SQL.format(a="a.embedding")} * {_NORM_SQL.format(a="b.embedding")}) AS cosine
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_DOT_SQL.format(a="a.embedding", b="b.embedding")}
          / ({_NORM_SQL.format(a="a.embedding")} * {_NORM_SQL.format(a="b.embedding")}) >= {_NEAR_DUP_COSINE}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucket candidate generation
    (same-bucket self-join — never all-pairs) then exact cosine >= 0.35.
    The petabyte-scale shape: bucket once, join within buckets only."""
    bucketed = _lsh_bucketed(spark, sf_dir)
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cos = _dot("a.embedding", "b.embedding") / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec1"),
            F.col("b.vec_id").alias("vec2"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= _NEAR_DUP_COSINE)
    )


_KNN_K = 3

# the kNN graph derivation as ONE shared CTE (ends with a `knn` table:
# src, dst, cosine, rank) — used by the similarity_knn_graph oracle and
# every downstream graph-analytics oracle, same no-drift device as
# clustering._CLUSTERS_CTE
_KNN_GRAPH_CTE = f"""
    WITH planes AS ({_PLANES_SQL}),
    bits AS (
      SELECT e.vec_id, e.embedding, p.plane_id,
             CASE WHEN {_DOT_SQL.format(a="e.embedding", b="p.pe")} > 0 THEN 1 ELSE 0 END AS bit
      FROM embeddings e, planes p
    ),
    bucketed AS (
      SELECT vec_id, any_value(embedding) AS embedding,
             CAST(sum(bit * (1 << (plane_id - 1))) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id
    ),
    pairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {_DOT_SQL.format(a="a.embedding", b="b.embedding")}
             / ({_NORM_SQL.format(a="a.embedding")} * {_NORM_SQL.format(a="b.embedding")}) AS cosine
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT src, dst, cosine,
             row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
      FROM pairs
    ),
    knn AS (
      SELECT src, dst, cosine, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= {_KNN_K}
    )
"""


@register(
    "similarity_knn_graph",
    oracle=f"{_KNN_GRAPH_CTE} SELECT src, dst, cosine, rank FROM knn",
)
def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-restricted kNN graph: every vector's top-3 (_KNN_K)
    neighbors within its LSH bucket — the input artifact for
    graph-based dedup, IVF training, diversity sampling, and the
    triangle count below. MATERIALIZED once per run (the triangle
    query's three-way self-join would otherwise re-execute the pair
    join + ranking window once per side).

    The directed pair join is same-bucket only (never all-pairs) with
    precomputed norms; the ranking window partitions per source vector,
    so state is one bucket's candidates. Cosines are left-fold doubles:
    the rank (and its dst tiebreak) is engine-deterministic."""
    return materialized(spark, "knn_graph", sf_dir, _knn_graph_build)


def _knn_graph_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucketed = _lsh_bucketed(spark, sf_dir)
    a, b = bucketed.alias("a"), bucketed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("b.vec_id").alias("dst"),
        (
            _dot("a.embedding", "b.embedding") / (F.col("a.norm") * F.col("b.norm"))
        ).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _KNN_K)
        .select("src", "dst", "cosine", "rank")
    )


@register(
    "graph_triangle_counts",
    oracle=f"""
    {_KNN_GRAPH_CTE},
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM knn
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    nodes AS (SELECT unnest([x, y, z]) AS vec_id FROM tri)
    SELECT vec_id, count(*) AS n_triangles FROM nodes GROUP BY vec_id
    """,
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the kNN graph — the local
    clustering signal: a vector in many triangles sits in a tight
    semantic clique (a near-dup/template cluster candidate), one in
    none is a hub or an outlier. The standard distributed formulation:
    normalize edges to ordered (a < b) pairs, then the x<y<z three-way
    self-join emits each triangle exactly once, and each triangle
    credits its three corners.

    Scale shape: all three join sides are the MATERIALIZED kNN edge
    table (parquet scans, the build runs once per run), so the join
    input is n x k rows with degree bounded by 2k — the three-way join
    is bounded by sum-of-degree-squared, not all pairs. No lineage
    recompute: the self-join reads the scratch parquet three times."""
    edges = similarity_knn_graph(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    nodes = tri.select(
        F.explode(F.array("x", "y", "z")).alias("vec_id")
    )
    return nodes.groupBy("vec_id").agg(F.count("*").alias("n_triangles"))


# a bucket is "hot" when it holds >= _HOT_FACTOR x the expected uniform
# share n/2^planes — checked with an integer cross-multiply so the
# threshold is exact in both engines
_HOT_FACTOR = 4


@register(
    "eval_embedding_bucket_health",
    oracle=f"""
    WITH planes AS ({_PLANES_SQL}),
    bits AS (
      SELECT e.vec_id, p.plane_id,
             CASE WHEN {_DOT_SQL.format(a="e.embedding", b="p.pe")} > 0 THEN 1 ELSE 0 END AS bit
      FROM embeddings e, planes p
    ),
    bucketed AS (
      SELECT vec_id,
             CAST(sum(bit * (1 << (plane_id - 1))) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id
    ),
    buckets AS (SELECT bucket, count(*) AS bucket_size FROM bucketed GROUP BY bucket),
    tot AS (SELECT CAST(sum(bucket_size) AS BIGINT) AS n_vectors FROM buckets)
    SELECT np.p AS n_planes,
           count(*) AS n_buckets_used,
           tot.n_vectors AS n_vectors,
           max(bucket_size) AS max_bucket,
           CAST(sum(CASE WHEN bucket_size * (1 << np.p) >= {_HOT_FACTOR} * tot.n_vectors
                    THEN 1 ELSE 0 END) AS BIGINT) AS hot_buckets,
           CAST(sum(bucket_size * (bucket_size - 1) // 2) AS BIGINT) AS candidate_pairs,
           CAST(sum(bucket_size * (bucket_size - 1) // 2) AS DOUBLE) / tot.n_vectors
             AS pairs_per_vector
    FROM buckets, tot, ({_NP_SQL}) np GROUP BY tot.n_vectors, np.p
    """,
)
def eval_embedding_bucket_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-LSH bucket-health monitor — the eval_lsh_bucket_health
    twin for the hyperplane index: bucket count, max bucket size,
    hot-bucket count (>= 4x the uniform share), and the implied
    same-bucket candidate-pair load with its per-vector ratio.

    This is the query that catches an under-planed index: if the
    corpus outgrows the sizing rule's clamp (or a forced plane count),
    pairs_per_vector rises as ~n/2^planes — a monitored number, not a
    reviewer's comment. One groupBy over the persisted bucket table;
    integer math, double division only at the edge."""
    n_planes = len(_plane_vectors(spark, sf_dir))
    buckets = (
        _lsh_bucketed(spark, sf_dir)
        .groupBy("bucket")
        .agg(F.count("*").alias("bucket_size"))
    )
    tot = buckets.agg(F.sum("bucket_size").cast("bigint").alias("n_vectors"))
    sz = F.col("bucket_size")
    pairs = F.expr("bucket_size * (bucket_size - 1) div 2")
    return (
        buckets.crossJoin(F.broadcast(tot))
        .groupBy("n_vectors")
        .agg(
            F.lit(n_planes).alias("n_planes"),
            F.count("*").alias("n_buckets_used"),
            F.max(sz).alias("max_bucket"),
            F.sum(
                F.when(sz * (1 << n_planes) >= _HOT_FACTOR * F.col("n_vectors"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("hot_buckets"),
            F.sum(pairs).cast("bigint").alias("candidate_pairs"),
            (F.sum(pairs).cast("double") / F.col("n_vectors").cast("double")).alias(
                "pairs_per_vector"
            ),
        )
        .select(
            "n_planes",
            "n_buckets_used",
            "n_vectors",
            "max_bucket",
            "hot_buckets",
            "candidate_pairs",
            "pairs_per_vector",
        )
    )


def _semdedup_v_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = embedding_centroid_assign(spark, sf_dir).select("vec_id", "cluster_id")
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _norm("embedding").alias("norm")
    )
    from lakeview_spark.operators.scale import spread_unsplittable

    return spread_unsplittable(emb, "vec_id").join(assign, "vec_id")


def semdedup_v_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assigned-vector frame (vec_id, embedding, norm, cluster_id)
    both sides of semdedup's pair join read (r15, guide §2.1 — VERDICT
    r14 next-5): materialized once per (session, dataset) so the
    embeddings scan + assignment join + norm fold run once, not twice;
    the builder's spread (guide §2.5, the sanctioned
    repartition-before-kernel exception) lands the scratch as 32 files
    so whichever side the join streams parallelizes with no extra
    exchange in the registered plan."""
    return materialized(spark, "semdedup_v", sf_dir, _semdedup_v_build)


@register(
    "dedup_semdedup",
    oracle=f"""
    WITH assign AS ({_ASSIGN_SQL}),
    v AS (
      SELECT e.vec_id, a.cluster_id, e.embedding,
             {_NORM_SQL.format(a="e.embedding")} AS norm
      FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
    )
    SELECT a.cluster_id AS cluster_id, a.vec_id AS vec1, b.vec_id AS vec2,
           {_DOT_SQL.format(a="a.embedding", b="b.embedding")}
           / (a.norm * b.norm) AS cosine
    FROM v a JOIN v b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    WHERE {_DOT_SQL.format(a="a.embedding", b="b.embedding")}
          / (a.norm * b.norm) >= {_NEAR_DUP_COSINE}
    """,
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster the corpus with k-means
    (the oracle-proven centroid assignment), then find near-duplicate
    pairs ONLY within each cluster — the Abbas et al. recipe that makes
    embedding dedup tractable at web scale by turning the all-pairs
    cosine into per-cluster self-joins. Complements
    dedup_embedding_cosine's LSH-bucket restriction with the
    learned-partition restriction; at 100 TB, k grows with n so the
    per-cluster candidate count stays constant, and the join keys on
    cluster_id exactly like the bucket join keys on bucket.

    Pairs above the 0.35 cosine threshold are the drop candidates (keep
    min vec_id, drop the rest — same convention as dedup_clusters).

    The self-join is SALTED (the operators/scale.py skew defense, live
    in a registered query): a plain cluster_id equi-join has only k
    reduce tasks, and at the small-k end of the clamp one straggler
    owns a quarter of all pair scoring. The a-side adds salt =
    hash(vec_id) mod S, the b-side replicates across all S salts, and
    the join keys on (cluster_id, salt): identical pair multiplicity,
    S x the parallelism. k grows with n (_k_for_n), so S shrinks
    toward 1 and the replication cost vanishes as the corpus grows."""
    # materialize the assigned-vector frame (r15, guide §2.1 replay —
    # VERDICT r14 next-5): both salt-join sides referenced the lazy
    # (emb ⋈ assign ⋈ norm) frame, so the embeddings scan, the
    # assignment join and the norm fold all replayed twice per
    # execution. One signature-table-sized scratch write leaves two
    # parquet scans. The r14 spread (guide §2.5) moves into the
    # BUILDER — the sanctioned repartition-before-heavy-kernel
    # exception — so the scratch lands as 32 files and whichever side
    # the pair join streams reads 32 parallel tasks with no extra
    # exchange in the registered plan.
    v = semdedup_v_materialized(spark, sf_dir)
    n_salts = max(
        spark.sparkContext.defaultParallelism // len(centroid_ids(spark, sf_dir)), 1
    )
    a = v.withColumn(
        "salt", F.pmod(F.hash("vec_id"), F.lit(n_salts)).cast("int")
    ).alias("a")
    b = v.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    ).alias("b")
    cos = _dot("a.embedding", "b.embedding") / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cluster_id").alias("cluster_id"),
            F.col("a.vec_id").alias("vec1"),
            F.col("b.vec_id").alias("vec2"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= _NEAR_DUP_COSINE)
    )


@register(
    "embedding_quantize_error",
    oracle="""
    WITH x AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, xd,
             list_reduce(list_transform(xd, v -> abs(v)),
                         (a, b) -> greatest(a, b)) AS max_abs
      FROM x
    )
    SELECT vec_id, max_abs,
           CASE WHEN max_abs = 0 THEN 0.0 ELSE
             list_reduce(list_transform(xd, v ->
               (v - floor(v / (max_abs / 127.0)) * (max_abs / 127.0))
               * (v - floor(v / (max_abs / 127.0)) * (max_abs / 127.0))),
               (a, b) -> a + b)
           END AS sq_err
    FROM m
    """,
)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization telemetry: per vector, the symmetric-scale
    (scale = max|x|/127) floor-quantization reconstruction error — the
    readout that decides whether an embedding corpus can ship int8
    (4x smaller at 100 TB, the standard ANN-index compression) without
    hurting retrieval. Every step is IEEE-exact in both engines: max is
    order-independent, scale is one division, floor/multiply/subtract
    are correctly rounded, and the squared-error sum is the same
    left fold as the cosine dot products — no rounding-mode or
    summation-order divergence anywhere.

    Scale shape: pure narrow map over the embeddings scan (two array
    folds per row), no shuffle, no join."""
    xd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    max_abs = F.aggregate(
        xd, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v))
    )
    m = t(spark, sf_dir, "embeddings").select(
        "vec_id", xd.alias("xd"), max_abs.alias("max_abs")
    )
    scale = F.col("max_abs") / F.lit(127.0)

    def sq(acc, v):
        recon = F.floor(v / scale) * scale
        return acc + (v - recon) * (v - recon)

    sq_err = F.when(F.col("max_abs") == 0, F.lit(0.0)).otherwise(
        F.aggregate(F.col("xd"), F.lit(0.0), sq)
    )
    return m.select("vec_id", "max_abs", sq_err.alias("sq_err"))


# ANN recall audit: every (n // ANN_RECALL_PROBES)-th vector is a probe
# query; recall@ANN_RECALL_K of the bucket-restricted search vs exact
# top-k. The stride is CORPUS-DERIVED (same device as _planes_for_n /
# _k_for_n) so the probe count stays ~constant as the corpus grows — a
# fixed stride would make the exact brute-force side O(n²/stride). At
# the driver scales (n=500) the stride is exactly the historical 50, so
# results are byte-identical there.
ANN_RECALL_PROBES = 10
ANN_RECALL_K = 10


def _recall_mod_for_n(n: int) -> int:
    return max(1, n // ANN_RECALL_PROBES)

_ANN_BUCKETED_SQL = f"""
      SELECT e.vec_id, e.label, e.embedding,
             {_NORM_SQL.format(a="e.embedding")} AS norm,
             CAST(sum(CASE WHEN {_DOT_SQL.format(a="e.embedding", b="p.pe")} > 0
                      THEN (1 << (p.plane_id - 1)) ELSE 0 END) AS BIGINT) AS bucket
      FROM embeddings e, planes p
      GROUP BY e.vec_id, e.label, e.embedding
"""


@register(
    "eval_ann_recall",
    oracle=f"""
    WITH planes AS ({_PLANES_SQL}),
    bucketed AS ({_ANN_BUCKETED_SQL}),
    q AS (
      SELECT vec_id AS qid, embedding AS qe, norm AS qn, bucket AS qbucket
      FROM bucketed WHERE vec_id %
        (SELECT GREATEST(count(*) // {ANN_RECALL_PROBES}, 1) FROM embeddings) = 0
    ),
    ex0 AS (
      SELECT q.qid, b.vec_id AS nid,
             {_DOT_SQL.format(a="b.embedding", b="q.qe")} / (b.norm * q.qn) AS cosine
      FROM bucketed b, q WHERE b.vec_id <> q.qid
    ),
    top_exact AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
        FROM ex0
      ) WHERE rn <= {ANN_RECALL_K}
    ),
    cand0 AS (
      SELECT q.qid, b.vec_id AS nid,
             {_DOT_SQL.format(a="b.embedding", b="q.qe")} / (b.norm * q.qn) AS cosine
      FROM bucketed b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.qid
    ),
    ncand AS (SELECT qid, count(*) AS n_candidates FROM cand0 GROUP BY qid),
    top_ann AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
        FROM cand0
      ) WHERE rn <= {ANN_RECALL_K}
    ),
    h AS (
      SELECT e.qid, count(*) AS hits
      FROM top_exact e JOIN top_ann a ON e.qid = a.qid AND e.nid = a.nid
      GROUP BY e.qid
    )
    SELECT q.qid AS vec_id,
           CAST(coalesce(ncand.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           coalesce(h.hits, 0) / {ANN_RECALL_K}.0 AS recall_at_k
    FROM q LEFT JOIN ncand ON q.qid = ncand.qid LEFT JOIN h ON q.qid = h.qid
    """,
)
def eval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit: recall@k of the LSH-bucket-restricted search
    against exact brute-force top-k, for a deterministic probe sample
    (every (n // ANN_RECALL_PROBES)-th vector, corpus-derived stride so
    the sample stays ~ANN_RECALL_PROBES probes at any n) — the number
    that tells you
    whether the bucket index is losing real neighbors, completing the
    eval suite (the bucket-health queries bound COST; this bounds
    QUALITY). Per probe: candidate count, exact-top-k hits, recall.

    Scale shape (r7 rewrite — the r5/r6 verdicts flagged the old plan's
    3 SMJ + 7 hash exchanges for a ~10-probe audit): ONE pass over the
    persisted bucket index with the fixed-size probe sample broadcast
    (sample x n cosines, each computed exactly once and tagged
    `in_bucket` where the corpus row shares the probe's bucket), then a
    salted two-phase top-k so no single task ever sorts a whole probe's
    n rows: stage 1 ranks within (qid, salt) — both the exact ordering
    and the bucket-rows-first ordering ride the SAME exchange, and the
    salt's candidate count is carried on its rank-1 row so nothing is
    recomputed — stage 2 re-ranks the <= 2k survivors per salt within
    qid, and the final counts ride that same qid partitioning. Total:
    1 broadcast, 2 hash exchanges, 0 sort-merge joins. Two-phase
    row_number top-k is exact: any row in a probe's global top-k is in
    its salt's top-k. All rankings use left-fold cosines with vec_id
    tiebreaks, so both top-k sets — and therefore recall — are
    engine-exact."""
    from pyspark.sql import Window

    idx = _lsh_bucketed(spark, sf_dir)
    mod = _recall_mod_for_n(corpus_n(spark, sf_dir))
    q = idx.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
        F.col("bucket").alias("qbucket"),
    )
    cos = _dot("embedding", "qe") / (F.col("norm") * F.col("qn"))
    salt_n = 32
    base = (
        idx.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            cos.alias("cosine"),
            (F.col("bucket") == F.col("qbucket")).cast("int").alias("in_bucket"),
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(salt_n)).alias("salt"),
        )
    )
    k = ANN_RECALL_K
    by_salt = Window.partitionBy("qid", "salt")
    w1_ex = by_salt.orderBy(F.desc("cosine"), "nid")
    w1_ann = by_salt.orderBy(F.desc("in_bucket"), F.desc("cosine"), "nid")
    pruned = (
        base.withColumn("rn1_ex", F.row_number().over(w1_ex))
        # bucket rows sort first, so among them rn1_ann IS their rank
        .withColumn("rn1_ann", F.row_number().over(w1_ann))
        # the salt's bucket-candidate count rides its rank-1 row (which
        # always survives), so the final count needs no second pass
        .withColumn("cnt_salt", F.sum("in_bucket").over(by_salt))
        .filter(
            (F.col("rn1_ex") <= k)
            | ((F.col("in_bucket") == 1) & (F.col("rn1_ann") <= k))
        )
    )
    by_qid = Window.partitionBy("qid")
    rn2_ex = F.row_number().over(by_qid.orderBy(F.desc("cosine"), "nid"))
    rn2_ann = F.row_number().over(
        by_qid.orderBy(F.desc("in_bucket"), F.desc("cosine"), "nid")
    )
    scored = pruned.withColumn("rn2_ex", rn2_ex).withColumn("rn2_ann", rn2_ann)
    hit = (
        (F.col("rn2_ex") <= k)
        & (F.col("in_bucket") == 1)
        & (F.col("rn2_ann") <= k)
    )
    return scored.groupBy("qid").agg(
        F.sum(F.when(F.col("rn1_ex") == 1, F.col("cnt_salt")).otherwise(0))
        .cast("bigint")
        .alias("n_candidates"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("hits"),
    ).select(
        F.col("qid").alias("vec_id"),
        "n_candidates",
        "hits",
        (F.col("hits") / F.lit(float(k))).alias("recall_at_k"),
    )


# neighbors returned per retrieval probe
RETRIEVAL_K = 3


@register(
    "retrieval_semantic_docs",
    oracle=f"""
    WITH planes AS ({_PLANES_SQL}),
    bucketed AS ({_ANN_BUCKETED_SQL}),
    q AS (
      SELECT vec_id AS qid, embedding AS qe, norm AS qn, bucket AS qbucket
      FROM bucketed WHERE vec_id %
        (SELECT GREATEST(count(*) // {ANN_RECALL_PROBES}, 1) FROM embeddings) = 0
    ),
    cand AS (
      SELECT q.qid, b.vec_id AS nid,
             {_DOT_SQL.format(a="b.embedding", b="q.qe")} / (b.norm * q.qn) AS cosine
      FROM bucketed b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.qid
    ),
    topk AS (
      SELECT qid, nid, cosine, rn FROM (
        SELECT qid, nid, cosine,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, nid) AS rn
        FROM cand
      ) WHERE rn <= {RETRIEVAL_K}
    )
    SELECT t.qid AS probe_id, t.nid AS neighbor_doc_id,
           CAST(t.rn AS INT) AS rank, t.cosine, d.lang, d.source
    FROM topk t JOIN documents d ON t.nid = d.doc_id
    """,
)
def retrieval_semantic_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic retrieval: for each probe vector (the same
    corpus-derived stride as eval_ann_recall), the top-RETRIEVAL_K
    same-bucket neighbors joined BACK to the documents table for their
    metadata — the compose-the-pieces query a RAG/retrieval user runs
    (vec_id v is the embedding of doc_id v; the ANN layer finds ids,
    this query returns documents). Ranks carry the engine-exact cosine
    total order (cosine desc, neighbor id).

    Scale shape: probes and candidates ride the bucketed LSH index
    (bounded bucket occupancy, zero-exchange self-join past broadcast);
    the result set is RETRIEVAL_K x probes rows — tiny — so Spark
    broadcasts it into the documents join rather than shuffling the
    corpus."""
    idx = _lsh_bucketed(spark, sf_dir)
    mod = _recall_mod_for_n(corpus_n(spark, sf_dir))
    q = idx.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
        F.col("bucket").alias("qbucket"),
    )
    from pyspark.sql import Window

    cand = (
        idx.join(F.broadcast(q), idx.bucket == q.qbucket)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            (_dot("embedding", "qe") / (F.col("norm") * F.col("qn"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "nid")
    topk = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= RETRIEVAL_K
    )
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return F.broadcast(
        topk.select(
            F.col("qid").alias("probe_id"),
            F.col("nid").alias("neighbor_doc_id"),
            F.col("rn").cast("int").alias("rank"),
            "cosine",
        )
    ).join(docs, F.col("neighbor_doc_id") == F.col("doc_id")).drop("doc_id")


@register(
    "graph_mutual_edges",
    oracle=f"""
    {_KNN_GRAPH_CTE}
    SELECT e.src AS vec_id,
           count(*) AS out_degree,
           CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS mutual_degree,
           CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS reciprocity
    FROM knn e
    LEFT JOIN knn r ON r.src = e.dst AND r.dst = e.src
    GROUP BY e.src
    """,
)
def graph_mutual_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN degree per vector: of a vector's k out-edges, how
    many are reciprocated (the neighbor also lists it). The mutual-kNN
    subgraph is the robust near-dup/cluster graph — one-way edges are
    usually hub attraction, mutual ones genuine affinity — so per-node
    reciprocity is the triage signal between the full kNN graph and
    the conservative mutual graph.

    Scale shape: one self-join of the materialized edge parquet on the
    reversed key (n x k rows both sides, equi join), one groupBy on
    src. No recompute — both sides scan the scratch."""
    edges = similarity_knn_graph(spark, sf_dir)
    e = edges.alias("e")
    r = edges.select(
        F.col("src").alias("r_src"), F.col("dst").alias("r_dst")
    ).alias("r")
    j = e.join(
        r,
        (F.col("r_src") == F.col("e.dst")) & (F.col("r_dst") == F.col("e.src")),
        "left",
    )
    mutual = F.when(F.col("r_src").isNotNull(), 1).otherwise(0)
    return j.groupBy(F.col("e.src").alias("vec_id")).agg(
        F.count("*").alias("out_degree"),
        F.sum(mutual).cast("bigint").alias("mutual_degree"),
        (F.sum(mutual).cast("double") / F.count("*")).alias("reciprocity"),
    )


# ---------------------------------------------------------------------------
# PageRank over the kNN graph (integer-quantized, fixed iterations)
# ---------------------------------------------------------------------------
#
# Document centrality for curation: a vector whose kNN in-edges come
# from many well-connected neighbors sits in the semantic core of the
# corpus (template/boilerplate cliques rank high too — the same signal
# the dedup family consumes from the other side). Classic distributed
# PageRank is iterative float message passing — which would be
# rows-only here for the same reason as the float k-means trainer. The
# kmeans_train_quantized device applies unchanged: hold rank mass as
# integer micro-units (_PR_SCALE = 10^12 total mass), make every step
# floor/div/multiply on BIGINTs, and all three unrolled iterations
# replay bit-for-bit in DuckDB and in a pure-Python pytest.
#
#   r0(v)    = S // N
#   contrib  = r(u) // outdeg(u)            per out-edge of u
#   r'(v)    = (15*S) // (100*N)  +  (85 * sum_in(v)) // 100
#
# Dangling nodes (no same-bucket neighbor -> no out-edges) leak their
# mass — the standard simplification; determinism is unaffected. Every
# value is non-negative, so floor-div == truncating div in Spark,
# DuckDB, and Python alike.
_PR_SCALE = 10**12
_PR_ITERATIONS = 3
_PR_TOP = 20


def _pr_iter_sql(prev: str, n: int) -> str:
    return f"""
    s{n} AS (
      SELECT k.dst AS vec_id, sum(r.r // d.outdeg) AS m
      FROM knn k
      JOIN {prev} r ON r.vec_id = k.src
      JOIN deg d ON d.src = k.src
      GROUP BY k.dst
    ),
    r{n} AS (
      SELECT nd.vec_id,
             (15 * {_PR_SCALE} // (100 * c.n))
               + (85 * coalesce(s.m, 0)) // 100 AS r
      FROM nodes nd CROSS JOIN consts c LEFT JOIN s{n} s USING (vec_id)
    )"""


_PAGERANK_SQL = f"""
    {_KNN_GRAPH_CTE},
    deg AS (SELECT src, count(*) AS outdeg FROM knn GROUP BY src),
    indeg AS (SELECT dst, count(*) AS n_in FROM knn GROUP BY dst),
    nodes AS (SELECT vec_id FROM embeddings),
    consts AS (SELECT count(*) AS n FROM embeddings),
    r0 AS (SELECT vec_id, {_PR_SCALE} // c.n AS r FROM nodes CROSS JOIN consts c),
    {_pr_iter_sql('r0', 1)},
    {_pr_iter_sql('r1', 2)},
    {_pr_iter_sql('r2', 3)}
    SELECT r3.vec_id, CAST(r3.r AS BIGINT) AS pagerank,
           CAST(coalesce(d.outdeg, 0) AS BIGINT) AS out_degree,
           CAST(coalesce(i.n_in, 0) AS BIGINT) AS in_degree
    FROM r3
    LEFT JOIN deg d ON d.src = r3.vec_id
    LEFT JOIN indeg i ON i.dst = r3.vec_id
    ORDER BY pagerank DESC, vec_id LIMIT {_PR_TOP}
"""


@register("graph_pagerank", oracle=_PAGERANK_SQL)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized PageRank (3 unrolled iterations, damping 0.85)
    over the materialized kNN graph: top-{_PR_TOP} central vectors with
    their degrees (section comment above: why integer mass units make
    the whole iterative walk hash-checkable, unlike float PageRank).

    Scale shape: per iteration, ONE join of the rank table (n rows,
    narrow) against the materialized edge scratch (n*k rows, parquet
    scan — built once per run) and one partial-aggregable sum keyed on
    dst. Rank state never leaves the cluster; nothing collects to the
    driver; at 100 TB the edge scratch would be bucketed on src so the
    per-iteration join co-locates (the SCALE.md §6 device). The final
    top-{_PR_TOP} is a TakeOrdered, not a global sort."""
    # `or 1` guards the zero-row corpus (empty-input suite): the mass
    # constants divide by n, and with no nodes the output is empty anyway
    n = corpus_n(spark, sf_dir) or 1
    edges = similarity_knn_graph(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    indeg = edges.groupBy("dst").agg(F.count("*").alias("n_in"))
    nodes = t(spark, sf_dir, "embeddings").select("vec_id")
    base = (15 * _PR_SCALE) // (100 * n)
    rank = nodes.withColumn("r", F.lit(_PR_SCALE // n).cast("long"))
    contrib_edges = edges.join(deg, "src")
    for _ in range(_PR_ITERATIONS):
        msgs = (
            contrib_edges.join(rank.withColumnRenamed("vec_id", "src"), "src")
            .select("dst", F.expr("r div outdeg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("m"))
        )
        rank = nodes.join(msgs, nodes.vec_id == msgs.dst, "left").select(
            nodes.vec_id,
            (F.lit(base) + F.expr("(85 * coalesce(m, 0)) div 100"))
            .cast("long")
            .alias("r"),
        )
    return (
        rank.join(deg, rank.vec_id == deg.src, "left")
        .join(indeg, rank.vec_id == indeg.dst, "left")
        .select(
            rank.vec_id,
            F.col("r").alias("pagerank"),
            F.coalesce("outdeg", F.lit(0)).cast("long").alias("out_degree"),
            F.coalesce("n_in", F.lit(0)).cast("long").alias("in_degree"),
        )
        .orderBy(F.desc("pagerank"), "vec_id")
        .limit(_PR_TOP)
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (LPA) over the kNN graph
# ---------------------------------------------------------------------------
#
# The community-detection complement of the components/PageRank pair:
# connected components (dedup_clusters) over-merges through single
# bridge edges and PageRank ranks nodes without grouping them; LPA
# (Raghavan et al. 2007) finds DENSE neighborhoods — each node
# repeatedly adopts the most frequent label among its neighbors. Three
# synchronous unrolled iterations from lbl=vec_id seeds; the vote
# argmax is all-integer (count DESC, ties to the smallest label =
# min(struct(-cnt, lbl))), so — like PageRank and the quantized
# trainer — the FULL iterative walk is deterministic and replays
# bit-for-bit in a DuckDB unrolled-CTE oracle. Synchronous updates can
# oscillate on bipartite subgraphs; a fixed iteration count makes that
# a defined (and engine-identical) outcome, not a convergence hazard.
_LPA_ITERATIONS = 3


def _lpa_iter_sql(prev: str, n: int) -> str:
    """One synchronous LPA round: per node, the modal neighbor label
    over the symmetrized edge set (ties to the smallest label);
    isolated nodes keep their previous label."""
    return f"""
    v{n} AS (
      SELECT e.dst AS vec_id, l.lbl, count(*) AS cnt
      FROM und e JOIN {prev} l ON l.vec_id = e.src
      GROUP BY e.dst, l.lbl
    ),
    b{n} AS (
      SELECT vec_id, lbl FROM (
        SELECT vec_id, lbl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cnt DESC, lbl) AS rn
        FROM v{n}) WHERE rn = 1
    ),
    l{n} AS (
      SELECT p.vec_id, coalesce(b.lbl, p.lbl) AS lbl
      FROM {prev} p LEFT JOIN b{n} b USING (vec_id)
    )"""


# the symmetrized edge set + full label walk as ONE shared CTE block
# (ends with l{_LPA_ITERATIONS}: vec_id, lbl) — used by the census
# query and the modularity audit, same no-drift device as _KNN_GRAPH_CTE
_LPA_CTES = f"""
    {_KNN_GRAPH_CTE},
    und AS (SELECT src, dst FROM knn UNION SELECT dst, src FROM knn),
    l0 AS (SELECT vec_id, vec_id AS lbl FROM embeddings),
    {_lpa_iter_sql('l0', 1)},
    {_lpa_iter_sql('l1', 2)},
    {_lpa_iter_sql('l2', 3)}
"""

_LPA_SQL = f"""
    {_LPA_CTES}
    SELECT lbl AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(vec_id) AS BIGINT) AS min_member,
           CAST(max(vec_id) AS BIGINT) AS max_member
    FROM l{_LPA_ITERATIONS} GROUP BY lbl
"""


def _lpa_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized kNN edge set (cheap union+distinct over the
    materialized edge scratch)."""
    edges = similarity_knn_graph(spark, sf_dir).select("src", "dst")
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _lpa_walk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = _lpa_und(spark, sf_dir)
    labels = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("vec_id").alias("lbl")
    )
    for _ in range(_LPA_ITERATIONS):
        votes = (
            und.join(labels.select(F.col("vec_id").alias("src"), "lbl"), "src")
            .groupBy("dst", "lbl")
            .agg(F.count("*").alias("cnt"))
            .select(
                "dst",
                F.struct((-F.col("cnt")).alias("neg_cnt"), F.col("lbl")).alias("sc"),
            )
            .groupBy("dst")
            .agg(F.min("sc").alias("best"))
        )
        labels = labels.join(
            votes, labels.vec_id == votes.dst, "left"
        ).select(labels.vec_id, F.coalesce(F.col("best.lbl"), labels.lbl).alias("lbl"))
    return labels


def _lpa_labels(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(und, labels): the symmetrized kNN edge set and the final
    post-{_LPA_ITERATIONS}-round label table — the Spark twin of
    _LPA_CTES, shared by the census query and the modularity audit.
    The walk is MATERIALIZED once per run (same device and reason as
    the kNN edge scratch it rides): the modularity audit references
    the label table three times, and without the scratch each
    reference re-executes the whole 3-round walk lineage — the plan
    audit measured 23 SMJ / 83 exchanges for the derived form vs
    1 SMJ / 11 with the scratch (census: 0 SMJ / 1)."""
    return _lpa_und(spark, sf_dir), materialized(
        spark, "lpa_labels", sf_dir, _lpa_walk_build
    )


@register("graph_label_propagation", oracle=_LPA_SQL)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the materialized kNN graph:
    {_LPA_ITERATIONS} synchronous rounds of adopt-the-modal-neighbor-
    label from lbl=vec_id seeds, then the community census (section
    comment above — why the integer vote argmax makes the whole
    iterative walk hash-checkable).

    Scale shape: per round, ONE join of the n-row label table against
    the materialized edge scratch (built once per run, symmetrized by a
    cheap union+distinct) and two partial-aggregable aggregations — the
    (dst, lbl) vote count collapses map-side, and the per-node argmax
    is min(struct(-cnt, lbl)), so no window sort anywhere in the loop.
    Label state never leaves the cluster; at 100 TB the edge scratch
    would be bucketed on src so every round's join co-locates (the
    SCALE.md §6 device)."""
    _und, labels = _lpa_labels(spark, sf_dir)
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count("*").alias("n_members"),
        F.min("vec_id").alias("min_member"),
        F.max("vec_id").alias("max_member"),
    )


# Newman-Girvan modularity of the LPA partition, held in EXACT integer
# numerators: Q = Σ_c (e_c/m − (d_c/2m)²) multiplied through by 4m²
# gives per-community contributions 4m·e_c − d_c² — all BIGINT, so the
# partition-quality audit hash-checks with no float edge at all. (At
# extreme scale d_c² can approach 2^63 when one community swallows
# ~n/√k of a 10⁹-node graph's degree mass; production would widen the
# numerator to DECIMAL(38,0) — the checkpoint-filter device — but the
# audit's shape is unchanged.)
_MODULARITY_SQL = f"""
    {_LPA_CTES},
    deg AS (SELECT src AS vec_id, count(*) AS degree FROM und GROUP BY src),
    mm AS (SELECT count(*) // 2 AS m FROM und),
    intra AS (
      SELECT la.lbl AS community, count(*) // 2 AS intra_edges
      FROM und e
      JOIN l{_LPA_ITERATIONS} la ON la.vec_id = e.src
      JOIN l{_LPA_ITERATIONS} lb ON lb.vec_id = e.dst
      WHERE la.lbl = lb.lbl GROUP BY la.lbl
    ),
    dsum AS (
      SELECT l.lbl AS community,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(sum(coalesce(d.degree, 0)) AS BIGINT) AS degree_sum
      FROM l{_LPA_ITERATIONS} l LEFT JOIN deg d ON d.vec_id = l.vec_id
      GROUP BY l.lbl
    )
    SELECT ds.community, ds.n_members,
           CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
           ds.degree_sum,
           CAST(4 * mm.m * coalesce(i.intra_edges, 0)
                - ds.degree_sum * ds.degree_sum AS BIGINT) AS q_numerator
    FROM dsum ds CROSS JOIN mm
    LEFT JOIN intra i ON i.community = ds.community
"""


@register("eval_community_modularity", oracle=_MODULARITY_SQL)
def eval_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity audit of the LPA partition, per
    community: member/edge census and the exact-integer contribution
    4m·e_c − d_c² (= the community's modularity term × 4m²; section
    comment above). Σ q_numerator / 4m² is the graph's Q — positive
    contributions are denser-than-chance communities, the quality
    signal that decides whether the LPA labels are worth feeding to
    cluster-restricted dedup.

    Scale shape: rides the shared _lpa_labels walk (one edge-scratch
    join + two partial-aggregable aggs per round); the audit itself is
    one same-label edge count (two n-row equi joins against the label
    table) and one degree-sum agg — every shuffle keyed on vec_id or
    community, the 1-row edge-count broadcast attaches m."""
    und, labels = _lpa_labels(spark, sf_dir)
    deg = und.groupBy(F.col("src").alias("vec_id")).agg(F.count("*").alias("degree"))
    mm = und.agg(F.expr("count(1) div 2").alias("m"))
    la = labels.select(F.col("vec_id").alias("src"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("vec_id").alias("dst"), F.col("lbl").alias("lb"))
    intra = (
        und.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.expr("count(1) div 2").alias("intra_edges"))
    )
    dsum = (
        labels.join(deg, "vec_id", "left")
        .groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.coalesce("degree", F.lit(0))).alias("degree_sum"),
        )
    )
    return (
        dsum.crossJoin(F.broadcast(mm))
        .join(intra, "community", "left")
        .select(
            "community",
            "n_members",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias("intra_edges"),
            "degree_sum",
            (
                4 * F.col("m") * F.coalesce("intra_edges", F.lit(0))
                - F.col("degree_sum") * F.col("degree_sum")
            )
            .cast("long")
            .alias("q_numerator"),
        )
    )


_CONDUCTANCE_SQL = f"""
    {_LPA_CTES},
    deg AS (SELECT src AS vec_id, count(*) AS degree FROM und GROUP BY src),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS vol_total FROM und),
    intra AS (
      SELECT la.lbl AS community,
             CAST(count(*) AS BIGINT) AS internal_directed
      FROM und e
      JOIN l{_LPA_ITERATIONS} la ON la.vec_id = e.src
      JOIN l{_LPA_ITERATIONS} lb ON lb.vec_id = e.dst
      WHERE la.lbl = lb.lbl GROUP BY la.lbl
    ),
    dsum AS (
      SELECT l.lbl AS community,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(sum(coalesce(d.degree, 0)) AS BIGINT) AS volume
      FROM l{_LPA_ITERATIONS} l LEFT JOIN deg d ON d.vec_id = l.vec_id
      GROUP BY l.lbl
    )
    SELECT ds.community, ds.n_members, ds.volume,
           CAST(ds.volume - coalesce(i.internal_directed, 0) AS BIGINT)
             AS cut_edges,
           CASE WHEN LEAST(ds.volume, mm.vol_total - ds.volume) > 0
                THEN CAST(ds.volume - coalesce(i.internal_directed, 0) AS DOUBLE)
                     / LEAST(ds.volume, mm.vol_total - ds.volume)
           END AS conductance
    FROM dsum ds CROSS JOIN mm
    LEFT JOIN intra i ON i.community = ds.community
"""


@register("eval_community_conductance", oracle=_CONDUCTANCE_SQL)
def eval_community_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance audit of the LPA partition — the BOUNDARY-quality
    complement of `eval_community_modularity` (which scores density vs
    chance): per community, phi = cut / min(vol, vol_total - vol),
    the fraction of the community's incident edge endpoints that LEAK
    across its boundary. This is the metric that decides whether
    community-restricted dedup is SAFE — a low-conductance community
    loses almost no near-dup pairs to the boundary, a high-conductance
    one leaks candidates the restriction will miss.

    All-integer until the edge: the symmetric edge set makes
    cut(c) = degree_sum(c) - internal_directed(c) exactly (each
    internal edge contributes two directed endpoints, each cut edge
    one from c's side), volumes are directed-degree BIGINT sums, and
    the one conductance division is guarded (an isolated or
    whole-graph community has min(vol, rest) = 0 and reports NULL).

    Scale shape: identical to the modularity audit — rides the
    materialized _lpa_labels walk, one same-label edge count, one
    degree-sum agg, the 1-row total-volume broadcast; no new shuffle
    class."""
    und, labels = _lpa_labels(spark, sf_dir)
    deg = und.groupBy(F.col("src").alias("vec_id")).agg(F.count("*").alias("degree"))
    mm = und.agg(F.count("*").cast("long").alias("vol_total"))
    la = labels.select(F.col("vec_id").alias("src"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("vec_id").alias("dst"), F.col("lbl").alias("lb"))
    intra = (
        und.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count("*").cast("long").alias("internal_directed"))
    )
    dsum = (
        labels.join(deg, "vec_id", "left")
        .groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum(F.coalesce("degree", F.lit(0))).cast("long").alias("volume"),
        )
    )
    cut = F.col("volume") - F.coalesce("internal_directed", F.lit(0))
    denom = F.least(F.col("volume"), F.col("vol_total") - F.col("volume"))
    return (
        dsum.crossJoin(F.broadcast(mm))
        .join(intra, "community", "left")
        .select(
            "community",
            "n_members",
            "volume",
            cut.cast("long").alias("cut_edges"),
            F.when(denom > 0, cut.cast("double") / denom).alias("conductance"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) codebook audit
# ---------------------------------------------------------------------------
#
# The compression half of an IVF-PQ index: split the 64-dim vector into
# _PQ_M contiguous _PQ_SUB-dim subvectors, encode each against a
# _PQ_K-codeword per-subspace codebook, and the vector becomes
# _PQ_M * 6 bits (10.7x smaller than float32). Codebooks are TRAINED
# (r9, VERDICT r08 next-7): _PQ_ITER Lloyd's rounds per subspace from
# the data-derived seeds (the quantized subvectors of vec_id 1.._PQ_K),
# riding the kmeans_train_quantized integer device end-to-end — 2^-20
# quantization, BIGINT squared-L2 assignment (ties to the lower
# codeword), floored-integer-mean updates (coordinate sums stay far
# below 2^53, so the one double division per mean is correctly rounded
# identically in both engines), empty codewords keep their previous
# centroid — so the FULL training loop, the encode decision, and the
# reconstruction error replay bit-for-bit in DuckDB unrolled CTEs. All
# _PQ_M subspaces train in the same distributed job (state is keyed
# (m, codeword) — 32x64x2 integers of driver state). The geometry is
# recall-driven: the r8 seed codebooks at 8x8x16 measured recall@10
# 0.0-0.3 (eval_pq_recall's honest verdict); the sweep over
# (M, SUB, K, iters) found 32 two-dim subspaces x 64 codewords x 3
# rounds reaches 0.73 mean recall@10 at sf0.01 — finer subspaces add
# quantizer resolution (192 code bits vs 32) where more training alone
# plateaued at 0.30. The per-(subspace, codeword) report is the
# codebook-balance audit: a dead codeword wastes 1/64th of a
# subspace's code space, a hot one inflates reconstruction error.
_PQ_M = 32  # subspaces
_PQ_SUB = 2  # dims per subspace (_PQ_M * _PQ_SUB = embedding width)
_PQ_K = 64  # codewords per subspace
_PQ_ITER = 3  # Lloyd's training rounds (sweep: recall 0.53 seed -> 0.73)

_PQ_QUANT_SQL = (
    "list_transform(embedding, "
    f"x -> CAST(floor(CAST(x AS DOUBLE) * {1 << 20}.0) AS BIGINT))"
)

# subvector m (0-based) of a quantized list: 1-based inclusive slice
_PQ_SUB_SQL = f"qv[m * {_PQ_SUB} + 1 : m * {_PQ_SUB} + {_PQ_SUB}]"

_PQ_DIST_SQL = (
    f"list_sum(list_transform(range(1, {_PQ_SUB} + 1), "
    "i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i])))"
)

def _pq_iter_sql(prev: str, n: int) -> str:
    """One unrolled PQ training round, all subspaces at once: assign
    every (vec, m) subvector to its nearest codeword in `prev` (ties to
    the lower codeword), then per-(m, codeword, pos) floored integer
    mean; codewords that captured no subvectors keep their previous
    centroid — the kmeans_train_quantized guard, keyed by (m, codeword)."""
    return f"""
    a{n} AS (
      SELECT vec_id, m, sv, codeword FROM (
        SELECT v.vec_id, v.m, v.sv, c.codeword,
               row_number() OVER (PARTITION BY v.vec_id, v.m
                                  ORDER BY {_PQ_DIST_SQL} ASC, c.codeword) AS rn
        FROM subs v JOIN {prev} c ON c.m = v.m) WHERE rn = 1
    ),
    mu{n} AS (
      SELECT m, codeword, pos,
             CAST(floor(CAST(sum(v) AS DOUBLE)/count(*)) AS BIGINT) AS mv
      FROM (SELECT m, codeword, unnest(sv) AS v,
                   unnest(range(1, len(sv)+1)) AS pos FROM a{n})
      GROUP BY m, codeword, pos
    ),
    cl{n} AS (
      SELECT m, codeword, list(mv ORDER BY pos) AS cv FROM mu{n}
      GROUP BY m, codeword
    ),
    cb{n} AS (
      SELECT p.m, p.codeword, coalesce(u.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN cl{n} u
        ON u.m = p.m AND u.codeword = p.codeword
    )"""


# the shared PQ derivation (quantize -> subvectors -> seed codebook ->
# _PQ_ITER unrolled training rounds -> trained codebook -> encode) as
# one CTE block, so the stats, recall, and IVF-PQ oracles cannot drift
# (the _KNN_GRAPH_CTE no-drift device)
_PQ_BASE_CTES = f"""q AS (SELECT vec_id, {_PQ_QUANT_SQL} AS qv FROM embeddings),
    subs AS (
      SELECT vec_id, m, {_PQ_SUB_SQL} AS sv
      FROM q, (SELECT unnest(range(0, {_PQ_M})) AS m)
    ),
    cb0 AS (
      SELECT vec_id AS codeword, m, {_PQ_SUB_SQL} AS cv
      FROM q, (SELECT unnest(range(0, {_PQ_M})) AS m)
      WHERE vec_id BETWEEN 1 AND {_PQ_K}
    ),{_pq_iter_sql('cb0', 1)},{_pq_iter_sql('cb1', 2)},{_pq_iter_sql('cb2', 3)},
    codebook AS (SELECT codeword, m, cv FROM cb{_PQ_ITER}),
    assigned AS (
      SELECT vec_id, m, codeword, sqerr FROM (
        SELECT v.vec_id, v.m, c.codeword,
               CAST({_PQ_DIST_SQL} AS BIGINT) AS sqerr,
               row_number() OVER (PARTITION BY v.vec_id, v.m
                                  ORDER BY {_PQ_DIST_SQL} ASC, c.codeword) AS rn
        FROM subs v JOIN codebook c ON c.m = v.m) WHERE rn = 1
    )"""

# the same derivation with AS MATERIALIZED hints on the subtrees the
# recall/search oracles reference repeatedly — without them DuckDB
# re-inlines the whole unrolled training per reference (eval_pq_recall
# oracle: 34.9 s plain vs 6.6 s hinted at sf0.01, measured r11). The
# single-reference stats oracle keeps the plain block (hints cost it
# ~1 s of materialization for no replay saved).
_PQ_BASE_CTES_MAT = (
    _PQ_BASE_CTES.replace("q AS (SELECT vec_id", "q AS MATERIALIZED (SELECT vec_id")
    .replace("subs AS (", "subs AS MATERIALIZED (")
    .replace("codebook AS (SELECT codeword", "codebook AS MATERIALIZED (SELECT codeword")
    .replace("assigned AS (", "assigned AS MATERIALIZED (")
)

_PQ_STATS_SQL = f"""
    WITH {_PQ_BASE_CTES}
    SELECT m AS subspace, codeword,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(sqerr) AS BIGINT) AS total_sqerr,
           CAST(max(sqerr) AS BIGINT) AS max_sqerr
    FROM assigned GROUP BY m, codeword
"""


@register("embedding_pq_codebook_stats", oracle=_PQ_STATS_SQL)
def embedding_pq_codebook_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode + codebook balance report: per
    (subspace, codeword) assignment counts and exact integer
    reconstruction error (section comment above — the 16x index
    compression audit).

    Scale shape: the codebook is {_PQ_M}x{_PQ_K} rows — broadcast
    metadata — so encoding is a narrow map over the corpus (explode to
    {_PQ_M} subvector rows, broadcast-join the codebook, then a
    partial-aggregable struct-min argmin per (vec, subspace)); the only
    other shuffle is the final {_PQ_M}x{_PQ_K}-key aggregation, which
    also partial-aggregates map-side. Payload vectors never shuffle.
    Repartitions the unsplittable single-file local scan before the
    n*_PQ_M*_PQ_K training folds (the trainers' documented exception —
    measured 20 -> ~4 s at sf0.1 when the codebooks began training
    here in r9)."""
    # encode = min(struct(sqerr, codeword)) inside _pq_parts:
    # partial-aggregable argmin (ties to the lower codeword), so the
    # n*_PQ_K scored rows collapse map-side — no window sort; the codes
    # live in the per-(session, dataset) scratch index (r10)
    codes = pq_codes_materialized(spark, sf_dir)
    return codes.groupBy(
        F.col("m").alias("subspace"), "codeword"
    ).agg(
        F.count("*").alias("n_vectors"),
        F.sum("sqerr").alias("total_sqerr"),
        F.max("sqerr").alias("max_sqerr"),
    )


def _kq_quantize_col(col: str):
    from lakeview_spark.pipeline.iterative import _kq_quantize

    return _kq_quantize(col)


# ---------------------------------------------------------------------------
# PQ search-quality audit (recall of ADC search vs exact)
# ---------------------------------------------------------------------------
#
# The codebook-stats query above audits the COMPRESSION; this audits
# what the compression does to SEARCH: for a deterministic probe
# sample, rank the whole corpus by asymmetric distance (ADC — the
# query's exact subvectors against each doc's CODEWORD vectors, the
# flat-PQ search a scan over 8-byte codes supports) and measure
# recall@10 against the exact quantized-domain top-10. Every distance
# on both sides is BIGINT (the same 2^-20 grid), so ranks, tiebreaks,
# and the recall fractions are engine-identical. An IVF-PQ deployment
# composes this with the bucket restriction (similarity_ann_ivf);
# flat ADC is the recall ceiling for the codebook itself.
_PQ_RECALL_TOP = 10
_PQ_PROBE_TARGET = 10  # probes = every (n // target)-th vector

_PQ_STRIDE_SQL = f"SELECT GREATEST(1, count(*) // {_PQ_PROBE_TARGET}) FROM embeddings"

_PQ_FULL_DIST_SQL = (
    f"list_sum(list_transform(range(1, {_PQ_M * _PQ_SUB} + 1), "
    "i -> (e.qv[i] - p.pqv[i]) * (e.qv[i] - p.pqv[i])))"
)

_PQ_ADC_PART_SQL = (
    f"list_sum(list_transform(range(1, {_PQ_SUB} + 1), "
    "i -> (ps.sv[i] - cb.cv[i]) * (ps.sv[i] - cb.cv[i])))"
)

_PQ_RECALL_SQL = f"""
    WITH {{base}},
    probes AS (
      SELECT vec_id AS probe_id, qv AS pqv FROM q
      WHERE vec_id % ({_PQ_STRIDE_SQL}) = 0
    ),
    truth AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, e.vec_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY {_PQ_FULL_DIST_SQL} ASC, e.vec_id) AS rn
        FROM probes p, q e WHERE e.vec_id <> p.probe_id)
      WHERE rn <= {_PQ_RECALL_TOP}
    ),
    psubs AS (
      SELECT p.probe_id, g.m, list_slice(p.pqv, g.m * {_PQ_SUB} + 1, g.m * {_PQ_SUB} + {_PQ_SUB}) AS sv
      FROM probes p, (SELECT unnest(range(0, {_PQ_M})) AS m) g
    ),
    adc_parts AS (
      SELECT ps.probe_id, a.vec_id, CAST({_PQ_ADC_PART_SQL} AS BIGINT) AS part
      FROM psubs ps
      JOIN assigned a ON a.m = ps.m
      JOIN codebook cb ON cb.m = a.m AND cb.codeword = a.codeword
      WHERE a.vec_id <> ps.probe_id
    ),
    adc AS (
      SELECT probe_id, vec_id, sum(part) AS adc_dist
      FROM adc_parts GROUP BY probe_id, vec_id
    ),
    pq_top AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY adc_dist ASC, vec_id) AS rn
        FROM adc)
      WHERE rn <= {_PQ_RECALL_TOP}
    ),
    {{coarse}},
    ctop AS (
      SELECT probe_id, vec_id FROM (
        SELECT a.probe_id, a.vec_id,
               row_number() OVER (PARTITION BY a.probe_id
                                  ORDER BY a.adc_dist ASC, a.vec_id) AS rn
        FROM adc a
        JOIN coarse ca ON ca.vec_id = a.vec_id
        JOIN pclusters pc ON pc.probe_id = a.probe_id
                         AND pc.pcluster = ca.cluster_id)
      WHERE rn <= {_PQ_RECALL_TOP}
    ),
    ret AS (
      SELECT f.probe_id, CAST(count(c.vec_id) AS BIGINT) AS retained
      FROM pq_top f LEFT JOIN ctop c
        ON c.probe_id = f.probe_id AND c.vec_id = f.vec_id
      GROUP BY f.probe_id
    )
    SELECT t.probe_id,
           CAST(count(pq.vec_id) AS BIGINT) AS n_hits,
           CAST(count(pq.vec_id) AS DOUBLE) / {_PQ_RECALL_TOP} AS recall,
           CAST(count(ct.vec_id) AS BIGINT) AS composed_hits,
           CAST(count(ct.vec_id) AS DOUBLE) / {_PQ_RECALL_TOP} AS composed_recall,
           CAST(any_value(r.retained) AS BIGINT) AS n_retained,
           CAST(any_value(r.retained) AS DOUBLE) / {_PQ_RECALL_TOP} AS ivf_retention
    FROM truth t
    LEFT JOIN pq_top pq ON pq.probe_id = t.probe_id AND pq.vec_id = t.vec_id
    LEFT JOIN ctop ct ON ct.probe_id = t.probe_id AND ct.vec_id = t.vec_id
    JOIN ret r ON r.probe_id = t.probe_id
    GROUP BY t.probe_id
"""


# NOTE: eval_pq_recall registers below the IVF-PQ section — its r10
# composed-path audit formats _IVFPQ_COARSE_CTES into this template,
# so the shared coarse-index machinery must be defined first.


def _pq_subvector_sqerr() -> Column:
    """BIGINT squared-L2 between subvector columns sv and cv —
    unrolled over the fixed _PQ_SUB width (r14, the _kq_sqdist
    device): integer addition, so order cannot change the sum."""
    from lakeview_spark.pipeline.iterative import _kq_sqdist

    return _kq_sqdist("sv", "cv", dim=_PQ_SUB)


# trained-codebook driver cache: (app id, dataset path, fingerprint) ->
# the (m, codeword) -> centroid dict. The training loop collects k x dim
# state per round anyway, so the finished 32x64x2-int dict is legitimate
# driver metadata — caching it means the three PQ consumers (stats,
# recall audit, composed search) train ONCE per (session, dataset)
# instead of once per invocation (r10: the recall audit's plan grew to
# 4 references of the code subtree after multiprobe, each replaying the
# n*_PQ_M*_PQ_K argmin — 10 s steady at sf0.1 measured; with the cache
# + the materialized codes table below it reads scratch instead).
_PQ_CB_CACHE: dict[tuple[str, str, str], dict[tuple[int, int], list[int]]] = {}


def _pq_cache_key(spark, sf_dir: str) -> tuple[str, str, str]:
    import os as _os

    from lakeview_spark.operators.materialize import _dataset_fingerprint

    return (
        spark.sparkContext.applicationId,
        _os.path.realpath(sf_dir),
        _dataset_fingerprint(sf_dir),
    )


def _pq_parts(emb, sf_dir: str | None = None):
    """(subs, codebook, assigned) for the PQ family — the Spark twin of
    _PQ_BASE_CTES, shared by the stats, recall, and IVF-PQ queries.

    The codebook is TRAINED here (section comment above): _PQ_ITER
    Lloyd's rounds over all _PQ_M subspaces in one distributed job per
    round — broadcast the (m, codeword) centroid table, struct-min
    argmin per (vec, m) (partial-aggregable, collapses the
    n*_PQ_M*_PQ_K scored rows map-side), then one
    (m, codeword, pos)-keyed floored-integer-mean update whose partial
    aggregation bounds the shuffle at _PQ_M*_PQ_K*_PQ_SUB keys. Driver
    state between rounds is the 32x64x2-integer codebook — broadcast-
    scale metadata, the kmeans trainers' device. With `sf_dir` the
    trained codebook is cached per (session, dataset) — see
    _PQ_CB_CACHE."""
    spark = emb.sparkSession
    subs = emb.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), "
                f"m -> struct(m AS m, slice(qv, m * {_PQ_SUB} + 1, {_PQ_SUB}) AS sv))"
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))

    cache_key = _pq_cache_key(spark, sf_dir) if sf_dir is not None else None
    cb = _PQ_CB_CACHE.get(cache_key) if cache_key else None
    if cb is None:
        # seed: the quantized subvectors of vec_id 1.._PQ_K (cb0)
        cb = {}
        for r in (
            emb.filter(F.col("vec_id").between(1, _PQ_K))
            .select("vec_id", "qv")
            .collect()
        ):
            for m in range(_PQ_M):
                cb[(m, int(r.vec_id))] = [
                    int(v) for v in r.qv[m * _PQ_SUB : (m + 1) * _PQ_SUB]
                ]
        cb = _subspace_lloyd(spark, subs, cb, _PQ_ITER)
        if cache_key:
            _PQ_CB_CACHE[cache_key] = cb
    codebook = F.broadcast(_subspace_cb_df(spark, cb))
    assigned = _subspace_assign(subs, codebook).select("vec_id", "m", "best")
    return subs, codebook, assigned


def _subspace_cb_df(spark, codebook_state):
    """A (m, codeword) -> centroid dict as a broadcast-scale DataFrame."""
    return spark.createDataFrame(
        [(m, c, list(v)) for (m, c), v in sorted(codebook_state.items())],
        "m int, codeword int, cv array<bigint>",
    )


def _subspace_assign(subs, codebook_df):
    """Per-(vec, subspace) nearest-codeword assignment via the
    partial-aggregable struct-min argmin (ties to the lower codeword);
    shared by the stage-1 PQ and stage-2 residual trainers."""
    scored = subs.join(F.broadcast(codebook_df), "m").select(
        "vec_id",
        "m",
        "sv",
        F.struct(_pq_subvector_sqerr().alias("sqerr"), "codeword").alias("sc"),
    )
    return scored.groupBy("vec_id", "m").agg(
        F.min("sc").alias("best"), F.any_value("sv").alias("sv")
    )


def _subspace_lloyd(spark, subs, cb, iters):
    """`iters` integer-Lloyd's rounds over per-subspace codebooks (the
    kmeans_train_quantized device keyed (m, codeword)): broadcast
    assign, floored-integer-mean update, empty codewords keep their
    previous centroid. Driver state = the M x K x SUB integer dict."""
    for _ in range(iters):
        upd = (
            _subspace_assign(subs, _subspace_cb_df(spark, cb))
            .select(
                "m",
                F.col("best.codeword").alias("codeword"),
                F.posexplode("sv").alias("pos", "v"),
            )
            .groupBy("m", "codeword", "pos")
            .agg(
                F.floor(F.sum("v").cast("double") / F.count("*"))
                .cast("long")
                .alias("mv")
            )
            .collect()
        )
        by_key: dict[tuple[int, int], dict[int, int]] = {}
        for r in upd:
            by_key.setdefault((r.m, r.codeword), {})[r.pos] = r.mv
        for key, comp in by_key.items():
            cb[key] = [comp[i] for i in sorted(comp)]
        # codewords absent from by_key captured nothing: keep previous
    return cb


def _pq_emb(spark, sf_dir: str):
    """The quantized embedding scan every PQ consumer starts from
    (repartitioned off the unsplittable single file — the trainers'
    documented exception)."""
    return (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", _kq_quantize_col("embedding").alias("qv"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )


def _pq_emb_m(spark, sf_dir: str):
    """`_pq_emb` persisted to scratch once per (session, dataset) — the
    gANN index family references the quantized corpus ~a dozen times
    per build chain (both edge-builder sides, entry hubs, per-round
    beam scoring, the rerank, the recall audits' exact-truth scans, the
    coarse trainer's Lloyd's rounds), and each lazy reference replayed
    scan + quantize fold + exchange (the k-core replay rule, guide
    §2.1). One scratch write turns every reference into a parquet scan
    with no exchange and no re-quantize. BIGINT arrays round-trip
    parquet exactly, so every downstream integer distance is
    bit-identical (the minhash-signature device).

    BUCKETED on vec_id (r15, guide §2.4/§6): the whole family keys on
    vec_id — the Lloyd's rounds' and coarse assignment's per-vector
    argmin (groupBy vec_id above a broadcast join that preserves the
    scan's partitioning), and the beam rounds' scoring equi-join. A
    bucketed scan reports its hash partitioning, so those aggregations
    plan NO corpus exchange at all (3 Lloyd's rounds + the assignment
    each shuffled the full corpus WITH the qv payload before), and at
    100 TB the vec_id joins sort-merge over co-located, pre-sorted
    buckets with only the probe side exchanged. No builder-side
    repartition: materialized_bucketed exchanges on the bucket column
    itself (the _lsh_bucketed convention)."""
    from lakeview_spark.operators.materialize import materialized_bucketed

    def _build(s_, d_):
        return t(s_, d_, "embeddings").select(
            "vec_id", _kq_quantize_col("embedding").alias("qv")
        )

    return materialized_bucketed(spark, "pq_emb", sf_dir, _build, ["vec_id"])


def pq_codes_materialized(spark, sf_dir: str):
    """THE PQ index artifact: per (vector, subspace) the trained
    codeword and its exact reconstruction error, written to scratch
    once per (session, dataset). Every PQ consumer's `assigned`
    reference reads this table back instead of replaying the
    n*_PQ_M*_PQ_K encode argmin — the plan-duplication fix the k-core
    walk taught (a lazy `assigned` subtree was replayed per reference;
    the r10 recall audit references it 4x). At 100 TB this is exactly
    the index table a deployment stores next to the coarse ids."""
    from lakeview_spark.operators.materialize import materialized

    def _build(spark, sf_dir):
        _subs, _codebook, assigned = _pq_parts(_pq_emb(spark, sf_dir), sf_dir)
        return assigned.select(
            "vec_id",
            "m",
            F.col("best.codeword").alias("codeword"),
            F.col("best.sqerr").alias("sqerr"),
        )

    return materialized(spark, "pq_codes", sf_dir, _build)


def pq_codebook_df(spark, sf_dir: str):
    """The trained codebook as a broadcast-scale DataFrame — from the
    driver cache (training if this is the first PQ touch of the
    session)."""
    _subs, codebook, _assigned = _pq_parts(_pq_emb(spark, sf_dir), sf_dir)
    return codebook


# ---------------------------------------------------------------------------
# Residual quantization refinement (stage 2 — VERDICT r10 next-8)
# ---------------------------------------------------------------------------
#
# Flat-ADC recall against the exact truth is capped by the stage-1
# codebook's reconstruction error (0.73 at sf0.01 — SCALE.md §8a3's
# ceiling). Residual quantization lifts the CEILING itself: per (vec,
# subspace), the residual r = sv - cv1 is encoded against a SECOND
# trained codebook, reconstruction becomes cv1 + cv2, and ADC ranks by
# ||probe_sv - (cv1 + cv2)||² — still one exact BIGINT per part, since
# residuals and second-stage centroids live on the same 2^-20 integer
# grid. The refinement re-uses the stage-1 machinery wholesale
# (_subspace_lloyd / _subspace_assign — the integer Lloyd's device on
# residuals), adding _PQ_M * 6 bits per vector. Measured flat-ADC
# recall@10 vs exact at sf0.01: 0.91 refined vs 0.73 single-stage
# (grid in SCALE.md §8a5).
_RQ_K = 64  # second-stage codewords per subspace
_RQ_ITER = 1  # residual Lloyd's rounds (0 rounds = seed book reads 0.89)

_RQ_DIST_SQL = (
    f"list_sum(list_transform(range(1, {_PQ_SUB} + 1), "
    "i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i])))"
)

_RQ_ADC_PART_SQL = (
    f"list_sum(list_transform(range(1, {_PQ_SUB} + 1), "
    "i -> (ps.sv[i] - (cb.cv[i] + rcb.cv[i])) "
    "* (ps.sv[i] - (cb.cv[i] + rcb.cv[i]))))"
)


def _rq_iter_sql(prev: str, n: int) -> str:
    """One unrolled residual-codebook training round — _pq_iter_sql's
    pattern over the `rsubs` residual table, distinct CTE names."""
    return f"""
    rga{n} AS (
      SELECT vec_id, m, sv, codeword FROM (
        SELECT v.vec_id, v.m, v.sv, c.codeword,
               row_number() OVER (PARTITION BY v.vec_id, v.m
                                  ORDER BY {_RQ_DIST_SQL} ASC, c.codeword) AS rn
        FROM rsubs v JOIN {prev} c ON c.m = v.m) WHERE rn = 1
    ),
    rgm{n} AS (
      SELECT m, codeword, pos,
             CAST(floor(CAST(sum(v) AS DOUBLE)/count(*)) AS BIGINT) AS mv
      FROM (SELECT m, codeword, unnest(sv) AS v,
                   unnest(range(1, len(sv)+1)) AS pos FROM rga{n})
      GROUP BY m, codeword, pos
    ),
    rgc{n} AS (
      SELECT m, codeword, list(mv ORDER BY pos) AS cv FROM rgm{n}
      GROUP BY m, codeword
    ),
    rcb{n} AS (
      SELECT p.m, p.codeword, coalesce(u.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN rgc{n} u
        ON u.m = p.m AND u.codeword = p.codeword
    )"""


# residual derivation + stage-2 training + refined assignment as one
# CTE block appended after _PQ_BASE_CTES. The hot replayed subtrees are
# AS MATERIALIZED — without the hint DuckDB re-inlines the whole
# stage-1 training per reference and the oracle reads 280 s instead of
# ~10 s at sf0.01 (measured; the oracle-side twin of the engine's own
# k-core/PQ-index materialization rule).
_RQ_CTES = (
    f"""rsubs AS MATERIALIZED (
      SELECT a.vec_id, a.m,
             list_transform(range(1, {_PQ_SUB} + 1), i -> v.sv[i] - c.cv[i]) AS sv
      FROM assigned a
      JOIN subs v ON v.vec_id = a.vec_id AND v.m = a.m
      JOIN codebook c ON c.m = a.m AND c.codeword = a.codeword
    ),
    rcb0 AS (
      SELECT vec_id AS codeword, m, sv AS cv FROM rsubs
      WHERE vec_id BETWEEN 1 AND {_RQ_K}
    )"""
    + "".join(
        "," + _rq_iter_sql(f"rcb{n - 1}", n) for n in range(1, _RQ_ITER + 1)
    )
    + f""",
    rcodebook AS MATERIALIZED (SELECT codeword, m, cv FROM rcb{_RQ_ITER}),
    rassigned AS MATERIALIZED (
      SELECT vec_id, m, codeword FROM (
        SELECT v.vec_id, v.m, c.codeword,
               row_number() OVER (PARTITION BY v.vec_id, v.m
                                  ORDER BY {_RQ_DIST_SQL} ASC, c.codeword) AS rn
        FROM rsubs v JOIN rcodebook c ON c.m = v.m) WHERE rn = 1
    )"""
)

# stage-2 trained-codebook driver cache, same lifecycle as _PQ_CB_CACHE
_RQ_CB_CACHE: dict[tuple[str, str, str], dict[tuple[int, int], list[int]]] = {}


def _rq_parts(spark, sf_dir: str):
    """(rsubs, rcodebook, rassigned) — the Spark twin of _RQ_CTES. The
    residual table derives from the MATERIALIZED stage-1 index
    (pq_codes scratch + cached codebook), so stage-2 training lineage
    starts at a parquet scan; the trained residual codebook is cached
    per (session, dataset) like stage 1."""
    codes = pq_codes_materialized(spark, sf_dir)
    cb1 = pq_codebook_df(spark, sf_dir)
    emb = _pq_emb(spark, sf_dir)
    subs = emb.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), "
                f"m -> struct(m AS m, slice(qv, m * {_PQ_SUB} + 1, {_PQ_SUB}) AS sv))"
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    rsubs = (
        subs.join(codes.select("vec_id", "m", "codeword"), ["vec_id", "m"])
        .join(F.broadcast(cb1), ["m", "codeword"])
        .select(
            "vec_id",
            "m",
            F.zip_with("sv", "cv", lambda x, y: x - y).alias("sv"),
        )
    )
    key = _pq_cache_key(spark, sf_dir)
    rcb = _RQ_CB_CACHE.get(key)
    if rcb is None:
        rcb = {
            (int(r.m), int(r.vec_id)): [int(v) for v in r.sv]
            for r in rsubs.filter(F.col("vec_id").between(1, _RQ_K)).collect()
        }
        rcb = _subspace_lloyd(spark, rsubs, rcb, _RQ_ITER)
        _RQ_CB_CACHE[key] = rcb
    rcodebook = F.broadcast(_subspace_cb_df(spark, rcb))
    rassigned = _subspace_assign(rsubs, rcodebook).select("vec_id", "m", "best")
    return rsubs, rcodebook, rassigned


def rq_codes_materialized(spark, sf_dir: str):
    """The refinement half of the code index: per (vector, subspace)
    the stage-2 residual codeword and the refined reconstruction error
    — the third table an RQ-refined IVF-PQ deployment stores next to
    pq_codes and ivfpq_coarse."""
    from lakeview_spark.operators.materialize import materialized

    def _build(spark, sf_dir):
        _rsubs, _rcodebook, rassigned = _rq_parts(spark, sf_dir)
        return rassigned.select(
            "vec_id",
            "m",
            F.col("best.codeword").alias("codeword"),
            F.col("best.sqerr").alias("sqerr"),
        )

    return materialized(spark, "rq_codes", sf_dir, _build)


def _rq_recall_oracle() -> str:
    # stage-1 flat ADC and the refined (cv1 + cv2) ADC against the same
    # exact truth; the stage-1 subtrees carry the shared AS MATERIALIZED
    # hints (without them DuckDB re-inlines the unrolled training per
    # reference — 280 s vs ~10 s measured at sf0.01)
    return f"""
    WITH {_PQ_BASE_CTES_MAT},
    {_RQ_CTES},
    probes AS (
      SELECT vec_id AS probe_id, qv AS pqv FROM q
      WHERE vec_id % ({_PQ_STRIDE_SQL}) = 0
    ),
    truth AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, e.vec_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY {_PQ_FULL_DIST_SQL} ASC, e.vec_id) AS rn
        FROM probes p, q e WHERE e.vec_id <> p.probe_id)
      WHERE rn <= {_PQ_RECALL_TOP}
    ),
    psubs AS (
      SELECT p.probe_id, g.m,
             list_slice(p.pqv, g.m * {_PQ_SUB} + 1, g.m * {_PQ_SUB} + {_PQ_SUB}) AS sv
      FROM probes p, (SELECT unnest(range(0, {_PQ_M})) AS m) g
    ),
    adc AS (
      SELECT probe_id, vec_id, CAST(sum(part) AS BIGINT) AS adc_dist FROM (
        SELECT ps.probe_id, a.vec_id, CAST({_PQ_ADC_PART_SQL} AS BIGINT) AS part
        FROM psubs ps
        JOIN assigned a ON a.m = ps.m
        JOIN codebook cb ON cb.m = a.m AND cb.codeword = a.codeword
        WHERE a.vec_id <> ps.probe_id)
      GROUP BY probe_id, vec_id
    ),
    pq_top AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY adc_dist ASC, vec_id) AS rn
        FROM adc) WHERE rn <= {_PQ_RECALL_TOP}
    ),
    radc AS (
      SELECT probe_id, vec_id, CAST(sum(part) AS BIGINT) AS adc_dist FROM (
        SELECT ps.probe_id, a.vec_id, CAST({_RQ_ADC_PART_SQL} AS BIGINT) AS part
        FROM psubs ps
        JOIN assigned a ON a.m = ps.m
        JOIN rassigned ra ON ra.vec_id = a.vec_id AND ra.m = a.m
        JOIN codebook cb ON cb.m = a.m AND cb.codeword = a.codeword
        JOIN rcodebook rcb ON rcb.m = ra.m AND rcb.codeword = ra.codeword
        WHERE a.vec_id <> ps.probe_id)
      GROUP BY probe_id, vec_id
    ),
    rq_top AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY adc_dist ASC, vec_id) AS rn
        FROM radc) WHERE rn <= {_PQ_RECALL_TOP}
    )
    SELECT t.probe_id,
           CAST(count(b.vec_id) AS BIGINT) AS base_hits,
           CAST(count(b.vec_id) AS DOUBLE) / {_PQ_RECALL_TOP} AS base_recall,
           CAST(count(r.vec_id) AS BIGINT) AS refined_hits,
           CAST(count(r.vec_id) AS DOUBLE) / {_PQ_RECALL_TOP} AS refined_recall
    FROM truth t
    LEFT JOIN pq_top b ON b.probe_id = t.probe_id AND b.vec_id = t.vec_id
    LEFT JOIN rq_top r ON r.probe_id = t.probe_id AND r.vec_id = t.vec_id
    GROUP BY t.probe_id
    """


@register("eval_rq_recall", oracle=_rq_recall_oracle())
def eval_rq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-refinement search-quality audit (VERDICT r10 next-8):
    per probe, flat-ADC recall@{_PQ_RECALL_TOP} vs the exact
    quantized-domain truth for BOTH the stage-1 codebook (the 0.73
    ceiling SCALE.md §8a3 records) and the RQ-refined reconstruction
    cv1 + cv2 (measured 0.91 at sf0.01 — the ceiling itself lifted,
    §8a5). All distances exact BIGINTs on the shared 2^-20 grid, so a
    lossy index's quality audit hash-checks.

    Scale shape: identical to eval_pq_recall's flat half — probes and
    both codebooks are broadcasts, the ADC sides join the COMPRESSED
    code tables (n*{_PQ_M} small-int rows read from the pq_codes /
    rq_codes scratch, never the vectors), one partial-aggregable
    (probe, doc) sum each, per-probe rankings bounded by
    corpus-per-probe (the flat-scan cost the audit exists to
    measure)."""
    from pyspark.sql import Window as _W

    from lakeview_spark.pipeline.iterative import _kq_sqdist

    n = corpus_n(spark, sf_dir)
    stride = max(1, n // _PQ_PROBE_TARGET)
    emb = _pq_emb(spark, sf_dir)
    cb1 = pq_codebook_df(spark, sf_dir)
    _rsubs, rcodebook, _rassigned = _rq_parts(spark, sf_dir)
    probes = emb.filter((F.col("vec_id") % stride) == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("qv").alias("pqv")
    )
    scored = emb.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("probe_id")
    )
    w = _W.partitionBy("probe_id").orderBy("full_dist", "vec_id")
    truth = (
        scored.select("probe_id", "vec_id", _kq_sqdist("qv", "pqv", dim=_EMB_DIM).alias("full_dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PQ_RECALL_TOP)
        .select("probe_id", "vec_id")
    )
    psubs = probes.select(
        "probe_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), "
                f"m -> struct(m AS m, slice(pqv, m * {_PQ_SUB} + 1, {_PQ_SUB}) AS sv))"
            )
        ).alias("s"),
    ).select("probe_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    codes1 = pq_codes_materialized(spark, sf_dir).select("vec_id", "m", "codeword")
    adc = (
        codes1.join(F.broadcast(cb1), ["m", "codeword"])
        .join(F.broadcast(psubs), "m")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", _kq_sqdist("sv", "cv", dim=_PQ_SUB).alias("part"))
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("part").alias("adc_dist"))
    )
    wa = _W.partitionBy("probe_id").orderBy("adc_dist", "vec_id")
    pq_top = (
        adc.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= _PQ_RECALL_TOP)
        .select(F.col("probe_id").alias("b_probe"), F.col("vec_id").alias("b_vec"))
    )
    codes2 = rq_codes_materialized(spark, sf_dir).select(
        "vec_id", "m", F.col("codeword").alias("codeword2")
    )
    rcb2 = rcodebook.select(
        "m", F.col("codeword").alias("codeword2"), F.col("cv").alias("cv2")
    )
    radc = (
        codes1.join(codes2, ["vec_id", "m"])
        .join(F.broadcast(cb1), ["m", "codeword"])
        .join(F.broadcast(rcb2), ["m", "codeword2"])
        .select(
            "vec_id",
            "m",
            F.zip_with("cv", "cv2", lambda x, y: x + y).alias("cv"),
        )
        .join(F.broadcast(psubs), "m")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", _kq_sqdist("sv", "cv", dim=_PQ_SUB).alias("part"))
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("part").alias("adc_dist"))
    )
    rq_top = (
        radc.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= _PQ_RECALL_TOP)
        .select(F.col("probe_id").alias("r_probe"), F.col("vec_id").alias("r_vec"))
    )
    return (
        truth.join(
            pq_top,
            (F.col("probe_id") == F.col("b_probe"))
            & (F.col("vec_id") == F.col("b_vec")),
            "left",
        )
        .join(
            rq_top,
            (F.col("probe_id") == F.col("r_probe"))
            & (F.col("vec_id") == F.col("r_vec")),
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.count("b_vec").cast("bigint").alias("base_hits"),
            (F.count("b_vec").cast("double") / _PQ_RECALL_TOP).alias("base_recall"),
            F.count("r_vec").cast("bigint").alias("refined_hits"),
            (F.count("r_vec").cast("double") / _PQ_RECALL_TOP).alias(
                "refined_recall"
            ),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ composed search (coarse quantizer + asymmetric-distance ranking)
# ---------------------------------------------------------------------------
#
# The production ANN composition the two audits above promise: an
# IVF-PQ index stores, per vector, (a) its coarse cluster id — nearest
# of k TRAINED coarse centroids — and (b) its _PQ_M-byte PQ code. A
# search visits the probe's _nprobe_for_k(k) nearest coarse clusters
# (multiprobe, r10; scale-adaptive fraction rule r12 — nprobe=1 bounded
# composed recall by a single cluster's hit rate; the measured
# recall-vs-nprobe grids are in SCALE.md §8a3/§8a3b) and ranks their
# members by asymmetric distance (the
# probe's exact subvectors against each member's codeword vectors),
# never touching stored payloads. Everything rides the established
# integer devices: the coarse quantizer trains by
# _IVFPQ_COARSE_ROUNDS unrolled integer-Lloyd's rounds (the
# kmeans_train_quantized device, label-free — iterative.py
# _kq_centroid_rounds), assignment is the BIGINT squared-L2 argmin
# (ties to the lower cluster), codes come from the shared
# _pq_parts/_PQ_BASE_CTES derivation (so this query cannot drift from
# the stats/recall audits), and ADC sums are exact BIGINTs — the whole
# composed search hash-checks. eval_pq_recall audits this composition
# directly (composed_recall vs the exact top-k; ivf_retention vs the
# flat-ADC ceiling).
_IVFPQ_TOP = 10
# Scale-adaptive nprobe (r12, VERDICT r11 next-3): a FIXED probe count
# shrinks the visited fraction nprobe/k as the corpus grows (k = n/128),
# and the registered sweep measured composed recall@10 collapsing
# 0.67 -> 0.47 -> 0.11 across sf0.01/0.1/1 at the old fixed nprobe=3.
# A production index holds the visited FRACTION: visit ceil(k /
# _IVFPQ_NPROBE_FRAC) coarse clusters, floored at _IVFPQ_NPROBE_MIN.
# FRAC=4 (25% of clusters) chosen from the measured sf1 grid
# (1a51bd5:scripts/nprobe_grid_sf1.py, SCALE.md §8a3b): refined recall@10 0.71
# at k=156, vs 0.51 at k//8 and 0.11 at fixed 3. The driver correctness
# scales keep k=4 -> nprobe=3 byte-identically (ceil(4/4)=1 < MIN).
_IVFPQ_NPROBE_MIN = 3
_IVFPQ_NPROBE_FRAC = 4  # visit ceil(k/4) coarse clusters per probe
_IVFPQ_COARSE_ROUNDS = 3  # integer-Lloyd's rounds for the coarse quantizer


def _nprobe_for_k(k: int) -> int:
    """Coarse clusters visited per probe for a k-cluster index."""
    return max(_IVFPQ_NPROBE_MIN, -(-k // _IVFPQ_NPROBE_FRAC))


def _nprobe_for(spark: SparkSession, sf_dir: str) -> int:
    """The corpus's nprobe — one cached count, same device as k."""
    return _nprobe_for_k(_k_for_n(corpus_n(spark, sf_dir)))


# the SQL twin of _nprobe_for: GREATEST(min, ceil(k / frac)) with k
# computed exactly as _IVFPQ_K_SQL computes it (integer ceil via
# (k + frac - 1) // frac)
_IVFPQ_NPROBE_SQL = (
    f"SELECT GREATEST({_IVFPQ_NPROBE_MIN}, "
    f"(GREATEST({_K_MIN}, LEAST({_K_MAX}, count(*) // {_CLUSTER_TARGET})) "
    f"+ {_IVFPQ_NPROBE_FRAC} - 1) // {_IVFPQ_NPROBE_FRAC}) FROM embeddings"
)


def _nprobe_grid(np_max: int) -> tuple[int, ...]:
    """Sweep points for the nprobe tuning curve: the QUARTILES of the
    shipped nprobe, ceil(np_max * i / 4) for i in 1..4, deduped — at
    np_max = 3 this is exactly the historical (1, 2, 3) grid, and at
    any scale it stays <= 4 points (a dense 1..np_max grid would
    multiply the swept pool by np_max as k grows)."""
    return tuple(sorted({(np_max * i + 3) // 4 for i in (1, 2, 3, 4)}))

# the corpus-sized coarse-centroid count, identical to _k_for_n (the
# kmeans/SemDeDup sizing rule — constants live in this module)
_IVFPQ_K_SQL = (
    f"SELECT GREATEST({_K_MIN}, LEAST({_K_MAX}, count(*) // {_CLUSTER_TARGET})) "
    "FROM embeddings"
)

# BIGINT squared-L2 between full quantized vectors e.qv and c.cv
_IVFPQ_COARSE_DIST_SQL = (
    "list_sum(list_transform(range(1, len(e.qv)+1), "
    "i -> (e.qv[i]-c.cv[i])*(e.qv[i]-c.cv[i])))"
)

# BIGINT squared-L2 between a probe vector p.pqv and a centroid c.cv
_IVFPQ_PROBE_DIST_SQL = (
    "list_sum(list_transform(range(1, len(p.pqv)+1), "
    "i -> (p.pqv[i]-c.cv[i])*(p.pqv[i]-c.cv[i])))"
)


def _ivfpq_iter_sql(prev: str, n: int) -> str:
    """One unrolled coarse-quantizer Lloyd's round (label-free twin of
    iterative.py _kq_iter_sql, over the PQ block's `q` CTE): assign
    every vector to its nearest centroid in `prev` (ties to the lower
    cluster_id), then per-(cluster, dimension) floored integer mean;
    empty clusters keep their previous centroid."""
    return f"""
    kva{n} AS (
      SELECT vec_id, qv, cluster_id FROM (
        SELECT e.vec_id, e.qv, c.cluster_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVFPQ_COARSE_DIST_SQL} ASC, c.cluster_id) AS rn
        FROM q e, {prev} c) WHERE rn = 1
    ),
    kvm{n} AS (
      SELECT cluster_id, pos,
             CAST(floor(CAST(sum(v) AS DOUBLE)/count(*)) AS BIGINT) AS m
      FROM (SELECT cluster_id, unnest(qv) AS v,
                   unnest(range(1, len(qv)+1)) AS pos FROM kva{n})
      GROUP BY cluster_id, pos
    ),
    kvc{n} AS (
      SELECT cluster_id, list(m ORDER BY pos) AS cv FROM kvm{n}
      GROUP BY cluster_id
    ),
    cents{n} AS (
      SELECT p.cluster_id, coalesce(u.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN kvc{n} u USING (cluster_id)
    )"""


# the shared IVF coarse-index derivation (seed -> trained centroids ->
# per-vector coarse id -> per-probe nprobe visited clusters) as one CTE
# block, so the composed search and its recall audit cannot drift (the
# _PQ_BASE_CTES no-drift device). Expects `q` (from _PQ_BASE_CTES) and
# `probes(probe_id, pqv)` to be in scope.
_IVFPQ_COARSE_CTES = f"""cents0 AS (
      SELECT vec_id AS cluster_id, qv AS cv FROM q
      WHERE vec_id BETWEEN 1 AND ({_IVFPQ_K_SQL})
    ),{_ivfpq_iter_sql('cents0', 1)},{_ivfpq_iter_sql('cents1', 2)},{_ivfpq_iter_sql('cents2', 3)},
    cents AS (SELECT cluster_id, cv FROM cents{_IVFPQ_COARSE_ROUNDS}),
    coarse AS (
      SELECT vec_id, cluster_id FROM (
        SELECT e.vec_id, c.cluster_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_IVFPQ_COARSE_DIST_SQL} ASC, c.cluster_id) AS rn
        FROM q e, cents c) WHERE rn = 1
    ),
    pclusters AS (
      SELECT probe_id, cluster_id AS pcluster, CAST(rn AS BIGINT) AS crank FROM (
        SELECT p.probe_id, c.cluster_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY {_IVFPQ_PROBE_DIST_SQL} ASC, c.cluster_id) AS rn
        FROM probes p, cents c) WHERE rn <= ({_IVFPQ_NPROBE_SQL})
    )"""

# the composed search's whole candidate derivation (probes -> trained
# coarse index -> probe subvectors -> ADC sums) as one CTE block shared
# by the shipped search and its r12 exact-rerank refinement, so the two
# cannot drift (the _PQ_BASE_CTES device again)
_IVFPQ_ADC_CTES = f"""probes AS (
      SELECT vec_id AS probe_id, qv AS pqv FROM q
      WHERE vec_id % ({_PQ_STRIDE_SQL}) = 0
    ),
    {_IVFPQ_COARSE_CTES},
    psubs AS (
      SELECT p.probe_id, pc.pcluster, g.m,
             list_slice(p.pqv, g.m * {_PQ_SUB} + 1, g.m * {_PQ_SUB} + {_PQ_SUB}) AS sv
      FROM probes p JOIN pclusters pc USING (probe_id),
           (SELECT unnest(range(0, {_PQ_M})) AS m) g
    ),
    adc_parts AS (
      SELECT ps.probe_id, a.vec_id, CAST({_PQ_ADC_PART_SQL} AS BIGINT) AS part
      FROM psubs ps
      JOIN assigned a ON a.m = ps.m
      JOIN coarse ca ON ca.vec_id = a.vec_id AND ca.cluster_id = ps.pcluster
      JOIN codebook cb ON cb.m = a.m AND cb.codeword = a.codeword
      WHERE a.vec_id <> ps.probe_id
    ),
    adc AS (
      SELECT probe_id, vec_id, CAST(sum(part) AS BIGINT) AS adc_dist
      FROM adc_parts GROUP BY probe_id, vec_id
    )"""

_IVFPQ_SQL = f"""
    WITH {{base}},
    {_IVFPQ_ADC_CTES}
    SELECT probe_id, vec_id, CAST(rn AS BIGINT) AS rank, adc_dist FROM (
      SELECT probe_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY adc_dist ASC, vec_id) AS rn
      FROM adc) WHERE rn <= {_IVFPQ_TOP}
"""

# exact-rerank refinement (r12): take the ADC top-_IVFPQ_REFINE_C
# shortlist per probe and rerank it by exact quantized distance read
# from the stored vectors (faiss IndexRefineFlat — the standard recall
# lift when the PQ ranking quality, not cluster retention, is the
# binding constraint; the sf1 grid measured the pure-ADC ceiling at
# 0.60 while the refined path reads 0.71 at the shipped nprobe).
_IVFPQ_REFINE_C = 4 * _IVFPQ_TOP

_IVFPQ_REFINED_SQL = f"""
    WITH {{base}},
    {_IVFPQ_ADC_CTES},
    shortlist AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY adc_dist ASC, vec_id) AS rn
        FROM adc) WHERE rn <= {_IVFPQ_REFINE_C}
    ),
    rr AS (
      SELECT s.probe_id, s.vec_id,
             CAST({_PQ_FULL_DIST_SQL} AS BIGINT) AS exact_dist
      FROM shortlist s
      JOIN q e ON e.vec_id = s.vec_id
      JOIN probes p ON p.probe_id = s.probe_id
    )
    SELECT probe_id, vec_id, CAST(rn AS BIGINT) AS rank, exact_dist FROM (
      SELECT probe_id, vec_id, exact_dist,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY exact_dist ASC, vec_id) AS rn
      FROM rr) WHERE rn <= {_IVFPQ_TOP}
"""


# trained coarse-centroid driver cache, same lifecycle as _PQ_CB_CACHE
_IVFPQ_CENTS_CACHE: dict[tuple[str, str, str], list[tuple[int, list[int]]]] = {}


def _ivfpq_coarse_parts(spark, sf_dir, emb):
    """The shared Spark-side IVF coarse index (twin of
    _IVFPQ_COARSE_CTES): train the coarse centroids by
    {_IVFPQ_COARSE_ROUNDS} label-free integer-Lloyd's rounds off the
    seed vectors (cached per session+dataset — k x dim driver ints),
    assign every vector via the partial-aggregable struct-min argmin
    MATERIALIZED to scratch (the coarse half of the index table, next
    to pq_codes), and return (cents, coarse) DataFrames."""
    from lakeview_spark.operators.materialize import materialized
    from lakeview_spark.pipeline.iterative import _kq_centroid_rounds, _kq_sqdist

    key = _pq_cache_key(spark, sf_dir)
    trained = _IVFPQ_CENTS_CACHE.get(key)
    if trained is None:
        seeds = [
            (int(r.vec_id), [int(v) for v in r.qv])
            for r in emb.filter(centroid_seed_predicate(spark, sf_dir)).collect()
        ]
        trained = _kq_centroid_rounds(
            emb.select("vec_id", "qv"), seeds, _IVFPQ_COARSE_ROUNDS
        )
        _IVFPQ_CENTS_CACHE[key] = trained
    cents = spark.createDataFrame(trained, "cluster_id int, cv array<bigint>")

    def _build(spark, sf_dir):
        # the assignment build reads the quantized-corpus scratch (one
        # pass at most per dataset; this build is itself materialized)
        e = _pq_emb_m(spark, sf_dir)
        return (
            e.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                F.struct(
                    _kq_sqdist("qv", "cv", dim=_EMB_DIM).alias("sqdist"), "cluster_id"
                ).alias("sc"),
            )
            .groupBy("vec_id")
            .agg(F.min("sc").alias("best"))
            .select("vec_id", F.col("best.cluster_id").alias("cluster_id"))
        )

    coarse = materialized(spark, "ivfpq_coarse", sf_dir, _build)
    return cents, coarse


def _ivfpq_pclusters(probes, cents, nprobe: int):
    """Per-probe visited clusters: rank the k broadcast centroids by
    exact-BIGINT distance to each probe and keep the `nprobe` nearest
    (scale-adaptive: callers pass _nprobe_for(spark, sf_dir)). The
    row_number window runs over probes x k rows — both broadcast-scale
    — never the corpus."""
    from pyspark.sql import Window as _W

    from lakeview_spark.pipeline.iterative import _kq_sqdist

    w = _W.partitionBy("probe_id").orderBy("cdist", "cluster_id")
    return (
        probes.crossJoin(F.broadcast(cents))
        .select("probe_id", "cluster_id", _kq_sqdist("pqv", "cv", dim=_EMB_DIM).alias("cdist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select(
            "probe_id",
            F.col("cluster_id").alias("pcluster"),
            F.col("rn").cast("bigint").alias("crank"),
        )
    )


@register("similarity_ann_ivf_pq", oracle=_IVFPQ_SQL.format(base=_PQ_BASE_CTES_MAT))
def similarity_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN search with multiprobe: for each
    deterministic-stride probe, rank the members of its nprobe =
    max({_IVFPQ_NPROBE_MIN}, ceil(k/{_IVFPQ_NPROBE_FRAC})) nearest
    TRAINED coarse clusters (scale-adaptive, r12 — the visited FRACTION
    of the index holds as k grows with n) by exact-BIGINT asymmetric
    distance over their {_PQ_M}-byte PQ codes; top-{_IVFPQ_TOP} per
    probe (section comment above — the shipped search path the PQ/IVF
    audits bound; eval_pq_recall audits this exact composition).

    Scale shape: the index (coarse id + code per vector) is built by
    narrow maps — coarse training is {_IVFPQ_COARSE_ROUNDS} broadcast
    assign/update rounds with k x dim driver state, assignment
    collapses its n*k scored rows map-side via the partial-aggregable
    struct-min argmin, codes broadcast the {_PQ_M}x{_PQ_K}-row
    codebook; the code⋈coarse join is one vec_id-keyed equi shuffle (at
    100 TB both live in ONE index table written together, so it
    disappears); probes, their subvectors, and their visited-cluster
    pairs are ~{_PQ_PROBE_TARGET} x nprobe broadcast rows, so
    candidate selection is a broadcast-hash filter on (m, cluster) —
    never all-pairs (a candidate's single coarse id matches at most
    one visited cluster per probe, so multiprobe adds no duplicate
    pairs) — and the per-probe ranking windows are bounded by the
    visited clusters' occupancy (~1/{_IVFPQ_NPROBE_FRAC} of the corpus
    by the fraction rule). Payload vectors never
    shuffle; repartitions the unsplittable single-file local scan
    before the n*k fold (the trainers' documented exception)."""
    from pyspark.sql import Window as _W

    _emb, _probes, adc = _ivfpq_adc_frame(spark, sf_dir)
    w = _W.partitionBy("probe_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVFPQ_TOP)
        .select(
            "probe_id",
            "vec_id",
            F.col("rn").cast("long").alias("rank"),
            "adc_dist",
        )
    )


def _ivfpq_adc_frame(spark: SparkSession, sf_dir: str):
    """The composed search's candidate pool (engine twin of
    _IVFPQ_ADC_CTES, shared by the shipped search and its exact-rerank
    refinement): per (probe, candidate-in-visited-clusters) exact-BIGINT
    asymmetric distance. Returns (emb, probes, adc)."""
    from lakeview_spark.pipeline.iterative import _kq_sqdist

    n = corpus_n(spark, sf_dir)
    stride = max(1, n // _PQ_PROBE_TARGET)
    emb = _pq_emb(spark, sf_dir)
    cents, coarse = _ivfpq_coarse_parts(spark, sf_dir, emb)
    probes = emb.filter((F.col("vec_id") % stride) == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("qv").alias("pqv")
    )
    pclusters = _ivfpq_pclusters(probes, cents, _nprobe_for(spark, sf_dir))
    psubs = (
        probes.join(pclusters, "probe_id")
        .select(
            "probe_id",
            "pcluster",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {_PQ_M - 1}), "
                    f"m -> struct(m AS m, slice(pqv, m * {_PQ_SUB} + 1, {_PQ_SUB}) AS sv))"
                )
            ).alias("s"),
        )
        .select(
            "probe_id", "pcluster", F.col("s.m").alias("pm"), F.col("s.sv").alias("sv")
        )
    )
    codebook = pq_codebook_df(spark, sf_dir)
    cand = pq_codes_materialized(spark, sf_dir).select(
        "vec_id", "m", "codeword"
    ).join(coarse, "vec_id")
    adc = (
        cand.join(F.broadcast(codebook), ["m", "codeword"])
        .join(
            F.broadcast(psubs),
            (F.col("m") == F.col("pm")) & (F.col("cluster_id") == F.col("pcluster")),
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", _kq_sqdist("sv", "cv", dim=_PQ_SUB).alias("part"))
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("part").alias("adc_dist"))
    )
    return emb, probes, adc


@register(
    "similarity_ann_ivf_pq_refined",
    oracle=_IVFPQ_REFINED_SQL.format(base=_PQ_BASE_CTES_MAT),
)
def similarity_ann_ivf_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search + exact-rerank refinement (r12, VERDICT r11
    next-3's recall bar): the composed search's ADC top-{_IVFPQ_REFINE_C}
    shortlist per probe, reranked by exact-BIGINT quantized distance
    read from the stored vectors — the faiss IndexRefineFlat pattern.
    The sf1 grid (SCALE.md §8a3b) measured the pure-ADC ranking as the
    binding constraint at scale (ceiling 0.60 even scanning every
    cluster); refinement lifts recall@10 to 0.71 at the shipped
    nprobe = ceil(k/{_IVFPQ_NPROBE_FRAC}) and 0.98 at nprobe = k.

    Scale shape: identical to similarity_ann_ivf_pq up to the ADC pool
    (same shared candidate derivation — the two queries cannot drift),
    plus one vec_id-keyed equi join of the ~{_PQ_PROBE_TARGET} x
    {_IVFPQ_REFINE_C}-row shortlist against the stored vectors (at
    100 TB: a point-lookup read of C vectors per probe, the refine
    stage every production IVF deployment budgets) and a per-probe
    window over {_IVFPQ_REFINE_C} rows."""
    from pyspark.sql import Window as _W

    from lakeview_spark.pipeline.iterative import _kq_sqdist

    emb, probes, adc = _ivfpq_adc_frame(spark, sf_dir)
    ws = _W.partitionBy("probe_id").orderBy("adc_dist", "vec_id")
    shortlist = (
        adc.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _IVFPQ_REFINE_C)
        .select("probe_id", "vec_id")
    )
    wr = _W.partitionBy("probe_id").orderBy("exact_dist", "vec_id")
    return (
        shortlist.join(emb, "vec_id")
        .join(
            F.broadcast(probes.select("probe_id", "pqv")),
            "probe_id",
        )
        .select("probe_id", "vec_id", _kq_sqdist("qv", "pqv", dim=_EMB_DIM).alias("exact_dist"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _IVFPQ_TOP)
        .select(
            "probe_id",
            "vec_id",
            F.col("rn").cast("long").alias("rank"),
            "exact_dist",
        )
    )


# ---------------------------------------------------------------------------
# MMR diversified rerank (r12): maximal marginal relevance (Carbonell &
# Goldstein 1998) over the composed search's refined shortlist — the
# production retrieval stage that trades pure relevance for coverage
# when near-duplicate hits crowd the top-k (exactly this corpus's
# failure mode: the synthetic embeddings carry near-dup bucket
# structure). Greedy: pick the exact-distance nearest; each later pick
# minimizes the INTEGER key 2*d(probe, c) - min_{s in S} d(c, s) —
# relevance weighted 2:1 against redundancy, all BIGINT squared-L2 on
# the shared 2^-20 grid, (key, vec_id) total-order ties — so the whole
# iterative selection hash-checks against a DuckDB unrolled-CTE oracle
# (AS MATERIALIZED rounds; each round references the prior selected set
# twice — the k-core replay rule — so the engine materializes per-round
# picks the way graph_kcore materializes its alive sets).
_MMR_C = 20  # candidate shortlist per probe (ADC top-C)
_MMR_K = 5  # selections per probe


def _mmr_round_sql(i: int) -> str:
    prev = f"sel{i - 1}all"
    return f"""scored{i} AS MATERIALIZED (
      SELECT c.probe_id, c.vec_id, any_value(c.pdist) AS pdist,
             min(list_sum(list_transform(range(1, len(c.qv) + 1),
                 j -> (c.qv[j] - sq.qv[j]) * (c.qv[j] - sq.qv[j])))) AS msd
      FROM mcand c
      JOIN {prev} s ON s.probe_id = c.probe_id
      JOIN mcand sq ON sq.probe_id = s.probe_id AND sq.vec_id = s.vec_id
      WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                        WHERE x.probe_id = c.probe_id
                          AND x.vec_id = c.vec_id)
      GROUP BY c.probe_id, c.vec_id
    ),
    pick{i} AS MATERIALIZED (
      SELECT probe_id, vec_id, CAST({i} AS BIGINT) AS mmr_rank FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY 2 * pdist - msd, vec_id) AS rn
        FROM scored{i}) WHERE rn = 1
    ),
    sel{i}all AS MATERIALIZED (
      SELECT * FROM {prev} UNION ALL SELECT * FROM pick{i}
    )"""


def _mmr_ctes() -> str:
    """Everything through the final selected set — shared by the rerank
    oracle and its diversity audit so the two cannot drift."""
    rounds = ",\n    ".join(_mmr_round_sql(i) for i in range(2, _MMR_K + 1))
    return f"""{_PQ_BASE_CTES_MAT},
    {_IVFPQ_ADC_CTES},
    mshort AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY adc_dist ASC, vec_id) AS rn
        FROM adc) WHERE rn <= {_MMR_C}
    ),
    mcand AS MATERIALIZED (
      SELECT s.probe_id, s.vec_id, e.qv,
             CAST({_PQ_FULL_DIST_SQL} AS BIGINT) AS pdist
      FROM mshort s
      JOIN q e ON e.vec_id = s.vec_id
      JOIN probes p ON p.probe_id = s.probe_id
    ),
    sel1all AS MATERIALIZED (
      SELECT probe_id, vec_id, CAST(1 AS BIGINT) AS mmr_rank FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY pdist, vec_id) AS rn
        FROM mcand) WHERE rn = 1
    ),
    {rounds}"""


def _mmr_oracle() -> str:
    return f"""
    WITH {_mmr_ctes()}
    SELECT s.probe_id, s.vec_id, s.mmr_rank, c.pdist AS exact_dist
    FROM sel{_MMR_K}all s
    JOIN mcand c ON c.probe_id = s.probe_id AND c.vec_id = s.vec_id
    """


def _mmr_cands(spark: SparkSession, sf_dir: str):
    """The MATERIALIZED candidate scratch (probe_id, vec_id, qv, pdist)
    — the ADC top-_MMR_C shortlist per probe WITH its vectors and exact
    probe distances; shared by the rerank and its diversity audit."""
    from pyspark.sql import Window as _W

    from lakeview_spark.operators.materialize import materialized
    from lakeview_spark.pipeline.iterative import _kq_sqdist

    def _cand_build(s, d):
        emb2, probes2, adc2 = _ivfpq_adc_frame(s, d)
        ws = _W.partitionBy("probe_id").orderBy("adc_dist", "vec_id")
        sl = (
            adc2.withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") <= _MMR_C)
            .select("probe_id", "vec_id")
        )
        return (
            sl.join(emb2, "vec_id")
            .join(F.broadcast(probes2.select("probe_id", "pqv")), "probe_id")
            .select(
                "probe_id", "vec_id", "qv", _kq_sqdist("qv", "pqv", dim=_EMB_DIM).alias("pdist")
            )
        )

    return materialized(spark, "mmr_cands", sf_dir, _cand_build)


@register("retrieval_mmr_rerank", oracle=_mmr_oracle())
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified rerank of the IVF-PQ refined shortlist (section
    comment above): per probe, {_MMR_K} greedy picks from the ADC
    top-{_MMR_C} candidates — first the exact nearest, then whatever
    minimizes 2*d(probe, c) - min d(c, selected) — so crowded near-dup
    hits stop monopolizing the top-k. All-integer keys, hash-exact.

    Scale shape: candidates ride the shared _IVFPQ_ADC_CTES pool (the
    search/refine economics) and materialize once
    (~{_PQ_PROBE_TARGET} x {_MMR_C} rows WITH their vectors — the
    point-lookup read the refine stage already budgets); each greedy
    round joins that scratch against the <= probes x round selected
    set (per-probe candidate-pair fan-out <= {_MMR_C} x {_MMR_K}) and
    collapses through the partial-aggregable struct-min argmin;
    per-round picks materialize (the graph_kcore device) because the
    round's plan references the prior selected set twice — exclusion
    anti-join + redundancy min — and would otherwise replay the whole
    prefix exponentially."""
    from pyspark.sql import Window as _W

    from lakeview_spark.operators.materialize import materialized
    from lakeview_spark.pipeline.iterative import _kq_sqdist

    cands = _mmr_cands(spark, sf_dir)
    sel = (
        cands.select("probe_id", F.struct("pdist", "vec_id").alias("pv"))
        .groupBy("probe_id")
        .agg(F.min("pv").alias("b"))
        .select(
            "probe_id",
            F.col("b.vec_id").alias("vec_id"),
            F.lit(1).cast("bigint").alias("mmr_rank"),
        )
    )
    selected = materialized(
        spark, "mmr_sel1", sf_dir, lambda _s, _d, sel=sel: sel
    )
    for i in range(2, _MMR_K + 1):

        def _round_build(_s, _d, selected=selected, i=i):
            s_side = selected.select(
                F.col("probe_id").alias("s_probe"), F.col("vec_id").alias("s_vec")
            ).join(
                cands.select(
                    F.col("probe_id").alias("s_probe"),
                    F.col("vec_id").alias("s_vec"),
                    F.col("qv").alias("sqv"),
                ),
                ["s_probe", "s_vec"],
            )
            remaining = cands.join(
                selected.select("probe_id", "vec_id"),
                ["probe_id", "vec_id"],
                "left_anti",
            )
            scored = (
                remaining.join(s_side, F.col("probe_id") == F.col("s_probe"))
                .select(
                    "probe_id",
                    "vec_id",
                    "pdist",
                    _kq_sqdist("qv", "sqv", dim=_EMB_DIM).alias("sdist"),
                )
                .groupBy("probe_id", "vec_id")
                .agg(
                    F.any_value("pdist").alias("pdist"),
                    F.min("sdist").alias("msd"),
                )
            )
            return (
                scored.select(
                    "probe_id",
                    F.struct(
                        (2 * F.col("pdist") - F.col("msd")).alias("key"), "vec_id"
                    ).alias("kv"),
                )
                .groupBy("probe_id")
                .agg(F.min("kv").alias("b"))
                .select(
                    "probe_id",
                    F.col("b.vec_id").alias("vec_id"),
                    F.lit(i).cast("bigint").alias("mmr_rank"),
                )
            )

        pick = materialized(spark, f"mmr_pick{i}", sf_dir, _round_build)
        selected = materialized(
            spark,
            f"mmr_sel{i}",
            sf_dir,
            lambda _s, _d, selected=selected, pick=pick: selected.unionByName(pick),
        )
    return selected.join(
        cands.select("probe_id", "vec_id", F.col("pdist").alias("exact_dist")),
        ["probe_id", "vec_id"],
    ).select("probe_id", "vec_id", "mmr_rank", "exact_dist")


_MMR_PAIR_DIST_SQL = (
    "list_sum(list_transform(range(1, len(ca.qv) + 1), "
    "j -> (ca.qv[j] - cb.qv[j]) * (ca.qv[j] - cb.qv[j])))"
)


def _mmr_div_set_sql(name: str, src: str) -> str:
    """Per-probe relevance/diversity stats of one selected set: exact
    BIGINT sum of probe distances plus min/sum of within-set pairwise
    distances (k*(k-1)/2 pairs per probe — bounded by _MMR_K)."""
    return f"""{name}stats AS (
      SELECT s.probe_id,
             CAST(count(*) AS BIGINT) AS n_sel,
             CAST(sum(c.pdist) AS BIGINT) AS sum_dist
      FROM {src} s
      JOIN mcand c ON c.probe_id = s.probe_id AND c.vec_id = s.vec_id
      GROUP BY s.probe_id
    ),
    {name}pairs AS (
      SELECT a.probe_id,
             CAST(min({_MMR_PAIR_DIST_SQL}) AS BIGINT) AS min_pair,
             CAST(sum({_MMR_PAIR_DIST_SQL}) AS BIGINT) AS sum_pair
      FROM {src} a
      JOIN {src} b ON b.probe_id = a.probe_id AND a.vec_id < b.vec_id
      JOIN mcand ca ON ca.probe_id = a.probe_id AND ca.vec_id = a.vec_id
      JOIN mcand cb ON cb.probe_id = b.probe_id AND cb.vec_id = b.vec_id
      GROUP BY a.probe_id
    )"""


def _mmr_diversity_oracle() -> str:
    return f"""
    WITH {_mmr_ctes()},
    plainsel AS MATERIALIZED (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY pdist, vec_id) AS rn
        FROM mcand) WHERE rn <= {_MMR_K}
    ),
    mmrsel AS (SELECT probe_id, vec_id FROM sel{_MMR_K}all),
    {_mmr_div_set_sql("p", "plainsel")},
    {_mmr_div_set_sql("m", "mmrsel")}
    SELECT ps.probe_id,
           ps.n_sel,
           ps.sum_dist AS plain_sum_dist,
           ms.sum_dist AS mmr_sum_dist,
           pp.min_pair AS plain_min_pair,
           pp.sum_pair AS plain_sum_pair,
           mp.min_pair AS mmr_min_pair,
           mp.sum_pair AS mmr_sum_pair,
           CASE WHEN ps.sum_dist > 0
                THEN CAST(ms.sum_dist - ps.sum_dist AS DOUBLE) / ps.sum_dist
           END AS relevance_cost,
           CASE WHEN pp.min_pair > 0
                THEN CAST(mp.min_pair AS DOUBLE) / pp.min_pair
           END AS diversity_gain
    FROM pstats ps
    JOIN mstats ms ON ms.probe_id = ps.probe_id
    JOIN ppairs pp ON pp.probe_id = ps.probe_id
    JOIN mpairs mp ON mp.probe_id = ps.probe_id
    """


@register("eval_mmr_diversity", oracle=_mmr_diversity_oracle())
def eval_mmr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MMR stage's quality audit: per probe, the relevance COST the
    diversification pays (total exact distance of the MMR top-{_MMR_K}
    vs the pure-relevance top-{_MMR_K}) against the diversity it buys
    (min/sum of within-set pairwise distances — min-pairwise is the
    crowding metric near-dup sets fail). The two guarded edge ratios
    make the trade one row per probe; everything else exact BIGINTs,
    both selected sets riding the SAME shared candidate scratch and
    selection CTEs as the rerank itself, so audit and stage cannot
    drift.

    Scale shape: both set-stats are per-probe aggregations over
    <= {_MMR_K} rows, the pairwise joins fan out to
    {_MMR_K}*{_MMR_K - 1}/2 pairs per probe (constant), and everything
    reads the materialized mmr_cands / per-round pick scratch — no new
    corpus work at all."""
    from pyspark.sql import Window as _W

    from lakeview_spark.pipeline.iterative import _kq_sqdist

    mmr = retrieval_mmr_rerank(spark, sf_dir).select("probe_id", "vec_id")
    cands = _mmr_cands(spark, sf_dir)
    wp = _W.partitionBy("probe_id").orderBy("pdist", "vec_id")
    plain = (
        cands.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _MMR_K)
        .select("probe_id", "vec_id")
    )

    def _set_stats(sel, prefix):
        stats = (
            sel.join(cands.select("probe_id", "vec_id", "pdist"), ["probe_id", "vec_id"])
            .groupBy("probe_id")
            .agg(
                F.count("*").cast("bigint").alias(f"{prefix}_n"),
                F.sum("pdist").cast("bigint").alias(f"{prefix}_sum_dist"),
            )
        )
        a = sel.join(
            cands.select("probe_id", "vec_id", F.col("qv").alias("aqv")),
            ["probe_id", "vec_id"],
        ).select("probe_id", F.col("vec_id").alias("a_vec"), "aqv")
        b = sel.join(
            cands.select("probe_id", "vec_id", F.col("qv").alias("bqv")),
            ["probe_id", "vec_id"],
        ).select(F.col("probe_id").alias("b_probe"), F.col("vec_id").alias("b_vec"), "bqv")
        pairs = (
            a.join(
                b,
                (F.col("probe_id") == F.col("b_probe"))
                & (F.col("a_vec") < F.col("b_vec")),
            )
            .select("probe_id", _kq_sqdist("aqv", "bqv", dim=_EMB_DIM).alias("pd"))
            .groupBy("probe_id")
            .agg(
                F.min("pd").cast("bigint").alias(f"{prefix}_min_pair"),
                F.sum("pd").cast("bigint").alias(f"{prefix}_sum_pair"),
            )
        )
        return stats, pairs

    ps, pp = _set_stats(plain, "plain")
    ms, mp = _set_stats(mmr, "mmr")
    return (
        ps.join(ms, "probe_id")
        .join(pp, "probe_id")
        .join(mp, "probe_id")
        .select(
            "probe_id",
            F.col("plain_n").alias("n_sel"),
            "plain_sum_dist",
            "mmr_sum_dist",
            "plain_min_pair",
            "plain_sum_pair",
            "mmr_min_pair",
            "mmr_sum_pair",
            F.when(
                F.col("plain_sum_dist") > 0,
                (F.col("mmr_sum_dist") - F.col("plain_sum_dist")).cast("double")
                / F.col("plain_sum_dist"),
            ).alias("relevance_cost"),
            F.when(
                F.col("plain_min_pair") > 0,
                F.col("mmr_min_pair").cast("double") / F.col("plain_min_pair"),
            ).alias("diversity_gain"),
        )
    )


@register(
    "eval_pq_recall",
    oracle=_PQ_RECALL_SQL.format(base=_PQ_BASE_CTES_MAT, coarse=_IVFPQ_COARSE_CTES),
)
def eval_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search-quality audit, per probe: recall@{_PQ_RECALL_TOP} of
    flat-PQ asymmetric-distance search vs the exact quantized-domain
    top-{_PQ_RECALL_TOP} (the codebook ceiling), PLUS the r10 composed-
    path columns — composed_recall (the multiprobe IVF-PQ search of
    similarity_ann_ivf_pq vs the same exact truth) and ivf_retention
    (the composed top-{_PQ_RECALL_TOP} vs the flat-ADC
    top-{_PQ_RECALL_TOP}: what the scale-adaptive nprobe =
    max({_IVFPQ_NPROBE_MIN}, ceil(k/{_IVFPQ_NPROBE_FRAC})) cluster
    restriction costs relative to scanning every code). All-integer
    distances end-to-end, so this is a hash-exact audit of a lossy
    index; the composed columns ride the SAME shared coarse-index CTE
    block the shipped search uses, so audit and search cannot drift.
    Measured recall-vs-nprobe grids: SCALE.md §8a3 (the r10 sf0.01
    grid — retention 0.89 at k=4/nprobe=3, the shipped config there)
    and §8a3b (the r12 sf1 grid behind the fraction rule).

    Scale shape: probes are a corpus-derived-stride broadcast
    (~{_PQ_PROBE_TARGET} rows of subvectors); the ADC side joins the
    per-doc CODE table (n*{_PQ_M} rows of small ints — the compressed
    index, not the vectors) against the broadcast codebook and probe
    subvectors, then one partial-aggregable (probe, doc) sum; the
    composed restriction is one vec_id equi join to the coarse table
    plus a broadcast (probe, cluster) filter; the per-probe rankings
    are windows bounded by corpus-per-probe, the flat-scan cost this
    audit exists to measure."""
    from pyspark.sql import Window as _W

    from lakeview_spark.pipeline.iterative import _kq_sqdist

    n = corpus_n(spark, sf_dir)
    stride = max(1, n // _PQ_PROBE_TARGET)
    emb = _pq_emb(spark, sf_dir)
    codebook = pq_codebook_df(spark, sf_dir)
    probes = emb.filter((F.col("vec_id") % stride) == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("qv").alias("pqv")
    )
    scored = emb.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("probe_id")
    )
    w = _W.partitionBy("probe_id").orderBy("full_dist", "vec_id")
    truth = (
        scored.select("probe_id", "vec_id", _kq_sqdist("qv", "pqv", dim=_EMB_DIM).alias("full_dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PQ_RECALL_TOP)
        .select("probe_id", "vec_id")
    )
    psubs = probes.select(
        "probe_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), "
                f"m -> struct(m AS m, slice(pqv, m * {_PQ_SUB} + 1, {_PQ_SUB}) AS sv))"
            )
        ).alias("s"),
    ).select("probe_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    adc = (
        pq_codes_materialized(spark, sf_dir)
        .select("vec_id", "m", "codeword")
        .join(F.broadcast(codebook), ["m", "codeword"])
        .join(F.broadcast(psubs), "m")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", _kq_sqdist("sv", "cv", dim=_PQ_SUB).alias("part"))
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("part").alias("adc_dist"))
    )
    # composed path: the flat ADC rows restricted to each probe's
    # nprobe visited clusters — identical distances, smaller candidate
    # set, exactly what similarity_ann_ivf_pq ranks.
    #
    # ONE ADC pass serves both rankings (r14 optimization — the
    # eval_classifier_roc one-pass device): the derived two-top form
    # (pq_top and ctop as separate subtrees, then a pq_top-vs-ctop
    # retention join) replayed the whole n x {_PQ_M} x probes ADC
    # kernel once per reference. Instead every ADC row is tagged
    # in-cluster (a no-fan-out coarse + visited-cluster left join) and
    # ONE window sort yields both ranks: rn = the flat rank, rn_pc =
    # the running count of in-cluster rows in the SAME (adc_dist,
    # vec_id) order — for an in-cluster row that running count IS its
    # row_number among in-cluster rows, so the composed top-K is
    # exactly the old restricted-window top-K. The three per-probe
    # counts then come from one tiny full-outer join of the truth and
    # flag tables — hash-identical output, 3 ADC replays -> 1 (plan
    # diff in plans/r14/, numbers in OPTIMIZATION_r14.md).
    cents, coarse = _ivfpq_coarse_parts(spark, sf_dir, emb)
    pclusters = _ivfpq_pclusters(probes, cents, _nprobe_for(spark, sf_dir)).select(
        F.col("probe_id").alias("pc_probe"), "pcluster"
    )
    wa = _W.partitionBy("probe_id").orderBy("adc_dist", "vec_id")
    run = wa.rowsBetween(_W.unboundedPreceding, _W.currentRow)
    flags = (
        adc.join(coarse, "vec_id")
        .join(
            F.broadcast(pclusters),
            (F.col("probe_id") == F.col("pc_probe"))
            & (F.col("cluster_id") == F.col("pcluster")),
            "left",
        )
        .withColumn("in_pc", F.col("pc_probe").isNotNull())
        .withColumn("rn", F.row_number().over(wa))
        .withColumn(
            "rn_pc",
            F.sum(F.when(F.col("in_pc"), 1).otherwise(0)).over(run),
        )
        .withColumn("is_pq", F.col("rn") <= _PQ_RECALL_TOP)
        .withColumn(
            "is_ct", F.col("in_pc") & (F.col("rn_pc") <= _PQ_RECALL_TOP)
        )
        .filter(F.col("is_pq") | F.col("is_ct"))
        .select("probe_id", "vec_id", "is_pq", "is_ct")
    )
    return (
        truth.withColumn("in_truth", F.lit(True))
        .join(flags, ["probe_id", "vec_id"], "full_outer")
        .groupBy("probe_id")
        .agg(
            F.count(F.when(F.col("in_truth") & F.col("is_pq"), 1)).alias("n_hits"),
            (
                F.count(F.when(F.col("in_truth") & F.col("is_pq"), 1)).cast("double")
                / _PQ_RECALL_TOP
            ).alias("recall"),
            F.count(F.when(F.col("in_truth") & F.col("is_ct"), 1)).alias(
                "composed_hits"
            ),
            (
                F.count(F.when(F.col("in_truth") & F.col("is_ct"), 1)).cast("double")
                / _PQ_RECALL_TOP
            ).alias("composed_recall"),
            F.count(F.when(F.col("is_pq") & F.col("is_ct"), 1)).alias("n_retained"),
            (
                F.count(F.when(F.col("is_pq") & F.col("is_ct"), 1)).cast("double")
                / _PQ_RECALL_TOP
            ).alias("ivf_retention"),
        )
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization: the third index compression next to the LSH
# buckets and the PQ codebooks — per-DIMENSION trained min/max, one
# uint8 code per dimension (faiss's ScalarQuantizer QT_8bit). 4x
# smaller vectors AND integer distance arithmetic; the standard cheap
# compression when PQ's codebook training isn't worth it.
_SQ8_LEVELS = 255
_SQ8_RADIUS = 1 << 16  # neighborhood-crowding radius (integer dist units)


@register(
    "similarity_ann_sq8",
    oracle=f"""
    WITH dims AS (
      SELECT i,
             min(CAST(embedding[i] AS DOUBLE)) AS mn,
             max(CAST(embedding[i] AS DOUBLE)) AS mx
      FROM embeddings, unnest(range(1, 65)) AS t(i)
      GROUP BY i
    ),
    darr AS (
      SELECT list(mn ORDER BY i) AS mns,
             list(CASE WHEN mx = mn THEN 1.0
                       ELSE (mx - mn) / {float(_SQ8_LEVELS)!r} END ORDER BY i) AS ss
      FROM dims
    ),
    coded AS (
      SELECT vec_id, embedding,
             list_transform(range(1, 65), i ->
               least({_SQ8_LEVELS}, greatest(0, CAST(floor(
                 (CAST(embedding[i] AS DOUBLE) - mns[i]) / ss[i]) AS BIGINT)))) AS code
      FROM embeddings, darr
    ),
    stride AS (
      SELECT greatest(count(*) // {ANN_RECALL_PROBES}, 1) AS s FROM embeddings
    ),
    probes AS (
      SELECT vec_id AS probe_id, embedding AS pe, code AS pc
      FROM coded, stride WHERE vec_id % s = 0
    ),
    scored AS (
      SELECT p.probe_id, c.vec_id,
             list_reduce(list_transform(range(1, 65), i ->
               (p.pc[i] - c.code[i]) * (p.pc[i] - c.code[i])),
               (a, b) -> a + b) AS dist,
             list_reduce(list_transform(range(1, 65), i ->
               (CAST(p.pe[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
               * (CAST(p.pe[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))),
               (a, b) -> a + b) AS l2
      FROM probes p, coded c WHERE c.vec_id <> p.probe_id
    ),
    ranked AS (
      SELECT probe_id, vec_id, dist, l2,
             row_number() OVER (PARTITION BY probe_id ORDER BY dist, vec_id) AS rn_i,
             row_number() OVER (PARTITION BY probe_id ORDER BY l2, vec_id) AS rn_f
      FROM scored
    ),
    crowd AS (
      SELECT probe_id, CAST(count(*) FILTER (dist <= {_SQ8_RADIUS}) AS BIGINT) AS n_within_r
      FROM scored GROUP BY probe_id
    )
    SELECT i.probe_id, i.vec_id AS nn_id, i.dist AS nn_dist,
           f.vec_id AS exact_nn_id,
           CAST(CASE WHEN i.vec_id = f.vec_id THEN 1 ELSE 0 END AS BIGINT)
             AS top1_match,
           c.n_within_r
    FROM ranked i
    JOIN ranked f ON f.probe_id = i.probe_id AND f.rn_f = 1
    JOIN crowd c ON c.probe_id = i.probe_id
    WHERE i.rn_i = 1
    """,
)
def similarity_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized nearest neighbor with an honest recall@1
    audit: per-dimension min/max trained over the corpus, every vector
    coded as 64 dimensions of 256 uint8 levels each, probe queries
    scan the CODED corpus with
    EXACT INTEGER squared distances, and the float-exact L2 top-1 runs
    alongside so `top1_match` reports whether 8-bit quantization kept
    the answer. `n_within_r` is the integer-radius neighborhood count —
    the crowding telemetry that says whether recall losses are tie
    collapses (dense ball) or real.

    Determinism: dimension min/max of float32 values are exact doubles;
    scale/code are one division + one floor each (correctly rounded,
    identical both engines; a flat dimension gets scale 1.0 and code
    0); code distances are pure BIGINT; the float L2 is the same
    explicit left fold as every other embedding kernel here. Both
    argmins are partial-aggregable struct-mins with vec_id tiebreaks.

    Scale shape: the trainer is one posexplode + 64-group partial agg
    collapsed to a 1-row broadcast of two 64-float arrays; coding is a
    narrow map; the probe scan is the fixed-size probe broadcast (same
    device as eval_ann_recall) against a single pass over the coded
    corpus — map-side struct-min argmins, no sort, no exchange of
    scored rows."""
    emb = t(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("pos", "x")).groupBy(
        "pos"
    ).agg(
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
    )
    darr = dims.agg(
        F.sort_array(F.collect_list(F.struct("pos", "mn", "mx"))).alias("d")
    ).select(
        F.transform("d", lambda s: s.mn).alias("mns"),
        F.transform(
            "d",
            lambda s: F.when(s.mx == s.mn, F.lit(1.0)).otherwise(
                (s.mx - s.mn) / F.lit(float(_SQ8_LEVELS))
            ),
        ).alias("ss"),
    )
    coded = emb.crossJoin(F.broadcast(darr)).select(
        "vec_id",
        "embedding",
        F.zip_with(
            F.zip_with(
                F.col("embedding"), F.col("mns"), lambda x, m: x.cast("double") - m
            ),
            F.col("ss"),
            lambda v, s: F.least(
                F.lit(_SQ8_LEVELS).cast("bigint"),
                F.greatest(F.lit(0).cast("bigint"), F.floor(v / s)),
            ),
        ).alias("code"),
    )
    stride = max(1, corpus_n(spark, sf_dir) // ANN_RECALL_PROBES)
    probes = coded.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        F.col("code").alias("pc"),
    )
    # unrolled pair kernels (r14, the _dot/_kq_sqdist device): the
    # interpreted folds ran once per (probe, vector) pair
    from lakeview_spark.pipeline.iterative import _kq_sqdist

    idist = _kq_sqdist("pc", "code", dim=_EMB_DIM)
    l2 = _l2sq("pe", "embedding")
    scored = (
        coded.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            idist.alias("dist"),
            l2.alias("l2"),
        )
    )
    agg = scored.groupBy("probe_id").agg(
        F.min(F.struct("dist", "vec_id")).alias("si"),
        F.min(F.struct("l2", "vec_id")).alias("sf"),
        F.sum(
            F.when(F.col("dist") <= _SQ8_RADIUS, F.lit(1)).otherwise(F.lit(0))
        ).cast("bigint").alias("n_within_r"),
    )
    return agg.select(
        "probe_id",
        F.col("si.vec_id").alias("nn_id"),
        F.col("si.dist").alias("nn_dist"),
        F.col("sf.vec_id").alias("exact_nn_id"),
        F.when(F.col("si.vec_id") == F.col("sf.vec_id"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("top1_match"),
        "n_within_r",
    )


# ---------------------------------------------------------------------------
# k-core peeling over the kNN graph: the density complement of the
# components/PageRank/LPA trio. A vertex is in the k-core iff it keeps
# >= k neighbors after everything with < k neighbors is repeatedly
# removed — the standard "dense hub vs fringe" split (Seidman 1983)
# used to pick near-dup cluster EXEMPLARS (core member survives, fringe
# re-crawls). Like the other iterative walks here, the peeling is pure
# integer arithmetic (degrees), so 3 unrolled rounds replay bit-for-bit
# in a DuckDB unrolled-CTE oracle.
_KCORE_K = 4
_KCORE_ROUNDS = 3

_KCORE_SYM = """
    sym AS (
      SELECT src, dst FROM knn
      UNION
      SELECT dst AS src, src AS dst FROM knn
    )
"""


def _kcore_round_sql(i: int) -> str:
    prev = "sym" if i == 1 else f"e{i - 1}"
    return f"""
    d{i} AS (SELECT src, count(*) AS d FROM {prev} GROUP BY src),
    a{i} AS (SELECT src AS v FROM d{i} WHERE d >= {_KCORE_K}),
    e{i} AS (
      SELECT s.src, s.dst FROM {prev} s
      JOIN a{i} x ON s.src = x.v JOIN a{i} y ON s.dst = y.v
    )"""


@register(
    "graph_kcore",
    oracle=f"""
    {_KNN_GRAPH_CTE},
    {_KCORE_SYM},
    {",".join(_kcore_round_sql(i) for i in range(1, _KCORE_ROUNDS + 1))},
    dfin AS (SELECT src, count(*) AS d FROM e{_KCORE_ROUNDS} GROUP BY src)
    SELECT e.vec_id,
           CAST(coalesce(d1.d, 0) AS BIGINT) AS degree0,
           CAST(CASE WHEN x1.v IS NULL THEN 1
                     WHEN x2.v IS NULL THEN 2
                     WHEN x3.v IS NULL THEN 3
                     ELSE 0 END AS BIGINT) AS peel_layer,
           CAST(coalesce(dfin.d, 0) AS BIGINT) AS core_degree
    FROM embeddings e
    LEFT JOIN d1 ON d1.src = e.vec_id
    LEFT JOIN a1 x1 ON x1.v = e.vec_id
    LEFT JOIN a2 x2 ON x2.v = e.vec_id
    LEFT JOIN a3 x3 ON x3.v = e.vec_id
    LEFT JOIN dfin ON dfin.src = e.vec_id
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion peeling toward the 4-core, 3 unrolled rounds over the
    symmetrized kNN graph (section comment above). Per vector:
    undirected degree, the PEEL LAYER — the round the vertex fell out
    (1 = fringe, peeled immediately; higher = held on through
    neighbors; 0 = survived all rounds, i.e. the core) — and its
    degree inside the surviving subgraph. The layer is the useful
    artifact even when the core is empty (this kNN graph at k=3 has
    no 4-core — peeling cascades — but the layer
    ordering still ranks exemplar density, which is what the near-dup
    exemplar pick reads).

    Scale shape: per round, TWO equi joins of the (shrinking) edge set
    against the alive-vertex table plus one partial-aggregable degree
    count — the same per-iteration cost class as PageRank/LPA over the
    same materialized edge scratch; the edge set only ever shrinks, and
    no state collects to the driver."""
    # the peel chain references each round's survivor set twice (degree
    # recount + edge restriction), so a purely derived plan duplicates
    # every earlier round's subtree EXPONENTIALLY — the plan audit read
    # 41 BHJ / 82 exchanges for the derived form. Same cure as the LPA
    # walk (_lpa_labels): materialize each round's tiny survivor table
    # and the final per-vertex result; the registered query then plans
    # as one scratch scan (audited: 0 joins).
    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        edges = similarity_knn_graph(spark, sf_dir).select("src", "dst")
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        deg1 = None
        alives = []
        cur = sym
        for i in range(1, _KCORE_ROUNDS + 1):
            deg = cur.groupBy("src").agg(F.count("*").alias("d"))
            if i == 1:
                deg1 = deg
            alive = materialized(
                spark,
                f"kcore_alive{i}",
                sf_dir,
                lambda _s, _d, deg=deg, i=i: deg.filter(
                    F.col("d") >= _KCORE_K
                ).select(F.col("src").alias(f"v{i}")),
            )
            alives.append(alive)
            cur = (
                sym.join(alive.withColumnRenamed(f"v{i}", "src"), "src")
                .join(alive.select(F.col(f"v{i}").alias("dst")), "dst")
                .select("src", "dst")
            )
        dfin = cur.groupBy("src").agg(F.count("*").alias("dfin"))
        emb = t(spark, sf_dir, "embeddings").select("vec_id")
        out = emb.join(deg1, emb.vec_id == deg1.src, "left").drop("src")
        for i, alive in enumerate(alives, 1):
            out = out.join(alive, out.vec_id == alive[f"v{i}"], "left")
        layer = (
            F.when(F.col("v1").isNull(), 1)
            .when(F.col("v2").isNull(), 2)
            .when(F.col("v3").isNull(), 3)
            .otherwise(0)
        )
        return out.join(dfin, out.vec_id == dfin.src, "left").select(
            "vec_id",
            F.coalesce("d", F.lit(0)).cast("bigint").alias("degree0"),
            layer.cast("bigint").alias("peel_layer"),
            F.coalesce("dfin", F.lit(0)).cast("bigint").alias("core_degree"),
        )

    return materialized(spark, "kcore_peel", sf_dir, _build)


# ---------------------------------------------------------------------------
# IVF-PQ nprobe sweep: the recall-vs-cost tuning curve, oracle-checked
# (grid = _nprobe_grid(np_max), the quartiles of the shipped
# scale-adaptive nprobe — (1, 2, 3) at the driver scales)
# ---------------------------------------------------------------------------
_NPROBE_SWEEP_SQL = f"""
    WITH {_PQ_BASE_CTES_MAT},
    probes AS (
      SELECT vec_id AS probe_id, qv AS pqv FROM q
      WHERE vec_id % ({_PQ_STRIDE_SQL}) = 0
    ),
    {_IVFPQ_COARSE_CTES},
    truth AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, e.vec_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY {_PQ_FULL_DIST_SQL} ASC, e.vec_id) AS rn
        FROM probes p, q e WHERE e.vec_id <> p.probe_id)
      WHERE rn <= {_PQ_RECALL_TOP}
    ),
    psubs AS (
      SELECT p.probe_id, pc.pcluster, pc.crank, g.m,
             list_slice(p.pqv, g.m * {_PQ_SUB} + 1, g.m * {_PQ_SUB} + {_PQ_SUB}) AS sv
      FROM probes p JOIN pclusters pc USING (probe_id),
           (SELECT unnest(range(0, {_PQ_M})) AS m) g
    ),
    adc AS (
      SELECT probe_id, vec_id,
             CAST(min(crank) AS BIGINT) AS crank,
             CAST(sum(part) AS BIGINT) AS adc_dist
      FROM (
        SELECT ps.probe_id, a.vec_id, ps.crank,
               CAST({_PQ_ADC_PART_SQL} AS BIGINT) AS part
        FROM psubs ps
        JOIN assigned a ON a.m = ps.m
        JOIN coarse ca ON ca.vec_id = a.vec_id AND ca.cluster_id = ps.pcluster
        JOIN codebook cb ON cb.m = a.m AND cb.codeword = a.codeword
        WHERE a.vec_id <> ps.probe_id)
      GROUP BY probe_id, vec_id
    ),
    grid AS (SELECT DISTINCT CAST((npv.npv * i.i + 3) // 4 AS BIGINT) AS np
             FROM (SELECT ({_IVFPQ_NPROBE_SQL}) AS npv) npv,
                  (SELECT unnest([1, 2, 3, 4]) AS i) i),
    swept AS (
      SELECT g.np, probe_id, vec_id, adc_dist FROM adc, grid g
      WHERE crank <= g.np
    ),
    ranked AS (
      SELECT np, probe_id, vec_id FROM (
        SELECT np, probe_id, vec_id,
               row_number() OVER (PARTITION BY np, probe_id
                                  ORDER BY adc_dist ASC, vec_id) AS rn
        FROM swept) WHERE rn <= {_PQ_RECALL_TOP}
    ),
    cands AS (
      SELECT np, CAST(count(*) AS BIGINT) AS total_candidates
      FROM swept GROUP BY np
    ),
    nprobes AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM probes),
    hits AS (
      SELECT r.np, CAST(count(*) AS BIGINT) AS total_hits
      FROM ranked r
      JOIN truth t ON t.probe_id = r.probe_id AND t.vec_id = r.vec_id
      GROUP BY r.np
    )
    SELECT g.np AS nprobe, n_probes,
           CAST(coalesce(c.total_candidates, 0) AS BIGINT) AS total_candidates,
           CAST(coalesce(h.total_hits, 0) AS BIGINT) AS total_hits,
           CASE WHEN n_probes > 0
                THEN CAST(coalesce(h.total_hits, 0) AS DOUBLE)
                     / (n_probes * {_PQ_RECALL_TOP}) END AS mean_recall
    FROM grid g CROSS JOIN nprobes
    LEFT JOIN cands c ON c.np = g.np
    LEFT JOIN hits h ON h.np = g.np
"""


@register("eval_ivfpq_nprobe_sweep", oracle=_NPROBE_SWEEP_SQL)
def eval_ivfpq_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ recall-vs-cost TUNING CURVE, oracle-checked: composed
    recall@{_PQ_RECALL_TOP} against the exact quantized truth AND the
    candidate count actually scanned, at the QUARTILES of the shipped
    scale-adaptive nprobe (_nprobe_grid — at the driver scales this is
    the historical 1/2/3 grid) — the two columns an index tuner trades
    against each other. SCALE.md §8a3's grid was driver-measured; this
    makes the sweep a registered, hash-checked artifact.

    ONE search pass serves every sweep point: the ADC ranking runs
    once at the shipped nprobe with each candidate tagged by the
    RANK of the visited cluster that admitted it (a candidate's single
    coarse id matches at most one visited cluster, so min(crank) is
    exact), and smaller sweep points are crank-prefix restrictions of
    that one candidate pool — never a re-search. The pool widens
    through a <= 4-row grid explode, windows rank per
    (np, probe) over visited-cluster occupancy.

    Scale shape: identical to similarity_ann_ivf_pq (materialized
    pq_codes/ivfpq_coarse scratch, broadcast codebook/probe sides,
    partial-aggregable ADC sums) plus the exact-truth scan
    eval_rq_recall already pays — the flat probes x corpus cost the
    audit exists to measure."""
    from pyspark.sql import Window as _W

    from lakeview_spark.pipeline.iterative import _kq_sqdist

    n = corpus_n(spark, sf_dir)
    stride = max(1, n // _PQ_PROBE_TARGET)
    emb = _pq_emb(spark, sf_dir)
    cents, coarse = _ivfpq_coarse_parts(spark, sf_dir, emb)
    probes = emb.filter((F.col("vec_id") % stride) == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("qv").alias("pqv")
    )
    scored = emb.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("probe_id")
    )
    wt = _W.partitionBy("probe_id").orderBy("full_dist", "vec_id")
    truth = (
        scored.select(
            "probe_id", "vec_id", _kq_sqdist("qv", "pqv", dim=_EMB_DIM).alias("full_dist")
        )
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= _PQ_RECALL_TOP)
        .select(F.col("probe_id").alias("t_probe"), F.col("vec_id").alias("t_vec"))
    )
    np_max = _nprobe_for(spark, sf_dir)
    grid_points = _nprobe_grid(np_max)
    pclusters = _ivfpq_pclusters(probes, cents, np_max)
    psubs = (
        probes.join(pclusters, "probe_id")
        .select(
            "probe_id",
            "pcluster",
            "crank",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {_PQ_M - 1}), "
                    f"m -> struct(m AS m, slice(pqv, m * {_PQ_SUB} + 1, {_PQ_SUB}) AS sv))"
                )
            ).alias("s"),
        )
        .select(
            "probe_id",
            "pcluster",
            "crank",
            F.col("s.m").alias("pm"),
            F.col("s.sv").alias("sv"),
        )
    )
    codebook = pq_codebook_df(spark, sf_dir)
    cand = (
        pq_codes_materialized(spark, sf_dir)
        .select("vec_id", "m", "codeword")
        .join(coarse, "vec_id")
    )
    adc = (
        cand.join(F.broadcast(codebook), ["m", "codeword"])
        .join(
            F.broadcast(psubs),
            (F.col("m") == F.col("pm")) & (F.col("cluster_id") == F.col("pcluster")),
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", "crank", _kq_sqdist("sv", "cv", dim=_PQ_SUB).alias("part"))
        .groupBy("probe_id", "vec_id")
        .agg(
            F.min("crank").cast("bigint").alias("crank"),
            F.sum("part").cast("bigint").alias("adc_dist"),
        )
    )
    swept = adc.withColumn(
        "np",
        F.explode(F.array(*[F.lit(p).cast("bigint") for p in grid_points])),
    ).filter(F.col("crank") <= F.col("np"))
    wr = _W.partitionBy("np", "probe_id").orderBy("adc_dist", "vec_id")
    ranked = (
        swept.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _PQ_RECALL_TOP)
        .select("np", "probe_id", "vec_id")
    )
    nprobes = probes.agg(F.count("*").cast("bigint").alias("n_probes"))
    cands = swept.groupBy("np").agg(
        F.count("*").cast("bigint").alias("total_candidates")
    )
    hits = (
        ranked.join(
            truth,
            (F.col("probe_id") == F.col("t_probe"))
            & (F.col("vec_id") == F.col("t_vec")),
        )
        .groupBy("np")
        .agg(F.count("*").cast("bigint").alias("total_hits"))
    )
    grid = spark.createDataFrame([(int(p),) for p in grid_points], "np bigint")
    return (
        grid.crossJoin(F.broadcast(nprobes))
        .join(cands, "np", "left")
        .join(hits, "np", "left")
        .select(
            F.col("np").alias("nprobe"),
            "n_probes",
            F.coalesce("total_candidates", F.lit(0)).cast("bigint").alias(
                "total_candidates"
            ),
            F.coalesce("total_hits", F.lit(0)).cast("bigint").alias("total_hits"),
            F.when(
                F.col("n_probes") > 0,
                F.coalesce("total_hits", F.lit(0)).cast("double")
                / (F.col("n_probes") * _PQ_RECALL_TOP),
            ).alias("mean_recall"),
        )
    )


# ---------------------------------------------------------------------------
# Graph-based ANN: greedy beam search over a navigable graph (r13)
# ---------------------------------------------------------------------------
#
# The one ANN family the line-up lacked (LSH buckets, IVF, PQ, RQ, SQ8
# are all partition/quantization methods): GRAPH search, the
# HNSW/NSG-style approach that is the modern default for high-recall
# ANN (Malkov & Yashunin 2016, HNSW; Malkov et al. 2014, NSW).
# The navigable graph has bounded out-degree everywhere and is
# metrically ORGANIZED at every range (the property that makes greedy
# routing work — a first cut with a vec_id binary-tree backbone
# measured recall@10 = 0.30 because tree neighbors are metrically
# random; the hub design below replaced it):
#
#   local   — per vector, its top-_GANN_K neighbors by EXACT integer
#             distance among the Hamming<=1 multiprobe buckets (the
#             similarity_ann_multiprobe candidate device — a bucket-
#             restricted 2.3M-pair scored join at sf0.01, bounded by
#             (planes+1) x bucket-occupancy per vector at any scale;
#             the shipped bucket-kNN graph was tried first and capped
#             recall at ~0.3: its edges never cross bucket boundaries,
#             so the beam could not follow the metric gradient), PLUS
#             reverse-local links capped at _GANN_REV per source (the
#             NSW undirected convention: without reverse links the
#             beam strands in directed sinks);
#   up      — every vector -> its coarse cluster's HUB (the cluster's
#             min-vec_id member; clusters are the trained IVF coarse
#             quantizer the PQ family already ships);
#   down    — every hub -> its cluster's {_GANN_DOWN} members nearest
#             the hub (the descent pointers);
#   mesh    — every hub -> its {_GANN_MESH} nearest OTHER hubs (the
#             HNSW upper layer: O(log k) metric hops between regions).
#
# Search: per probe, {_GANN_ROUNDS} rounds of
#   beam_r = top-{_GANN_BEAM} by (exact integer dist, vec_id) of
#            beam_(r-1) UNION neighbors(beam_(r-1))
# starting from the two smallest hub ids — monotone (the beam
# re-enters its own candidate set, so rank-1 distance never worsens),
# deterministic (integer distances + vec_id tiebreaks throughout), and
# a fixed point once no neighbor improves the beam, so the unrolled
# DuckDB oracle replays it exactly.
#
# Scale shape: the graph is ONE materialized scratch table with
# STRUCTURAL out-degree <= _GANN_K (local) + _GANN_REV (reverse-local)
# + 1 (up) + _GANN_DOWN + _GANN_MESH, plus — for the 1/_GANN_L1
# id-stride sparse-layer nodes only — 2 * _GANN_K more (capped forward
# AND capped reversed long links; the reversed side is ranked per
# TARGET so a metrically central stride node cannot accumulate
# unbounded long-link fan-out at large SF — r13 advice). Each search
# round is a tiny-broadcast join (the beam is probes x ef rows)
# against that scratch plus one qv lookup per new candidate — the
# refine-stage point-lookup economics. Rounds materialize (the
# graph_kcore device: round r references round r-1 twice — the carry
# and the expansion). Per-probe per-round candidate state is
# <= ef x (out-degree + 1) rows, bounded.
#
# Rerank (r14, VERDICT r13 next-1): greedy beam recall collapsed at
# scale NOT because navigation misses the right region — per-round
# diagnostics showed the beam converging INTO the true neighborhood by
# round 3 — but because discriminating the exact top-10 among hundreds
# of near-equidistant neighbors needs ef ~ cluster occupancy (measured
# recall ~ ef/occupancy on a clustered 60k corpus: 0.46 at ef~120 over
# ~600-member clusters; SCALE.md §8a9). The fix is the refined-IVF-PQ
# device applied graph-side: a CLUSTER-LOCAL EXACT RERANK — take the
# coarse clusters of every KEPT beam member (rn <= ef — the regions
# the graph routed to), exact-score ALL their members plus every beam
# candidate, and emit the reranked top-k. Per probe that is <= ef
# distinct clusters x occupancy (~_CLUSTER_TARGET by the _k_for_n
# sizing rule) extra integer distances — point-lookup economics, not
# a corpus scan (at n=1e9, ef~240 -> ~30k lookups/probe; the _K_MAX
# clamp inflating occupancy past n~5e5 is the IVF family's documented
# caveat — production raises the clamp or goes hierarchical-coarse).
# Measured (r14): recall@10 0.50 -> 1.00 at sf1 and 0.46 -> 0.99 on
# the clustered 60k corpus, wall unchanged (the build dominates) —
# this is the DiskANN/SPANN shape: graph routing picks the regions,
# exact distances from stored vectors decide the final order.
_GANN_BEAM = 10  # output top-k (and the recall@k denominator)
# Search beam width ef is SCALE-ADAPTIVE: max(16, 4 * floor(log2 n)) via
# the exact bitlength device (length(bin(n)) - 1 in both engines) — a
# FIXED ef=16 measured recall 0.78 at sf0.01 but the beam converged to
# a local minimum by round 3 at sf1 (recall 0.13): greedy beam search
# explores ~ef x degree candidates total, and HNSW theory (and the r12
# nprobe lesson) says the frontier must grow ~log n to hold recall.
# ef: 96 at sf0.01 (6k vectors), 120 at sf0.1, 152 at sf1, ~264 at 1e10
# (mult 4 measured sf1 recall 0.38, mult 8 -> 0.50 at the same wall
# cost — the build dominates; the shipped point sits where the
# recall-per-ef slope flattens).
_GANN_EF_MIN = 16
_GANN_EF_LOG_MULT = 8
# (application id, dataset path, dataset fingerprint, search prefix)
# -> the round at which the beam's kept set reached its fixed point
# (the r14 early exit in _beam_search); bounded like the other driver
# caches
_BEAM_STOP_ROUND: dict[tuple[str, str, str, str], int] = {}
_GANN_ROUNDS = 12
_GANN_K = 6  # local links: top-K by exact integer distance, Hamming<=1 buckets
_GANN_L1 = 16  # sparse-layer stride: long links among vec_id % 16 == 0 nodes
_GANN_REV = 8  # reverse-local cap per source
_GANN_DOWN = 8  # hub -> nearest-member descent pointers
_GANN_MESH = 8  # hub -> nearest-hub mesh links
# cluster-local exact rerank (section comment above): clusters are
# sourced from EVERY kept beam member (rn <= ef) — the r14 width grid
# at sf1 read recall 0.62/0.70/0.80/1.00 for top-16/32/96/kept-beam
# sources at identical wall (the index build dominates), so the
# scale-adaptive ef is the one knob and the rerank inherits it.
# beam0 = the probe's _GANN_EF nearest HUBS (exact coarse routing — the
# pclusters shape: a per-probe rank over the k broadcast-scale hubs,
# never the corpus). A fixed 2-hub entry measured recall 0.78 at
# sf0.01 but COLLAPSED to 0.34/0.16 at sf0.1/sf1 (the r12 nprobe
# lesson replayed: fixed routing constants break at 10x) — routing
# depth must not grow with corpus size, so the upper layer is done
# exactly and the graph rounds refine locally.

_GANN_HUB_DIST_SQL = (
    "list_sum(list_transform(range(1, len(e.qv)+1), "
    "i -> (e.qv[i]-h.hqv[i])*(e.qv[i]-h.hqv[i])))"
)
_GANN_MESH_DIST_SQL = (
    "list_sum(list_transform(range(1, len(a.hqv)+1), "
    "i -> (a.hqv[i]-b.hqv[i])*(a.hqv[i]-b.hqv[i])))"
)

_GANN_LPAIR_DIST_SQL = (
    "list_sum(list_transform(range(1, len(ea.qv)+1), "
    "i -> (ea.qv[i]-eb.qv[i])*(ea.qv[i]-eb.qv[i])))"
)

_GANN_EDGES_SQL = f"""
    hubs AS (
      SELECT cluster_id, CAST(min(vec_id) AS BIGINT) AS hub
      FROM coarse GROUP BY cluster_id
    ),
    hubq AS (
      SELECT h.cluster_id, h.hub, e.qv AS hqv
      FROM hubs h JOIN q e ON e.vec_id = h.hub
    ),
    gmp AS (
      SELECT vec_id, bucket AS pb FROM bucketed
      UNION ALL
      SELECT b.vec_id, xor(b.bucket, 1 << (p.plane_id - 1)) AS pb
      FROM bucketed b, planes p
    ),
    glp AS MATERIALIZED (
      SELECT m.vec_id AS src, b.vec_id AS dst,
             CAST({_GANN_LPAIR_DIST_SQL} AS BIGINT) AS ldist
      FROM gmp m
      JOIN bucketed b ON b.bucket = m.pb AND b.vec_id <> m.vec_id
      JOIN q ea ON ea.vec_id = m.vec_id
      JOIN q eb ON eb.vec_id = b.vec_id
    ),
    glocal AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY ldist, dst) AS rn
        FROM glp)
      WHERE rn <= {_GANN_K}
    ),
    glongb AS (
      SELECT src, dst, ldist FROM (
        SELECT src, dst, ldist,
               row_number() OVER (PARTITION BY src
                                  ORDER BY ldist, dst) AS rn
        FROM glp
        WHERE src % {_GANN_L1} = 0 AND dst % {_GANN_L1} = 0)
      WHERE rn <= {_GANN_K}
    ),
    glong AS (SELECT src, dst FROM glongb),
    glongr AS (
      SELECT dst AS src, src AS dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY dst
                                  ORDER BY ldist, src) AS rn
        FROM glongb)
      WHERE rn <= {_GANN_K}
    ),
    grev AS (
      SELECT src, dst FROM (
        SELECT p.dst AS src, p.src AS dst,
               row_number() OVER (PARTITION BY p.dst
                                  ORDER BY p.ldist, p.src) AS rn
        FROM glp p)
      WHERE rn <= {_GANN_REV}
    ),
    gup AS (
      SELECT c.vec_id AS src, h.hub AS dst
      FROM coarse c JOIN hubs h USING (cluster_id)
      WHERE c.vec_id <> h.hub
    ),
    gdown AS (
      SELECT hub AS src, vec_id AS dst FROM (
        SELECT h.hub, c.vec_id,
               row_number() OVER (PARTITION BY h.cluster_id
                                  ORDER BY {_GANN_HUB_DIST_SQL} ASC, c.vec_id) AS rn
        FROM coarse c
        JOIN hubq h USING (cluster_id)
        JOIN q e ON e.vec_id = c.vec_id
        WHERE c.vec_id <> h.hub)
      WHERE rn <= {_GANN_DOWN}
    ),
    gmesh AS (
      SELECT src, dst FROM (
        SELECT a.hub AS src, b.hub AS dst,
               row_number() OVER (PARTITION BY a.hub
                                  ORDER BY {_GANN_MESH_DIST_SQL} ASC, b.hub) AS rn
        FROM hubq a JOIN hubq b ON a.hub <> b.hub)
      WHERE rn <= {_GANN_MESH}
    ),
    gedges AS (
      SELECT src, dst FROM glocal
      UNION SELECT src, dst FROM glong
      UNION SELECT src, dst FROM glongr
      UNION SELECT src, dst FROM grev
      UNION SELECT src, dst FROM gup
      UNION SELECT src, dst FROM gdown
      UNION SELECT src, dst FROM gmesh
    ),
    gentry AS (
      SELECT probe_id, hub FROM (
        SELECT p.probe_id, h.hub,
               row_number() OVER (PARTITION BY p.probe_id
                 ORDER BY list_sum(list_transform(range(1, len(p.pqv)+1),
                          i -> (p.pqv[i]-h.hqv[i])*(p.pqv[i]-h.hqv[i]))) ASC,
                          h.hub) AS rn
        FROM probes p, hubq h
        WHERE h.hub <> p.probe_id)
      WHERE rn <= (SELECT ef FROM efc)
    )
"""


def _gann_round_sql(
    r: int, prefix: str = "gb", edges: str = "gedges", qtab: str = "q"
) -> str:
    """One unrolled beam round (AS MATERIALIZED — referenced by the
    next round twice, the eval_rq_recall lesson). Parameterized (r14)
    so the upsert search replays over the augmented edge set and the
    FULL-corpus vector table without duplicating the template."""
    return f"""{prefix}{r} AS MATERIALIZED (
      SELECT probe_id, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY probe_id
                                     ORDER BY dist, vec_id) AS BIGINT) AS rn
      FROM (
        SELECT c.probe_id, c.vec_id,
               CAST({_PQ_FULL_DIST_SQL} AS BIGINT) AS dist
        FROM (
          SELECT DISTINCT probe_id, vec_id FROM (
            SELECT probe_id, vec_id FROM {prefix}{r - 1} WHERE rn <= (SELECT ef FROM efc)
            UNION ALL
            SELECT b.probe_id, g.dst AS vec_id
            FROM {prefix}{r - 1} b JOIN {edges} g ON g.src = b.vec_id
            WHERE b.rn <= (SELECT ef FROM efc)
          ) WHERE vec_id <> probe_id
        ) c
        JOIN {qtab} e ON e.vec_id = c.vec_id
        JOIN probes p ON p.probe_id = c.probe_id
      )
    )"""


def _gann_rerank_sql(
    prefix: str = "gb",
    qtab: str = "q",
    src: str = "gsrc",
    out: str = "gfinal",
) -> str:
    """The cluster-local exact rerank (section comment above): coarse
    clusters of every kept final-beam member (rn <= ef), all their
    members unioned with every beam candidate, exact-scored and
    re-ranked — the refined-IVF-PQ device graph-side. Parameterized
    (r14) like the round template."""
    r = _GANN_ROUNDS
    return f"""{src} AS (
      SELECT DISTINCT b.probe_id, c.cluster_id
      FROM {prefix}{r} b JOIN coarse c ON c.vec_id = b.vec_id
      WHERE b.rn <= (SELECT ef FROM efc)
    ),
    {out} AS MATERIALIZED (
      SELECT probe_id, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY probe_id
                                     ORDER BY dist, vec_id) AS BIGINT) AS rn
      FROM (
        SELECT c.probe_id, c.vec_id,
               CAST({_PQ_FULL_DIST_SQL} AS BIGINT) AS dist
        FROM (
          SELECT DISTINCT probe_id, vec_id FROM (
            SELECT probe_id, vec_id FROM {prefix}{r}
            UNION ALL
            SELECT s.probe_id, m.vec_id
            FROM {src} s JOIN coarse m USING (cluster_id)
          ) WHERE vec_id <> probe_id
        ) c
        JOIN {qtab} e ON e.vec_id = c.vec_id
        JOIN probes p ON p.probe_id = c.probe_id
      )
    )"""


def _gann_oracle_ctes() -> str:
    rounds = ",\n    ".join(_gann_round_sql(r) for r in range(1, _GANN_ROUNDS + 1))
    return f"""{_KNN_GRAPH_CTE},
    q AS (SELECT vec_id, {_PQ_QUANT_SQL} AS qv FROM embeddings),
    efc AS (
      SELECT GREATEST({_GANN_EF_MIN},
                      {_GANN_EF_LOG_MULT} *
                      (length(printf('%b', CAST(count(*) AS BIGINT))) - 1)) AS ef
      FROM embeddings
    ),
    probes AS (
      SELECT vec_id AS probe_id, qv AS pqv FROM q
      WHERE vec_id % ({_PQ_STRIDE_SQL}) = 0
    ),
    {_IVFPQ_COARSE_CTES},
    {_GANN_EDGES_SQL},
    gb0 AS MATERIALIZED (
      SELECT probe_id, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY probe_id
                                     ORDER BY dist, vec_id) AS BIGINT) AS rn
      FROM (
        SELECT p.probe_id, e.vec_id,
               CAST({_PQ_FULL_DIST_SQL} AS BIGINT) AS dist
        FROM gentry g
        JOIN probes p ON p.probe_id = g.probe_id
        JOIN q e ON e.vec_id = g.hub
      )
    ),
    {rounds},
    {_gann_rerank_sql()}"""


def _gann_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The navigable graph's edge builder (section comment above):
    capped local + up/down/mesh hub links, union-distinct."""
    from pyspark.sql import Window as _W

    from lakeview_spark.operators.materialize import materialized
    from lakeview_spark.pipeline.iterative import _kq_sqdist

    emb = _pq_emb_m(spark, sf_dir)

    def _glp_build(s_, d_):
        # the multiprobe candidate-pair frame (Hamming<=1 bucket
        # collisions, exact integer distances) — referenced by THREE
        # link families below (local, long/sparse-layer, reversed);
        # lazily it replayed the pair join + distance fold per
        # reference (the k-core replay rule, guide §2.1)
        n_planes = len(_plane_vectors(s_, d_))
        bk_ = _lsh_bucketed(s_, d_).select("vec_id", "bucket")
        mp = bk_.select(
            "vec_id",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << i))
                        for i in range(n_planes)
                    ],
                )
            ).alias("pb"),
        )
        a_ = mp.join(emb.select(F.col("vec_id"), F.col("qv").alias("qa")), "vec_id")
        bqe = bk_.join(
            emb.select(F.col("vec_id").alias("dst"), F.col("qv").alias("qb")),
            bk_.vec_id == F.col("dst"),
        ).select("dst", F.col("bucket").alias("db"), "qb")
        return a_.join(
            bqe, (F.col("pb") == F.col("db")) & (F.col("vec_id") != F.col("dst"))
        ).select(
            F.col("vec_id").alias("src"),
            "dst",
            _kq_sqdist("qa", "qb", dim=_EMB_DIM).alias("ldist"),
        )

    glp = materialized(spark, "gann_glp", sf_dir, _glp_build)
    wloc = _W.partitionBy("src").orderBy("ldist", "dst")
    glocal = (
        glp.withColumn("rn", F.row_number().over(wloc))
        .filter(F.col("rn") <= _GANN_K)
        .select("src", "dst")
    )
    # the sparse layer (HNSW upper-level analog): long-range links
    # among the 1/_GANN_L1 id-stride subset, ranked from the SAME
    # multiprobe pair pool — the multiprobe neighborhood is 16x
    # longer-range at the same bucket occupancy because the subset is
    # 16x sparser, and planes already scale with n, so the link length
    # adapts automatically. Undirected (both directions unioned).
    glongb = (
        glp.filter(
            (F.col("src") % _GANN_L1 == 0) & (F.col("dst") % _GANN_L1 == 0)
        )
        .withColumn("rn", F.row_number().over(wloc))
        .filter(F.col("rn") <= _GANN_K)
        .select("src", "dst", "ldist")
    )
    glong = glongb.select("src", "dst")
    # reversed long links capped per TARGET (r13 advice: uncapped, a
    # metrically central stride node's long-link in-degree — and so
    # its reversed out-fan — grows with the corpus)
    wlr = _W.partitionBy("dst").orderBy("ldist", "src")
    glongr = (
        glongb.withColumn("rn2", F.row_number().over(wlr))
        .filter(F.col("rn2") <= _GANN_K)
        .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    wrev = _W.partitionBy("dst").orderBy("ldist", "src")
    rev = (
        glp.withColumn("rn", F.row_number().over(wrev))
        .filter(F.col("rn") <= _GANN_REV)
        .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    _cents, coarse = _ivfpq_coarse_parts(spark, sf_dir, emb)
    hubs = coarse.groupBy("cluster_id").agg(
        F.min("vec_id").cast("bigint").alias("hub")
    )
    hubq = hubs.join(emb, hubs.hub == emb.vec_id).select(
        "cluster_id", "hub", F.col("qv").alias("hqv")
    )
    up = (
        coarse.join(F.broadcast(hubs), "cluster_id")
        .filter(F.col("vec_id") != F.col("hub"))
        .select(F.col("vec_id").alias("src"), F.col("hub").alias("dst"))
    )
    wdown = _W.partitionBy("cluster_id").orderBy("hdist", "vec_id")
    down = (
        coarse.join(F.broadcast(hubq), "cluster_id")
        .filter(F.col("vec_id") != F.col("hub"))
        .join(emb.select(F.col("vec_id").alias("vec_id"), "qv"), "vec_id")
        .select(
            "cluster_id", "hub", "vec_id", _kq_sqdist("qv", "hqv", dim=_EMB_DIM).alias("hdist")
        )
        .withColumn("rn", F.row_number().over(wdown))
        .filter(F.col("rn") <= _GANN_DOWN)
        .select(F.col("hub").alias("src"), F.col("vec_id").alias("dst"))
    )
    a = hubq.select(F.col("hub").alias("ha"), F.col("hqv").alias("qa"))
    b = hubq.select(F.col("hub").alias("hb"), F.col("hqv").alias("qb"))
    wmesh = _W.partitionBy("ha").orderBy("mdist", "hb")
    mesh = (
        a.join(F.broadcast(b), F.col("ha") != F.col("hb"))
        .select("ha", "hb", _kq_sqdist("qa", "qb", dim=_EMB_DIM).alias("mdist"))
        .withColumn("rn", F.row_number().over(wmesh))
        .filter(F.col("rn") <= _GANN_MESH)
        .select(F.col("ha").alias("src"), F.col("hb").alias("dst"))
    )
    return (
        glocal.unionByName(glong)
        .unionByName(glongr)
        .unionByName(rev)
        .unionByName(up)
        .unionByName(down)
        .unionByName(mesh)
        .distinct()
    )


def _gann_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe entry hubs: the probe's _GANN_EF nearest hub VECTORS
    by exact integer distance (section comment above — the exact upper
    layer; a rank over probes x k broadcast-scale hub rows)."""
    from pyspark.sql import Window as _W

    from lakeview_spark.pipeline.iterative import _kq_sqdist

    emb = _pq_emb_m(spark, sf_dir)
    probes = _gann_probes(spark, sf_dir)
    _cents, coarse = _ivfpq_coarse_parts(spark, sf_dir, emb)
    hubs = coarse.groupBy("cluster_id").agg(
        F.min("vec_id").cast("bigint").alias("hub")
    )
    hubq = hubs.join(emb, hubs.hub == emb.vec_id).select(
        "hub", F.col("qv").alias("hqv")
    )
    w = _W.partitionBy("probe_id").orderBy("hdist", "hub")
    return (
        probes.crossJoin(F.broadcast(hubq))
        .filter(F.col("hub") != F.col("probe_id"))
        .select("probe_id", "hub", _kq_sqdist("pqv", "hqv", dim=_EMB_DIM).alias("hdist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _gann_ef(spark, sf_dir))
        .select("probe_id", "hub")
    )


def _gann_ef(spark: SparkSession, sf_dir: str) -> int:
    """Scale-adaptive search width (constants comment above): driver
    int from the cached corpus count; n.bit_length() - 1 ==
    length(printf('%b', n)) - 1 exactly, the bitlength device."""
    n = corpus_n(spark, sf_dir)
    return max(_GANN_EF_MIN, _GANN_EF_LOG_MULT * (n.bit_length() - 1))


def _gann_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    stride = max(1, corpus_n(spark, sf_dir) // _PQ_PROBE_TARGET)
    return (
        _pq_emb_m(spark, sf_dir)
        .filter((F.col("vec_id") % stride) == 0)
        .select(F.col("vec_id").alias("probe_id"), F.col("qv").alias("pqv"))
    )


def _gann_rank_score(emb: DataFrame, probes: DataFrame):
    """(rank, score) closures shared by the full-graph search and the
    r14 upsert search: exact integer distances against ``emb``,
    (dist, vec_id) total-order ranks per probe."""
    from pyspark.sql import Window as _W

    from lakeview_spark.pipeline.iterative import _kq_sqdist

    def _rank(scored):
        w = _W.partitionBy("probe_id").orderBy("dist", "vec_id")
        return scored.withColumn(
            "rn", F.row_number().over(w).cast("bigint")
        )

    def _score(cand):
        return (
            cand.join(emb, "vec_id")
            .join(F.broadcast(probes), "probe_id")
            .select(
                "probe_id", "vec_id", _kq_sqdist("qv", "pqv", dim=_EMB_DIM).alias("dist")
            )
        )

    return _rank, _score


def _beam_search(
    spark: SparkSession,
    sf_dir: str,
    beam0_build,
    edges: DataFrame,
    emb: DataFrame,
    probes: DataFrame,
    coarse: DataFrame,
    ef: int,
    prefix: str,
    early_exit: bool = True,
) -> DataFrame:
    """The shared greedy-beam + cluster-local-rerank engine: up to
    _GANN_ROUNDS expand-score-prune rounds over ``edges``, then the
    exact rerank over the coarse clusters of every kept beam member.
    Every round and the rerank materialize under ``prefix``-derived
    scratch names (the graph_kcore device).

    Fixed-point early exit (r14 optimization): the round map is a
    deterministic function of the KEPT set (rn <= ef) alone —
    cand_{{r+1}} = kept_r UNION nbrs(kept_r) — so kept_r == kept_{{r-1}}
    implies beam_{{r+1}} == beam_r as a full table, and by induction
    every later round equals beam_r. Per-round diagnostics (SCALE.md
    §8a9) show convergence by round ~3 at every measured SF, so the
    remaining rounds were pure replays of an identical table; skipping
    them changes nothing downstream (the rerank consumes the converged
    beam, which equals round _GANN_ROUNDS bit-for-bit — pinned by
    test_graph_ann.py::test_beam_early_exit_matches_full_rounds).
    The stop round is memoized per (session, dataset, prefix) so warm
    re-invocations replay neither the rounds nor the equality checks.
    ``early_exit=False`` forces the full unrolled schedule (the pin
    test's reference path).

    Digest prefilter (r15, guide §1/§2.1): the r15 profile showed the
    kept set does NOT reach a fixed point at sf0.1 — all _GANN_ROUNDS
    rounds materialize — so the per-round equality check was ~one pure
    overhead job per round. Each round's WRITE job now also computes an
    order-independent kept-set digest (count + bit_xor of
    xxhash64(probe_id, vec_id), via `observe` — zero extra jobs, the
    written rows are untouched), and equal sets ALWAYS produce equal
    digests, so digest inequality PROVES the sets differ and the exact
    equality job is skipped with certainty. The exact union-groupBy
    check still decides whenever digests match (a hash collision costs
    one extra check job, never a wrong exit) or are unavailable (memo
    hits), so the fixed-point semantics are bit-identical — pinned by
    the same schedule-equality test."""
    from pyspark.sql import Observation

    from lakeview_spark.operators.materialize import materialized

    _rank, _score = _gann_rank_score(emb, probes)
    spread_n = spark.sparkContext.defaultParallelism

    def _kept_digest_exprs():
        return (
            F.sum(F.when(F.col("rn") <= ef, F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("kc"),
            F.expr(
                f"bit_xor(CASE WHEN rn <= {ef} THEN xxhash64(probe_id, vec_id)"
                " ELSE CAST(0 AS BIGINT) END)"
            ).alias("kx"),
        )

    b0_obs = Observation() if early_exit else None
    b0_built: list[bool] = []

    def _b0(s_, d_):
        b0_built.append(True)
        out = _rank(_score(beam0_build(s_, d_)))
        return out.observe(b0_obs, *_kept_digest_exprs()) if b0_obs is not None else out

    beam = materialized(spark, f"{prefix}0", sf_dir, _b0)
    if b0_obs is not None and b0_built:
        _d = b0_obs.get
        prev_digest = (_d["kc"], _d["kx"])
    else:
        prev_digest = None
    from lakeview_spark.operators.materialize import _dataset_fingerprint

    # keyed like the materialize cache (fingerprint included): a
    # rewritten dataset re-materializes the rounds AND re-derives its
    # own stop round instead of inheriting a stale one
    stop_key = (
        spark.sparkContext.applicationId,
        os.path.realpath(sf_dir),
        _dataset_fingerprint(sf_dir),
        prefix,
    )
    stop_known = _BEAM_STOP_ROUND.get(stop_key) if early_exit else None
    for r in range(1, _GANN_ROUNDS + 1):
        if stop_known is not None and r > stop_known:
            break

        r_obs = Observation() if (early_exit and stop_known is None) else None
        r_built: list[bool] = []

        def _round_build(s_, d_, beam=beam, r_obs=r_obs, r_built=r_built):
            r_built.append(True)
            kept = beam.filter(F.col("rn") <= ef).select(
                "probe_id", "vec_id"
            )
            nbrs = kept.join(
                edges, kept.vec_id == edges.src
            ).select("probe_id", F.col("dst").alias("vec_id"))
            cand = (
                kept.unionByName(nbrs)
                .filter(F.col("vec_id") != F.col("probe_id"))
                # one exchange instead of two: hash on probe_id alone
                # satisfies BOTH the (probe_id, vec_id) dedup clustering
                # and the rank window's probe_id distribution (guide
                # §2.4 — same-keyed operations share one exchange; the
                # market-basket okey device)
                .repartition(spread_n, "probe_id")
                .dropDuplicates(["probe_id", "vec_id"])
            )
            out = _rank(_score(cand))
            return (
                out.observe(r_obs, *_kept_digest_exprs())
                if r_obs is not None
                else out
            )

        new_beam = materialized(spark, f"{prefix}{r}", sf_dir, _round_build)
        new_digest = None
        if r_obs is not None and r_built:
            _d = r_obs.get
            new_digest = (_d["kc"], _d["kx"])
        if early_exit and stop_known is None and r < _GANN_ROUNDS:
            # digest prefilter (docstring): unequal digests PROVE the
            # kept sets differ — skip the exact check job outright
            if (
                prev_digest is None
                or new_digest is None
                or prev_digest == new_digest
            ):
                prev_kept = beam.filter(F.col("rn") <= ef).select(
                    "probe_id", "vec_id"
                )
                new_kept = new_beam.filter(F.col("rn") <= ef).select(
                    "probe_id", "vec_id"
                )
                # kept rows are unique per (probe_id, vec_id), so a union
                # groups to count 2 exactly on rows present in BOTH sets —
                # any group at count != 2 is a symmetric-difference member.
                # ONE tiny-scratch job instead of the previous three
                # (count + count + exceptAll.isEmpty): both sides are
                # materialized scratch, so this is two small scans + one
                # agg, not lineage replays
                if (
                    new_kept.unionByName(prev_kept)
                    .groupBy("probe_id", "vec_id")
                    .count()
                    .filter(F.col("count") != 2)
                    .isEmpty()
                ):
                    _BEAM_STOP_ROUND[stop_key] = r
                    beam = new_beam
                    break
        prev_digest = new_digest
        beam = new_beam
    else:
        if early_exit and stop_known is None:
            # no fixed point in the full schedule (the sf0.1 reality —
            # r15 profile): memoize "replay every round" so WARM
            # re-invocations skip the per-round equality checks too.
            # Checks are read-only (they only decide whether to stop
            # early), so skipping them on replay changes nothing —
            # the materialized rounds are already on disk.
            _BEAM_STOP_ROUND[stop_key] = _GANN_ROUNDS

    # cluster-local exact rerank (section comment above): coarse
    # clusters of every kept beam member, all members exact-scored
    # alongside every beam candidate. The cluster-source table is
    # probes x <= ef rows — broadcast side of the member join; the
    # member pull is <= sources x occupancy point lookups, never a
    # corpus scan.
    def _rerank_build(s_, d_, beam=beam):
        src = (
            beam.filter(F.col("rn") <= ef)
            .join(coarse, "vec_id")
            .select("probe_id", "cluster_id")
            .distinct()
        )
        members = coarse.join(F.broadcast(src), "cluster_id").select(
            "probe_id", "vec_id"
        )
        cand = (
            beam.select("probe_id", "vec_id")
            .unionByName(members)
            .filter(F.col("vec_id") != F.col("probe_id"))
            # same one-exchange device as the round builds above
            .repartition(spread_n, "probe_id")
            .dropDuplicates(["probe_id", "vec_id"])
        )
        return _rank(_score(cand))

    return materialized(spark, f"{prefix}_rerank", sf_dir, _rerank_build)


def _gann_final_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized search result (probe_id, vec_id, dist, rn):
    _GANN_ROUNDS greedy rounds then the cluster-local exact rerank;
    the edge table, every round, and the rerank are their own scratch
    tables (the graph_kcore device)."""
    from lakeview_spark.operators.materialize import materialized

    emb = _pq_emb_m(spark, sf_dir)
    probes = _gann_probes(spark, sf_dir)
    edges = materialized(spark, "gann_edges", sf_dir, _gann_edges)
    _cents, coarse = _ivfpq_coarse_parts(spark, sf_dir, emb)

    def _b0_cand(s_, d_):
        return _gann_entries(s_, d_).select(
            "probe_id", F.col("hub").alias("vec_id")
        )

    return _beam_search(
        spark,
        sf_dir,
        _b0_cand,
        edges,
        emb,
        probes,
        coarse,
        _gann_ef(spark, sf_dir),
        "gann_beam",
    )


@register(
    "similarity_ann_graph",
    oracle=f"""
    {_gann_oracle_ctes()}
    SELECT probe_id, vec_id, dist, rn AS graph_rank
    FROM gfinal WHERE rn <= {_GANN_BEAM}
    """,
)
def similarity_ann_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy beam search over the navigable graph (section comment
    above): per probe, {_GANN_ROUNDS} rounds of expand-score-prune
    followed by the cluster-local exact rerank over the routed-to
    coarse clusters, exact integer distances throughout — hash-checked
    against the unrolled DuckDB replay of the same rounds + rerank."""
    return (
        _gann_final_beam(spark, sf_dir)
        .filter(F.col("rn") <= _GANN_BEAM)
        .select("probe_id", "vec_id", "dist", F.col("rn").alias("graph_rank"))
    )


def _gann_recall_oracle() -> str:
    return f"""
    {_gann_oracle_ctes()},
    truth AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, e.vec_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY {_PQ_FULL_DIST_SQL} ASC, e.vec_id) AS rn
        FROM probes p, q e WHERE e.vec_id <> p.probe_id)
      WHERE rn <= {_GANN_BEAM}
    ),
    found AS (
      SELECT probe_id, vec_id FROM gfinal WHERE rn <= {_GANN_BEAM}
    )
    SELECT t.probe_id,
           CAST(count(f.vec_id) AS BIGINT) AS n_hits,
           CAST(count(f.vec_id) AS DOUBLE) / {_GANN_BEAM} AS recall
    FROM truth t
    LEFT JOIN found f ON f.probe_id = t.probe_id AND f.vec_id = t.vec_id
    GROUP BY t.probe_id
    """


@register("eval_graph_ann_recall", oracle=_gann_recall_oracle())
def eval_graph_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_GANN_BEAM} of the graph search vs the exact integer
    top-{_GANN_BEAM} — the honest telemetry for the family (the
    nprobe-sweep convention: the audit is itself a registered query;
    its own telemetry drove the round's design change from the
    tree backbone, recall 0.30, to the hub graph). The exact-truth
    scan is the audit's own cost, not the search's."""
    from pyspark.sql import Window as _W

    from lakeview_spark.pipeline.iterative import _kq_sqdist

    emb = _pq_emb_m(spark, sf_dir)
    probes = _gann_probes(spark, sf_dir)
    w = _W.partitionBy("probe_id").orderBy("dist", "vec_id")
    truth = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", _kq_sqdist("qv", "pqv", dim=_EMB_DIM).alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _GANN_BEAM)
        .select("probe_id", "vec_id")
    )
    found = (
        _gann_final_beam(spark, sf_dir)
        .filter(F.col("rn") <= _GANN_BEAM)
        .select("probe_id", F.col("vec_id").alias("f_vec"))
    )
    return (
        truth.join(
            found,
            (truth.probe_id == found.probe_id) & (truth.vec_id == found.f_vec),
            "left",
        )
        .drop(found.probe_id)
        .groupBy("probe_id")
        .agg(
            F.count("f_vec").cast("bigint").alias("n_hits"),
            (F.count("f_vec").cast("double") / _GANN_BEAM).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Graph-ANN recall on a CLUSTERED corpus (r14, VERDICT r13 next-3)
# ---------------------------------------------------------------------------
#
# The r13 finding that drove the rerank was measured on a one-off
# scratch corpus (100 Gaussian clusters; SCALE.md §8a9) — this
# registers it as a permanent, driver-checkable regression gate. The
# clustered corpus is DERIVED from the embeddings table with pure
# integer arithmetic, identically in both engines, so the full index
# build + search + recall replays hash-exactly on it:
#
#   cluster(v)    = vec_id % _GANN_CLUST_NC          (fixed cluster count
#                   -> occupancy GROWS with n: exactly the regime where
#                   greedy-beam recall collapsed pre-rerank)
#   centroid(c)   = the quantized embedding of vec_id c + 1
#   derived qv    = 4 * q(centroid) + q(self)         (centroid dominates
#                   4:1 -> tight clusters; the "noise" term is the
#                   vector's own near-uniform embedding)
#   derived emb   = qv / 2^22                         (exact power-of-two
#                   division -> bit-identical DOUBLEs in both engines,
#                   and floor(emb * 2^20) re-derives floor(qv/4) exactly)
#
# Engine side: the derived corpus is written once per (session,
# dataset) as a scratch DATASET directory (embeddings.parquet), and
# the audit simply recurses into eval_graph_ann_recall with that
# directory as sf_dir — zero duplicated index machinery, every scratch
# table and driver cache keys itself on the derived path. Oracle side:
# the same recall oracle with its corpus reads rewritten to the
# derived CTE (string-level rewrite of the shared template — the two
# variants cannot drift because they ARE the same template).
_GANN_CLUST_NC = 64

_GANN_CLUSTERED_EMB_CTE = f"""cemb AS (
      SELECT s.vec_id, s.label,
             list_transform(range(1, {_PQ_M * _PQ_SUB} + 1),
               i -> CAST(4 * CAST(floor(CAST(c.embedding[i] AS DOUBLE) * {1 << 20}.0) AS BIGINT)
                         + CAST(floor(CAST(s.embedding[i] AS DOUBLE) * {1 << 20}.0) AS BIGINT)
                         AS DOUBLE) / {1 << 22}.0) AS embedding
      FROM embeddings s
      JOIN embeddings c ON c.vec_id = s.vec_id % {_GANN_CLUST_NC} + 1
    )"""


def _gann_recall_oracle_clustered() -> str:
    body = _gann_recall_oracle().replace("FROM embeddings", "FROM cemb")
    return body.replace(
        "WITH planes", f"WITH {_GANN_CLUSTERED_EMB_CTE},\n    planes", 1
    )


# (app id, dataset path, fingerprint) -> derived dataset directory;
# bounded like the other driver caches, cleaned by materialize's
# atexit hook via _CREATED_PATHS registration
_CLUSTERED_DIRS: dict[tuple[str, str, str], str] = {}


def _clustered_corpus_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the derived clustered corpus (section comment
    above) as a scratch dataset directory and return its path."""
    import os
    import uuid

    from lakeview_spark.operators.materialize import _CREATED_PATHS, scratch_dir

    key = _pq_cache_key(spark, sf_dir)
    got = _CLUSTERED_DIRS.get(key)
    if got is not None:
        return got
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qcol = _kq_quantize_col("embedding")
    cents = (
        emb.filter(F.col("vec_id").between(1, _GANN_CLUST_NC))
        .select(F.col("vec_id").alias("cid"), qcol.alias("qc"))
    )
    derived = (
        emb.select("vec_id", "label", qcol.alias("qs"))
        .withColumn("cid", F.col("vec_id") % _GANN_CLUST_NC + 1)
        .join(F.broadcast(cents), "cid")
        .select(
            "vec_id",
            "label",
            F.zip_with(
                "qc",
                "qs",
                lambda a, b: (a * 4 + b).cast("double") / float(1 << 22),
            ).alias("embedding"),
        )
    )
    path = os.path.join(scratch_dir(), f"lakeview_clustered_{uuid.uuid4().hex}")
    # write the derived dataset SPREAD (deterministic key-hash): the
    # narrow derive lineage would otherwise land as ONE file — the
    # unsplittable-scan trap (guide §2.5) — serializing every
    # downstream index-build scan (lsh bucket fold, coarse training
    # rounds, pq_emb build) on one core
    derived.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    ).write.parquet(os.path.join(path, "embeddings.parquet"))
    _CREATED_PATHS.append(path)
    _CLUSTERED_DIRS[key] = path
    return path


@register("eval_graph_ann_recall_clustered", oracle=_gann_recall_oracle_clustered())
def eval_graph_ann_recall_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_GANN_BEAM} of the graph search on the DERIVED clustered
    corpus (section comment above) — the permanent form of the r13
    scratch measurement that exposed the pre-rerank recall collapse
    (0.46 on clustered 60k vs 0.78 uniform; SCALE.md §8a9). The whole
    index build + beam search + cluster-local rerank runs on the
    derived corpus via the scratch-dataset recursion, and the oracle
    replays it from the same SQL template with the corpus reads
    rewritten — hash-exact, like the uniform audit."""
    return eval_graph_ann_recall(spark, _clustered_corpus_dir(spark, sf_dir))


# ---------------------------------------------------------------------------
# Incremental graph-index maintenance (r14 stretch, VERDICT r13 next-9)
# ---------------------------------------------------------------------------
#
# What makes a graph index viable at 100 TB CONTINUOUS ingestion: new
# vectors must ATTACH to the existing navigable graph in O(delta) work
# — the dedup_incremental_lsh shape applied to the index itself — not
# trigger a full rebuild. Split: vec_id % _GANN_UPSERT_MOD == 0 plays
# the newly-arrived delta (the curation.py _DELTA_MOD convention); the
# base graph is the full gann build over the REMAINING corpus, written
# as a derived scratch dataset (the clustered-corpus device) so every
# existing builder runs unchanged on it. The attach links each delta
# vector by the SAME candidate device the base graph's local links use
# (Hamming<=1 multiprobe against the base buckets, exact integer
# distances):
#
#   fwd  — delta -> its top-_GANN_K nearest base members
#   rev  — base -> delta, capped _GANN_REV per base node (the NSW
#          undirected convention: without them later searches cannot
#          flow INTO the new vectors)
#   up   — delta -> its nearest base hub (upper-layer reachability)
#
# Cost per delta vector: (planes+1) x bucket-occupancy scored pairs +
# k hub distances — never a corpus scan, never a rebuild. The audit
# (`eval_graph_upsert_recall`) then searches the AUGMENTED graph for
# delta probes and measures recall@k against the FULL-corpus exact
# truth — directly comparable to `eval_graph_ann_recall` (same probe
# density, same search machinery), so "upsert vs full rebuild" is a
# pair of registered, hash-checked numbers. Both engines replay the
# whole base-build + attach + search chain (the parameterized round /
# rerank templates above), so the family stays hash-exact.
_GANN_UPSERT_MOD = 10
_GANN_UPSERT_PROBES = 10

# derived base-corpus dataset dirs, keyed like the other driver caches
_UPSERT_BASE_DIRS: dict[tuple[str, str, str], str] = {}


def _gann_base_dir(spark: SparkSession, sf_dir: str) -> str:
    """The corpus-minus-delta dataset written once per (session,
    dataset) — the clustered-corpus scratch-dataset device, so the
    whole existing gann build (planes, buckets, coarse, edges) runs on
    the base corpus unchanged."""
    import os
    import uuid

    from lakeview_spark.operators.materialize import _CREATED_PATHS, scratch_dir

    key = _pq_cache_key(spark, sf_dir)
    got = _UPSERT_BASE_DIRS.get(key)
    if got is not None:
        return got
    base = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % _GANN_UPSERT_MOD != 0)
    )
    path = os.path.join(scratch_dir(), f"lakeview_gann_base_{uuid.uuid4().hex}")
    # spread like the clustered write above — the filter lineage is
    # narrow, so an unspread write is one file and every base-corpus
    # index scan runs single-task (guide §2.5)
    base.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    ).write.parquet(os.path.join(path, "embeddings.parquet"))
    _CREATED_PATHS.append(path)
    _UPSERT_BASE_DIRS[key] = path
    return path


def _upsert_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~_GANN_UPSERT_PROBES probes FROM THE DELTA (multiples of the
    delta modulus at a corpus-derived stride — the _recall_mod_for_n
    sizing device, so probe count stays constant as the corpus
    grows)."""
    n = corpus_n(spark, sf_dir)
    stride = _GANN_UPSERT_MOD * max(
        1, n // (_GANN_UPSERT_MOD * _GANN_UPSERT_PROBES)
    )
    return (
        _pq_emb_m(spark, sf_dir)
        .filter((F.col("vec_id") % stride) == 0)
        .select(F.col("vec_id").alias("probe_id"), F.col("qv").alias("pqv"))
    )


def _upsert_attach_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(delta) attach edge builder (section comment above):
    (src, dst, kind) rows for fwd/rev/up links, exact integer
    distances, Hamming<=1 multiprobe candidates against the BASE
    buckets only."""
    from pyspark.sql import Window as _W

    from lakeview_spark.operators.materialize import materialized
    from lakeview_spark.pipeline.iterative import _kq_sqdist

    base_dir = _gann_base_dir(spark, sf_dir)
    dq = (
        _pq_emb_m(spark, sf_dir)
        .filter(F.col("vec_id") % _GANN_UPSERT_MOD == 0)
        .select("vec_id", F.col("qv").alias("qa"))
    )

    def _dlp_build(s_, d_):
        # the delta->base multiprobe candidate-pair frame — referenced
        # by BOTH link directions below (fwd, rev); lazily it replayed
        # the pair join + distance fold per reference (the same §2.1
        # replay the base edge builder's glp scratch fixes)
        planes = _plane_vectors(s_, base_dir)
        bk_ = _lsh_bucketed(s_, base_dir).select("vec_id", "bucket")
        raw_delta = (
            s_.read.parquet(f"{d_}/embeddings.parquet")
            .filter(F.col("vec_id") % _GANN_UPSERT_MOD == 0)
            .select("vec_id", _bucket_expr(planes).alias("bucket"))
        )
        dmp = raw_delta.select(
            "vec_id",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << i))
                        for i in range(len(planes))
                    ],
                )
            ).alias("pb"),
        )
        bq = _pq_emb_m(s_, base_dir).select(
            F.col("vec_id").alias("dst"), F.col("qv").alias("qb")
        )
        bke = bk_.join(bq, bk_.vec_id == F.col("dst")).select(
            "dst", F.col("bucket").alias("db"), "qb"
        )
        return (
            dmp.join(dq, "vec_id")
            .join(bke, F.col("pb") == F.col("db"))
            .select(
                F.col("vec_id").alias("src"),
                "dst",
                _kq_sqdist("qa", "qb", dim=_EMB_DIM).alias("ldist"),
            )
        )

    dlp = materialized(spark, "gann_upsert_dlp", sf_dir, _dlp_build)
    wfwd = _W.partitionBy("src").orderBy("ldist", "dst")
    afwd = (
        dlp.withColumn("rn", F.row_number().over(wfwd))
        .filter(F.col("rn") <= _GANN_K)
        .select("src", "dst", F.lit("fwd").alias("kind"))
    )
    wrev = _W.partitionBy("dst").orderBy("ldist", "src")
    arev = (
        dlp.withColumn("rn", F.row_number().over(wrev))
        .filter(F.col("rn") <= _GANN_REV)
        .select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            F.lit("rev").alias("kind"),
        )
    )
    emb_base = _pq_emb_m(spark, base_dir)
    _cents, coarse = _ivfpq_coarse_parts(spark, base_dir, emb_base)
    hubs = coarse.groupBy("cluster_id").agg(
        F.min("vec_id").cast("bigint").alias("hub")
    )
    hubq = hubs.join(emb_base, hubs.hub == emb_base.vec_id).select(
        "hub", F.col("qv").alias("hqv")
    )
    wup = _W.partitionBy("vec_id").orderBy("hdist", "hub")
    aup = (
        dq.crossJoin(F.broadcast(hubq))
        .select("vec_id", "hub", _kq_sqdist("qa", "hqv", dim=_EMB_DIM).alias("hdist"))
        .withColumn("rn", F.row_number().over(wup))
        .filter(F.col("rn") <= 1)
        .select(
            F.col("vec_id").alias("src"),
            F.col("hub").alias("dst"),
            F.lit("up").alias("kind"),
        )
    )
    return afwd.unionByName(arev).unionByName(aup)


def _upsert_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeview_spark.operators.materialize import materialized

    return materialized(spark, "gann_upsert_edges", sf_dir, _upsert_attach_build)


# ---- oracle assembly: the parameterized templates over a bemb-rewritten
# base chain + full-corpus fq/probes/efc + the attach CTEs ----

_UPSERT_DELTA_DIST_SQL = (
    "list_sum(list_transform(range(1, len(dd.qv)+1), "
    "i -> (dd.qv[i]-h.hqv[i])*(dd.qv[i]-h.hqv[i])))"
)


def _upsert_base_chain() -> str:
    """planes/bits/bucketed/q/coarse/edges over the base corpus: the
    shipped templates with corpus reads rewritten to the bemb CTE (the
    clustered-audit string-rewrite device — the two variants ARE the
    same template), bemb injected as the first CTE."""
    chunk = f"""{_KNN_GRAPH_CTE},
    q AS (SELECT vec_id, {_PQ_QUANT_SQL} AS qv FROM embeddings)""".replace(
        "FROM embeddings", "FROM bemb"
    )
    return chunk.replace(
        "WITH planes",
        f"WITH bemb AS (SELECT * FROM embeddings "
        f"WHERE vec_id % {_GANN_UPSERT_MOD} <> 0),\n    planes",
        1,
    )


def _upsert_shared_ctes() -> str:
    """Everything both upsert oracles need: base chain, full-corpus
    fq/efc, delta probes, base coarse + edges, delta buckets, scored
    delta-base candidate pairs, and the three attach link sets."""
    stride = (
        f"({_GANN_UPSERT_MOD} * (SELECT GREATEST(1, count(*) // "
        f"{_GANN_UPSERT_MOD * _GANN_UPSERT_PROBES}) FROM embeddings))"
    )
    coarse_edges = f"""{_IVFPQ_COARSE_CTES},
    {_GANN_EDGES_SQL}""".replace("FROM embeddings", "FROM bemb")
    return f"""{_upsert_base_chain()},
    fq AS (SELECT vec_id, {_PQ_QUANT_SQL} AS qv FROM embeddings),
    efc AS (
      SELECT GREATEST({_GANN_EF_MIN},
                      {_GANN_EF_LOG_MULT} *
                      (length(printf('%b', CAST(count(*) AS BIGINT))) - 1)) AS ef
      FROM embeddings
    ),
    probes AS (
      SELECT vec_id AS probe_id, qv AS pqv FROM fq
      WHERE vec_id % {stride} = 0
    ),
    {coarse_edges},
    dbits AS (
      SELECT e.vec_id, e.embedding, p.plane_id,
             CASE WHEN {_DOT_SQL.format(a="e.embedding", b="p.pe")} > 0
                  THEN 1 ELSE 0 END AS bit
      FROM embeddings e, planes p
      WHERE e.vec_id % {_GANN_UPSERT_MOD} = 0
    ),
    dbucketed AS (
      SELECT vec_id, CAST(sum(bit * (1 << (plane_id - 1))) AS BIGINT) AS bucket
      FROM dbits GROUP BY vec_id
    ),
    dmp AS (
      SELECT vec_id, bucket AS pb FROM dbucketed
      UNION ALL
      SELECT b.vec_id, xor(b.bucket, 1 << (p.plane_id - 1)) AS pb
      FROM dbucketed b, planes p
    ),
    dlp AS MATERIALIZED (
      SELECT m.vec_id AS src, b.vec_id AS dst,
             CAST({_GANN_LPAIR_DIST_SQL} AS BIGINT) AS ldist
      FROM dmp m
      JOIN bucketed b ON b.bucket = m.pb
      JOIN fq ea ON ea.vec_id = m.vec_id
      JOIN q eb ON eb.vec_id = b.vec_id
    ),
    afwd AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY ldist, dst) AS rn
        FROM dlp)
      WHERE rn <= {_GANN_K}
    ),
    arev AS (
      SELECT dst AS src, src AS dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY dst
                                  ORDER BY ldist, src) AS rn
        FROM dlp)
      WHERE rn <= {_GANN_REV}
    ),
    aup AS (
      SELECT vec_id AS src, hub AS dst FROM (
        SELECT dd.vec_id, h.hub,
               row_number() OVER (PARTITION BY dd.vec_id
                 ORDER BY {_UPSERT_DELTA_DIST_SQL} ASC, h.hub) AS rn
        FROM (SELECT vec_id, qv FROM fq
              WHERE vec_id % {_GANN_UPSERT_MOD} = 0) dd, hubq h)
      WHERE rn <= 1
    )"""


def _upsert_recall_oracle() -> str:
    rounds = ",\n    ".join(
        _gann_round_sql(r, prefix="ub", edges="gplus", qtab="fq")
        for r in range(1, _GANN_ROUNDS + 1)
    )
    return f"""
    {_upsert_shared_ctes()},
    gplus AS (
      SELECT src, dst FROM gedges
      UNION SELECT src, dst FROM afwd
      UNION SELECT src, dst FROM arev
      UNION SELECT src, dst FROM aup
    ),
    ub0 AS MATERIALIZED (
      SELECT probe_id, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY probe_id
                                     ORDER BY dist, vec_id) AS BIGINT) AS rn
      FROM (
        SELECT p.probe_id, e.vec_id,
               CAST({_PQ_FULL_DIST_SQL} AS BIGINT) AS dist
        FROM gentry g
        JOIN probes p ON p.probe_id = g.probe_id
        JOIN q e ON e.vec_id = g.hub
      )
    ),
    {rounds},
    {_gann_rerank_sql(prefix="ub", qtab="fq", src="usrc", out="ufinal")},
    truth AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, e.vec_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY {_PQ_FULL_DIST_SQL} ASC, e.vec_id) AS rn
        FROM probes p, fq e WHERE e.vec_id <> p.probe_id)
      WHERE rn <= {_GANN_BEAM}
    ),
    found AS (
      SELECT probe_id, vec_id FROM ufinal WHERE rn <= {_GANN_BEAM}
    )
    SELECT t.probe_id,
           CAST(count(f.vec_id) AS BIGINT) AS n_hits,
           CAST(count(f.vec_id) AS DOUBLE) / {_GANN_BEAM} AS recall
    FROM truth t
    LEFT JOIN found f ON f.probe_id = t.probe_id AND f.vec_id = t.vec_id
    GROUP BY t.probe_id
    """


@register(
    "similarity_ann_graph_upsert",
    oracle=f"""
    {_upsert_shared_ctes()}
    SELECT src, dst, kind FROM (
      SELECT src, dst, 'fwd' AS kind FROM afwd
      UNION ALL SELECT src, dst, 'rev' AS kind FROM arev
      UNION ALL SELECT src, dst, 'up' AS kind FROM aup
    )
    """,
)
def similarity_ann_graph_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(delta) attach edge set (section comment above): for each
    newly-arrived vector, its fwd/rev/up links into the existing
    navigable graph — Hamming<=1 multiprobe candidates against the
    BASE buckets, exact integer distances, the same caps as the base
    graph's own links. Hash-checked against the full DuckDB replay of
    base-build + attach."""
    return _upsert_attach(spark, sf_dir).select("src", "dst", "kind")


@register("eval_graph_upsert_recall", oracle=_upsert_recall_oracle())
def eval_graph_upsert_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_GANN_BEAM} of the beam search over the UPSERTED graph
    (base edges + attach links, no rebuild) for delta probes, against
    the FULL-corpus exact truth — read next to `eval_graph_ann_recall`
    (the full-rebuild number at the same probe density) to price
    incremental maintenance. The search rides the shared beam engine:
    entries from the base hubs, rounds over the augmented edge set,
    scoring and rerank against the full corpus so re-attached delta
    vectors can surface each other."""
    from lakeview_spark.operators.materialize import materialized

    base_dir = _gann_base_dir(spark, sf_dir)
    emb_full = _pq_emb_m(spark, sf_dir)
    probes = _upsert_probes(spark, sf_dir)
    base_edges = materialized(spark, "gann_edges", base_dir, _gann_edges)
    attach = _upsert_attach(spark, sf_dir)

    def _gplus_build(s_, d_):
        return (
            base_edges.select("src", "dst")
            .unionByName(attach.select("src", "dst"))
            .distinct()
        )

    gplus = materialized(spark, "gann_upsert_graph", sf_dir, _gplus_build)
    emb_base = _pq_emb_m(spark, base_dir)
    _cents, coarse = _ivfpq_coarse_parts(spark, base_dir, emb_base)
    hubs = coarse.groupBy("cluster_id").agg(
        F.min("vec_id").cast("bigint").alias("hub")
    )
    hubq = hubs.join(emb_base, hubs.hub == emb_base.vec_id).select(
        "hub", F.col("qv").alias("hqv")
    )
    ef = _gann_ef(spark, sf_dir)

    def _entries_cand(s_, d_):
        from pyspark.sql import Window as _W

        from lakeview_spark.pipeline.iterative import _kq_sqdist

        w = _W.partitionBy("probe_id").orderBy("hdist", "hub")
        return (
            probes.crossJoin(F.broadcast(hubq))
            .filter(F.col("hub") != F.col("probe_id"))
            .select("probe_id", "hub", _kq_sqdist("pqv", "hqv", dim=_EMB_DIM).alias("hdist"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= ef)
            .select("probe_id", F.col("hub").alias("vec_id"))
        )

    found_beam = _beam_search(
        spark, sf_dir, _entries_cand, gplus, emb_full, probes, coarse, ef,
        "gann_upsert_beam",
    )
    from pyspark.sql import Window as _W

    from lakeview_spark.pipeline.iterative import _kq_sqdist

    wt = _W.partitionBy("probe_id").orderBy("dist", "vec_id")
    truth = (
        emb_full.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", _kq_sqdist("qv", "pqv", dim=_EMB_DIM).alias("dist"))
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= _GANN_BEAM)
        .select("probe_id", "vec_id")
    )
    found = found_beam.filter(F.col("rn") <= _GANN_BEAM).select(
        "probe_id", F.col("vec_id").alias("f_vec")
    )
    return (
        truth.join(
            found,
            (truth.probe_id == found.probe_id) & (truth.vec_id == found.f_vec),
            "left",
        )
        .drop(found.probe_id)
        .groupBy("probe_id")
        .agg(
            F.count("f_vec").cast("bigint").alias("n_hits"),
            (F.count("f_vec").cast("double") / _GANN_BEAM).alias("recall"),
        )
    )
