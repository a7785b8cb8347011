"""Similarity search over embeddings (north-star extension, SURVEY.md
§2B): brute-force exact cosine top-k as the baseline, a sign-bucket LSH
variant as the scale path, and Spark ML's BucketedRandomProjectionLSH as
the built-in alternative.

Scale design (100 TB):
- the query set is small and **broadcast** — the big embeddings table is
  scanned once, never shuffled for the join;
- top-k per query is two-phase: a local window over
  ``(query_id, spark_partition_id())`` cuts each partition to k rows
  per query map-side, then the global per-query window ranks only the
  k·P survivors — no task ever sorts a query's full candidate set;
- the LSH variant prunes the scan to one sign-pattern bucket per query:
  at B buckets this is ~1/B of the comparisons, the standard
  recall-for-cost trade, and the bucket is a plain integer column —
  partition/bucket pruning applies if the table is written bucketed.

All cosine math uses the quantized-integer discipline from
:mod:`pu4spark_spark.functions.vectors` (engine-exact, order-free).
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pu4spark_spark.functions.vectors import (
    QUANT as QUANT_SCALE,
    cosine_from_quantized,
    int_dot,
    quantized,
    sign_bucket,
    sql_quantized,
    sql_sign_bucket,
)
from pu4spark_spark.sources import load_table

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
LSH_DIMS = [0, 7, 21, 42]


def _quantized_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pu4spark_spark.plans import spread

    emb = spread(load_table(spark, "embeddings", sf_dir))
    return emb.select(
        "vec_id", quantized("embedding").alias("q")
    ).withColumn("norm2", int_dot(F.col("q"), F.col("q")))


def two_phase_topk(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """Top-k per query in two phases so no task ever sorts a query's
    full candidate set.

    Phase 1 windows over ``(query_id, spark_partition_id())`` — a
    map-side cut: each task sorts only its own partition's slice and
    keeps ≤ k rows per query.  Phase 2's global per-query window then
    ranks at most k·P survivors instead of the entire scan.  With a
    single-phase ``Window.partitionBy(query_id)`` the plan has exactly
    n_queries partitions, so each task sorts ~n/selectivity rows — a
    single-task bottleneck at 100× scale.  Output is identical: every
    true global top-k row is also in its partition's top-k under the
    same (cosine DESC, vec_id ASC) total order.  The mechanics live in
    the shared :func:`pu4spark_spark.plans.two_phase_rank`.
    """
    from pu4spark_spark.plans import two_phase_rank

    return two_phase_rank(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.asc("vec_id")],
        k,
        rank_col="rank",
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank"
    )


def cosine_topk(
    base: DataFrame, queries: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact top-k neighbors for each (broadcast) query vector."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qnorm2"),
    )
    scored = base.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = cosine_from_quantized(
        int_dot(F.col("q"), F.col("qq")), F.col("norm2"), F.col("qnorm2")
    )
    return two_phase_topk(scored.withColumn("cosine", cos), k)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _quantized_base(spark, sf_dir)
    queries = base.filter(F.col("vec_id") < N_QUERIES)
    return cosine_topk(base, queries)


_Q_SQL = sql_quantized("embedding")

SQL_ANN_COSINE_TOPK = f"""
WITH base AS (
  SELECT vec_id, {_Q_SQL} AS q FROM embeddings
),
normed AS (
  SELECT vec_id, q, list_dot_product(q, q) AS norm2 FROM base
),
scored AS (
  SELECT qs.vec_id AS query_id, n.vec_id AS neighbor_id,
         list_dot_product(n.q, qs.q) / (sqrt(n.norm2) * sqrt(qs.norm2)) AS cosine
  FROM normed n, (SELECT * FROM normed WHERE vec_id < {N_QUERIES}) qs
  WHERE n.vec_id <> qs.vec_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bucket LSH ANN: each query probes only its own bucket —
    ~1/16 of the comparisons at 4 sign bits; top-k within the bucket."""
    from pu4spark_spark.plans import spread

    emb = spread(load_table(spark, "embeddings", sf_dir))
    base = (
        emb.select(
            "vec_id",
            quantized("embedding").alias("q"),
            sign_bucket("embedding", LSH_DIMS).alias("bucket"),
        )
        .withColumn("norm2", int_dot(F.col("q"), F.col("q")))
    )
    qset = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qnorm2"),
        F.col("bucket"),
    )
    scored = base.join(F.broadcast(qset), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = cosine_from_quantized(
        int_dot(F.col("q"), F.col("qq")), F.col("norm2"), F.col("qnorm2")
    )
    return two_phase_topk(scored.withColumn("cosine", cos), TOP_K)


_BUCKET_SQL = sql_sign_bucket("embedding", LSH_DIMS)

SQL_ANN_LSH_BUCKETED = f"""
WITH base AS (
  SELECT vec_id, {_Q_SQL} AS q, {_BUCKET_SQL} AS bucket FROM embeddings
),
normed AS (
  SELECT vec_id, q, bucket, list_dot_product(q, q) AS norm2 FROM base
),
scored AS (
  SELECT qs.vec_id AS query_id, n.vec_id AS neighbor_id,
         list_dot_product(n.q, qs.q) / (sqrt(n.norm2) * sqrt(qs.norm2)) AS cosine
  FROM normed n
  JOIN (SELECT * FROM normed WHERE vec_id < {N_QUERIES}) qs
    ON n.bucket = qs.bucket
  WHERE n.vec_id <> qs.vec_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def q_ann_brp_lsh_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in BucketedRandomProjectionLSH (euclidean) similarity join
    between the query set and the table — rows-only check."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", array_to_vector(F.col("embedding")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0,
        numHashTables=3, seed=42,
    )
    model = lsh.fit(emb)
    qset = emb.filter(F.col("vec_id") < N_QUERIES)
    pairs = model.approxSimilarityJoin(qset, emb, 8.0, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.col("dist"),
        )
    )


# -- IVF (inverted-file) ANN ---------------------------------------------

IVF_CLUSTERS = 16
#: default chosen BY the tuning table (``ann_ivf_tuning`` +
#: ``ann_ivf_recall``): the fixture's embeddings are near-isotropic, so
#: nprobe=2/16 recalls only ~0.42 — the old default failed any
#: production bar.  nprobe=8 clears recall ≥0.8 (measured 0.86 at
#: sf0.01 with the seeded-KMeans quantizer) at ~half the corpus
#: scanned; on clusterable real embeddings the same table re-derives a
#: cheaper setting.  The eval exists precisely to make this a measured
#: choice, not a guess.
IVF_NPROBE = 8


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — the centroid-partitioned alternative to sign-bucket
    LSH: KMeans (seeded) learns IVF_CLUSTERS centroids, every vector is
    assigned to its nearest centroid (the inverted file), and each
    query probes only its IVF_NPROBE closest cells.

    Scale shape: the tiny centroid table broadcasts everywhere (k
    vectors, independent of n); cell assignment is one map pass; the
    probe is an equi-join on the integer cell id covering
    ~nprobe/k of the table.  On disk the cell id is the natural
    partition/bucket column (see ``sources/sinks.py``), making repeated
    probes partition-pruned scans.  KMeans internals aren't
    SQL-expressible — rows-only check, seeded for stability.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from pu4spark_spark.plans import cached, spread

    emb = spread(load_table(spark, "embeddings", sf_dir)).select(
        "vec_id",
        quantized("embedding").alias("q"),
        array_to_vector(F.col("embedding")).alias("fv"),
    )
    # a coarse quantizer doesn't need Lloyd convergence — recall depends
    # only on cells being roughly balanced; 4 Lloyd iterations from
    # seeded RANDOM init (k-means|| itself costs ~2 extra passes over
    # the data) cut the fit to ~1/4 the default cost with no recall
    # effect at nprobe=2
    km = KMeans(
        k=IVF_CLUSTERS,
        seed=42,
        maxIter=4,
        initMode="random",
        featuresCol="fv",
        predictionCol="cell",
    )
    # fit on a coalesced view (narrow, no shuffle): each Lloyd
    # iteration is a treeAggregate whose per-task overhead dominates on
    # spread()'s fixture-sized partitions.  The target is tied to the
    # cluster's parallelism (max(8, parallelism/4)), so on a real
    # cluster with thousands of scan partitions this never collapses
    # the fit onto a handful of cores.  The cell ASSIGNMENT below
    # still runs over the full spread layout.
    fit_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    model = km.fit(emb.coalesce(fit_parts))
    assigned = cached(
        model.transform(emb)
        .withColumn("norm2", int_dot(F.col("q"), F.col("q")))
        .drop("fv")
    )

    # nprobe nearest cells per query vector, by distance to centroid
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    centroids = spark.createDataFrame(centers, ["cell", "centroid"])
    qs = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qnorm2"),
    )
    emb_q = load_table(spark, "embeddings", sf_dir).filter(
        F.col("vec_id") < N_QUERIES
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    dist2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("centroid"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probe = (
        emb_q.crossJoin(F.broadcast(centroids))
        .withColumn("d2", dist2)
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= IVF_NPROBE)
        .select("query_id", "cell")
    )
    targets = F.broadcast(probe.join(qs, "query_id"))

    scored = assigned.join(targets, "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = cosine_from_quantized(
        int_dot(F.col("q"), F.col("qq")), F.col("norm2"), F.col("qnorm2")
    )
    return two_phase_topk(scored.withColumn("cosine", cos), TOP_K)


def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table sanity audit: per-label z-score of the quantized
    squared norm, flagging |z| ≥ 2 vectors — the broken-row detector
    (zeroed, truncated, or mis-scaled embeddings land in the tails) a
    pipeline runs before training on a 100 TB embedding table.

    Exactness discipline (the ``text_zscore_by_lang`` chain): norms
    are exact quantized-integer dot products; per-label moments are
    exact DECIMAL sums in one map-side-combined agg over the bounded
    label key; mean/var/z are a fixed IEEE chain replicated verbatim
    in the oracle.  The moment row joins back as an AQE broadcast; z
    and the flag are scan-stage math."""
    emb = load_table(spark, "embeddings", sf_dir)
    base = emb.select(
        "vec_id", "label", quantized("embedding").alias("__q")
    ).select("vec_id", "label", int_dot(F.col("__q"), F.col("__q")).alias("norm2"))
    stats = base.groupBy("label").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("norm2").cast("decimal(38,0)")).alias("__s"),
        F.sum((F.col("norm2") * F.col("norm2")).cast("decimal(38,0)")).alias(
            "__sq"
        ),
    )
    n = F.col("__n").cast("double")
    s = F.col("__s").cast("double")
    sq = F.col("__sq").cast("double")
    mean = s / n
    var = (n * sq - s * s) / (n * (n - F.lit(1.0)))
    z = (F.col("norm2").cast("double") - mean) / F.sqrt(var)
    return base.join(stats, "label").select(
        "vec_id",
        "label",
        "norm2",
        z.alias("z_norm"),
        (F.abs(z) >= F.lit(2.0)).alias("is_outlier"),
    )


SQL_EMBEDDING_NORM_OUTLIERS = f"""
WITH base AS (
  SELECT vec_id, label,
         CAST(list_dot_product({_Q_SQL}, {_Q_SQL}) AS BIGINT) AS norm2
  FROM embeddings
),
stats AS (
  SELECT label,
         COUNT(*) AS n,
         SUM(CAST(norm2 AS DECIMAL(38,0))) AS s,
         SUM(CAST(norm2 * norm2 AS DECIMAL(38,0))) AS sq
  FROM base GROUP BY label
)
SELECT vec_id, b.label, norm2,
       (CAST(norm2 AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS z_norm,
       abs((CAST(norm2 AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))) >= 2.0
         AS is_outlier
FROM base b JOIN stats USING (label)
"""


def q_embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance profile of the embedding table (64
    rows) — the feature-health audit that catches dead dimensions
    (variance ≈ 0: wasted storage, degenerate for PCA/LSH) and
    mis-scaled ones before any index is built on them.

    Shape: posexplode to (dim, value) → ONE map-side-combined groupBy
    over the bounded dim key; moments are exact DECIMAL sums of the
    quantized integers (the table's own exactness discipline), so
    mean/variance are the fixed two-division IEEE chain and the oracle
    hash-checks them.  The explode carries 64 rows per vector but each
    reduces in-place — the exchange is 64 rows total per partition."""
    from pu4spark_spark.plans import spread

    emb = spread(load_table(spark, "embeddings", sf_dir))
    d = emb.select(
        F.posexplode(quantized("embedding")).alias("dim", "q")
    )
    stats = d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("__s"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("__sq"),
    )
    n = F.col("__n").cast("double")
    sm = F.col("__s").cast("double")
    sq = F.col("__sq").cast("double")
    mean = sm / n
    var = (n * sq - sm * sm) / (n * (n - F.lit(1.0)))
    return stats.select(
        "dim",
        F.col("__n").cast("bigint").alias("n"),
        mean.alias("mean_q"),
        var.alias("var_q"),
    )


SQL_EMBEDDING_DIM_VARIANCE = f"""
WITH b AS (SELECT {_Q_SQL} AS qv FROM embeddings),
d AS (
  SELECT CAST(u.i AS INTEGER) - 1 AS dim, qv[u.i] AS q
  FROM b, UNNEST(range(1, len(qv) + 1)) AS u(i)
),
stats AS (
  SELECT dim, COUNT(*) AS n,
         SUM(CAST(q AS DECIMAL(38,0))) AS s,
         SUM(CAST(q * q AS DECIMAL(38,0))) AS sq
  FROM d GROUP BY dim
)
SELECT dim, CAST(n AS BIGINT) AS n,
       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
       (CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var_q
FROM stats
"""


# -- int8 storage quantization -------------------------------------------

INT8_MAX = 127


def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage form a
    100 TB embedding table actually ships (4× smaller than float32, and
    int8 dot products are SIMD-friendly downstream).

    Per vector: ``scale = 127 / max|x|``, ``q_i = floor(x_i · scale)``
    clamped to [-127, 127].  Floor (not round) keeps the repo's
    cross-engine exactness discipline — IEEE floor is identical in
    Spark and DuckDB, with no round-half tie-rule divergence.  Pure
    per-row array math: zero shuffle, runs inside the scan stage.
    The quantized vector is summarized to scalars (min/max/sum) so the
    oracle comparison stays scalar-typed."""
    return quantize_int8_stats(load_table(spark, "embeddings", sf_dir))


def quantize_int8_stats(emb: DataFrame) -> DataFrame:
    """Int8-quantization summary over any (vec_id, embedding) frame —
    see :func:`q_embedding_quantize_int8` for the discipline."""
    v = F.col("embedding").cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # all-zero vector guard: amax = 0 would give scale = inf and
    # 0·inf = NaN, where Spark's floor(NaN)→NULL silently clamps but
    # DuckDB's CAST errors — scale 0 makes both engines emit an
    # all-zero quantized vector instead
    scale = F.when(F.col("amax") == 0.0, F.lit(0.0)).otherwise(
        F.lit(float(INT8_MAX)) / F.col("amax")
    )
    qv = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-INT8_MAX),
            F.least(
                F.lit(INT8_MAX), F.floor(x * scale).cast("int")
            ),
        ),
    )
    staged = emb.select("vec_id", v.alias("embedding"), amax.alias("amax"))
    qd = staged.select(
        "vec_id", "amax", qv.alias("qv")
    )
    return qd.select(
        "vec_id",
        "amax",
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.aggregate(
            F.col("qv"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_sum"),
    )


SQL_EMBEDDING_QUANTIZE_INT8 = f"""
WITH staged AS (
  SELECT vec_id,
         CAST(embedding AS DOUBLE[]) AS v,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax
  FROM embeddings
),
qd AS (
  SELECT vec_id, amax,
         list_transform(v, x -> greatest(-{INT8_MAX},
             least({INT8_MAX}, CAST(floor(x *
                 (CASE WHEN amax = 0 THEN 0.0 ELSE {INT8_MAX}.0 / amax END))
               AS INTEGER)))) AS qv
  FROM staged
)
SELECT vec_id, amax,
       CAST(list_min(qv) AS INTEGER) AS q_min,
       CAST(list_max(qv) AS INTEGER) AS q_max,
       CAST(list_sum(qv) AS BIGINT) AS q_sum
FROM qd
"""


# -- per-label centroids (exact integer means) ----------------------------

CENTROID_DIMS = 4  # leading components reported as columns


def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid statistics over the quantized embeddings —
    the building block of class prototypes / IVF-per-label layouts.
    Sums are exact int64 over floor-quantized components (associative,
    partition-order independent); each centroid coordinate is one final
    double division, bit-equal in DuckDB.  One map-side-combined
    groupBy(label) — no other shuffle."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = quantized("embedding")
    staged = emb.select(
        "label",
        *[
            F.element_at(q, d + 1).alias(f"__q{d}")
            for d in range(CENTROID_DIMS)
        ],
    )
    n = F.count(F.lit(1))
    return staged.groupBy("label").agg(
        n.alias("n_vecs"),
        *[
            (F.sum(f"__q{d}").cast("double") / n / F.lit(float(QUANT_SCALE)))
            .alias(f"c{d}")
            for d in range(CENTROID_DIMS)
        ],
    )


def _sql_centroids() -> str:
    comps = ", ".join(
        "CAST(SUM(CAST(floor(CAST(embedding[{i}] AS DOUBLE) * {s}) AS BIGINT)) AS DOUBLE)"
        " / COUNT(*) / {s} AS c{d}".format(i=d + 1, d=d, s=QUANT_SCALE)
        for d in range(CENTROID_DIMS)
    )
    return f"""
SELECT label, COUNT(*) AS n_vecs, {comps}
FROM embeddings
GROUP BY label
"""


SQL_EMBEDDING_LABEL_CENTROIDS = _sql_centroids()


# -- exact clustering inertia per label ----------------------------------

def q_embedding_inertia_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact within-cluster sum of squares per label over the quantized
    embeddings — the clustering-quality number (k-means inertia)
    computed WITHOUT materializing centroids:

        Σᵢ ||qᵢ − s/n||² = Σᵢ||qᵢ||² − ||s||²/n

    so the whole statistic reduces to integer sums: per-vector norms in
    one agg, per-(label, dim) component sums in another (explode —
    co-located, no pre-shuffle), then ||s||² = Σₖ sₖ².  Every addition
    is exact integer math; the single division at the end is the only
    IEEE op, replicated verbatim in the oracle.  This is the audit pair
    for the rows-only KMeans/IVF path: sketch-free, engine-exact."""
    base = _quantized_base(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "label")
    labeled = base.join(emb, "vec_id")
    direct = labeled.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("norm2").alias("__sum_norm2"),
    )
    comps = (
        labeled.select("label", F.posexplode("q").alias("__k", "__x"))
        .groupBy("label", "__k")
        .agg(F.sum("__x").alias("__s"))
        .groupBy("label")
        .agg(F.sum(F.col("__s") * F.col("__s")).alias("__s2"))
    )
    return (
        direct.join(comps, "label")
        .select(
            "label",
            "n_vectors",
            (
                F.col("__sum_norm2").cast("double")
                - F.col("__s2").cast("double")
                / F.col("n_vectors").cast("double")
            ).alias("inertia"),
        )
    )


SQL_EMBEDDING_INERTIA = f"""
WITH base AS (
  SELECT e.label, {_Q_SQL} AS q FROM embeddings e
),
direct AS (
  SELECT label, COUNT(*) AS n_vectors,
         SUM(CAST(list_dot_product(q, q) AS BIGINT)) AS sum_norm2
  FROM base GROUP BY label
),
comps AS (
  SELECT label, k, SUM(q[k]) AS s
  FROM base, unnest(range(1, len(q) + 1)) AS t(k)
  GROUP BY label, k
),
s2 AS (SELECT label, SUM(s * s) AS s2 FROM comps GROUP BY label)
SELECT label, n_vectors,
       CAST(sum_norm2 AS DOUBLE)
         - CAST(s2 AS DOUBLE) / CAST(n_vectors AS DOUBLE) AS inertia
FROM direct JOIN s2 USING (label)
"""


# -- ANN quality evaluation: recall@k of the LSH probe -------------------

def _recall_at_k(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Recall@k of the ``approx`` neighbor lists against the ``exact``
    top-k, both keyed by ``(query_id, neighbor_id)``: one row of query
    count, average recall and the fewest neighbors any query matched.
    Matched counts are integers and k is a constant, so the recalls are
    exact integer ratios (engine-portable doubles).  The probe join is
    query-set-sized, not corpus-sized."""
    hits = approx.select("query_id", "neighbor_id", F.lit(1).alias("__m"))
    qm = (
        exact.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("__m").alias("matched"))
    )
    return qm.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (
            F.sum("matched").cast("double")
            / (F.count(F.lit(1)) * F.lit(TOP_K))
        ).alias("avg_recall"),
        F.min("matched").cast("bigint").alias("min_matched"),
    )


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the sign-bucket LSH probe against the exact top-k —
    the evaluation every ANN deployment runs before trusting the
    approximate path.  Both sides are this engine's own registered
    operators composed into one plan."""
    return _recall_at_k(
        q_ann_cosine_topk(spark, sf_dir), q_ann_lsh_bucketed(spark, sf_dir)
    )


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF probe against the exact top-k — the
    companion eval to ``ann_lsh_recall`` for the centroid-partitioned
    path, answering "is nprobe enough?" before anyone trusts the
    inverted file at scale (nprobe=8 is the measured ≥0.8-recall
    default on this fixture; see ``ann_ivf_tuning``).  Same query-set-sized probe join and exact
    integer ratios; rows-only (the IVF side embeds the seeded KMeans
    fit), with the recall floor pinned by a pytest property."""
    return _recall_at_k(
        q_ann_cosine_topk(spark, sf_dir), q_ann_ivf(spark, sf_dir)
    )


#: tuning-table probe configurations (cells probed out of IVF_CLUSTERS)
IVF_TUNE_NPROBES = (1, 2, 4, 8, 12)


def q_ann_ivf_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF nprobe TUNING TABLE (the ``dedup_band_tuning`` analogue
    for the centroid path): recall@k and probe cost per nprobe config,
    fully DuckDB-hash-checked.  ``ann_ivf_recall`` surfaced recall
    ≈0.36 at the old nprobe=2 default — this is the query that turns
    that red flag into a defensible config choice.

    Oracle-ability comes from swapping Lloyd iterations for a
    SAMPLED-CENTROID coarse quantizer (a standard IVF variant: centroids
    are the ``IVF_CLUSTERS`` data vectors with the smallest
    ``vec_id ≥ N_QUERIES``): cell assignment is an exact integer argmin
    (``d2 = |a|² + |c|² − 2a·c`` over quantized ints, ties broken by
    cell id via one ``min(d2*32+cell)`` code), so both engines replay
    the entire pipeline bit-for-bit — recall itself hash-checks, like
    the LSH/Matryoshka/binary evals.

    No per-config top-k is materialized: an exact-top-k neighbor
    appears in the probed top-k iff its cell's probe rank ≤ nprobe
    (candidates are a restriction of the same global cosine order, so
    the probed subset of the exact top-k IS the intersection).  Each
    neighbor therefore needs only its cell's per-query probe rank; the
    whole table is three small joins over query-set-sized frames.

    Scale shape: the centroid table is k rows (broadcast); assignment
    is one broadcast-join scan + a map-side-combined argmin groupBy
    carrying one row per vector; everything downstream is
    (queries × cells)-sized.  Cost column: ``avg_scanned`` = mean rows
    scanned per query at that nprobe, the recall-vs-work trade read
    directly against ``scanned_frac``."""
    from pu4spark_spark.plans import cached

    # the quantized base feeds FOUR consumers (centroid pick, the
    # distance table, the corpus count, and the exact-top-k side) and
    # the 64-dim integer dot products are interpreted HOF folds — the
    # dominant per-row cost.  Persist base once and the (vector ×
    # centroid) distance table once instead of re-deriving them per
    # branch (guide §5: cache multiply-consumed subtrees).
    base = cached(_quantized_base(spark, sf_dir))
    w = Window.orderBy("vec_id")
    cents = (
        base.filter(F.col("vec_id") >= N_QUERIES)
        .orderBy("vec_id")
        .limit(IVF_CLUSTERS)
        .withColumn("cell", F.row_number().over(w) - 1)
        .select(
            "cell",
            F.col("q").alias("cq"),
            F.col("norm2").alias("cnorm2"),
        )
    )
    d2 = (
        F.col("norm2")
        + F.col("cnorm2")
        - F.lit(2) * int_dot(F.col("q"), F.col("cq"))
    )
    dists = cached(
        base.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            F.col("cell"),
            d2.alias("d2"),
        )
    )
    assigned = cached(
        dists.groupBy("vec_id").agg(
            (F.min(F.col("d2") * F.lit(32) + F.col("cell")) % 32)
            .cast("int")
            .alias("cell")
        )
    )
    cell_sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("sz"))
    wq = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    qpr = (
        dists.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "cell", "d2")
        .withColumn("pr", F.row_number().over(wq))
        .select("query_id", "cell", "pr")
    )
    configs = spark.createDataFrame(
        [(n,) for n in IVF_TUNE_NPROBES], "nprobe int"
    )

    # the exact side over the SAME cached base (identical computation
    # to q_ann_cosine_topk, which would otherwise re-quantize the
    # corpus from parquet)
    exact = cosine_topk(
        base, base.filter(F.col("vec_id") < N_QUERIES)
    ).select("query_id", "neighbor_id")
    need = exact.join(
        assigned.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    ).join(qpr, ["query_id", "cell"])
    matched = (
        need.crossJoin(F.broadcast(configs))
        .groupBy("nprobe", "query_id")
        .agg(
            F.sum(
                F.when(F.col("pr") <= F.col("nprobe"), 1).otherwise(0)
            ).alias("m")
        )
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            (
                F.sum("m").cast("double")
                / (F.count(F.lit(1)) * F.lit(TOP_K))
            ).alias("avg_recall"),
            F.min("m").cast("bigint").alias("min_matched"),
        )
    )
    n_total = base.agg(F.count(F.lit(1)).alias("n_total"))
    scanned = (
        qpr.join(F.broadcast(cell_sizes), "cell")
        .crossJoin(F.broadcast(configs))
        .groupBy("nprobe")
        .agg(
            F.sum(
                F.when(F.col("pr") <= F.col("nprobe"), F.col("sz")).otherwise(
                    F.lit(0)
                )
            ).alias("tot_sc"),
            F.countDistinct("query_id").alias("nq"),
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            "nprobe",
            (F.col("tot_sc").cast("double") / F.col("nq")).alias(
                "avg_scanned"
            ),
            (
                F.col("tot_sc").cast("double")
                / (F.col("nq") * F.col("n_total"))
            ).alias("scanned_frac"),
        )
    )
    return matched.join(scanned, "nprobe").select(
        "nprobe",
        "n_queries",
        "avg_recall",
        "min_matched",
        "avg_scanned",
        "scanned_frac",
    )


_NPROBE_UNNEST = ", ".join(
    f"CAST({n} AS INTEGER)" for n in IVF_TUNE_NPROBES
)

SQL_ANN_IVF_TUNING = f"""
WITH normed AS (
  SELECT vec_id, {_Q_SQL} AS q FROM embeddings
),
base AS (
  SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm2
  FROM normed
),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
         q AS cq, norm2 AS cnorm2
  FROM base WHERE vec_id >= {N_QUERIES} ORDER BY vec_id LIMIT {IVF_CLUSTERS}
),
dists AS (
  SELECT b.vec_id, c.cell,
         b.norm2 + c.cnorm2
         - 2 * CAST(list_dot_product(b.q, c.cq) AS BIGINT) AS d2
  FROM base b, cents c
),
assigned AS (
  SELECT vec_id, CAST(MIN(d2 * 32 + cell) % 32 AS INTEGER) AS cell
  FROM dists GROUP BY vec_id
),
cell_sizes AS (
  SELECT cell, COUNT(*) AS sz FROM assigned GROUP BY cell
),
qpr AS (
  SELECT vec_id AS query_id, cell,
         CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY d2 ASC, cell ASC) AS INTEGER) AS pr
  FROM dists WHERE vec_id < {N_QUERIES}
),
configs AS (SELECT u AS nprobe FROM UNNEST([{_NPROBE_UNNEST}]) t(u)),
exact AS ({SQL_ANN_COSINE_TOPK}),
need AS (
  SELECT e.query_id, q.pr
  FROM exact e
  JOIN assigned a ON a.vec_id = e.neighbor_id
  JOIN qpr q ON q.query_id = e.query_id AND q.cell = a.cell
),
qmatch AS (
  SELECT c.nprobe, n.query_id,
         SUM(CASE WHEN n.pr <= c.nprobe THEN 1 ELSE 0 END) AS m
  FROM need n, configs c
  GROUP BY c.nprobe, n.query_id
),
matched AS (
  SELECT nprobe,
         COUNT(*) AS n_queries,
         CAST(SUM(m) AS DOUBLE) / (COUNT(*) * {TOP_K}) AS avg_recall,
         CAST(MIN(m) AS BIGINT) AS min_matched
  FROM qmatch GROUP BY nprobe
),
scanned AS (
  SELECT c.nprobe,
         CAST(SUM(CASE WHEN q.pr <= c.nprobe THEN s.sz ELSE 0 END) AS DOUBLE)
           / COUNT(DISTINCT q.query_id) AS avg_scanned,
         CAST(SUM(CASE WHEN q.pr <= c.nprobe THEN s.sz ELSE 0 END) AS DOUBLE)
           / (COUNT(DISTINCT q.query_id)
              * (SELECT COUNT(*) FROM base)) AS scanned_frac
  FROM qpr q JOIN cell_sizes s ON s.cell = q.cell, configs c
  GROUP BY c.nprobe
)
SELECT m.nprobe, m.n_queries, m.avg_recall, m.min_matched,
       s.avg_scanned, s.scanned_frac
FROM matched m JOIN scanned s ON m.nprobe = s.nprobe
"""


SQL_ANN_LSH_RECALL = f"""
WITH exact AS ({SQL_ANN_COSINE_TOPK}),
approx AS ({SQL_ANN_LSH_BUCKETED}),
qm AS (
  SELECT e.query_id, COUNT(a.neighbor_id) AS matched
  FROM exact e
  LEFT JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)
SELECT COUNT(*) AS n_queries,
       CAST(SUM(matched) AS DOUBLE) / (COUNT(*) * {TOP_K}) AS avg_recall,
       CAST(MIN(matched) AS BIGINT) AS min_matched
FROM qm
"""


# -- Matryoshka-truncation recall ----------------------------------------

MATRYOSHKA_DIMS = 16


def q_ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PREFIX-TRUNCATED embeddings against the full-width
    exact top-k — the go/no-go eval for Matryoshka-style dimension
    cutting (store/search the first 16 of 64 dims at ¼ the memory and
    dot-product cost; how much neighbor quality survives?).  Same
    composition discipline as ``ann_lsh_recall``: both sides are this
    engine's own exact top-k operator — one over the full vectors, one
    over ``slice(embedding, 1, 16)`` — joined per (query, neighbor);
    matched counts are integers, so the recalls are exact ratios the
    oracle hash-checks.  At scale the truncated pass scans ¼ the
    bytes when the prefix is stored as its own column (columnar
    layouts price exactly this trick)."""
    base_full = _quantized_base(spark, sf_dir)
    from pu4spark_spark.plans import spread

    emb = spread(load_table(spark, "embeddings", sf_dir))
    q16 = F.slice(quantized("embedding"), 1, MATRYOSHKA_DIMS)
    base_t = emb.select("vec_id", q16.alias("q")).withColumn(
        "norm2", int_dot(F.col("q"), F.col("q"))
    )
    exact = cosine_topk(
        base_full, base_full.filter(F.col("vec_id") < N_QUERIES)
    )
    trunc = cosine_topk(base_t, base_t.filter(F.col("vec_id") < N_QUERIES))
    return _recall_at_k(exact, trunc)


_Q16_SQL = (
    f"list_transform(CAST(embedding AS DOUBLE[])[1:{MATRYOSHKA_DIMS}],"
    f" x -> CAST(floor(x * {QUANT_SCALE}) AS BIGINT))"
)

SQL_ANN_MATRYOSHKA_RECALL = f"""
WITH exact AS ({SQL_ANN_COSINE_TOPK}),
base16 AS (
  SELECT vec_id, {_Q16_SQL} AS q FROM embeddings
),
normed16 AS (
  SELECT vec_id, q, list_dot_product(q, q) AS norm2 FROM base16
),
scored16 AS (
  SELECT qs.vec_id AS query_id, n.vec_id AS neighbor_id,
         list_dot_product(n.q, qs.q) / (sqrt(n.norm2) * sqrt(qs.norm2))
           AS cosine
  FROM normed16 n,
       (SELECT * FROM normed16 WHERE vec_id < {N_QUERIES}) qs
  WHERE n.vec_id <> qs.vec_id
),
trunc AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored16)
  WHERE rank <= {TOP_K}
),
qm AS (
  SELECT e.query_id, COUNT(t.neighbor_id) AS matched
  FROM exact e
  LEFT JOIN trunc t
    ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
  GROUP BY e.query_id
)
SELECT COUNT(*) AS n_queries,
       CAST(SUM(matched) AS DOUBLE) / (COUNT(*) * {TOP_K}) AS avg_recall,
       CAST(MIN(matched) AS BIGINT) AS min_matched
FROM qm
"""


# -- binary (1-bit) quantization + hamming ANN ---------------------------

#: fixture embedding dimensionality — shared by the 1-bit hamming codes
#: below and the Gram/PCA chain further down (one constant, one update)
EMB_DIM = 64


def _sign_code(col: str, lo: int, hi: int) -> F.Column:
    """Bits ``lo..hi-1`` of the sign code as an exact integer sum of
    distinct powers of two (< 2^32, no shifts, no overflow): bit i set
    iff ``embedding[i] >= 0``."""
    c = F.col(col)
    terms = [
        F.when(F.element_at(c, i + 1) >= 0, F.lit(1 << (i - lo)))
        .otherwise(F.lit(0))
        .cast("long")
        for i in range(lo, hi)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _sql_sign_code(expr: str, lo: int, hi: int) -> str:
    parts = " + ".join(
        f"(CASE WHEN {expr}[{i + 1}] >= 0 THEN {1 << (i - lo)} ELSE 0 END)"
        for i in range(lo, hi)
    )
    return f"CAST({parts} AS BIGINT)"


def q_ann_binary_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of 1-BIT (sign) quantized embeddings under hamming
    distance against the full-precision exact top-k — the go/no-go
    eval for binary quantization, the current production answer to
    "the embedding table doesn't fit": 64 dims compress to 8 BYTES
    per vector (32× vs float32), and the scan compares codes with
    xor+popcount instead of a float dot product.

    The code is two 32-bit halves (exact sums of distinct powers of
    two — no 64-bit shift edge cases in either engine); hamming =
    ``bit_count(lo⊕lo') + bit_count(hi⊕hi')``.  The hamming scan is
    deliberately EXHAUSTIVE (that is binary quantization's deal — the
    compressed scan is cheap enough to be brute-force) with the same
    broadcast-queries + two-phase top-k shape as the exact path, ties
    broken by neighbor id so both engines rank identically.  Matched
    counts are integers ⇒ the recalls are exact ratios the oracle
    hash-checks — same eval contract as ``ann_lsh_recall`` /
    ``ann_matryoshka_recall``."""
    from pu4spark_spark.plans import spread

    exact = q_ann_cosine_topk(spark, sf_dir)
    emb = spread(load_table(spark, "embeddings", sf_dir))
    codes = emb.select(
        "vec_id",
        _sign_code("embedding", 0, 32).alias("lo"),
        _sign_code("embedding", 32, EMB_DIM).alias("hi"),
    )
    qcodes = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    scored = codes.crossJoin(F.broadcast(qcodes)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    ham = F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo"))) + F.bit_count(
        F.col("hi").bitwiseXOR(F.col("qhi"))
    )
    # two-phase top-k under (hamming ASC, vec_id ASC) — the same
    # no-single-task-sort shape as two_phase_topk, inverted order
    from pu4spark_spark.plans import two_phase_rank

    hs = scored.withColumn("hamming", ham)
    approx = two_phase_rank(
        hs, ["query_id"], [F.asc("hamming"), F.asc("vec_id")], TOP_K
    ).select("query_id", F.col("vec_id").alias("neighbor_id"))
    return _recall_at_k(exact, approx)


_LO_SQL = _sql_sign_code("embedding", 0, 32)
_HI_SQL = _sql_sign_code("embedding", 32, EMB_DIM)

SQL_ANN_BINARY_HAMMING_RECALL = f"""
WITH exact AS ({SQL_ANN_COSINE_TOPK}),
codes AS (
  SELECT vec_id, {_LO_SQL} AS lo, {_HI_SQL} AS hi FROM embeddings
),
scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         bit_count(xor(c.lo, qs.lo)) + bit_count(xor(c.hi, qs.hi))
           AS hamming
  FROM codes c, (SELECT * FROM codes WHERE vec_id < {N_QUERIES}) qs
  WHERE c.vec_id <> qs.vec_id
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY hamming ASC, neighbor_id ASC) AS rank
    FROM scored)
  WHERE rank <= {TOP_K}
),
qm AS (
  SELECT e.query_id, COUNT(a.neighbor_id) AS matched
  FROM exact e
  LEFT JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)
SELECT COUNT(*) AS n_queries,
       CAST(SUM(matched) AS DOUBLE) / (COUNT(*) * {TOP_K}) AS avg_recall,
       CAST(MIN(matched) AS BIGINT) AS min_matched
FROM qm
"""


#: stage-1 candidate depth for the rerank pipeline (5× the final k)
RERANK_CANDIDATES = 25


def _retrieve_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-1 retrieval of the rerank pipeline: 8-byte sign codes
    under hamming, ``RERANK_CANDIDATES`` per query via two-phase rank.
    Shared by :func:`q_ann_rerank_topk` (which reranks it) and
    :func:`q_ann_ranking_eval` (which grades its ordering)."""
    from pu4spark_spark.plans import spread, two_phase_rank

    emb = spread(load_table(spark, "embeddings", sf_dir))
    codes = emb.select(
        "vec_id",
        _sign_code("embedding", 0, 32).alias("lo"),
        _sign_code("embedding", 32, EMB_DIM).alias("hi"),
    )
    qcodes = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    ham = F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo"))) + F.bit_count(
        F.col("hi").bitwiseXOR(F.col("qhi"))
    )
    return two_phase_rank(
        codes.crossJoin(F.broadcast(qcodes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("hamming", ham),
        ["query_id"],
        [F.asc("hamming"), F.asc("vec_id")],
        RERANK_CANDIDATES,
        rank_col="retrieve_rank",
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "retrieve_rank",
    )


def q_ann_rerank_topk(
    spark: SparkSession, sf_dir: str, cand: DataFrame | None = None
) -> DataFrame:
    """RETRIEVE → RERANK, the two-stage serving shape every production
    vector search runs (and the cross-encoder pattern in miniature): a
    cheap stage-1 scan — 8-byte binary codes under hamming — retrieves
    ``RERANK_CANDIDATES`` per query, then the EXPENSIVE scorer (exact
    full-precision integer cosine here; a cross-encoder model in the
    LLM stack) runs over the candidate set ONLY and re-orders it into
    the final top-k.  Completes the ANN family: codes/LSH/IVF answer
    "how to retrieve cheaply", this answers "how retrieval quality is
    recovered without paying the expensive scorer corpus-wide".

    Scale shape: stage 1 is the exhaustive compressed scan (binary
    quantization's deal); the candidate list is queries×C rows and
    BROADCASTS back against the full-precision table, so the rerank
    costs one corpus scan + candidate-sized compute — the expensive
    scorer never sees more than C rows per query.  Everything is
    integer-exact with deterministic tie-breaks, so the final ranking
    hash-checks; output carries both ranks to show the re-ordering."""
    from pu4spark_spark.plans import two_phase_rank

    if cand is None:
        cand = _retrieve_candidates(spark, sf_dir)
    base = _quantized_base(spark, sf_dir)
    nb = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("nq"),
        F.col("norm2").alias("nnorm2"),
    )
    qv = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qnorm2"),
    )
    rer = (
        nb.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cosine",
            cosine_from_quantized(
                int_dot(F.col("nq"), F.col("qq")),
                F.col("nnorm2"),
                F.col("qnorm2"),
            ),
        )
    )
    return two_phase_rank(
        rer,
        ["query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        TOP_K,
        rank_col="rank",
    ).select("query_id", "neighbor_id", "retrieve_rank", "rank", "cosine")


SQL_ANN_RERANK_TOPK = f"""
WITH codes AS (
  SELECT vec_id, {_sql_sign_code("embedding", 0, 32)} AS lo,
         {_sql_sign_code("embedding", 32, EMB_DIM)} AS hi
  FROM embeddings
),
hscored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         bit_count(xor(c.lo, qs.lo)) + bit_count(xor(c.hi, qs.hi))
           AS hamming
  FROM codes c, (SELECT * FROM codes WHERE vec_id < {N_QUERIES}) qs
  WHERE c.vec_id <> qs.vec_id
),
cand AS (
  SELECT query_id, neighbor_id,
         CAST(retrieve_rank AS INTEGER) AS retrieve_rank
  FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY hamming ASC, neighbor_id ASC)
             AS retrieve_rank
    FROM hscored)
  WHERE retrieve_rank <= {RERANK_CANDIDATES}
),
normed AS (
  SELECT vec_id, q, list_dot_product(q, q) AS norm2
  FROM (SELECT vec_id, {_Q_SQL} AS q FROM embeddings)
),
rer AS (
  SELECT c.query_id, c.neighbor_id, c.retrieve_rank,
         list_dot_product(n.q, qs.q)
           / (sqrt(n.norm2) * sqrt(qs.norm2)) AS cosine
  FROM cand c
  JOIN normed n ON n.vec_id = c.neighbor_id
  JOIN (SELECT * FROM normed WHERE vec_id < {N_QUERIES}) qs
    ON qs.vec_id = c.query_id
)
SELECT query_id, neighbor_id, retrieve_rank,
       CAST(rank AS INTEGER) AS rank, cosine
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC)
              AS rank
  FROM rer)
WHERE rank <= {TOP_K}
"""


# -- ranking-quality eval: nDCG@k + MRR over the rerank pipeline -----------

#: position discounts 1/log2(i+1) and the ideal DCG, computed ONCE in
#: Python and embedded as identical decimal literals in BOTH engines'
#: expressions — no in-engine transcendental (Java log vs libm log can
#: differ in the last ulp, which would break the value hash)
_NDCG_W = [1.0 / _math.log2(i + 1) for i in range(1, TOP_K + 1)]
_IDCG_CONST = 0.0
for _i in range(1, TOP_K + 1):
    _IDCG_CONST += ((1 << (TOP_K - _i + 1)) - 1) * _NDCG_W[_i - 1]


def q_ann_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED RANKING EVAL — the report every retrieval stack ships
    with: nDCG@k, reciprocal rank (MRR's per-query term) and AP@k
    (MAP's per-query term) for BOTH stages of the retrieve→rerank
    pipeline, per query, against exact-cosine ground truth.  Relevance is graded integer (exact neighbor at true rank r
    gets rel = k−r+1, others 0), so gains are integers and the only
    doubles are one fixed multiply-add chain per row over Python-pinned
    discount literals — fully hash-checkable, and the rerank stage must
    dominate the retrieve stage (pytest asserts it).

    Scale shape: truth and both rankings are queries×k rows; the eval
    itself is a broadcast join + one tiny pivot-aggregate — the cost is
    the two ranking jobs it grades, which are the existing bounded
    pipelines (`ann_cosine_topk`, `ann_rerank_topk`).  The stage-1
    candidate frame (queries×C rows) is ``cached()`` and SHARED between
    the retrieve stage and the rerank it feeds — uncached, each
    consumer re-runs the corpus-wide hamming scan (ReusedExchange
    doesn't fire across different downstream shuffles)."""
    from pu4spark_spark.plans import cached

    truth = q_ann_cosine_topk(spark, sf_dir).select(
        "query_id",
        "neighbor_id",
        (F.lit(TOP_K) - F.col("rank") + 1).cast("int").alias("rel"),
    )
    cand = cached(_retrieve_candidates(spark, sf_dir))
    retrieve = (
        cand
        .filter(F.col("retrieve_rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.lit("retrieve").alias("stage"),
            F.col("retrieve_rank").cast("int").alias("rank"),
        )
    )
    rerank = q_ann_rerank_topk(spark, sf_dir, cand=cand).select(
        "query_id",
        "neighbor_id",
        F.lit("rerank").alias("stage"),
        F.col("rank").cast("int").alias("rank"),
    )
    sys = retrieve.unionByName(rerank)
    j = (
        sys.join(F.broadcast(truth), ["query_id", "neighbor_id"], "left")
        .withColumn("rel", F.coalesce(F.col("rel"), F.lit(0)))
        # F.shiftleft only takes a literal shift — expr() for per-row
        .withColumn("gain", F.expr("shiftleft(1, rel) - 1"))
    )
    agg = j.groupBy("stage", "query_id").agg(
        F.sum((F.col("rel") > 0).cast("int")).cast("bigint").alias("n_rel"),
        F.coalesce(
            F.min(F.when(F.col("rel") > 0, F.col("rank"))), F.lit(0)
        )
        .cast("int")
        .alias("first_rel_rank"),
        *[
            F.sum(F.when(F.col("rank") == i, F.col("gain")).otherwise(0))
            .cast("bigint")
            .alias(f"g{i}")
            for i in range(1, TOP_K + 1)
        ],
        *[
            F.sum(
                F.when(
                    (F.col("rank") == i) & (F.col("rel") > 0), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"b{i}")
            for i in range(1, TOP_K + 1)
        ],
    )
    dcg = F.col("g1").cast("double") * F.lit(_NDCG_W[0])
    for i in range(2, TOP_K + 1):
        dcg = dcg + F.col(f"g{i}").cast("double") * F.lit(_NDCG_W[i - 1])
    rr = (
        F.when(
            F.col("first_rel_rank") > 0,
            F.lit(1.0) / F.col("first_rel_rank"),
        )
        .otherwise(F.lit(0.0))
    )
    # AP@k: Σ_i rel_i·precision@i, normalized by the R=k relevant items
    # every query has — all terms integer-derived, one fixed chain
    ap = None
    for i in range(1, TOP_K + 1):
        cum = F.col("b1")
        for jj in range(2, i + 1):
            cum = cum + F.col(f"b{jj}")
        term = (F.col(f"b{i}") * cum).cast("double") / F.lit(float(i))
        ap = term if ap is None else ap + term
    ap = ap / F.lit(float(TOP_K))
    return agg.select(
        "stage",
        "query_id",
        "n_rel",
        "first_rel_rank",
        rr.alias("rr"),
        ap.alias("ap"),
        dcg.alias("dcg"),
        (dcg / F.lit(_IDCG_CONST)).alias("ndcg"),
    )


def _sql_ranking_eval() -> str:
    g_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN rank = {i} THEN gain ELSE 0 END) AS BIGINT)"
        f" AS g{i}"
        for i in range(1, TOP_K + 1)
    )
    b_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN rank = {i} AND rel > 0 THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS b{i}"
        for i in range(1, TOP_K + 1)
    )
    ap_terms = " + ".join(
        "CAST((b{i} * ({cum})) AS DOUBLE) / CAST({i} AS DOUBLE)".format(
            i=i, cum=" + ".join(f"b{jj}" for jj in range(1, i + 1))
        )
        for i in range(1, TOP_K + 1)
    )
    ap = f"({ap_terms}) / CAST({TOP_K} AS DOUBLE)"
    # CAST('…' AS DOUBLE): a bare decimal literal is DECIMAL in DuckDB
    # and its decimal→double conversion can be off the correctly-rounded
    # text parse by 1 ulp — the string cast matches Spark's literal
    dcg = " + ".join(
        f"CAST(g{i} AS DOUBLE) * CAST('{_NDCG_W[i - 1]!r}' AS DOUBLE)"
        for i in range(1, TOP_K + 1)
    )
    return f"""
WITH codes AS (
  SELECT vec_id, {_sql_sign_code("embedding", 0, 32)} AS lo,
         {_sql_sign_code("embedding", 32, EMB_DIM)} AS hi
  FROM embeddings
),
hscored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         bit_count(xor(c.lo, qs.lo)) + bit_count(xor(c.hi, qs.hi))
           AS hamming
  FROM codes c, (SELECT * FROM codes WHERE vec_id < {N_QUERIES}) qs
  WHERE c.vec_id <> qs.vec_id
),
cand AS (
  SELECT query_id, neighbor_id, retrieve_rank FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY hamming ASC, neighbor_id ASC)
             AS retrieve_rank
    FROM hscored)
  WHERE retrieve_rank <= {RERANK_CANDIDATES}
),
normed AS (
  SELECT vec_id, q, list_dot_product(q, q) AS norm2
  FROM (SELECT vec_id, {_Q_SQL} AS q FROM embeddings)
),
rer AS (
  SELECT c.query_id, c.neighbor_id,
         list_dot_product(n.q, qs.q)
           / (sqrt(n.norm2) * sqrt(qs.norm2)) AS cosine
  FROM cand c
  JOIN normed n ON n.vec_id = c.neighbor_id
  JOIN (SELECT * FROM normed WHERE vec_id < {N_QUERIES}) qs
    ON qs.vec_id = c.query_id
),
final AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC)
             AS rank
    FROM rer)
  WHERE rank <= {TOP_K}
),
tscored AS (
  SELECT qs.vec_id AS query_id, n.vec_id AS neighbor_id,
         list_dot_product(n.q, qs.q)
           / (sqrt(n.norm2) * sqrt(qs.norm2)) AS cosine
  FROM normed n, (SELECT * FROM normed WHERE vec_id < {N_QUERIES}) qs
  WHERE n.vec_id <> qs.vec_id
),
truth AS (
  SELECT query_id, neighbor_id,
         CAST({TOP_K} - rank + 1 AS INTEGER) AS rel
  FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC)
             AS rank
    FROM tscored)
  WHERE rank <= {TOP_K}
),
sys AS (
  SELECT query_id, neighbor_id, 'retrieve' AS stage,
         CAST(retrieve_rank AS INTEGER) AS rank
  FROM cand WHERE retrieve_rank <= {TOP_K}
  UNION ALL
  SELECT query_id, neighbor_id, 'rerank' AS stage,
         CAST(rank AS INTEGER) AS rank
  FROM final
),
j AS (
  SELECT s.stage, s.query_id, s.rank,
         COALESCE(t.rel, 0) AS rel,
         (1 << COALESCE(t.rel, 0)) - 1 AS gain
  FROM sys s LEFT JOIN truth t
    ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
),
agg AS (
  SELECT stage, query_id,
         CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel,
         CAST(COALESCE(MIN(CASE WHEN rel > 0 THEN rank END), 0)
              AS INTEGER) AS first_rel_rank,
         {g_cols},
         {b_cols}
  FROM j GROUP BY stage, query_id
)
SELECT stage, query_id, n_rel, first_rel_rank,
       CASE WHEN first_rel_rank > 0
            THEN CAST(1 AS DOUBLE) / first_rel_rank
            ELSE CAST(0 AS DOUBLE) END AS rr,
       {ap} AS ap,
       ({dcg}) AS dcg,
       ({dcg}) / CAST('{_IDCG_CONST!r}' AS DOUBLE) AS ndcg
FROM agg
"""


#: product-quantization geometry: M subspaces × D dims, K centroids each
PQ_M = 8
PQ_D = 8
PQ_K = 16


def q_ann_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION + ADC recall eval — the third leg of the
    compression triad (binary codes = 1 bit/dim, Matryoshka = fewer
    dims, PQ = per-subspace codebooks): each vector's 8 contiguous
    8-dim subvectors are replaced by the id of their nearest of 16
    per-subspace centroids (8 codes = 8 bytes/vector, 32× vs float32),
    and queries score candidates by Asymmetric Distance Computation —
    the query stays full-precision and per-(subspace, centroid) dot
    products are looked up from a 128-entry table instead of touching
    raw vectors.  Two recalls vs the exact cosine top-k: the RAW ADC
    top-k (what the compressed order alone gets — honest: ~0.2 on this
    near-isotropic fixture with sampled codebooks; trained k-means
    codebooks, a rows-only path, is how production raises it) and the
    DEPLOYABLE config — ADC retrieves ``RERANK_CANDIDATES``, the exact
    scorer reranks (``ann_rerank_topk``'s shape), so recall equals the
    candidate coverage.  That pair is the table a user tunes against
    BEFORE rebuilding a 100 TB index on the compressed codes.

    Oracle-ability, as in ``ann_ivf_tuning``: sampled-vector centroids
    (the ``PQ_K`` lowest non-query vec_ids per subspace) make code
    assignment an exact integer argmin (``min(d2*K + idx)``), ADC
    partial dots are exact integers, and the reconstructed norm is the
    sum of per-subspace centroid norms (coordinate blocks are
    orthogonal) — one IEEE division per (query, candidate), so even
    the recall hash-checks.

    Scale shape: the codebook is M×K rows (broadcast); assignment
    explodes each vector to its M subvectors (linear fan-out), joins
    the broadcast codebook, and argmins in ONE map-side-combined
    groupBy; the ADC scan joins codes against the broadcast 128-row
    query lookup table and reduces per (query, vec) — candidates never
    shuffle, raw vectors are never touched after coding."""
    from pu4spark_spark.plans import spread, two_phase_rank

    base = _quantized_base(spark, sf_dir)
    w = Window.orderBy("vec_id")
    cent_src = (
        base.filter(F.col("vec_id") >= N_QUERIES)
        .orderBy("vec_id")
        .limit(PQ_K)
        .withColumn("cidx", F.row_number().over(w) - 1)
    )
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(F.col("q"), m * PQ_D + 1, PQ_D).alias("sub"),
            )
            for m in range(PQ_M)
        ]
    )
    cents = (
        cent_src.select("cidx", F.explode(sub_structs).alias("s"))
        .select(
            "cidx",
            F.col("s.m").alias("m"),
            F.col("s.sub").alias("cvec"),
        )
        .withColumn("cnorm2", int_dot(F.col("cvec"), F.col("cvec")))
    )

    subvecs = base.select(
        "vec_id", F.explode(sub_structs).alias("s")
    ).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("xm")
    )
    d2 = (
        int_dot(F.col("xm"), F.col("xm"))
        + F.col("cnorm2")
        - F.lit(2) * int_dot(F.col("xm"), F.col("cvec"))
    )
    codes = (
        subvecs.join(F.broadcast(cents), "m")
        .withColumn("d2", d2)
        .groupBy("vec_id", "m")
        .agg(
            (F.min(F.col("d2") * F.lit(PQ_K) + F.col("cidx")) % PQ_K)
            .cast("int")
            .alias("code")
        )
    )

    qsub = subvecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", F.col("xm").alias("qm")
    )
    qlut = (
        qsub.join(F.broadcast(cents), "m")
        .select(
            "query_id",
            "m",
            F.col("cidx").alias("code"),
            int_dot(F.col("qm"), F.col("cvec")).alias("pdot"),
            "cnorm2",
        )
    )
    qn = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("norm2").alias("qnorm2")
    )
    scored = (
        codes.join(F.broadcast(qlut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum("pdot").alias("adc"),
            F.sum("cnorm2").alias("recon2"),
        )
        .filter(F.col("recon2") > 0)
        .join(F.broadcast(qn), "query_id")
        .withColumn(
            "cosine",
            F.col("adc")
            / (F.sqrt(F.col("recon2")) * F.sqrt(F.col("qnorm2"))),
        )
    )
    approx = two_phase_rank(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.asc("vec_id")],
        RERANK_CANDIDATES,
        rank_col="adc_rank",
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_rank")
    exact = q_ann_cosine_topk(spark, sf_dir)
    qm = (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("adc_rank") <= TOP_K, 1).otherwise(0)
            ).alias("m_adc"),
            F.count("adc_rank").alias("m_rerank"),
        )
    )
    return qm.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (
            F.sum("m_adc").cast("double")
            / (F.count(F.lit(1)) * F.lit(TOP_K))
        ).alias("adc_recall"),
        (
            F.sum("m_rerank").cast("double")
            / (F.count(F.lit(1)) * F.lit(TOP_K))
        ).alias("reranked_recall"),
        F.min("m_rerank").cast("bigint").alias("min_matched"),
    )


def ensure_ivf_artifact(spark: SparkSession, sf_dir: str) -> str:
    """Build-once cell-PARTITIONED parquet layout of the embedding
    table under the sampled-centroid quantizer — IVF as an on-disk
    layout: ``.../cell=N/`` directories, so a probe reads ONLY its
    nprobe cells via static partition pruning (the ANN twin of the
    dedup band artifact).  Keyed on the source file's (path, size,
    mtime); stale versions of the same path are GC'd before a rebuild
    (the r6 advisory discipline); the version tag is letter-prefixed so
    the scratch GC can never misread it as a pid."""
    import hashlib
    import os
    import shutil
    import tempfile

    src = os.path.abspath(os.path.join(sf_dir, "embeddings.parquet"))
    ptag = hashlib.md5(src.encode()).hexdigest()[:8]
    try:
        st = os.stat(src)
        ver = f"{src}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        ver = src
    vtag = "v" + hashlib.md5(ver.encode()).hexdigest()[:8]
    base_name = f"pu4spark_ivfart_{ptag}"
    d = os.path.join(tempfile.gettempdir(), f"{base_name}_{vtag}")
    if os.path.exists(os.path.join(d, "_SUCCESS")):
        return d
    tmp = tempfile.gettempdir()
    for f in os.listdir(tmp):
        if f.startswith(base_name + "_") and f != os.path.basename(d):
            shutil.rmtree(os.path.join(tmp, f), ignore_errors=True)

    base = _quantized_base(spark, sf_dir)
    w = Window.orderBy("vec_id")
    cents = (
        base.filter(F.col("vec_id") >= N_QUERIES)
        .orderBy("vec_id")
        .limit(IVF_CLUSTERS)
        .withColumn("cell", F.row_number().over(w) - 1)
        .select(
            "cell", F.col("q").alias("cq"), F.col("norm2").alias("cnorm2")
        )
    )
    d2 = (
        F.col("norm2")
        + F.col("cnorm2")
        - F.lit(2) * int_dot(F.col("q"), F.col("cq"))
    )
    assigned = (
        base.crossJoin(F.broadcast(cents))
        .withColumn("code", d2 * F.lit(32) + F.col("cell"))
        .groupBy("vec_id")
        .agg((F.min("code") % 32).cast("int").alias("cell"))
    )
    (
        base.join(assigned, "vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(d)
    )
    return d


def q_ann_ivf_partitioned_probe(
    spark: SparkSession, sf_dir: str, limit_queries: int = N_QUERIES
) -> DataFrame:
    """The IVF STEADY STATE at 100 TB: the corpus is laid out ONCE as a
    cell-partitioned table (:func:`ensure_ivf_artifact`), and each
    query batch reads only its probed cells — the probe list is a
    bounded driver scalar (≤ queries×nprobe cell ids collected from a
    centroid-table-sized frame), pushed as a static ``cell IN (…)``
    partition filter, so the scan touches nprobe/k of the directories
    and none of the rest (plan-gated: PartitionFilters non-empty,
    SelectedBucketsCount-style directory pruning).  Exact integer
    cosine + two-phase top-k within the probed cells; the whole
    pipeline is the sampled-centroid quantizer, so DuckDB replays it
    and the top-k hash-checks.  This is ``ann_ivf``'s docstring claim
    ("the cell id is the natural partition column") made real.

    Honesty note: the registered query probes for ALL fixture queries
    at once, and 10 queries × nprobe=8 happens to union to every cell
    — batch probing over enough queries always will; the pruning win
    is per-serving-request (the plan gate reads the single-query probe
    via ``limit_queries=1``, which selects 8 of 16 directories)."""
    from pu4spark_spark.plans import two_phase_rank

    art = ensure_ivf_artifact(spark, sf_dir)
    base = _quantized_base(spark, sf_dir)
    w = Window.orderBy("vec_id")
    cents = (
        base.filter(F.col("vec_id") >= N_QUERIES)
        .orderBy("vec_id")
        .limit(IVF_CLUSTERS)
        .withColumn("cell", F.row_number().over(w) - 1)
        .select(
            "cell",
            F.col("q").alias("cq"),
            F.col("norm2").alias("cnorm2"),
        )
    )
    qs = base.filter(
        F.col("vec_id") < min(limit_queries, N_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qnorm2"),
    )
    d2 = (
        F.col("qnorm2")
        + F.col("cnorm2")
        - F.lit(2) * int_dot(F.col("qq"), F.col("cq"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probe = (
        qs.crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= IVF_NPROBE)
        .select("query_id", "cell")
    )
    # bounded driver-scalar protocol: ≤ queries×nprobe rows
    probe_rows = probe.collect()
    cells = sorted({r["cell"] for r in probe_rows})

    scan = spark.read.parquet(art).filter(F.col("cell").isin(cells))
    targets = F.broadcast(
        probe.join(qs, "query_id").select(
            "query_id", "cell", "qq", "qnorm2"
        )
    )
    scored = scan.join(targets, "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = cosine_from_quantized(
        int_dot(F.col("q"), F.col("qq")), F.col("norm2"), F.col("qnorm2")
    )
    return two_phase_topk(scored.withColumn("cosine", cos), TOP_K)


SQL_ANN_IVF_PARTITIONED_PROBE = f"""
WITH normed AS (
  SELECT vec_id, {_Q_SQL} AS q FROM embeddings
),
base AS (
  SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm2
  FROM normed
),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
         q AS cq, norm2 AS cnorm2
  FROM base WHERE vec_id >= {N_QUERIES} ORDER BY vec_id LIMIT {IVF_CLUSTERS}
),
dists AS (
  SELECT b.vec_id, c.cell,
         b.norm2 + c.cnorm2
         - 2 * CAST(list_dot_product(b.q, c.cq) AS BIGINT) AS d2
  FROM base b, cents c
),
assigned AS (
  SELECT vec_id, CAST(MIN(d2 * 32 + cell) % 32 AS INTEGER) AS cell
  FROM dists GROUP BY vec_id
),
probe AS (
  SELECT query_id, cell FROM (
    SELECT vec_id AS query_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, cell ASC) AS pr
    FROM dists WHERE vec_id < {N_QUERIES})
  WHERE pr <= {IVF_NPROBE}
),
scored AS (
  SELECT p.query_id, b.vec_id AS neighbor_id,
         list_dot_product(b.q, qs.q) / (sqrt(b.norm2) * sqrt(qs.norm2))
           AS cosine
  FROM probe p
  JOIN assigned a ON a.cell = p.cell
  JOIN base b ON b.vec_id = a.vec_id
  JOIN (SELECT vec_id, q, norm2 FROM base WHERE vec_id < {N_QUERIES}) qs
    ON qs.vec_id = p.query_id
  WHERE b.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""


def _sql_pq_subspaces() -> str:
    """(m, sub) pairs for every vector, DuckDB side."""
    parts = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m,"
        f" array_slice(q, {m * PQ_D + 1}, {(m + 1) * PQ_D}) AS sub"
        " FROM qbase"
        for m in range(PQ_M)
    )
    return parts


SQL_ANN_PQ_ADC_RECALL = f"""
WITH qbase AS (
  SELECT vec_id, {_Q_SQL} AS q FROM embeddings
),
subvecs AS ({_sql_pq_subspaces()}),
cent_src AS (
  SELECT vec_id, q, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx
  FROM qbase WHERE vec_id >= {N_QUERIES} ORDER BY vec_id LIMIT {PQ_K}
),
cents AS (
  SELECT s.m, c.cidx,
         array_slice(c.q, s.m * {PQ_D} + 1, (s.m + 1) * {PQ_D}) AS cvec
  FROM cent_src c,
       (SELECT DISTINCT m FROM subvecs) s
),
cents_n AS (
  SELECT m, cidx, cvec,
         CAST(list_dot_product(cvec, cvec) AS BIGINT) AS cnorm2
  FROM cents
),
codes AS (
  SELECT v.vec_id, v.m,
         CAST(MIN((CAST(list_dot_product(v.sub, v.sub) AS BIGINT)
                   + c.cnorm2
                   - 2 * CAST(list_dot_product(v.sub, c.cvec) AS BIGINT))
                  * {PQ_K} + c.cidx) % {PQ_K} AS INTEGER) AS code
  FROM subvecs v JOIN cents_n c ON c.m = v.m
  GROUP BY v.vec_id, v.m
),
qlut AS (
  SELECT v.vec_id AS query_id, v.m, c.cidx AS code,
         CAST(list_dot_product(v.sub, c.cvec) AS BIGINT) AS pdot,
         c.cnorm2
  FROM subvecs v JOIN cents_n c ON c.m = v.m
  WHERE v.vec_id < {N_QUERIES}
),
qn AS (
  SELECT vec_id AS query_id,
         CAST(list_dot_product(q, q) AS BIGINT) AS qnorm2
  FROM qbase WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT l.query_id, k.vec_id,
         CAST(SUM(l.pdot) AS DOUBLE)
           / (sqrt(CAST(SUM(l.cnorm2) AS DOUBLE)) * sqrt(n.qnorm2))
           AS cosine
  FROM codes k
  JOIN qlut l ON l.m = k.m AND l.code = k.code
  JOIN qn n ON n.query_id = l.query_id
  WHERE k.vec_id <> l.query_id
  GROUP BY l.query_id, k.vec_id, n.qnorm2
  HAVING SUM(l.cnorm2) > 0
),
approx AS (
  SELECT query_id, vec_id AS neighbor_id, adc_rank FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC) AS adc_rank
    FROM scored)
  WHERE adc_rank <= {RERANK_CANDIDATES}
),
exact AS ({SQL_ANN_COSINE_TOPK}),
qm AS (
  SELECT e.query_id,
         SUM(CASE WHEN a.adc_rank <= {TOP_K} THEN 1 ELSE 0 END) AS m_adc,
         COUNT(a.neighbor_id) AS m_rerank
  FROM exact e
  LEFT JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)
SELECT COUNT(*) AS n_queries,
       CAST(SUM(m_adc) AS DOUBLE) / (COUNT(*) * {TOP_K}) AS adc_recall,
       CAST(SUM(m_rerank) AS DOUBLE) / (COUNT(*) * {TOP_K})
         AS reranked_recall,
       CAST(MIN(m_rerank) AS BIGINT) AS min_matched
FROM qm
"""


# -- distributed Gram matrix (PCA / whitening building block) ------------

def q_embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangular Gram matrix G[i,j] = Σ_vecs q_i·q_j over the
    fixed-scale quantized embeddings — the sufficient statistic for
    covariance/PCA/whitening of an embedding corpus, computed as pure
    aggregation (the 100 TB path to "fit a projection on everything":
    no driver-side matrix assembly, no ML-library fit loop).

    Execution shape: two chained ``posexplode``s blow each vector up to
    its d(d+1)/2 component pairs INSIDE the scan stage (pipelined
    codegen — never materialized), then ONE map-side-combined
    groupBy(i,j).  The exchange carries at most 2080 rows per map
    partition regardless of corpus size, and the result is
    2080 rows total for d=64 — aggregation state and output are both
    O(d²), independent of row count.  All products/sums are exact
    int64 (|q| ≤ 1000 ⇒ products ≤ 10⁶; 10¹² vectors stay < 2⁶³),
    so the final double division is the only float op."""
    from pu4spark_spark.plans import spread

    emb = spread(load_table(spark, "embeddings", sf_dir))
    q = emb.select(quantized("embedding").alias("q"))
    qi = q.select(F.posexplode("q").alias("i", "qi"), "q")
    pairs = qi.select("i", "qi", F.posexplode("q").alias("j", "qj")).filter(
        F.col("j") >= F.col("i")
    )
    # every (i,j) group holds exactly one row per vector, so the group
    # count IS the corpus row count — no separate count() job (which
    # would be a second full-table scan at 100 TB)
    return (
        pairs.groupBy("i", "j")
        .agg(
            F.sum(F.col("qi") * F.col("qj")).alias("dot"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            "i",
            "j",
            F.col("dot").alias("gram_int"),
            (
                F.col("dot").cast("double")
                / F.col("__n").cast("double")
                / F.lit(float(QUANT_SCALE)) ** 2
            ).alias("gram_mean"),
        )
    )


SQL_EMBEDDING_GRAM = f"""
WITH q AS (
  SELECT {sql_quantized('embedding')} AS q FROM embeddings
),
comp AS (
  SELECT generate_subscripts(q, 1) - 1 AS i, unnest(q) AS qi, q FROM q
),
pairs AS (
  SELECT i, qi, generate_subscripts(q, 1) - 1 AS j, unnest(q) AS qj FROM comp
)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       CAST(SUM(qi * qj) AS BIGINT) AS gram_int,
       CAST(SUM(qi * qj) AS DOUBLE) / (SELECT COUNT(*) FROM embeddings)
         / ({QUANT_SCALE} * {QUANT_SCALE}) AS gram_mean
FROM pairs
WHERE j >= i
GROUP BY i, j
"""


# -- PCA projection from the distributed Gram matrix ---------------------

#: output dimensionality of the PCA projection
PCA_K = 8


def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PCA end-to-end on the 100 TB recipe: the d×d covariance is
    assembled from ONE distributed pass (the exact-integer Gram matrix
    + component means — both O(d²)/O(d) aggregation outputs regardless
    of corpus size), the 64×64 eigendecomposition runs on the DRIVER
    (trivially small — this is the family's 1-row-agg driver-scalar
    protocol, with a d²-row scalar), and the top-k components are
    broadcast back as literal coefficients in a scan-stage projection —
    no ML-library fit loop, no driver-side data movement beyond the
    2 080 Gram cells.

    The projection expression is built as ONE SQL string per output
    component (SURVEY.md §5b lesson 2: 512 Column-by-Column ops would
    cost ~1 000 py4j round-trips of pure construction time).

    Eigenvector sign is fixed deterministically (largest-|loading|
    entry made positive) so repeated runs hash-equal.  Driver check is
    rows-only (eigensolve is not SQL-expressible); a NumPy reference
    test re-derives the projection independently
    (``tests/test_similarity.py``)."""
    import numpy as np

    from pu4spark_spark.plans import spread

    emb = spread(load_table(spark, "embeddings", sf_dir))
    q = emb.select(quantized("embedding").alias("q"))
    qi = q.select(F.posexplode("q").alias("i", "qi"), "q")
    pairs = qi.select("i", "qi", F.posexplode("q").alias("j", "qj")).filter(
        F.col("j") >= F.col("i")
    )
    # one aggregation job returns every sufficient statistic: n, the d
    # component sums, and the d(d+1)/2 pair sums — all exact int64
    stats = (
        pairs.groupBy("i", "j")
        .agg(
            F.sum(F.col("qi") * F.col("qj")).alias("s_ij"),
            # Σ qi over rows where j==i is the plain component sum
            F.sum(F.when(F.col("j") == F.col("i"), F.col("qi"))).alias(
                "s_i"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    n = stats[0]["n"]
    d = EMB_DIM
    scale = float(QUANT_SCALE)
    second = np.zeros((d, d))
    mu = np.zeros(d)
    for r in stats:
        second[r["i"], r["j"]] = second[r["j"], r["i"]] = r["s_ij"] / n / scale**2
        if r["s_i"] is not None:
            mu[r["i"]] = r["s_i"] / n / scale
    cov = second - np.outer(mu, mu)
    _w, v = np.linalg.eigh(cov)
    comps = v[:, ::-1][:, :PCA_K].T  # rows = top-k components, descending
    for row in comps:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1.0
    # float() before !r: np.float64's repr is "np.float64(x)" under
    # NumPy >= 2.0, which would not parse as a SQL literal
    projs = [
        " + ".join(
            f"(CAST(embedding[{i}] AS DOUBLE) - {float(mu[i])!r})"
            f" * {float(comps[k][i])!r}"
            for i in range(d)
        )
        + f" AS proj{k}"
        for k in range(PCA_K)
    ]
    return emb.selectExpr("vec_id", *projs)


# -- mutual kNN graph -------------------------------------------------------

#: neighbors per node in the kNN graph
KNN_K = 5


def q_ann_knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL kNN GRAPH construction over the embedding table — the
    input structure of SemDeDup-style semantic clustering, diversity
    pruning, and graph-based label propagation: node a keeps edge
    (a,b) only if b is in a's top-k AND a is in b's top-k (mutuality
    prunes hub nodes that appear in everyone's list but reciprocate
    nothing).

    Scale shape: candidates come from the sign-bucket LSH self-join
    (each node compares within its own bucket — the bucketed
    construction every ANN op here uses, never all-pairs), per-node
    top-k via ``two_phase_rank`` (no single-task sort), then the
    mutuality check is ONE self-join of the k·n edge list on the
    reversed key.  Cosines are the exact int-dot/sqrt chain over
    quantized vectors, so the DuckDB twin (same buckets, same rank
    function) hash-checks edges and both ranks."""
    from pu4spark_spark.plans import cached, spread, two_phase_rank

    emb = spread(load_table(spark, "embeddings", sf_dir))
    base = cached(
        emb.select(
            "vec_id",
            quantized("embedding").alias("q"),
            sign_bucket("embedding", LSH_DIMS).alias("bucket"),
        ).withColumn("norm2", int_dot(F.col("q"), F.col("q")))
    )
    other = base.select(
        F.col("bucket"),
        F.col("vec_id").alias("nbr_id"),
        F.col("q").alias("nq"),
        F.col("norm2").alias("nnorm2"),
    )
    scored = (
        base.join(other, "bucket")
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .select(
            "vec_id",
            "nbr_id",
            cosine_from_quantized(
                int_dot(F.col("q"), F.col("nq")),
                F.col("norm2"),
                F.col("nnorm2"),
            ).alias("cosine"),
        )
    )
    knn = cached(
        two_phase_rank(
            scored,
            ["vec_id"],
            [F.desc("cosine"), F.asc("nbr_id")],
            KNN_K,
            rank_col="rank",
        )
    )
    rev = knn.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("nbr_id").alias("vec_id"),
        F.col("rank").alias("rank_back"),
    )
    return (
        knn.join(rev, ["vec_id", "nbr_id"])
        .filter(F.col("vec_id") < F.col("nbr_id"))
        .select(
            F.col("vec_id").alias("a_id"),
            F.col("nbr_id").alias("b_id"),
            "cosine",
            F.col("rank").cast("int").alias("rank_ab"),
            F.col("rank_back").cast("int").alias("rank_ba"),
        )
    )


SQL_ANN_KNN_GRAPH = f"""
WITH base AS (
  SELECT vec_id, {_Q_SQL} AS q, {_BUCKET_SQL} AS bucket FROM embeddings
),
normed AS (
  SELECT vec_id, q, bucket, list_dot_product(q, q) AS norm2 FROM base
),
scored AS (
  SELECT a.vec_id, b.vec_id AS nbr_id,
         list_dot_product(a.q, b.q)
         / (sqrt(a.norm2) * sqrt(b.norm2)) AS cosine
  FROM normed a JOIN normed b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
knn AS (
  SELECT vec_id, nbr_id, cosine, rank FROM (
    SELECT vec_id, nbr_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, nbr_id ASC) AS rank
    FROM scored)
  WHERE rank <= {KNN_K}
)
SELECT f.vec_id AS a_id, f.nbr_id AS b_id, f.cosine,
       CAST(f.rank AS INTEGER) AS rank_ab,
       CAST(r.rank AS INTEGER) AS rank_ba
FROM knn f JOIN knn r
  ON r.vec_id = f.nbr_id AND r.nbr_id = f.vec_id
WHERE f.vec_id < f.nbr_id
"""


# -- exact cross-engine k-means (semantic clustering) ---------------------

KMEANS_K = 4
KMEANS_ROUNDS = 2
KMEANS_SAMPLE = 512
KMEANS_DIMS = 64


def q_embedding_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means made ENGINE-EXACT — the semantic-clustering
    operator (SemDeDup-style corpus bucketing, domain discovery) with
    a hash-checkable answer, which float k-means can never give
    (iterated IEEE means drift across engines and partitionings).

    The trick: centroids are never divided.  A centroid is the integer
    pair (component-sum vector s, count c); the argmin over squared
    distances compares ``|x − s_j/c_j|²`` as the exact integer
    numerator ``c_j²·|x|² − 2c_j·(x·s_j) + |s_j|²`` over ``c_j²`` —
    one correctly-rounded IEEE division per candidate from exact
    int64 inputs (every term stays far below 2⁵³ because the Lloyd
    rounds run on a FIXED-SIZE coreset: the KMEANS_SAMPLE lowest
    md5(vec_id) vectors, so c ≤ 512 and sums are bounded regardless
    of corpus size).  Ties break on cluster id.  Seeds are the K
    lowest-hash coreset vectors; empty clusters keep their previous
    centroid.

    Scale shape: the coreset is a distributed top-512 (TakeOrdered,
    no global sort); each round is one broadcast-4-centroid argmin
    over the coreset plus a 4×64-row component-sum aggregate collected
    under the bounded driver-scalar protocol; the FINAL assignment
    sweeps the full corpus once with broadcast centroids — corpus-
    sized work is one pass, independent of rounds.  Output is all
    integers (counts, masses, norms, id ranges) — hash-exact."""
    from pu4spark_spark.plans import cached

    # base feeds the coreset fit and the final corpus sweep — persist
    # the quantized projection once
    base = cached(_kmeans_base(spark, sf_dir))
    cents = _kmeans_fit(base, KMEANS_K, KMEANS_ROUNDS)
    final = base.select("vec_id", _kmeans_assign_expr(cents).alias("j"))
    rollup = final.groupBy("j").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("first_vec"),
        F.max("vec_id").alias("last_vec"),
    )
    info = [
        (j, c, sum(int(v) * int(v) for v in s))
        for j, (s, c) in enumerate(cents)
    ]
    info_df = F.broadcast(
        spark.createDataFrame(
            info, "j int, sample_mass bigint, centroid_norm2 bigint"
        )
    )
    return (
        rollup.join(info_df, "j")
        .select(
            F.col("j").alias("cluster_id"),
            "n_members",
            "first_vec",
            "last_vec",
            "sample_mass",
            "centroid_norm2",
        )
    )


def _kmeans_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        quantized("embedding").alias("q"),
        F.md5(F.col("vec_id").cast("string")).alias("h"),
    )


def _kmeans_dist_entries(cents) -> list:
    """Per-centroid (rational distance, id) structs over column ``q``."""
    norm2_x = int_dot(F.col("q"), F.col("q"))
    entries = []
    for j, (s, c) in enumerate(cents):
        s_arr = F.array([F.lit(int(v)) for v in s])
        norm2_s = sum(int(v) * int(v) for v in s)
        num = (
            F.lit(int(c * c)) * norm2_x
            - F.lit(int(2 * c)) * int_dot(F.col("q"), s_arr)
            + F.lit(int(norm2_s))
        )
        entries.append(
            F.struct(
                (num.cast("double") / F.lit(float(c * c))).alias("r"),
                F.lit(j).alias("j"),
            )
        )
    return entries


def _kmeans_assign_expr(cents):
    """argmin_j of the exact rational distance, j tie-break."""
    return F.array_min(F.array(*_kmeans_dist_entries(cents)))["j"]


def _kmeans_fit(base: DataFrame, k: int, rounds: int) -> list:
    """Lloyd rounds on the fixed-size coreset; returns the final
    integer (component-sum, count) centroid list — see
    :func:`q_embedding_kmeans_exact` for the exactness argument."""
    from pu4spark_spark.plans import cached

    coreset = cached(
        base.orderBy("h", "vec_id").limit(KMEANS_SAMPLE).select(
            "vec_id", "q", "h"
        )
    )
    try:
        seed_rows = coreset.orderBy("h", "vec_id").limit(k).collect()
        # centroid state on the driver: [(s components, c), ...] by id
        cents = [(list(r["q"]), 1) for r in seed_rows]
        for _ in range(rounds):
            assigned = coreset.select(
                "vec_id", "q", _kmeans_assign_expr(cents).alias("j")
            )
            # ONE collect per round (was two: component sums + counts —
            # each re-evaluating the argmin over the coreset): the
            # member count per cluster rides the pos-0 group of the
            # same K×dims aggregation, since every member contributes
            # exactly one value at every position
            comp = (
                assigned.select("j", F.posexplode("q").alias("pos", "val"))
                .groupBy("j", "pos")
                .agg(
                    F.sum("val").alias("sv"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )  # bounded: K×dims rows
            cnt = {r["j"]: r["n"] for r in comp if r["pos"] == 0}
            sums: dict = {}
            for r in comp:
                sums.setdefault(r["j"], [0] * KMEANS_DIMS)[r["pos"]] = r[
                    "sv"
                ]
            cents = [
                (sums[j], cnt[j]) if j in cnt else cents[j]
                for j in range(k)
            ]
        return cents
    finally:
        coreset.unpersist()


def _sql_kmeans_exact() -> str:
    """Unrolled DuckDB twin: the same coreset, seeds, KMEANS_ROUNDS
    Lloyd rounds, and full-corpus final assignment as CTEs."""
    q = sql_quantized("embedding")
    dist = (
        "CAST(c*c*list_dot_product(q, q) - 2*c*list_dot_product(q, sv)"
        " + list_dot_product(sv, sv) AS DOUBLE) / CAST(c*c AS DOUBLE)"
    )
    return (
        _sql_kmeans_cent_ctes(KMEANS_K, KMEANS_ROUNDS)
        + f""",
af AS (
  SELECT vec_id, j,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY {dist}, j) AS rn
  FROM base, cent{KMEANS_ROUNDS}
),
mf AS (SELECT vec_id, j FROM af WHERE rn = 1)
SELECT CAST(mf.j AS INTEGER) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(mf.vec_id) AS first_vec,
       MAX(mf.vec_id) AS last_vec,
       ci.sample_mass,
       ci.centroid_norm2
FROM mf JOIN (
  SELECT j, c AS sample_mass,
         CAST(list_dot_product(sv, sv) AS BIGINT) AS centroid_norm2
  FROM cent{KMEANS_ROUNDS}
) ci USING (j)
GROUP BY mf.j, ci.sample_mass, ci.centroid_norm2"""
    )


def _sql_kmeans_cent_ctes(k: int, rounds: int) -> str:
    """The shared CTE prefix ``WITH base … cent{rounds}`` — the exact
    coreset Lloyd fit, reused by the k-means report and the IVF-exact
    oracle."""
    q = sql_quantized("embedding")
    dist = (
        "CAST(c*c*list_dot_product(q, q) - 2*c*list_dot_product(q, sv)"
        " + list_dot_product(sv, sv) AS DOUBLE) / CAST(c*c AS DOUBLE)"
    )
    parts = [
        f"""WITH base AS (
  SELECT vec_id, {q} AS q, md5(CAST(vec_id AS VARCHAR)) AS h
  FROM embeddings
),
coreset AS (
  SELECT vec_id, q, h FROM base ORDER BY h, vec_id LIMIT {KMEANS_SAMPLE}
),
cent0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS j,
         q AS sv, CAST(1 AS BIGINT) AS c
  FROM (SELECT * FROM coreset ORDER BY h, vec_id LIMIT {k})
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
a{r} AS (
  SELECT vec_id,
         j,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY {dist}, j) AS rn
  FROM coreset, cent{r - 1}
),
m{r} AS (SELECT vec_id, j FROM a{r} WHERE rn = 1),
cnt{r} AS (SELECT j, CAST(COUNT(*) AS BIGINT) AS c FROM m{r} GROUP BY j),
comp{r} AS (
  SELECT m.j, t.i AS pos, CAST(SUM(s.q[t.i]) AS BIGINT) AS v
  FROM m{r} m JOIN coreset s USING (vec_id)
       CROSS JOIN generate_series(1, {KMEANS_DIMS}) t(i)
  GROUP BY m.j, t.i
),
sv{r} AS (SELECT j, list(v ORDER BY pos) AS sv FROM comp{r} GROUP BY j),
cent{r} AS (
  SELECT c0.j,
         COALESCE(s.sv, c0.sv) AS sv,
         COALESCE(n.c, c0.c) AS c
  FROM cent{r - 1} c0
       LEFT JOIN sv{r} s USING (j)
       LEFT JOIN cnt{r} n USING (j)
)"""
        )
    return "".join(parts)


SQL_EMBEDDING_KMEANS_EXACT = _sql_kmeans_exact()


SEMANTIC_DECON_TAU = 0.4


def q_curation_semantic_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space member of the
    decontamination family (exact-shingle, Bloom, and fuzzy-MinHash
    live in curation.py): a corpus vector is contaminated when its
    cosine against ANY benchmark vector reaches τ, catching the
    paraphrased/templated eval leakage that n-gram probes miss.

    The benchmark set is small by construction (here: vec_id <
    N_QUERIES), so it BROADCASTS and the corpus is scanned once — the
    same join geometry as exact decontamination, with integer dots
    instead of shingle hashing.  Output: per-corpus-vector verdict
    with its worst (most similar) benchmark match, keep/drop partition
    counts riding in the same frame via a window-free aggregate."""
    base = (
        load_table(spark, "embeddings", sf_dir)
        .select("vec_id", quantized("embedding").alias("q"))
        .withColumn("norm2", int_dot(F.col("q"), F.col("q")))
    )
    bench = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("bench_id"),
        F.col("q").alias("qb"),
        F.col("norm2").alias("bnorm2"),
    )
    corpus = base.filter(F.col("vec_id") >= N_QUERIES)
    cos = cosine_from_quantized(
        int_dot(F.col("q"), F.col("qb")), F.col("norm2"), F.col("bnorm2")
    )
    scored = corpus.crossJoin(F.broadcast(bench)).select(
        "vec_id", F.col("bench_id"), cos.alias("cosine")
    )
    worst = scored.groupBy("vec_id").agg(
        F.max("cosine").alias("max_cosine"),
        F.max_by("bench_id", F.struct("cosine", "bench_id")).alias(
            "worst_bench"
        ),
    )
    return worst.select(
        "vec_id",
        "worst_bench",
        "max_cosine",
        (F.col("max_cosine") >= SEMANTIC_DECON_TAU).alias("contaminated"),
    )


_Q_DECON = sql_quantized("embedding")

SQL_CURATION_SEMANTIC_DECON = f"""
WITH base AS (
  SELECT vec_id, {_Q_DECON} AS q,
         list_dot_product({_Q_DECON}, {_Q_DECON}) AS norm2
  FROM embeddings
),
bench AS (
  SELECT vec_id AS bench_id, q AS qb, norm2 AS bnorm2
  FROM base WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT c.vec_id, b.bench_id,
         list_dot_product(c.q, b.qb) / (sqrt(c.norm2) * sqrt(b.bnorm2))
             AS cosine
  FROM base c, bench b
  WHERE c.vec_id >= {N_QUERIES}
),
ranked AS (
  SELECT vec_id, bench_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, bench_id DESC) AS rn,
         MAX(cosine) OVER (PARTITION BY vec_id) AS max_cosine
  FROM scored
)
SELECT vec_id,
       bench_id AS worst_bench,
       max_cosine,
       max_cosine >= {SEMANTIC_DECON_TAU} AS contaminated
FROM ranked WHERE rn = 1
"""


# -- IVF ANN with every stage value-checked -------------------------------

IVF_EXACT_K = 8
IVF_EXACT_NPROBE = 2


def q_ann_ivf_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF retrieval with EVERY stage hash-checked — the closure of
    the IVF program (VERDICT r6 #4): coarse quantizer = the exact
    k-means fit (k=8 integer-rational centroids), cell assignment =
    the same exact argmin, probe selection = the nprobe
    nearest cells per query under the identical distance, and the
    final scoring = exact-integer cosine top-k over ONLY the probed
    cells' members.  The MLlib-KMeans IVF (`ann_ivf`) stays as the
    library-parity demo; this is the engine-native IVF whose answer
    DuckDB reproduces bit-for-bit — approximate retrieval (cells can
    miss true neighbors) with a deterministic, value-checked result.

    Scale shape: the corpus is swept once for cell assignment
    (centroids inlined, argmin in the scan stage), queries broadcast,
    and the candidate join keys on probe_cell — each query scores
    ~nprobe/k of the corpus; top-k is two-phase as everywhere."""
    from pu4spark_spark.plans import cached

    # base feeds the coreset fit, the corpus cell sweep AND the query
    # probe selection — persist the quantized projection once
    base = cached(_kmeans_base(spark, sf_dir))
    cents = _kmeans_fit(base, IVF_EXACT_K, KMEANS_ROUNDS)
    cells = base.select(
        "vec_id", "q", _kmeans_assign_expr(cents).alias("cell")
    ).withColumn("norm2", int_dot(F.col("q"), F.col("q")))
    # nprobe best cells per query under the SAME rational distance
    probe_arr = F.slice(
        F.array_sort(F.array(*_kmeans_dist_entries(cents))),
        1,
        IVF_EXACT_NPROBE,
    )
    queries = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.explode(
                F.transform(probe_arr, lambda e: e["j"])
            ).alias("cell"),
        )
        .withColumn("qnorm2", int_dot(F.col("qq"), F.col("qq")))
    )
    cand = cells.join(F.broadcast(queries), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = cosine_from_quantized(
        int_dot(F.col("q"), F.col("qq")), F.col("norm2"), F.col("qnorm2")
    )
    return two_phase_topk(cand.withColumn("cosine", cos), TOP_K)


def _sql_ann_ivf_exact() -> str:
    dist = (
        "CAST(c*c*list_dot_product(q, q) - 2*c*list_dot_product(q, sv)"
        " + list_dot_product(sv, sv) AS DOUBLE) / CAST(c*c AS DOUBLE)"
    )
    R = KMEANS_ROUNDS
    return (
        _sql_kmeans_cent_ctes(IVF_EXACT_K, R)
        + f""",
af AS (
  SELECT vec_id, q, j,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY {dist}, j) AS rn
  FROM base, cent{R}
),
cells AS (
  SELECT vec_id, q, j AS cell, list_dot_product(q, q) AS norm2
  FROM af WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, q AS qq, j AS cell,
         list_dot_product(q, q) AS qnorm2
  FROM af WHERE vec_id < {N_QUERIES} AND rn <= {IVF_EXACT_NPROBE}
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         list_dot_product(c.q, p.qq) / (sqrt(c.norm2) * sqrt(p.qnorm2))
             AS cosine
  FROM qprobe p JOIN cells c USING (cell)
  WHERE c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}"""
    )


SQL_ANN_IVF_EXACT = _sql_ann_ivf_exact()


QUERIES = {
    "ann_knn_graph_mutual": q_ann_knn_graph_mutual,
    "embedding_kmeans_exact": q_embedding_kmeans_exact,
    "ann_ivf_exact_topk": q_ann_ivf_exact_topk,
    "curation_semantic_decontaminate": q_curation_semantic_decontaminate,
    "ann_cosine_topk": q_ann_cosine_topk,
    "embedding_gram_matrix": q_embedding_gram_matrix,
    "embedding_quantize_int8": q_embedding_quantize_int8,
    "embedding_label_centroids": q_embedding_label_centroids,
    "embedding_norm_outliers": q_embedding_norm_outliers,
    "embedding_dim_variance": q_embedding_dim_variance,
    "ann_lsh_bucketed": q_ann_lsh_bucketed,
    "ann_ivf": q_ann_ivf,
    "ann_brp_lsh_ml": q_ann_brp_lsh_ml,
    "ann_lsh_recall": q_ann_lsh_recall,
    # rows-only: composes the seeded-KMeans IVF side
    "ann_ivf_recall": q_ann_ivf_recall,
    "ann_ivf_tuning": q_ann_ivf_tuning,
    "ann_matryoshka_recall": q_ann_matryoshka_recall,
    "ann_binary_hamming_recall": q_ann_binary_hamming_recall,
    "ann_rerank_topk": q_ann_rerank_topk,
    "ann_ranking_eval": q_ann_ranking_eval,
    "ann_pq_adc_recall": q_ann_pq_adc_recall,
    "ann_ivf_partitioned_probe": q_ann_ivf_partitioned_probe,
    "embedding_inertia_by_label": q_embedding_inertia_by_label,
    # rows-only: driver-side eigensolve is not SQL-expressible; NumPy
    # reference test re-derives the projection (tests/test_similarity.py)
    "embedding_pca_project": q_embedding_pca_project,
}

ORACLE_SQL = {
    "ann_knn_graph_mutual": SQL_ANN_KNN_GRAPH,
    "embedding_kmeans_exact": SQL_EMBEDDING_KMEANS_EXACT,
    "ann_ivf_exact_topk": SQL_ANN_IVF_EXACT,
    "curation_semantic_decontaminate": SQL_CURATION_SEMANTIC_DECON,
    "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "embedding_gram_matrix": SQL_EMBEDDING_GRAM,
    "embedding_quantize_int8": SQL_EMBEDDING_QUANTIZE_INT8,
    "embedding_label_centroids": SQL_EMBEDDING_LABEL_CENTROIDS,
    "embedding_norm_outliers": SQL_EMBEDDING_NORM_OUTLIERS,
    "embedding_dim_variance": SQL_EMBEDDING_DIM_VARIANCE,
    "ann_lsh_bucketed": SQL_ANN_LSH_BUCKETED,
    "ann_lsh_recall": SQL_ANN_LSH_RECALL,
    "ann_matryoshka_recall": SQL_ANN_MATRYOSHKA_RECALL,
    "ann_binary_hamming_recall": SQL_ANN_BINARY_HAMMING_RECALL,
    "ann_rerank_topk": SQL_ANN_RERANK_TOPK,
    "ann_ranking_eval": _sql_ranking_eval(),
    "ann_pq_adc_recall": SQL_ANN_PQ_ADC_RECALL,
    "ann_ivf_partitioned_probe": SQL_ANN_IVF_PARTITIONED_PROBE,
    "ann_ivf_tuning": SQL_ANN_IVF_TUNING,
    "embedding_inertia_by_label": SQL_EMBEDDING_INERTIA,
    # ann_ivf: KMeans centroids — rows-only
    # ann_brp_lsh_ml: ML internals — rows-only
}
