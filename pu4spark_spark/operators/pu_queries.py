"""Driver-checkable queries for the PU-learning core (SURVEY.md §2A).

Relational pieces of the reference's algorithms (relabel, both binarize
expressions, fused iteration stats, label cast) are SQL-expressible and
get DuckDB oracles; the ML pieces (zero step / full learners) are
rows-only checks.  The ``pu_*_trace`` queries for the Traditional,
Gradual, bagging and spy learners run the shipped ``weight()`` with only
the classifier (and any random coin) swapped for a deterministic
integer-hash scorer, so DuckDB checks the real loop; the two loop
learners' traces are their own ``trace_`` records.

The binarize oracles need a probability column that both engines compute
identically; we use an exact integer pseudo-score
``(((vec_id % 1000003) * 2654435761) % 1000) / 1000.0`` (Knuth
multiplicative hash over a pre-reduced id — the product is provably
< 2^53, so it is overflow-free in int64 in Spark AND in DuckDB's
range-checked arithmetic, at any table cardinality; bit-exact as a
double in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pu4spark_spark.labels import (
    REL_NEG_LABEL,
    UNDEF_LABEL,
    binarize_gradual,
    binarize_traditional,
    iteration_stats_df,
    relabel_keep,
)
from pu4spark_spark.sources import load_table

_KNUTH = 2654435761
#: pre-reduction modulus: 1000003 * KNUTH < 2^52 — never overflows
_PREMOD = 1000003

#: SQL fragment for the deterministic pseudo-probability
_P_SQL = f"(((vec_id % {_PREMOD}) * {_KNUTH}) % 1000) / 1000.0"
#: SQL fragment for prevLabel: class 9 = positive, classes 0-2 = reliable
#: negative, rest unlabeled (a realistic mid-iteration sentinel mix)
_PREV_SQL = "CASE WHEN label = 9 THEN 1 WHEN label <= 2 THEN 0 ELSE -1 END"


def _p_col() -> F.Column:
    return (
        ((F.col("vec_id") % F.lit(_PREMOD)) * F.lit(_KNUTH)) % F.lit(1000)
    ) / F.lit(1000.0)


def _prev_col() -> F.Column:
    return (
        F.when(F.col("label") == 9, 1)
        .when(F.col("label") <= 2, REL_NEG_LABEL)
        .otherwise(UNDEF_LABEL)
        .cast("int")
    )


def q_pu_relabel_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    df = emb.withColumn(
        "pu_label", F.when(F.col("label") == 9, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    out = relabel_keep(df, "pu_label", "prev_label", float(UNDEF_LABEL))
    return out.select(
        "vec_id", F.col("prev_label").cast("int").alias("prev_label")
    )


SQL_PU_RELABEL_KEEP = """
SELECT vec_id,
       CAST(CASE WHEN (CASE WHEN label = 9 THEN 1.0 ELSE 0.0 END) = 1.0
                 THEN 1 ELSE -1 END AS INTEGER) AS prev_label
FROM embeddings
"""


def q_pu_binarize_traditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    df = emb.withColumn("p", _p_col()).withColumn("prev_label", _prev_col())
    return df.select(
        "vec_id",
        binarize_traditional(F.col("p"), F.col("prev_label"), 0.5).alias("cur_label"),
    )


SQL_PU_BINARIZE_TRADITIONAL = f"""
SELECT vec_id,
       CAST(CASE WHEN prev_label = -1
                 THEN CASE WHEN p < 0.5 THEN 0 ELSE -1 END
                 ELSE prev_label END AS INTEGER) AS cur_label
FROM (SELECT vec_id, {_P_SQL} AS p, {_PREV_SQL} AS prev_label FROM embeddings)
"""


def q_pu_binarize_gradual(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    df = emb.withColumn("p", _p_col()).withColumn("prev_label", _prev_col())
    return df.select(
        "vec_id",
        binarize_gradual(
            F.col("p"), F.col("prev_label"), 0.5, REL_NEG_LABEL
        ).alias("cur_label"),
    )


SQL_PU_BINARIZE_GRADUAL = f"""
SELECT vec_id,
       CAST(CASE WHEN prev_label = 0
                 THEN CASE WHEN p < 0.5 THEN 0 ELSE -1 END
                 ELSE prev_label END AS INTEGER) AS cur_label
FROM (SELECT vec_id, {_P_SQL} AS p, {_PREV_SQL} AS prev_label FROM embeddings)
"""


def q_pu_iteration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    df = emb.withColumn("p", _p_col()).withColumn("prevLabel", _prev_col())
    df = df.withColumn(
        "curLabel", binarize_traditional(F.col("p"), F.col("prevLabel"), 0.5)
    )
    return iteration_stats_df(df)


SQL_PU_ITERATION_STATS = f"""
WITH cur AS (
  SELECT prev_label,
         CAST(CASE WHEN prev_label = -1
                   THEN CASE WHEN p < 0.5 THEN 0 ELSE -1 END
                   ELSE prev_label END AS INTEGER) AS cur_label
  FROM (SELECT vec_id, {_P_SQL} AS p, {_PREV_SQL} AS prev_label FROM embeddings)
)
SELECT CAST(SUM(CASE WHEN prev_label = -1 AND cur_label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS new_rel_neg,
       CAST(SUM(CASE WHEN cur_label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS total_pos,
       CAST(SUM(CASE WHEN cur_label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS total_rel_neg,
       CAST(SUM(CASE WHEN cur_label = -1 THEN 1 ELSE 0 END) AS BIGINT) AS total_undef,
       COUNT(*) AS total_rows
FROM cur
"""


#: trace scorer: round ``r`` scores with the Knuth hash shifted by
#: ``r * _TRACE_STEP``.  The loop traces use round ``min(r, 3)``, so the
#: score "retrains" between rounds 1-3 and FREEZES from round 3 on: a
#: Traditional trace mines new negatives for three rounds and then hits
#: the reference's new_rel_neg==0 early exit
#: (TraditionalPULearner.scala:53-55), and a Gradual trace demotes
#: nothing at round 4, so its gain drops to 0 and the do-while ends.
#: Both loops stop by round 4, strictly inside ``_TRACE_MAX_ITERS``.
#: Overflow-free: (PREMOD-1)*KNUTH + 7*9176 < 2^52.
_TRACE_STEP = 9176
_TRACE_MAX_ITERS = 8
_TRACE_FREEZE = 3


def _bag_p_col(t: int) -> F.Column:
    return (
        (
            (F.col("vec_id") % F.lit(_PREMOD)) * F.lit(_KNUTH)
            + F.lit(t * _TRACE_STEP)
        )
        % F.lit(1000)
    ) / F.lit(1000.0)


def _bag_p_sql(t: int) -> str:
    return (
        f"((((vec_id % {_PREMOD}) * {_KNUTH} + {t * _TRACE_STEP}) % 1000)"
        " / 1000.0)"
    )


class _KnuthRounds:
    """Scorer substitution for the two loop learners: step 0 is round
    1, each fit starts the next round, and round ``r`` scores every row
    with ``_bag_p_col(min(r, 3))``.  Every other line of ``weight()``
    is the production learner's."""

    def zero_step(self, df, label_col, features_col, final_label):
        self._round = 1
        return df.withColumn(final_label, _bag_p_col(1))

    def fit_on_current(self, df, cur_col):
        self._round += 1
        return min(self._round, _TRACE_FREEZE)

    def score_all(self, model, df, final_label):
        return df.withColumn(final_label, _bag_p_col(model))


_TRACE_SCHEMA = (
    "iteration int, new_rel_neg bigint, total_pos bigint, "
    "total_rel_neg bigint, total_undef bigint, total_rows bigint"
)


def q_pu_traditional_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Traditional PU loop's CONVERGENCE TRACE, driver-hash-checked:
    the shipped ``TraditionalPULearner.weight()`` runs with the
    ``_KnuthRounds`` scorer in place of the classifier, and the query
    returns its ``trace_`` — one row per executed iteration of the
    reference protocol (TraditionalPULearner.scala:42-74): relabel seed,
    ``binarize_traditional`` mining, the fused ``iteration_stats`` agg,
    the curLabel→prevLabel roll and the ``new_rel_neg == 0`` early exit
    (:53-55).  Every count is exactly SQL-expressible, so DuckDB replays
    the whole loop; the scorer freezes at round 3, so the trace's last
    row carries ``new_rel_neg = 0``.  The ML-scored twin
    ``pu_traditional_lr`` stays rows-only."""
    from pu4spark_spark.traditional import TraditionalPULearner

    class _TraceTraditional(_KnuthRounds, TraditionalPULearner):
        pass

    learner = _TraceTraditional(0.5, _TRACE_MAX_ITERS, None)
    learner.weight(_pu_input(spark, sf_dir), "pu_label", "embedding")
    return spark.createDataFrame(learner.trace_, _TRACE_SCHEMA)


def _sql_trace_rows(gradual: bool) -> str:
    # unrolled CTE chain: s1 = relabel seed; c_i = binarize(p_i, s_i)
    # over UNDEF rows (Traditional; Gradual's first pass) or REL_NEG
    # rows (Gradual's demote passes); s_{i+1} = c_i's labels.  ``trace``
    # holds the five counts of every c_i; the callers cut it where the
    # loop stops.
    ctes = [
        "s1 AS (SELECT vec_id, CASE WHEN label = 9 THEN 1 ELSE -1 END"
        " AS prev FROM embeddings)"
    ]
    stats = []
    for i in range(1, _TRACE_MAX_ITERS + 1):
        consider = REL_NEG_LABEL if gradual and i > 1 else UNDEF_LABEL
        p = _bag_p_sql(min(i, _TRACE_FREEZE))
        ctes.append(
            f"c{i} AS (SELECT vec_id, prev, CAST(CASE WHEN prev = {consider}"
            f" THEN CASE WHEN {p} < 0.5 THEN 0 ELSE -1 END"
            f" ELSE prev END AS INTEGER) AS cur FROM s{i})"
        )
        if i < _TRACE_MAX_ITERS:
            ctes.append(f"s{i + 1} AS (SELECT vec_id, cur AS prev FROM c{i})")
        stats.append(
            f"SELECT {i} AS iteration,"
            " CAST(SUM(CASE WHEN prev = -1 AND cur = 0 THEN 1 ELSE 0 END)"
            " AS BIGINT) AS new_rel_neg,"
            " CAST(SUM(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS BIGINT)"
            " AS total_pos,"
            " CAST(SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS BIGINT)"
            " AS total_rel_neg,"
            " CAST(SUM(CASE WHEN cur = -1 THEN 1 ELSE 0 END) AS BIGINT)"
            " AS total_undef,"
            f" COUNT(*) AS total_rows FROM c{i}"
        )
    return f"{', '.join(ctes)}, trace AS ({' UNION ALL '.join(stats)})"


# the early exit is replayed by keeping iterations up to and including
# the FIRST new_rel_neg=0
SQL_PU_TRADITIONAL_TRACE = f"""
WITH {_sql_trace_rows(gradual=False)}
SELECT iteration, new_rel_neg, total_pos, total_rel_neg, total_undef,
       total_rows
FROM (
  SELECT *, COALESCE(MIN(new_rel_neg) OVER (ORDER BY iteration
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1)
            AS min_prev_mined
  FROM trace
)
WHERE min_prev_mined > 0
"""


def q_pu_gradual_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gradual-Reduction loop's convergence trace, driver-hash-
    checked: the shipped ``GradualReductionPULearner.weight()`` runs
    with the ``_KnuthRounds`` scorer, and the query returns its
    ``trace_`` — the PU-LEA protocol (GradualReductionPULearner.scala:
    27-86): first thresholding over UNLABELED rows, then per-round
    demote-rethresholding of the previously-reliable negatives
    (``label_to_consider=REL_NEG``), the fused stats agg, and the
    verbatim 3-clause do-while condition ``cur_gain > 0 AND cur_gain <
    prev_gain AND total_pos < total_rel_neg`` (:84).  One extra column:
    ``cur_gain``, the loop variant the reference's termination argument
    rests on.  The ML twin ``pu_gradual_lr`` stays rows-only."""
    from pu4spark_spark.gradual import GradualReductionPULearner

    class _TraceGradual(_KnuthRounds, GradualReductionPULearner):
        pass

    learner = _TraceGradual(0.5, None)
    learner.weight(_pu_input(spark, sf_dir), "pu_label", "embedding")
    return spark.createDataFrame(
        learner.trace_, _TRACE_SCHEMA + ", cur_gain bigint"
    )


# the do-while is replayed by keeping iteration i (≥3) only while every
# prior body iteration j∈[2,i-1] satisfied the 3-clause condition
# (iterations 1-2 always run: pre-loop stats + the do-while's first
# body pass)
SQL_PU_GRADUAL_TRACE = f"""
WITH {_sql_trace_rows(gradual=True)},
gained AS (
  SELECT *,
         CASE WHEN iteration = 1 THEN total_rel_neg
              ELSE lag(total_rel_neg) OVER (ORDER BY iteration)
                   - total_rel_neg END AS cur_gain
  FROM trace
),
conds AS (
  SELECT *,
         -- 3-clause do-while (:84); iteration 1 gets cond=1 (its check
         -- is the do-while's, evaluated after the first body pass)
         CASE WHEN iteration = 1 THEN 1
              WHEN cur_gain > 0
                   AND cur_gain < lag(cur_gain) OVER (ORDER BY iteration)
                   AND total_pos < total_rel_neg THEN 1
              ELSE 0 END AS cond
  FROM gained
)
SELECT iteration, new_rel_neg, total_pos, total_rel_neg, total_undef,
       total_rows, CAST(cur_gain AS BIGINT) AS cur_gain
FROM (
  SELECT *, COALESCE(MIN(cond) OVER (ORDER BY iteration
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1)
            AS all_prior_ok
  FROM conds
)
WHERE iteration <= 2 OR all_prior_ok = 1
"""


#: bagging trace constants: a coin stream decorrelated from the
#: per-round scores by a large odd offset plus a PER-ROUND MULTIPLIER (an
#: additive stride alone makes each row's five coins an arithmetic
#: progression mod 1000, which provably can never stay under 0.5 all
#: five rounds — the all-rounds fallback branch would be unreachable).
#: Overflow-free: (PREMOD-1)*(KNUTH + 4*100003) + 500009 < 2^52.
_BAG_T = 5
_BAG_FRAC = 0.5
_BAG_COIN_OFF = 500009
_BAG_COIN_STEP = 100003


def _bag_coin_sql(t: int) -> str:
    return (
        f"((((vec_id % {_PREMOD}) * {_KNUTH + t * _BAG_COIN_STEP}"
        f" + {_BAG_COIN_OFF}) % 1000) / 1000.0)"
    )


def q_pu_bagging_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bagging learner's OUT-OF-BAG aggregation protocol,
    driver-hash-checked (§5b lesson 18 applied to the fifth learner):
    the REAL ``PUBaggingLearner.weight()`` driver loop runs — feature
    prep, per-round bag draw, accumulator algebra, ``roll_state``
    hygiene, the ≥1-OOB-round/all-rounds fallback (bagging.py:98-186)
    — with exactly two substitutions, both engine-portable integer-hash
    expressions: the classifier score becomes the Knuth pseudo-score
    (per-round offset ``t*_TRACE_STEP``) and the murmur3 bag coin
    becomes a decorrelated Knuth coin keyed on (vec_id, round).  DuckDB
    replays all 5 rounds as a verbatim IEEE accumulation chain (lesson
    8: identical add order ⇒ identical doubles), so the per-row OOB
    means — including the rows drawn in-bag all 5 rounds, which
    exercise the all-rounds fallback — hash-match exactly.  The
    ML-scored twin ``pu_bagging_lr`` stays rows-only; this witnesses
    the AGGREGATION algebra itself."""
    from pu4spark_spark.bagging import PUBaggingLearner

    class _TraceBagging(PUBaggingLearner):
        """Scorer/coin substitution only — every other code path is the
        production learner's."""

        def __init__(self):
            super().__init__(
                classifier=None,
                n_rounds=_BAG_T,
                sample_frac=_BAG_FRAC,
                id_col="vec_id",
            )
            self._round = 0

        def bag_coin(self, features_col, t, id_col=None):
            return (
                (
                    (F.col("vec_id") % F.lit(_PREMOD))
                    * F.lit(_KNUTH + t * _BAG_COIN_STEP)
                    + F.lit(_BAG_COIN_OFF)
                )
                % F.lit(1000)
            ) / F.lit(1000.0)

        def fit_on_current(self, df, cur_col):
            t = self._round
            self._round += 1
            return t

        def score_all(self, model, df, final_label):
            return df.withColumn(final_label, _bag_p_col(model))

        def cleanup(self, df, *cols):
            keep = [c for c in cols if c != "__oob_n"]
            return super().cleanup(df, *keep)

    out = _TraceBagging().weight(
        _pu_input(spark, sf_dir), "pu_label", "embedding"
    )
    return out.select(
        "vec_id",
        F.col("__oob_n").cast("int").alias("oob_rounds"),
        F.col("finalLabel").alias("final_score"),
    )


def _sql_bagging_trace() -> str:
    # round-by-round CTE chain replicating weight()'s accumulator
    # builds verbatim: all_s = ((((0+p0)+p1)+p2)+p3)+p4 in that exact
    # IEEE order; oob_s/oob_n advance only on out-of-bag rounds.
    ctes = [
        "b0 AS (SELECT vec_id,"
        " CASE WHEN label = 9 THEN 1 ELSE 0 END AS pos,"
        " CAST(0.0 AS DOUBLE) AS all_s, CAST(0.0 AS DOUBLE) AS oob_s,"
        " 0 AS oob_n FROM embeddings)"
    ]
    for t in range(_BAG_T):
        in_bag = f"(pos = 0 AND {_bag_coin_sql(t)} < {_BAG_FRAC})"
        ctes.append(
            f"b{t + 1} AS (SELECT vec_id, pos,"
            f" all_s + {_bag_p_sql(t)} AS all_s,"
            f" CASE WHEN {in_bag} THEN oob_s"
            f" ELSE oob_s + {_bag_p_sql(t)} END AS oob_s,"
            f" CASE WHEN {in_bag} THEN oob_n ELSE oob_n + 1 END AS oob_n"
            f" FROM b{t})"
        )
    return f"""
WITH {", ".join(ctes)}
SELECT vec_id,
       CAST(oob_n AS INTEGER) AS oob_rounds,
       CASE WHEN oob_n > 0 THEN oob_s / oob_n
            ELSE all_s / {float(_BAG_T)} END AS final_score
FROM b{_BAG_T}
"""


SQL_PU_BAGGING_TRACE = _sql_bagging_trace()


#: spy-trace constants: a dedicated coin offset (decorrelated from the
#: scorers) and two scorer rounds — round 0 for the spy fit, round 7
#: for the post-threshold rescore.  Overflow-free as before.
_SPY_TR_COIN_OFF = 777007
_SPY_TR_RESCORE_ROUND = 7


def q_pu_spy_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S-EM SPY protocol driver-hash-witnessed (§5b lesson 18, now
    covering the fourth learner): the REAL ``SpyEMPULearner.weight()``
    runs — spy draw, spy-score histogram, the 1/SPY_BINS-grid quantile
    threshold computed on the DRIVER exactly as production does it
    (spy.py:97-119), reliable-negative mining, rescore — with the
    murmur3 coin and the two classifier fits swapped for portable
    Knuth integer-hash expressions.  DuckDB replays the ENTIRE
    calibration including the histogram-bin quantile crossing (the
    behavior change ADVICE r6 flagged on the grid semantics is now
    hash-pinned), so the per-row verdicts AND the threshold itself are
    driver-hash evidence.  The ML-scored twin ``pu_spy_em_lr`` stays
    rows-only."""
    from pu4spark_spark.spy import SpyEMPULearner

    class _TraceSpy(SpyEMPULearner):
        def __init__(self):
            super().__init__(classifier=None)

        def spy_coin(self, features_col):
            return (
                (
                    (F.col("vec_id") % F.lit(_PREMOD)) * F.lit(_KNUTH)
                    + F.lit(_SPY_TR_COIN_OFF)
                )
                % F.lit(1000)
            ) / F.lit(1000.0)

        def zero_step(self, df, label_col, features_col, final_label):
            return df.withColumn(final_label, _bag_p_col(0))

        def fit_on_current(self, df, cur_col):
            return None

        def score_all(self, model, df, final_label):
            return df.drop(final_label).withColumn(
                final_label, _bag_p_col(_SPY_TR_RESCORE_ROUND)
            )

        def cleanup(self, df, *cols):
            keep = [c for c in cols if c not in ("__spy", "__cur")]
            return super().cleanup(df, *keep)

    out = _TraceSpy().weight(
        _pu_input(spark, sf_dir), "pu_label", "embedding"
    )
    return out.select(
        "vec_id",
        F.col("__spy").alias("is_spy"),
        F.col("__cur").cast("int").alias("cur_label"),
        F.col("finalLabel").alias("final_score"),
    )


def _sql_spy_trace() -> str:
    coin = (
        f"((((vec_id % {_PREMOD}) * {_KNUTH} + {_SPY_TR_COIN_OFF})"
        " % 1000) / 1000.0)"
    )
    return f"""
WITH base AS (
  SELECT vec_id,
         CASE WHEN label = 9 THEN 1 ELSE 0 END AS pos,
         {_bag_p_sql(0)} AS g,
         (CASE WHEN label = 9 THEN 1 ELSE 0 END) = 1
           AND {coin} < 0.15 AS is_spy
  FROM embeddings
),
hist AS (
  SELECT least(999, CAST(floor(g * 1000) AS INTEGER)) AS b, COUNT(*) AS n
  FROM base WHERE is_spy GROUP BY 1
),
thr AS (
  SELECT b / 1000.0 AS t FROM (
    SELECT b, SUM(n) OVER (ORDER BY b) AS cum,
           0.05 * (SELECT SUM(n) FROM hist) AS target
    FROM hist)
  WHERE CAST(cum AS DOUBLE) >= target
  ORDER BY b LIMIT 1
)
SELECT vec_id, is_spy,
       CAST(CASE WHEN pos = 1 THEN 1
                 WHEN g < (SELECT t FROM thr) THEN 0
                 ELSE -1 END AS INTEGER) AS cur_label,
       {_bag_p_sql(_SPY_TR_RESCORE_ROUND)} AS final_score
FROM base
"""


SQL_PU_SPY_TRACE = _sql_spy_trace()


def q_pu_elkan_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Elkan–Noto CALIBRATION protocol driver-hash-witnessed — with
    this, ALL FIVE learners' protocols carry driver-hash evidence
    (Traditional/GradRed loops, bagging OOB, spy quantile, and now the
    e1 calibration).  Replays elkan.py:44-77 with the fit swapped for
    the Knuth scorer and one engine-exactness divergence, documented:
    production estimates c with ``avg`` over double scores (summation
    order is engine-private), the trace computes the SAME mean as
    ``Σk / (1000·n)`` over the scorer's integer grid — an exact int64
    sum plus one fixed IEEE chain, so c and every calibrated output
    hash-match.  The 1-row aggregation → driver scalar protocol is the
    production path's."""
    emb = _pu_input(spark, sf_dir)
    scored = emb.withColumn("g", _bag_p_col(0)).withColumn(
        "k", ((F.col("vec_id") % F.lit(_PREMOD)) * F.lit(_KNUTH)) % 1000
    )
    row = (
        scored.filter(F.col("pu_label") == 1)
        .agg(
            F.sum("k").cast("bigint").alias("sk"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    if not row["n"]:
        raise ValueError("cannot calibrate: no labeled positives")
    c = row["sk"] / (1000.0 * row["n"])
    return scored.select(
        "vec_id",
        F.lit(c).alias("c_hat"),
        F.least(F.lit(1.0), F.col("g") / F.lit(c)).alias("final_score"),
    )


SQL_PU_ELKAN_TRACE = f"""
WITH base AS (
  SELECT vec_id,
         CASE WHEN label = 9 THEN 1 ELSE 0 END AS pos,
         {_bag_p_sql(0)} AS g,
         ((vec_id % {_PREMOD}) * {_KNUTH}) % 1000 AS k
  FROM embeddings
),
cal AS (
  SELECT CAST(SUM(k) AS DOUBLE) / (1000.0 * COUNT(*)) AS c
  FROM base WHERE pos = 1
)
SELECT vec_id,
       (SELECT c FROM cal) AS c_hat,
       least(1.0, g / (SELECT c FROM cal)) AS final_score
FROM base
"""


def _pu_input_with_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PU input joined with its document's ``source`` — the
    observed propensity attribute for the SAR learner (vec_id aligns
    with doc_id by fixture construction; the dim-sized documents
    projection broadcasts)."""
    src = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    return _pu_input(spark, sf_dir).join(F.broadcast(src), "vec_id")


def q_pu_sar_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAR-PU PER-GROUP calibration protocol driver-hash-witnessed
    — the SIXTH learner's protocol evidence, same tier as the other
    five traces: replays sar.py:56-105 (global-c driver scalar, the
    per-source groupBy → broadcast-join propensity frame, the
    coalesce fallback, the least(1, g/ê) calibration) with the fit
    swapped for the Knuth scorer.  As in the Elkan trace, every mean
    is computed as ``Σk / (1000·n)`` over the scorer's integer grid —
    an exact int64 sum plus one fixed IEEE chain per group — so every
    per-source propensity and every calibrated output hash-matches
    DuckDB exactly."""
    emb = _pu_input_with_source(spark, sf_dir)
    scored = emb.withColumn("g", _bag_p_col(0)).withColumn(
        "k", ((F.col("vec_id") % F.lit(_PREMOD)) * F.lit(_KNUTH)) % 1000
    )
    pos = scored.filter(F.col("pu_label") == 1)
    row = pos.agg(
        F.sum("k").cast("bigint").alias("sk"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if not row["n"]:
        raise ValueError("cannot calibrate: no labeled positives")
    c = row["sk"] / (1000.0 * row["n"])
    props = pos.groupBy("source").agg(
        (
            F.sum("k").cast("bigint").cast("double")
            / (F.lit(1000.0) * F.count(F.lit(1)))
        ).alias("__e")
    )
    return (
        scored.join(F.broadcast(props), "source", "left")
        .withColumn("__e", F.coalesce(F.col("__e"), F.lit(float(c))))
        .select(
            "vec_id",
            "source",
            F.col("__e").alias("e_hat"),
            F.least(F.lit(1.0), F.col("g") / F.col("__e")).alias(
                "final_score"
            ),
        )
    )


SQL_PU_SAR_TRACE = f"""
WITH base AS (
  SELECT e.vec_id, d.source,
         CASE WHEN e.label = 9 THEN 1 ELSE 0 END AS pos,
         {_bag_p_sql(0)} AS g,
         ((e.vec_id % {_PREMOD}) * {_KNUTH}) % 1000 AS k
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
gcal AS (
  SELECT CAST(SUM(k) AS DOUBLE) / (1000.0 * COUNT(*)) AS c
  FROM base WHERE pos = 1
),
props AS (
  SELECT source, CAST(SUM(k) AS DOUBLE) / (1000.0 * COUNT(*)) AS e
  FROM base WHERE pos = 1 GROUP BY source
)
SELECT b.vec_id, b.source,
       coalesce(p.e, (SELECT c FROM gcal)) AS e_hat,
       least(1.0, b.g / coalesce(p.e, (SELECT c FROM gcal)))
         AS final_score
FROM base b LEFT JOIN props p ON p.source = b.source
"""


def q_pu_label_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pu4spark_spark.labels import index_label

    emb = load_table(spark, "embeddings", sf_dir)
    out = index_label(emb, "label", "label_d", ["0", "1"])
    return out.select("vec_id", "label_d")


SQL_PU_LABEL_INDEX = """
SELECT vec_id, CAST(label AS DOUBLE) AS label_d FROM embeddings
"""


# -- ML queries (rows-only: fit/transform are not SQL-expressible) -------

def _pu_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return emb.withColumn(
        "pu_label", F.when(F.col("label") == 9, 1).otherwise(0)
    )


def q_pu_zero_step_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pu4spark_spark.config import (
        LogisticRegressionConfig,
        TraditionalPULearnerConfig,
    )

    learner = TraditionalPULearnerConfig(
        maxIters=0, classifierConfig=LogisticRegressionConfig()
    ).build()
    out = learner.weight(_pu_input(spark, sf_dir), "pu_label", "embedding")
    return out.select("vec_id", "finalLabel")


def q_pu_traditional_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pu4spark_spark.config import TraditionalPULearnerConfig

    learner = TraditionalPULearnerConfig(maxIters=2).build()
    out = learner.weight(_pu_input(spark, sf_dir), "pu_label", "embedding")
    return out.select("vec_id", "finalLabel")


def q_pu_gradual_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pu4spark_spark.config import GradualReductionPULearnerConfig

    learner = GradualReductionPULearnerConfig().build()
    out = learner.weight(_pu_input(spark, sf_dir), "pu_label", "embedding")
    return out.select("vec_id", "finalLabel")


def q_pu_traditional_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SECOND classifier, end-to-end: Traditional PU
    with RandomForest (ProbabilisticClassifierConfig.scala:22-29;
    registry at PositiveUnlabeledLearner.scala:31-40).  numTrees is
    scaled down from the reference default 512 for the fixture size;
    the seed is pinned so the rows-only check is stable."""
    from pu4spark_spark.config import (
        RandomForestConfig,
        TraditionalPULearnerConfig,
    )

    learner = TraditionalPULearnerConfig(
        maxIters=1, classifierConfig=RandomForestConfig(numTrees=16, seed=42)
    ).build()
    out = learner.weight(_pu_input(spark, sf_dir), "pu_label", "embedding")
    return out.select("vec_id", "finalLabel")


def q_pu_gradual_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradual Reduction × RandomForest — completes the 2 algorithms ×
    2 classifiers matrix of the reference registry
    (PositiveUnlabeledLearner.scala:31-40)."""
    from pu4spark_spark.config import (
        GradualReductionPULearnerConfig,
        RandomForestConfig,
    )

    learner = GradualReductionPULearnerConfig(
        classifierConfig=RandomForestConfig(numTrees=16, seed=42)
    ).build()
    out = learner.weight(_pu_input(spark, sf_dir), "pu_label", "embedding")
    return out.select("vec_id", "finalLabel")


def q_pu_doc_quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star composition: the reference's PU loop re-targeted at
    CORPUS QUALITY SCORING.  A 100 TB curation pipeline typically has a
    small trusted 'good documents' seed (here: long docs of the
    dominant language) and NO labeled negatives — exactly the
    positive-unlabeled setting pu4spark exists for
    (TraditionalPULearner.scala:22-96).  Features are cheap native text
    statistics (token count, mean token length, distinct-token ratio,
    punctuation share) computed in the scan stage; the learner returns
    P(good) for every document, the score a quality-filter stage
    thresholds on.  Rows-only check (LR fit inside)."""
    from pu4spark_spark.config import (
        LogisticRegressionConfig,
        TraditionalPULearnerConfig,
    )
    from pu4spark_spark.functions.textfns import tokens

    docs = load_table(spark, "documents", sf_dir)
    toks = tokens("text")
    n_tok = F.size(toks).cast("double")
    feat = docs.select(
        "doc_id",
        "lang",
        n_tok.alias("f_ntok"),
        (F.length("text").cast("double") / n_tok).alias("f_toklen"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias(
            "f_distinct"
        ),
        (
            F.length(F.regexp_replace("text", r"[a-z0-9 ]", "")).cast("double")
            / F.length("text")
        ).alias("f_punct"),
    )
    seeded = feat.withColumn(
        "pu_label",
        F.when((F.col("lang") == "en") & (F.col("f_ntok") >= 40), 1).otherwise(0),
    ).withColumn(
        "qfeat",
        F.array("f_ntok", "f_toklen", "f_distinct", "f_punct").cast(
            "array<double>"
        ),
    )
    # maxIter=10: the seed rule is (deliberately) a function of the
    # features, so the data is separable and LR would otherwise spend
    # the full default 100 LBFGS steps chasing an unbounded margin —
    # ~100 driver-scheduled jobs per fit for no score benefit
    learner = TraditionalPULearnerConfig(
        maxIters=1, classifierConfig=LogisticRegressionConfig(maxIter=10)
    ).build()
    out = learner.weight(seeded, "pu_label", "qfeat")
    return out.select("doc_id", F.col("finalLabel").alias("p_good"))


def q_pu_doc_quality_soft_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT-DEDUP-AWARE quality training (r7): the PU quality
    classifier trained with per-row instance weights ``1/n_copies``
    over exact-text duplicate groups (``curation_soft_dedup_weights``'
    down-weighting policy), via MLlib's ``weightCol`` through the
    config registry.  Every distinct content contributes total
    exposure 1.0 to the fit, so boilerplate repeated 10 000× cannot
    dominate the quality model — WITHOUT dropping rows.  The weighted
    likelihood over the duplicated corpus equals the unweighted
    likelihood over the deduped corpus, so the fits coincide (pinned
    to tolerance by ``tests/test_pu.py``); rows-only check (LR fit
    inside), same feature/seed recipe as ``pu_doc_quality_lr``."""
    from pu4spark_spark.config import (
        LogisticRegressionConfig,
        TraditionalPULearnerConfig,
    )
    from pu4spark_spark.functions.textfns import tokens

    docs = load_table(spark, "documents", sf_dir)
    toks = tokens("text")
    n_tok = F.size(toks).cast("double")
    wdup = Window.partitionBy(F.md5(F.col("text")))
    feat = docs.select(
        "doc_id",
        "lang",
        n_tok.alias("f_ntok"),
        (F.length("text").cast("double") / n_tok).alias("f_toklen"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias(
            "f_distinct"
        ),
        (
            F.length(F.regexp_replace("text", r"[a-z0-9 ]", "")).cast("double")
            / F.length("text")
        ).alias("f_punct"),
        (F.lit(1.0) / F.count(F.lit(1)).over(wdup)).alias("soft_w"),
    )
    seeded = feat.withColumn(
        "pu_label",
        F.when((F.col("lang") == "en") & (F.col("f_ntok") >= 40), 1).otherwise(0),
    ).withColumn(
        "qfeat",
        F.array("f_ntok", "f_toklen", "f_distinct", "f_punct").cast(
            "array<double>"
        ),
    )
    learner = TraditionalPULearnerConfig(
        maxIters=1,
        classifierConfig=LogisticRegressionConfig(
            maxIter=10, weightCol="soft_w"
        ),
    ).build()
    out = learner.weight(seeded, "pu_label", "qfeat")
    return out.select(
        "doc_id", "soft_w", F.col("finalLabel").alias("p_good")
    )


def q_pu_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented onboarding flow (reference README.md:82-89):
    VectorAssembler over N scalar columns.  The assembled vector is
    surfaced back as per-element double columns so DuckDB can verify
    the projection value-exactly."""
    from pyspark.ml.functions import vector_to_array

    from pu4spark_spark.features import assemble_features

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    )
    assembled = assemble_features(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    arr = vector_to_array(F.col("features"))
    return assembled.select(
        "l_orderkey",
        "l_linenumber",
        arr[0].alias("f_quantity"),
        arr[1].alias("f_extendedprice"),
        arr[2].alias("f_discount"),
        arr[3].alias("f_tax"),
    )


def q_pu_spy_em_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-EM spy-technique PU learning (extension beyond the reference's
    two learners, same weight() API): spy-calibrated reliable-negative
    threshold instead of a fixed one.  Rows-only check (two LR fits);
    property tests pin the protocol (tests/test_pu.py)."""
    from pu4spark_spark.config import LogisticRegressionConfig
    from pu4spark_spark.spy import SpyEMPULearner

    learner = SpyEMPULearner(
        classifier=LogisticRegressionConfig(maxIter=10).build(),
        spy_frac=0.15,
        spy_quantile=0.05,
    )
    out = learner.weight(_pu_input(spark, sf_dir), "pu_label", "embedding")
    return out.select("vec_id", "finalLabel")


def q_pu_elkan_noto_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elkan–Noto calibrated PU learning (extension beyond the
    reference's registry, same weight() API): ONE labeled-vs-unlabeled
    fit, then P(y=1|x) = g(x)/c with c estimated as mean g over the
    labeled positives — no reliable-negative mining, no retrain.
    Rows-only check (LR fit); property tests pin the calibration
    algebra (tests/test_pu.py)."""
    from pu4spark_spark.config import (
        ElkanNotoPULearnerConfig,
        LogisticRegressionConfig,
    )

    learner = ElkanNotoPULearnerConfig(
        classifierConfig=LogisticRegressionConfig(maxIter=10)
    ).build()
    out = learner.weight(_pu_input(spark, sf_dir), "pu_label", "embedding")
    return out.select("vec_id", "finalLabel")


def q_pu_sar_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAR-PU propensity-weighted learning (Bekker & Davis 2019;
    extension beyond the reference's registry, same weight() API): ONE
    labeled-vs-unlabeled fit, then per-SOURCE propensities ê_g (mean g
    over each source's labeled positives, strata-sized broadcast) with
    P(y=1|x) = g(x)/ê_{source(x)} — the per-stratum generalization of
    Elkan–Noto's global c for corpora where labeling effort varies by
    source.  Rows-only check (LR fit); the calibration algebra carries
    driver-hash evidence via ``pu_sar_trace`` and property tests pin
    the single-group ≡ Elkan identity (tests/test_pu.py)."""
    from pu4spark_spark.config import (
        LogisticRegressionConfig,
        SARPULearnerConfig,
    )

    learner = SARPULearnerConfig(
        groupCol="source",
        classifierConfig=LogisticRegressionConfig(maxIter=10),
    ).build()
    out = learner.weight(
        _pu_input_with_source(spark, sf_dir), "pu_label", "embedding"
    )
    return out.select("vec_id", "source", "finalLabel")


def q_pu_bagging_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bagged PU learning (Mordelet & Vert 2014; extension beyond the
    reference's registry, same weight() API): 5 deterministic unlabeled
    subsamples, each trained P-vs-U_t, out-of-bag score aggregation.
    Rows-only check (5 LR fits); property tests pin the OOB algebra
    and determinism (tests/test_pu.py)."""
    from pu4spark_spark.config import (
        LogisticRegressionConfig,
        PUBaggingLearnerConfig,
    )

    learner = PUBaggingLearnerConfig(
        nRounds=5,
        sampleFrac=0.5,
        classifierConfig=LogisticRegressionConfig(maxIter=10),
    ).build()
    out = learner.weight(_pu_input(spark, sf_dir), "pu_label", "embedding")
    return out.select("vec_id", "finalLabel")


def q_pu_class_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-prior estimation π = P(y=1) from positive-unlabeled data —
    the Elkan–Noto e1 identity π = P(s=1)/c with c = E[g | s=1]
    (KDD 2008 §3): the number that tells you HOW MANY positives hide
    in the unlabeled mass, which every PU deployment needs before
    trusting its output rates.

    The fixture makes it a real estimation problem: only HALF the true
    positives (class 9, even vec_id — a deterministic coin) are
    labeled, so labeled_rate ≈ π/2 and the estimator must recover the
    full π ≈ 0.1 through c ≈ 0.5.  One zero-step fit; every scalar is
    a column aggregate — the output IS the 1-row report, nothing is
    collected.  Rows-only (ML fit); the recovery property is pinned in
    ``tests/test_pu.py``."""
    from pu4spark_spark.config import (
        LogisticRegressionConfig,
        TraditionalPULearnerConfig,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    s = (F.col("label") == 9) & (F.col("vec_id") % 2 == 0)
    staged = emb.withColumn("pu_label", s.cast("int"))
    learner = TraditionalPULearnerConfig(
        maxIters=0, classifierConfig=LogisticRegressionConfig(maxIter=20)
    ).build()
    g = learner.weight(staged, "pu_label", "embedding")
    # weight() returns the clean user schema (the label roll drops the
    # input label column) — re-derive s from its defining expression
    s_out = ((F.col("label") == 9) & (F.col("vec_id") % 2 == 0)).cast("int")
    agg = g.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(s_out).cast("bigint").alias("n_labeled"),
        F.avg(F.when(s_out == 1, F.col("finalLabel"))).alias("c_hat"),
    )
    return agg.select(
        "n_rows",
        "n_labeled",
        "c_hat",
        (F.col("n_labeled").cast("double") / F.col("n_rows")).alias(
            "labeled_rate"
        ),
        (
            F.col("n_labeled").cast("double")
            / F.col("n_rows")
            / F.col("c_hat")
        ).alias("prior_hat"),
    )


def q_pu_f1_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PU-setting F1 proxy (Lee & Liu, ICML 2003): r²/P(ŷ=1), where r
    is recall over the LABELED positives and P(ŷ=1) the predicted-
    positive rate — the model-selection criterion computable WITHOUT
    negative labels (true F1 needs precision; this ranks models the
    same way under SCAR).  Decisions threshold the Elkan-Noto
    CALIBRATED P(y=1|x) at 0.5 (raw labeled-vs-unlabeled scores
    cluster below 0.5 under a ~10% labeled rate — thresholding them
    is the classic PU mistake this eval exists to catch); one fit +
    ONE aggregate, the output is the 1-row report.  Rows-only;
    algebra pinned in ``tests/test_pu.py``."""
    from pu4spark_spark.config import (
        ElkanNotoPULearnerConfig,
        LogisticRegressionConfig,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    staged = emb.withColumn(
        "pu_label", F.when(F.col("label") == 9, 1).otherwise(0)
    )
    learner = ElkanNotoPULearnerConfig(
        classifierConfig=LogisticRegressionConfig(maxIter=20)
    ).build()
    g = learner.weight(staged, "pu_label", "embedding")
    yhat = (F.col("finalLabel") >= 0.5).cast("int")
    s_out = (F.col("label") == 9).cast("int")  # weight() drops pu_label
    agg = g.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(s_out).cast("bigint").alias("n_pos_labeled"),
        F.sum(yhat).cast("bigint").alias("n_pred_pos"),
        F.sum(yhat * s_out).cast("bigint").alias("n_hit"),
    )
    r = F.col("n_hit").cast("double") / F.col("n_pos_labeled")
    ppos = F.col("n_pred_pos").cast("double") / F.col("n_rows")
    return agg.select(
        "n_rows",
        "n_pos_labeled",
        "n_pred_pos",
        r.alias("recall_labeled"),
        ppos.alias("pred_pos_rate"),
        (r * r / ppos).alias("f1_proxy"),
    )


SQL_PU_FEATURE_ASSEMBLY = """
SELECT l_orderkey, l_linenumber,
       CAST(l_quantity AS DOUBLE) AS f_quantity,
       CAST(l_extendedprice AS DOUBLE) AS f_extendedprice,
       CAST(l_discount AS DOUBLE) AS f_discount,
       CAST(l_tax AS DOUBLE) AS f_tax
FROM lineitem
"""


def q_pu_auc_zero_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed eval of the PU classifier itself: exact ties-corrected
    AUC of the zero-step P(positive) against the held-out true class
    (label == 9 — the class the PU seed was derived from) via the
    shared rank-sum primitive (``functions/evalfns.py``): no global
    sort, corpus reduced to ≤1001 bin rows before the window.  The
    §2A↔eval composition — the reference trains the scorer
    (TwoStepPULearner.scala:40-60), this measures it at scale.
    Rows-only (the score is an ML output); the AUC arithmetic itself
    is pinned by a NumPy reference test (``tests/test_pu.py``), and on
    the separable fixture the AUC must be ≫ 0.5."""
    from pu4spark_spark.config import (
        LogisticRegressionConfig,
        TraditionalPULearnerConfig,
    )
    from pu4spark_spark.functions.evalfns import ranksum_auc

    learner = TraditionalPULearnerConfig(
        maxIters=0, classifierConfig=LogisticRegressionConfig(maxIter=20)
    ).build()
    emb = load_table(spark, "embeddings", sf_dir)
    scored = learner.weight(
        emb.withColumn(
            "pu_label", F.when(F.col("label") == 9, 1).otherwise(0)
        ),
        "pu_label",
        "embedding",
    )
    return ranksum_auc(
        scored,
        F.col("finalLabel"),
        F.when(F.col("label") == 9, 1).otherwise(0),
    )


QUERIES = {
    "pu_relabel_keep": q_pu_relabel_keep,
    "pu_binarize_traditional": q_pu_binarize_traditional,
    "pu_binarize_gradual": q_pu_binarize_gradual,
    "pu_iteration_stats": q_pu_iteration_stats,
    "pu_traditional_trace": q_pu_traditional_trace,
    "pu_gradual_trace": q_pu_gradual_trace,
    "pu_bagging_trace": q_pu_bagging_trace,
    "pu_spy_trace": q_pu_spy_trace,
    "pu_elkan_trace": q_pu_elkan_trace,
    "pu_sar_trace": q_pu_sar_trace,
    "pu_label_index": q_pu_label_index,
    "pu_zero_step_lr": q_pu_zero_step_lr,
    "pu_traditional_lr": q_pu_traditional_lr,
    "pu_gradual_lr": q_pu_gradual_lr,
    "pu_traditional_rf": q_pu_traditional_rf,
    "pu_gradual_rf": q_pu_gradual_rf,
    "pu_doc_quality_lr": q_pu_doc_quality_lr,
    "pu_spy_em_lr": q_pu_spy_em_lr,
    "pu_elkan_noto_lr": q_pu_elkan_noto_lr,
    "pu_sar_lr": q_pu_sar_lr,
    "pu_bagging_lr": q_pu_bagging_lr,
    # rows-only: weighted LR fit; weighted==dedup property in test_pu.py
    "pu_doc_quality_soft_lr": q_pu_doc_quality_soft_lr,
    "pu_class_prior": q_pu_class_prior,
    "pu_f1_proxy": q_pu_f1_proxy,
    "pu_feature_assembly": q_pu_feature_assembly,
    # rows-only: ML-scored input; AUC algebra NumPy-pinned in tests
    "pu_auc_zero_step": q_pu_auc_zero_step,
}

ORACLE_SQL = {
    "pu_relabel_keep": SQL_PU_RELABEL_KEEP,
    "pu_binarize_traditional": SQL_PU_BINARIZE_TRADITIONAL,
    "pu_binarize_gradual": SQL_PU_BINARIZE_GRADUAL,
    "pu_iteration_stats": SQL_PU_ITERATION_STATS,
    "pu_traditional_trace": SQL_PU_TRADITIONAL_TRACE,
    "pu_gradual_trace": SQL_PU_GRADUAL_TRACE,
    "pu_bagging_trace": SQL_PU_BAGGING_TRACE,
    "pu_spy_trace": SQL_PU_SPY_TRACE,
    "pu_elkan_trace": SQL_PU_ELKAN_TRACE,
    "pu_sar_trace": SQL_PU_SAR_TRACE,
    "pu_label_index": SQL_PU_LABEL_INDEX,
    "pu_feature_assembly": SQL_PU_FEATURE_ASSEMBLY,
    # pu_zero_step_lr / pu_traditional_lr / pu_gradual_lr /
    # pu_traditional_rf / pu_gradual_rf: ML fit/transform, rows-only
}
