"""Shared two-step PU skeleton: step 0 trains on all rows (unlabeled
treated as negative), scores every row with P(positive); subclasses then
iterate mining reliable negatives.

Re-expresses (Spark-first) the reference's ``TwoStepPULearner``
(TwoStepPULearner.scala:20-104):

- step 0               ≡ ``zeroStep`` (:40-60)
- P(positive) extract  ≡ ``getPOne`` scalar UDF (:28) — replaced by the
  native ``vector_to_array(probability)[1]`` expression (Catalyst-visible,
  no serialization, keeps whole-stage codegen intact).
- label indexing       ≡ ``indexLabelColumn`` (:73-81) via
  :func:`pu4spark_spark.labels.index_label`.
- VectorIndexer runs ONCE in step 0 and its ``indexedFeatures`` column is
  reused by every iteration (the reference drops only
  probability/prediction/rawPrediction/label — TraditionalPULearner.scala:32
  — so ``indexedFeatures`` survives; re-indexing per iteration would both
  change results and waste a full pass at scale).

Scale notes (100 TB): features arrive as ``array<float>`` from parquet and
cross the ML boundary once via ``array_to_vector``; every relabel is a
pure projection; all convergence counting is fused into one agg job
(:func:`pu4spark_spark.labels.iteration_stats`); loop state is persisted
with explicit unpersist of the previous iteration plus periodic
``localCheckpoint`` to cut unbounded lineage growth (the reference caches
every iteration and never unpersists — SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import VectorIndexer
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from pu4spark_spark.api import PositiveUnlabeledLearner
from pu4spark_spark.config import INDEXED_FEATURES_NAME, LABEL_NAME
from pu4spark_spark.labels import UNDEF_LABEL, index_label, relabel_keep

#: classifier temp columns dropped after each scoring pass
#: (reference: TraditionalPULearner.scala:32,71-72)
_SCORE_TEMPS = ("rawPrediction", "probability", "prediction")

#: checkpoint the loop DataFrame every N iterations to cut lineage
CHECKPOINT_EVERY = 3


def p_positive(prob_col: str = "probability"):
    """P(positive) = element 1 of the 2-class probability vector.

    Class order is pinned to ("0","1") by :func:`index_label` metadata, so
    index 1 is always the positive class (reference class-order analysis:
    SURVEY.md §2A sentinel-label algebra).  Native expression replacing the
    reference's ``getPOne`` UDF (TwoStepPULearner.scala:28).
    """
    return vector_to_array(F.col(prob_col)).getItem(1)


#: internal vector-features column when the user supplies an array column
VEC_FEATURES_NAME = "__featuresVec"


def ensure_vector(df: DataFrame, features_col: str) -> tuple[DataFrame, str]:
    """If ``features_col`` is ``array<float/double>``, add an internal ML
    Vector copy and return its name; VectorUDT passes through untouched.

    The parquet fixtures store embeddings as ``array<float>`` (FIXTURES.md);
    the conversion happens exactly once at the ML boundary and the user's
    column is left intact (the internal column is dropped from results).
    """
    dtype = df.schema[features_col].dataType
    if isinstance(dtype, ArrayType):
        return (
            df.withColumn(VEC_FEATURES_NAME, array_to_vector(F.col(features_col))),
            VEC_FEATURES_NAME,
        )
    return df, features_col


class TwoStepPULearner(PositiveUnlabeledLearner):
    """Base for the two PU algorithms; holds the shared step-0 logic
    (``weight`` itself stays abstract — ≡ the trait/skeleton split at
    PositiveUnlabeledLearner.scala:22-25 / TwoStepPULearner.scala:20)."""

    def __init__(self, rel_neg_threshold: float, classifier):
        self.rel_neg_threshold = float(rel_neg_threshold)
        self.classifier = classifier

    # -- step 0 ----------------------------------------------------------
    def zero_step(
        self, df: DataFrame, label_col: str, features_col: str, final_label: str
    ) -> DataFrame:
        """Train on all rows (unlabeled≡negative), score every row.

        ≡ reference ``zeroStep`` (TwoStepPULearner.scala:40-60).  Returns
        the input plus ``indexedFeatures``, ``label`` and ``final_label``
        (P(positive)); score temp columns already dropped.
        """
        df, vec_col = ensure_vector(df, features_col)
        indexed = index_label(df, label_col, LABEL_NAME, ["0", "1"])
        feature_indexer = VectorIndexer(
            inputCol=vec_col,
            outputCol=INDEXED_FEATURES_NAME,
            maxCategories=4,
        )
        prepared = Pipeline(stages=[feature_indexer]).fit(indexed).transform(indexed)
        model = self.classifier.fit(prepared)
        scored = model.transform(prepared)
        return scored.withColumn(final_label, p_positive()).drop(*_SCORE_TEMPS)

    def seed_labels(
        self, df: DataFrame, label_col: str, features_col: str, final_label: str
    ) -> DataFrame:
        """Step 0, then the original label → ``prevLabel`` ∈ {1, -1} with
        the original column dropped (≡ TraditionalPULearner.scala:30-40,
        GradualReductionPULearner.scala:28-33)."""
        cur_df = self.zero_step(df, label_col, features_col, final_label)
        cur_df = relabel_keep(
            cur_df.drop(LABEL_NAME), label_col, "prevLabel", UNDEF_LABEL
        )
        return cur_df.withColumn("prevLabel", F.col("prevLabel").cast("int"))

    # -- iteration helpers ----------------------------------------------
    def fit_on_current(self, df: DataFrame, cur_col: str):
        """Train the classifier on rows with a decided label
        (``cur != -1``), class order pinned to ("0.0","1.0").

        ≡ reference iteration-train (TraditionalPULearner.scala:58-63,
        GradualReductionPULearner.scala:56-61).
        """
        train = df.filter(F.col(cur_col) != F.lit(-1))
        train = index_label(train, cur_col, LABEL_NAME, ["0.0", "1.0"])
        return self.classifier.fit(train)

    def score_all(self, model, df: DataFrame, final_label: str) -> DataFrame:
        """Score every row, refresh ``final_label`` = P(positive), drop
        classifier temps (≡ TraditionalPULearner.scala:69-72)."""
        df = df.drop(final_label, LABEL_NAME)
        scored = model.transform(df)
        return scored.withColumn(final_label, p_positive()).drop(*_SCORE_TEMPS)

    @staticmethod
    def roll_state(
        df: DataFrame, prev_df: DataFrame | None, iteration: int
    ) -> DataFrame:
        """Persist this iteration's state, release the previous one, and
        periodically cut lineage.

        Fixes the reference's cache leak (cache() each iteration, never
        unpersisted — TraditionalPULearner.scala:46,
        GradualReductionPULearner.scala:40,73) and its unbounded plan
        growth (SURVEY.md §4): behavior-neutral, purely physical.
        """
        if iteration % CHECKPOINT_EVERY == 0:
            df = df.localCheckpoint(eager=True)
        else:
            df = df.persist()
        if prev_df is not None:
            prev_df.unpersist()
        return df

    @staticmethod
    def cleanup(df: DataFrame, *cols: str) -> DataFrame:
        """Drop internal columns from the user-facing result."""
        return df.drop(*cols)

    def finish(self, df: DataFrame, keep_internal: bool) -> DataFrame:
        """The loop learners' result: the clean user schema (input
        columns + ``final_label``), or the sentinel columns too when
        ``keep_internal``."""
        if keep_internal:
            return df
        return self.cleanup(
            df,
            "prevLabel",
            "curLabel",
            INDEXED_FEATURES_NAME,
            VEC_FEATURES_NAME,
            LABEL_NAME,
        )
