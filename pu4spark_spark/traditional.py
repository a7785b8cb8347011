"""Traditional PU learner (Liu et al., ICML 2002; pseudocode per
Fusilier et al. 2015).

Re-expresses the reference's ``TraditionalPULearner``
(TraditionalPULearner.scala:22-96) Spark-first:

- loop protocol          ≡ :42-74 (bounded ``for``, early exit at :53-55
  when no new reliable negatives were mined)
- relabel expression     ≡ the ``RelNegConfidenceThresholdAdder`` UDF
  (:79-91) → native ``when/otherwise``
  (:func:`pu4spark_spark.labels.binarize_traditional`)
- convergence counting   ≡ the per-iteration ``filter(prev==-1 &&
  cur==0).count()`` job (:47-50) → fused single-agg
  (:func:`pu4spark_spark.labels.iteration_stats`)
- cache hygiene          : the reference caches every iteration and never
  unpersists (:46); we unpersist the previous iteration and periodically
  ``localCheckpoint`` (SURVEY.md §4) — mandatory at 100 TB.

Documented divergence from the reference: the early-exit path at :53-55
returns a DataFrame still carrying both ``prevLabel`` and ``curLabel``;
we normalize both exit paths to the clean user schema (input columns +
``final_label``).  Set ``keep_internal=True`` to inspect the sentinel
columns instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pu4spark_spark.labels import binarize_traditional, iteration_stats
from pu4spark_spark.two_step import TwoStepPULearner


class TraditionalPULearner(TwoStepPULearner):
    """Fixed-iteration reliable-negative mining.

    ``weight`` appends ``final_label`` = P(positive) as a double
    (reference API contract: PositiveUnlabeledLearner.scala:16-25) and
    leaves ``trace_``: one dict per executed iteration holding
    ``iteration`` and the five :func:`~pu4spark_spark.labels.iteration_stats`
    counts.
    """

    def __init__(self, rel_neg_threshold: float, max_iters: int, classifier):
        super().__init__(rel_neg_threshold, classifier)
        self.max_iters = int(max_iters)

    def weight(
        self,
        df: DataFrame,
        label_col: str = "label",
        features_col: str = "features",
        final_label: str = "finalLabel",
        keep_internal: bool = False,
    ) -> DataFrame:
        # step 0, original label → prevLabel ∈ {1, -1} (:30-40)
        cur_df = self.seed_labels(df, label_col, features_col, final_label)

        self.trace_ = []
        prev_persisted: DataFrame | None = None
        for i in range(1, self.max_iters + 1):
            # mine reliable negatives among still-unlabeled rows (:44-46)
            cur_df = cur_df.withColumn(
                "curLabel",
                binarize_traditional(
                    F.col(final_label), F.col("prevLabel"), self.rel_neg_threshold
                ),
            )
            cur_df = self.roll_state(cur_df, prev_persisted, i)
            prev_persisted = cur_df
            # ONE agg job for all convergence scalars (ref: count at :47-50)
            stats = iteration_stats(cur_df)
            self.trace_.append({"iteration": i, **stats})
            if stats["new_rel_neg"] == 0:  # early exit (:53-55)
                break
            # retrain on decided labels, rescore every row (:58-71)
            model = self.fit_on_current(cur_df, "curLabel")
            cur_df = self.score_all(model, cur_df, final_label)
            # roll curLabel → prevLabel between iterations (:72-73)
            cur_df = cur_df.drop("prevLabel").withColumnRenamed(
                "curLabel", "prevLabel"
            )

        return self.finish(cur_df, keep_internal)
