"""Gradual Reduction PU learner (PU-LEA; Fusilier et al. 2015).

Re-expresses the reference's ``GradualReductionPULearner``
(GradualReductionPULearner.scala:27-86) Spark-first.  Exact protocol
(behavior verified against the reference source):

1. step 0 scores all rows; original label → ``prevLabel`` ∈ {1,-1} (:28-33)
2. first thresholding targets *unlabeled* rows
   (``label_to_consider=UNDEF``, :35-40)
3. scalars before the loop (:41-52): ``new_rel_neg`` = (prev==-1 &
   cur==0), ``total_pos`` = (cur==1) — computed ONCE, it is loop-invariant
   since positives always pass through — ``total_rel_neg`` = (cur==0);
   ``prev_gain = +∞``, ``cur_gain = new_rel_neg``.
4. do-while body (:54-83): train on decided rows, rescore ALL rows,
   roll cur→prev, then re-threshold *previously-reliable negatives*
   (``label_to_consider=REL_NEG``, :70-73) — a reliable negative whose new
   P(positive) ≥ threshold is demoted back to unlabeled: the "gradual
   reduction".  ``cur_gain = prev_new_rel_neg − total_rel_neg`` (:74-81).
5. loop while ``cur_gain > 0 && cur_gain < prev_gain && total_pos <
   total_rel_neg`` (:84).

Scale deltas vs the reference (behavior-neutral, SURVEY.md §4):
- the reference issues up to five separate count jobs per iteration,
  two with *identical* filters (:75-79) — we fuse them into one agg
  (:func:`pu4spark_spark.labels.iteration_stats`);
- per-iteration caches are unpersisted and lineage is periodically cut
  (the reference leaks every iteration's cache, :40,:73).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pu4spark_spark.labels import (
    REL_NEG_LABEL,
    UNDEF_LABEL,
    binarize_gradual,
    iteration_stats,
)
from pu4spark_spark.two_step import TwoStepPULearner

logger = logging.getLogger(__name__)

#: safety bound the reference lacks — its loop-variant argument (strictly
#: shrinking gain) guarantees termination mathematically, but at scale we
#: refuse to run unbounded driver loops.
MAX_SAFE_ITERS = 100


class GradualReductionPULearner(TwoStepPULearner):
    """Converging positive-set refinement ("PU-LEA").

    ``weight`` leaves ``trace_``: one dict per stats pass (the pre-loop
    pass is iteration 1) holding ``iteration``, the five
    :func:`~pu4spark_spark.labels.iteration_stats` counts and
    ``cur_gain``, the loop variant of the do-while (:80-84).
    """

    def weight(
        self,
        df: DataFrame,
        label_col: str = "label",
        features_col: str = "features",
        final_label: str = "finalLabel",
        keep_internal: bool = False,
    ) -> DataFrame:
        cur_df = self.seed_labels(df, label_col, features_col, final_label)

        # first thresholding pass over unlabeled rows (:35-40)
        cur_df = cur_df.withColumn(
            "curLabel",
            binarize_gradual(
                F.col(final_label),
                F.col("prevLabel"),
                self.rel_neg_threshold,
                UNDEF_LABEL,
            ),
        )
        cur_df = self.roll_state(cur_df, None, 1)
        prev_persisted = cur_df

        stats = iteration_stats(cur_df)  # one job for :41-49's three
        new_rel_neg = stats["new_rel_neg"]
        total_pos = stats["total_pos"]  # loop-invariant (val at :48)
        total_rel_neg = stats["total_rel_neg"]

        prev_gain = float("inf")  # Long.MaxValue at :51
        cur_gain = new_rel_neg
        self.trace_ = [{"iteration": 1, **stats, "cur_gain": cur_gain}]

        iteration = 1
        while True:  # do-while (:54-84)
            iteration += 1
            model = self.fit_on_current(cur_df, "curLabel")  # :56-61
            cur_df = self.score_all(model, cur_df, final_label)  # :64-66
            cur_df = cur_df.drop("prevLabel").withColumnRenamed(
                "curLabel", "prevLabel"
            )  # :67-68
            # re-threshold previously-reliable negatives (:70-73)
            cur_df = cur_df.withColumn(
                "curLabel",
                binarize_gradual(
                    F.col(final_label),
                    F.col("prevLabel"),
                    self.rel_neg_threshold,
                    REL_NEG_LABEL,
                ),
            )
            cur_df = self.roll_state(cur_df, prev_persisted, iteration)
            prev_persisted = cur_df

            prev_new_rel_neg = new_rel_neg  # :74
            stats = iteration_stats(cur_df)  # fuses :75-79's two jobs
            new_rel_neg = stats["total_rel_neg"]  # (cur==0), :75-78
            total_rel_neg = stats["total_rel_neg"]  # identical filter, :79
            prev_gain, cur_gain = cur_gain, prev_new_rel_neg - total_rel_neg  # :80-81
            self.trace_.append(
                {"iteration": iteration, **stats, "cur_gain": cur_gain}
            )

            if not (
                cur_gain > 0
                and cur_gain < prev_gain
                and total_pos < total_rel_neg
            ):  # :84
                break
            if iteration >= MAX_SAFE_ITERS:
                logger.warning(
                    "GradualReductionPULearner stopped at MAX_SAFE_ITERS=%d "
                    "before converging: gain %d (previous %s), %d positives, "
                    "%d reliable negatives",
                    MAX_SAFE_ITERS, cur_gain, prev_gain, total_pos,
                    total_rel_neg,
                )
                break

        return self.finish(cur_df, keep_internal)
