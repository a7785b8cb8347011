"""``pu_gradual_lr``: the paper's learner end to end.

Each op reads the seeded PU table from Parquet, runs
``GradualReductionPULearner.weight()`` with the default
``LogisticRegressionConfig`` and collects ``(id, finalLabel)``.  The
output is checked for complete unique ids, probabilities in [0, 1] and
a ROC AUC against the hidden class at or above ``AUC_FLOOR``.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

import checks
import datagen
from spans import Workload, median, self_time

#: rows of the PU table (tiny: the benchmark's own smoke tests)
ROWS = {"full": 20000, "tiny": 400}

#: the lowest AUC seeds 1-30 gave at the commit that added the benchmark
#: (0.9967 full, 0.967 tiny), less 0.01 (full) or 0.05 (tiny)
AUC_FLOOR = {"full": 0.985, "tiny": 0.9}

LAYER = {
    "two_step.zero_step_s": "s",
    "two_step.fit_s": "s",
    "two_step.fits": "count",
    "two_step.roll_state_s": "s",
    "labels.iteration_stats_s": "s",
    "mllib.fit_s": "s",
    "mllib.fits": "count",
    "pu.iterations": "count",
    "pu.weight_self_s": "s",
    "pu.collect_s": "s",
    "pu.auc": "ratio",
}

#: span name → per-layer metric of its summed duration per op
_SPAN_TIME = {
    "two_step.zero_step": "two_step.zero_step_s",
    "two_step.fit_on_current": "two_step.fit_s",
    "two_step.roll_state": "two_step.roll_state_s",
    "labels.iteration_stats": "labels.iteration_stats_s",
    "mllib.fit": "mllib.fit_s",
    "pu.collect": "pu.collect_s",
}


class PUGradual(Workload):
    def __init__(self, ctx):
        super().__init__(ctx)
        self.n = ROWS[ctx.scale]
        self.path = os.path.join(ctx.work, "pu.parquet")
        self.per_op: list[dict] = []
        self.aucs: list[float] = []

    def generate(self, rep: int) -> None:
        table, self.truth = datagen.pu_table(self.ctx.seed, self.n)
        pq.write_table(table, self.path)

    def expect(self, rep: int) -> None:
        """The expected output is the hidden class ``generate`` kept."""

    def warmup(self) -> None:
        wall, reason = self.op(-1)
        if reason is not None:
            self.setup_failures += 1
            print(f"warm-up weight() failed: {reason}", file=sys.stderr)

    def enough(self, i: int) -> bool:
        return i >= 2

    def _learner(self):
        from pu4spark_spark.config import GradualReductionPULearnerConfig

        learner = GradualReductionPULearnerConfig().build()
        tr = self.tracer
        if tr.enabled:
            for name in ("zero_step", "fit_on_current", "roll_state"):
                setattr(learner, name,
                        tr.wrap(f"two_step.{name}", getattr(learner, name)))
            clf = learner.classifier
            clf.fit = tr.wrap("mllib.fit", clf.fit)
        return learner

    def op(self, i: int):
        import pu4spark_spark.gradual as gradual

        self.label = "weight"
        learner = self._learner()
        tr = self.tracer
        orig_stats = gradual.iteration_stats
        if tr.enabled:
            gradual.iteration_stats = tr.wrap(
                "labels.iteration_stats", orig_stats)

        def call():
            df = self.spark.read.parquet(self.path)
            with tr.span("pu.weight"):
                out = learner.weight(df, "label", "features", "finalLabel")
            with tr.span("pu.collect"):
                return out.select("id", "finalLabel").collect()

        try:
            wall, rows, trace = self.timed(call)
        finally:
            gradual.iteration_stats = orig_stats
        reason, auc = checks.check_pu(rows, self.truth, AUC_FLOOR[self.ctx.scale])
        if i >= 0:
            self.aucs.append(auc)
            if trace is not None:
                self.per_op.append(_layers(trace[1]))
        return wall, reason

    def layer_metrics(self) -> dict:
        out = {k: median(o.get(k, 0.0) for o in self.per_op) for k in LAYER}
        out["pu.auc"] = median(self.aucs)
        return out


def _layers(spans) -> dict:
    out = dict.fromkeys(LAYER, 0.0)
    for s in spans:
        if s.name in _SPAN_TIME:
            out[_SPAN_TIME[s.name]] += s.dur
        if s.name == "two_step.fit_on_current":
            out["two_step.fits"] += 1
        elif s.name == "mllib.fit":
            out["mllib.fits"] += 1
        elif s.name == "labels.iteration_stats":
            out["pu.iterations"] += 1
        elif s.name == "pu.weight":
            out["pu.weight_self_s"] = self_time(s, spans)
    return out
