"""pu4spark_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ispras/pu4spark, extended with
LLM-data-pipeline operators (dedup + near-dup clustering, similarity
search, multimodal columns, text analysis, corpus curation) designed for
100 TB scale.

Layout
------
- ``api``          : the ``PositiveUnlabeledLearner`` contract
- ``session``      : SparkSession builder with scale-aware defaults
- ``sources``      : parquet table loaders for the driver test schema
- ``features``     : multi-column feature assembly (VectorAssembler flow)
- ``labels``       : sentinel-label relational core (pure Catalyst exprs)
- ``config``       : JSON-round-trippable learner/classifier configs
- ``two_step``     : shared zero-step (train-on-all, score-all)
- ``traditional``  : Traditional PU learner (Liu et al. 2002)
- ``gradual``      : Gradual Reduction PU learner (PU-LEA, Fusilier 2015)
- ``operators``    : dedup / similarity / text / relational / multimodal /
  curation / as-of & range joins / composed cleaning pipelines
- ``functions``    : reusable column-expression builders (vectors, text)
- ``streaming``    : Structured Streaming pipelines over the events table

Reference parity: see SURVEY.md; every module docstring cites the
reference file:line it re-expresses.  No code is copied from the
reference — the algorithms are re-derived Spark-first in Python.
"""

import importlib
import sys

__version__ = "0.1.0"

# a Spark Python worker under the stock daemon drops pyspark.zip & co.
# from its path here (see ``_daemon``).  PySpark is never loaded yet
# under ``python -m pu4spark_spark._daemon``, which must not find its
# own module imported before it runs.
if "pyspark" in sys.modules:
    from pu4spark_spark._daemon import prune_in_worker

    prune_in_worker()

#: public name → defining module.  Imported on first access (PEP 562), so
#: ``import pu4spark_spark`` loads no PySpark: Spark's Python worker
#: daemon (``pu4spark_spark._daemon``) must run before anything imports
#: PySpark, and a worker importing one submodule skips the rest.
_LAZY = {
    "GradualReductionPULearner": "pu4spark_spark.gradual",
    "GradualReductionPULearnerConfig": "pu4spark_spark.config",
    "LogisticRegressionConfig": "pu4spark_spark.config",
    "PositiveUnlabeledLearner": "pu4spark_spark.api",
    "RandomForestConfig": "pu4spark_spark.config",
    "TraditionalPULearner": "pu4spark_spark.traditional",
    "TraditionalPULearnerConfig": "pu4spark_spark.config",
    "assemble_features": "pu4spark_spark.features",
}

__all__ = [*_LAZY, "__version__"]


def __getattr__(name: str):
    module = _LAZY.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(module), name)
    globals()[name] = value
    return value


def __dir__() -> list[str]:
    return sorted({*globals(), *_LAZY})
