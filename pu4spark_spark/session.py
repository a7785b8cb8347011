"""SparkSession construction with scale-aware defaults.

The reference (ispras/pu4spark) leaves all session/physical decisions to
the caller (SURVEY.md §4).  We centralize them here so every entry point —
tests, bench, driver harness — runs with the same, 100-TB-minded config:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- UTC session timezone (duckdb-oracle comparability; duckdb timestamps
  are UTC-naive)
- Arrow enabled for the few pandas-UDF paths (multimodal decode)
- shuffle partitions sized to the local core count; on a real cluster
  AQE coalesces from an intentionally-high initial number instead.

``spark.driver.memory`` is a static JVM option: it takes effect only when
``getOrCreate`` actually COLD-STARTS the JVM (which is exactly what the
bench, tests, and oracle checker do) and is silently ignored when the
driver harness hands us an already-running session — where that harness's
own submit-time setting governs.  Leaving it unset was measured to leave
a 1 GiB default heap under local[32]: GC pressure from ML models +
cached intermediates degraded later stateful-streaming queries up to 9×.
``SPARK_GRAFT_DRIVER_MEM`` overrides the default.

``spark.python.daemon.module`` names :mod:`pu4spark_spark._daemon`, a
wrapper around ``pyspark.daemon`` that drops ``pyspark.zip``, the py4j
zip and the Spark jar from the Python workers' ``sys.path`` when the
same PySpark and py4j versions are installed as directories.  Every
Python task calls ``importlib.invalidate_caches()``, which re-reads the
directory of each archive's cached importer; without the wrapper that
is 160-210 ms of a trivial task's 170-230 ms on a 4-vCPU host.  The
conf is set only when the workers can import this package, i.e. its
parent directory is the JVM's working directory or on ``PYTHONPATH``;
otherwise the workers run the stock daemon.  It is a static conf, read
when the SparkContext starts, so :func:`tune_for_session` cannot set it
on a session the caller already created.  Workers under the stock daemon
(those sessions' workers, and the Python data source's planner workers,
which Spark starts without reading the conf) drop the same archives at
their first ``import pu4spark_spark`` instead
(:func:`pu4spark_spark._daemon.prune_in_worker`); a reused planner
worker's per-call invalidation then costs under 0.1 ms, not 170-240 ms.
"""

from __future__ import annotations

import logging
import os

from pyspark import SparkContext
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

#: ``spark.python.daemon.module`` for sessions built by :func:`get_spark`
DAEMON_MODULE = "pu4spark_spark._daemon"


def workers_import_package() -> bool:
    """Whether Spark's Python workers can import this package: its parent
    directory is the driver JVM's working directory (``sys.path[0]`` of
    ``python -m``) or an entry of the JVM's ``PYTHONPATH``, which Spark
    passes on to the workers.  A JVM not yet started inherits this
    process's working directory and environment."""
    gateway = SparkContext._gateway
    if gateway is None:
        cwd, pythonpath = os.getcwd(), os.environ.get("PYTHONPATH")
    else:
        system = gateway.jvm.System
        cwd = system.getProperty("user.dir")
        pythonpath = system.getenv("PYTHONPATH")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    entries = [cwd, *(pythonpath or "").split(os.pathsep)]
    return any(
        e and os.path.realpath(os.path.join(cwd, e)) == os.path.realpath(root)
        for e in entries
    )


def get_spark(
    app_name: str = "pu4spark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master``/``shuffle_partitions`` default from env
    (``SPARK_GRAFT_CPUS``) so the driver harness and bench.py agree.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce/re-plan ON TOP of persisted intermediates —
        # the dedup/similarity operators persist multiply-consumed
        # subtrees, and without this flag every downstream stage of a
        # cached plan keeps the cache's full partition count even when
        # the shuffled data is tiny (default false pins cached layout)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # static JVM option — effective on cold start only (see module
        # docstring); the 1 GiB default is far too small for local[32]
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
    )
    if workers_import_package():
        # static conf — see the module docstring
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    from pu4spark_spark.scratch import install_scratch_gc

    install_scratch_gc()  # bound tempdir growth (ADVICE r6)
    return builder.getOrCreate()


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (the driver passes us its own SparkSession)."""
    from pu4spark_spark.scratch import install_scratch_gc

    install_scratch_gc()  # bound tempdir growth (ADVICE r6)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    try:
        spark.conf.set(key, "true")
    except AnalysisException as e:
        # static conf in some deployments; best-effort
        if e.getCondition() != "CANNOT_MODIFY_STATIC_CONFIG":
            raise
        logger.warning("%s is static in this session; left unchanged", key)
    return spark
