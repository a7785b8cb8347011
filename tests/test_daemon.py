"""The Python worker daemon (``pu4spark_spark._daemon``) and the lazy
package import it depends on.

The path rule is tested as a pure function over fake directory installs
and archives; two subprocess sessions check what Spark's workers really
import, with the daemon module set and with it left unset."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest
from pyspark import SparkContext

import pu4spark_spark
from pu4spark_spark import _daemon
from pu4spark_spark.session import DAEMON_MODULE, workers_import_package

from conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dir_install(site, name, version):
    pkg = site / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")
    return str(site)


def _archive(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)
    return str(path)


def _zip_install(path, name, version):
    return _archive(path, {
        f"{name}/__init__.py": "",
        f"{name}/version.py": f"__version__ = '{version}'\n",
        f"{name}/sql/__init__.py": "",
    })


def test_drops_and_evicts_archives_matching_directory_installs(tmp_path):
    pyspark_zip = _zip_install(tmp_path / "pyspark.zip", "pyspark", "4.1.2")
    py4j_zip = _zip_install(tmp_path / "py4j-src.zip", "py4j", "0.10.9.9")
    site = _dir_install(tmp_path / "site", "pyspark", "4.1.2")
    _dir_install(tmp_path / "site", "py4j", "0.10.9.9")
    missing = str(tmp_path / "python311.zip")
    path = ["", pyspark_zip, py4j_zip, missing, site]
    cache = {
        pyspark_zip: object(),
        os.path.join(pyspark_zip, "pyspark"): object(),
        py4j_zip: object(),
        site: object(),
    }

    assert _daemon.prune_archives(path, cache) == [pyspark_zip, py4j_zip]
    assert path == ["", missing, site]
    assert list(cache) == [site]


def test_keeps_archives_without_a_same_version_directory(tmp_path):
    pyspark_zip = _zip_install(tmp_path / "pyspark.zip", "pyspark", "4.1.2")
    py4j_zip = _zip_install(tmp_path / "py4j-src.zip", "py4j", "0.10.9.9")
    site = _dir_install(tmp_path / "site", "pyspark", "4.1.1")
    # no directory install of py4j at all
    path = [pyspark_zip, py4j_zip, site]
    cache = {pyspark_zip: object(), py4j_zip: object()}

    assert _daemon.prune_archives(path, cache) == []
    assert path == [pyspark_zip, py4j_zip, site]
    assert list(cache) == [pyspark_zip, py4j_zip]


def test_keeps_an_archive_a_different_version_would_replace(tmp_path):
    """A matching install further down does not count when a directory
    with another version comes first: that is what imports would find."""
    pyspark_zip = _zip_install(tmp_path / "pyspark.zip", "pyspark", "4.1.2")
    stale = _dir_install(tmp_path / "stale", "pyspark", "4.0.0")
    site = _dir_install(tmp_path / "site", "pyspark", "4.1.2")

    assert _daemon.archives_to_drop([pyspark_zip, stale, site]) == []
    assert _daemon.archives_to_drop([pyspark_zip, site, stale]) == [pyspark_zip]


def test_keeps_an_archive_with_an_unversioned_package(tmp_path):
    archive = _archive(tmp_path / "extra.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": "__version__ = '4.1.2'\n",
        "helpers.py": "",
    })
    site = _dir_install(tmp_path / "site", "pyspark", "4.1.2")
    (tmp_path / "site" / "helpers.py").write_text("")

    assert _daemon.archives_to_drop([archive, site]) == []


def test_drops_a_jar_without_python_packages(tmp_path):
    jar = _archive(tmp_path / "spark-core.jar", {
        "META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n",
        "org/apache/spark/SparkContext.class": "",
    })
    path = [jar, str(tmp_path)]
    cache = {jar: object()}

    assert _daemon.prune_archives(path, cache) == [jar]
    assert path == [str(tmp_path)]
    assert cache == {}


def _hook_calls(monkeypatch, tmp_path, *, marker, pyspark):
    """How often :func:`_daemon.prune_in_worker` prunes, with or without
    the worker marker, given the loaded ``pyspark`` module (None: not
    loaded; "zip": loaded from an archive; "dir": from a directory)."""
    calls = []
    monkeypatch.setattr(_daemon, "prune_archives", lambda: calls.append(1))
    if marker:
        monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "secret")
    else:
        monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    if pyspark is None:
        monkeypatch.delitem(sys.modules, "pyspark", raising=False)
    elif pyspark == "zip":
        archive = _zip_install(tmp_path / "pyspark.zip", "pyspark", "4.1.2")
        module = types.ModuleType("pyspark")
        module.__loader__ = zipimport.zipimporter(archive)
        monkeypatch.setitem(sys.modules, "pyspark", module)
    _daemon.prune_in_worker()
    return len(calls)


def test_worker_hook_prunes_only_in_a_worker(monkeypatch, tmp_path):
    assert _hook_calls(monkeypatch, tmp_path, marker=False, pyspark="zip") == 0
    assert _hook_calls(monkeypatch, tmp_path, marker=True, pyspark="zip") == 1


def test_worker_hook_needs_pyspark_loaded_from_an_archive(
    monkeypatch, tmp_path
):
    # the package's own daemon imports the package before PySpark
    assert _hook_calls(monkeypatch, tmp_path, marker=True, pyspark=None) == 0
    assert _hook_calls(monkeypatch, tmp_path, marker=True, pyspark="dir") == 0


def test_package_import_is_lazy():
    code = (
        "import sys, pu4spark_spark\n"
        "print(sorted(m for m in sys.modules\n"
        "             if m.split('.')[0] in ('pyspark', 'py4j', 'pandas')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, check=True,
    )
    assert out.stdout.strip() == "[]"


def test_package_import_leaves_the_daemon_module_to_run_as_main():
    """``python -m pu4spark_spark._daemon`` imports the package first;
    had that imported ``_daemon`` too, runpy would warn and run it twice."""
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, pu4spark_spark; print(sorted(sys.modules))"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    assert "pu4spark_spark._daemon" not in out.stdout


def test_every_public_name_resolves():
    from pu4spark_spark.config import LogisticRegressionConfig
    from pu4spark_spark.gradual import GradualReductionPULearner

    for name in pu4spark_spark.__all__:
        assert getattr(pu4spark_spark, name) is not None
    assert pu4spark_spark.GradualReductionPULearner is GradualReductionPULearner
    assert pu4spark_spark.LogisticRegressionConfig is LogisticRegressionConfig
    namespace = {}
    exec("from pu4spark_spark import *", namespace)
    assert set(pu4spark_spark.__all__) <= set(namespace)
    assert set(pu4spark_spark.__all__) <= set(dir(pu4spark_spark))
    with pytest.raises(AttributeError):
        pu4spark_spark.NoSuchName


def test_workers_import_package_follows_cwd_and_pythonpath(
    monkeypatch, tmp_path
):
    monkeypatch.setattr(SparkContext, "_gateway", None)  # JVM not started
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(tmp_path)
    assert not workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), ROOT]))
    assert workers_import_package()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(ROOT)
    assert workers_import_package()


#: run in a fresh interpreter: build a ``get_spark`` session, then report
#: from Python workers where they imported PySpark from.  argv[1] == "1"
#: also reads the jsonl_docs table and a probe data source, and has a
#: planner worker report after importing the package (``planner``).
PROBE = r'''
import json, sys, zipimport
sys.path.insert(0, sys.argv[2])

def report(_=None):
    import pyspark
    return json.dumps({
        "main": sys.modules["__main__"].__file__,
        "pyspark": pyspark.__file__,
        "zipimporters": sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        ),
    })

from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pu4spark_spark.session import get_spark

class WorkerProbe(DataSource):
    @classmethod
    def name(cls):
        return "worker_probe"

    def schema(self):
        return "report string"

    def reader(self, schema):
        return WorkerProbeReader()

class WorkerProbeReader(DataSourceReader):
    def partitions(self):
        return [InputPartition(i) for i in range(2)]

    def read(self, partition):
        yield (report(),)

class PlannerProbe(DataSource):
    @classmethod
    def name(cls):
        return "planner_probe"

    def schema(self):
        return "report string"

    def reader(self, schema):
        return PlannerProbeReader()

class PlannerProbeReader(DataSourceReader):
    def partitions(self):
        # runs in a read-planning worker, under the stock daemon
        import importlib, time
        import pu4spark_spark
        start = time.perf_counter()
        importlib.invalidate_caches()
        seconds = time.perf_counter() - start
        out = dict(json.loads(report()), invalidate_caches_s=seconds)
        return [InputPartition(json.dumps(out))]

    def read(self, partition):
        yield (partition.value,)

spark = get_spark(master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
conf = spark.sparkContext.getConf()
out = {"conf": conf.get("spark.python.daemon.module", None)}
probe = F.udf(report, "string")
reports = spark.range(4).repartition(2).select(probe("id")).collect()
if sys.argv[1] == "1":
    from pu4spark_spark.sources import load_table
    from pu4spark_spark.sources.lake.queries_stream import _jsonl_shard_dir
    from pu4spark_spark.sources.lake.source import register_pyds

    register_pyds(spark)
    docs = spark.read.format("jsonl_docs").option(
        "path", _jsonl_shard_dir(spark, sys.argv[3])
    ).load()
    out["docs"] = docs.count()
    out["expected_docs"] = load_table(spark, "documents", sys.argv[3]).count()
    reports += docs.select(probe("doc_id")).collect()
    spark.dataSource.register(WorkerProbe)
    reports += spark.read.format("worker_probe").load().collect()
    spark.dataSource.register(PlannerProbe)
    out["planner"] = [
        json.loads(r[0])
        for r in spark.read.format("planner_probe").load().collect()
    ]
out["workers"] = sorted({r[0] for r in reports})
spark.stop()
print(json.dumps(out))
'''


def _run_probe(tmp_path, cwd, lake):
    script = tmp_path / "probe.py"
    script.write_text(PROBE)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    out = subprocess.run(
        [sys.executable, str(script), "1" if lake else "0", ROOT, SF_DIR],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["workers"] = [json.loads(w) for w in result["workers"]]
    return result


def test_workers_import_pyspark_from_its_directory_install(tmp_path):
    result = _run_probe(tmp_path, cwd=ROOT, lake=True)
    assert result["conf"] == DAEMON_MODULE
    assert result["docs"] == result["expected_docs"] > 0
    assert result["workers"]
    for worker in result["workers"]:
        assert worker["main"].endswith(
            os.path.join("pu4spark_spark", "_daemon.py")
        )
        assert os.path.isfile(worker["pyspark"]), worker  # not in an archive
        assert worker["zipimporters"] == 0, worker


def test_planner_worker_prunes_archives_at_package_import(tmp_path):
    """Spark starts the data source's planner workers under the stock
    daemon whatever the conf says; importing the package there drops the
    archives, so the per-call cache invalidation is cheap."""
    (planner,) = _run_probe(tmp_path, cwd=ROOT, lake=True)["planner"]
    assert planner["main"].endswith(os.path.join("pyspark", "daemon.py"))
    assert not os.path.isfile(planner["pyspark"]), planner  # from the zip
    assert planner["zipimporters"] == 0, planner
    assert planner["invalidate_caches_s"] < 0.005, planner


def test_stock_daemon_when_workers_cannot_import_the_package(tmp_path):
    result = _run_probe(tmp_path, cwd=tmp_path, lake=False)
    assert result["conf"] is None
    assert result["workers"]
    for worker in result["workers"]:
        assert worker["main"].endswith(os.path.join("pyspark", "daemon.py"))
