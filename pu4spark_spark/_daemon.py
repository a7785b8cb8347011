"""Spark Python worker daemon that imports PySpark from its directory install.

Spark starts one daemon per executor with ``python -m <module>``, the
module named by ``spark.python.daemon.module`` (default
``pyspark.daemon``), and every Python task runs in a child the daemon
forks.  Spark puts ``pyspark.zip``, the py4j source zip and the
``spark-core`` jar at the front of the daemon's ``PYTHONPATH``.  Each
task's ``setup_spark_files`` (``pyspark/worker_util.py``) ends with
``importlib.invalidate_caches()``, and under CPython 3.11 that makes every
cached ``zipimporter`` re-read its archive's whole directory.  With
PySpark imported from ``pyspark.zip`` (1,328 entries, 12-16 importers)
and the jar (5,359 entries) on the path, this costs 160-210 ms per task
on a 4-vCPU host, most of a trivial task's run time.

When the same packages are also installed as directories, this module
drops those archives from ``sys.path`` and evicts their cached importers
before PySpark is imported, then hands over to
:func:`pyspark.daemon.manager`.  Forked workers inherit the cleaned path,
and the per-task cache invalidation costs next to nothing.

Spark starts some workers under the stock daemon whatever the conf says:
the Python data source's planner workers (schema, filter pushdown, read
planning, write, commit), and every worker of a session that
:func:`~pu4spark_spark.session.get_spark` did not build.  Those
workers have already imported PySpark from ``pyspark.zip``, so
:func:`prune_in_worker`, which the package's ``__init__`` calls, prunes
at their first ``import pu4spark_spark``.  A planner worker is reused
for every later call of its kind, and each call's invalidation drops
from 170-240 ms (17 zip importers) to under 0.1 ms.

The rule (:func:`archives_to_drop`): an archive leaves the path only if
every top-level Python package it provides then resolves to a directory
entry whose ``<package>/version.py`` declares the same ``__version__``.
An archive that provides no Python package, such as the Spark jar,
qualifies trivially.  Every other entry stays, so a worker never imports
a different PySpark or py4j than Spark shipped.

Nothing outside the standard library may be imported before the prune;
this is why the package's ``__init__`` imports its names lazily.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
import zipimport

_VERSION = re.compile(
    r"""^__version__\s*(?::[^=\n]*)?=\s*['"]([^'"]+)['"]""", re.M
)


def _version(source: str | None) -> str | None:
    match = _VERSION.search(source) if source else None
    return match.group(1) if match else None


def _archive_members(entry: str) -> list[str] | None:
    """Member names of ``entry`` if it is a zip archive (or jar), else None."""
    if not os.path.isfile(entry) or not zipfile.is_zipfile(entry):
        return None
    with zipfile.ZipFile(entry) as zf:
        return zf.namelist()


def _archive_text(entry: str, member: str) -> str | None:
    with zipfile.ZipFile(entry) as zf:
        try:
            return zf.read(member).decode("utf-8")
        except KeyError:
            return None


def _file_text(path: str) -> str | None:
    try:
        with open(path, encoding="utf-8") as f:
            return f.read()
    except OSError:
        return None


def _packages(members: list[str]) -> set[str]:
    """Top-level module and package names an archive provides: the first
    path component of every Python source or bytecode member."""
    names = set()
    for member in members:
        if member.endswith((".py", ".pyc")):
            head, sep, _ = member.partition("/")
            names.add(head if sep else head.split(".", 1)[0])
    return names


def _provides(entry: str, provided: dict, name: str) -> bool:
    if entry in provided:
        return name in provided[entry]
    return os.path.isfile(
        os.path.join(entry, name, "__init__.py")
    ) or os.path.isfile(os.path.join(entry, name + ".py"))


def _same_from_directory(
    archive: str, path: list[str], provided: dict, name: str
) -> bool:
    """Whether ``name`` resolves on ``path`` to a directory package with
    the ``__version__`` that ``archive`` ships."""
    first = next((e for e in path if _provides(e, provided, name)), None)
    # an archive, or a plain module, is not a directory package
    if first is None or not os.path.isfile(
        os.path.join(first, name, "__init__.py")
    ):
        return False
    shipped = _version(_archive_text(archive, f"{name}/version.py"))
    installed = _version(_file_text(os.path.join(first, name, "version.py")))
    return shipped is not None and shipped == installed


def archives_to_drop(path: list[str]) -> list[str]:
    """The archive entries of ``path`` (in order) that can leave it.

    Entries are decided front to back; an archive is dropped only if,
    on the path left after it and every earlier drop, each package it
    provides resolves to a directory install of the same version.
    """
    provided = {}
    for entry in dict.fromkeys(path):
        members = _archive_members(entry)
        if members is not None:
            provided[entry] = _packages(members)
    dropped: set[str] = set()
    for entry in dict.fromkeys(path):
        if entry not in provided:
            continue
        rest = [e for e in path if e != entry and e not in dropped]
        if all(
            _same_from_directory(entry, rest, provided, name)
            for name in provided[entry]
        ):
            dropped.add(entry)
    return [e for e in dict.fromkeys(path) if e in dropped]


def prune_archives(
    path: list[str] | None = None, cache: dict | None = None
) -> list[str]:
    """Remove :func:`archives_to_drop` from ``path`` (``sys.path``) and
    evict their importers, and those of their subdirectories, from
    ``cache`` (``sys.path_importer_cache``).  Returns the dropped
    entries."""
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if cache is None else cache
    dropped = archives_to_drop(path)
    for entry in dropped:
        path[:] = [e for e in path if e != entry]
        inside = entry + os.sep
        for key in [k for k in cache if k == entry or k.startswith(inside)]:
            del cache[key]
    return dropped


def prune_in_worker() -> list[str]:
    """:func:`prune_archives` in a Spark Python worker (it carries
    ``PYTHON_WORKER_FACTORY_SECRET``; the driver does not) that has
    already imported PySpark from an archive; else nothing.

    Runs at a worker's first ``import pu4spark_spark``.  Under this
    module's own daemon PySpark is not loaded yet at that point, and
    :func:`main` prunes instead.  Modules already imported stay loaded,
    and a later ``pyspark`` submodule import still resolves through
    ``pyspark.__path__`` into the same archive."""
    pyspark = sys.modules.get("pyspark")
    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ or not isinstance(
        getattr(pyspark, "__loader__", None), zipimport.zipimporter
    ):
        return []
    return prune_archives()


def main() -> None:
    if "pyspark" not in sys.modules:  # nothing loaded from an archive yet
        prune_archives()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
