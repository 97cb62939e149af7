"""Python worker daemon for local masters: pyspark's own daemon, started from
the installed pyspark and py4j instead of the zips Spark puts on the path.

Spark starts ``python -m <spark.python.daemon.module>`` with a
``PYTHONPATH`` led by ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j
source zip and the spark-core jar (``SparkContext.jarOfObject``). Each
entry leaves zipimporters in ``sys.path_importer_cache`` (16 on a
``local[4]`` worker), and every Python task's ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) makes each of them re-read its
archive's directory: 0.10-0.24 s per task, against 0.08 ms with none left.
Importing pyspark from the zip also compiles its 1,328 sources at every
daemon start (1.23 s against 0.20 s from site-packages), as the zip holds
no ``.pyc``.

This module drops those path entries where they are redundant, then runs
``pyspark.daemon.manager()`` unchanged. Nothing on its import chain touches
pyspark before the path is fixed: the package and ``plans`` ``__init__``
modules import nothing. ``plans.session.build_session`` selects it for
``local`` masters only, where the workers share the driver's Python.
"""

from __future__ import annotations

import os
import sys
import zipfile


def _zip_package(entry: str) -> str | None:
    """The package a Spark-bundled source zip carries, else None."""
    base = os.path.basename(entry)
    if base == "pyspark.zip":
        return "pyspark"
    if base.startswith("py4j-") and base.endswith("-src.zip"):
        return "py4j"
    return None


def _zip_member(archive: str, name: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return z.read(name)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(pkg: str, path: list[str]) -> bytes | None:
    """``version.py`` of the copy of ``pkg`` that ``path`` imports from a
    directory, or None when no directory on it holds the package."""
    for entry in path:
        if os.path.isfile(os.path.join(entry, pkg, "__init__.py")):
            try:
                with open(os.path.join(entry, pkg, "version.py"), "rb") as f:
                    return f.read()
            except OSError:
                return None
    return None


def _python_free_jar(entry: str) -> bool:
    try:
        with zipfile.ZipFile(entry) as z:
            return not any(n.endswith((".py", ".pyc")) for n in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return False


def worker_path(path: list[str]) -> list[str]:
    """``path`` without the archive entries a worker does not need:

    - a ``pyspark.zip`` or ``py4j-*-src.zip`` whose package the rest of the
      path imports from a directory with a byte-equal ``version.py`` (a zip
      with no such copy, or another version, stays);
    - a ``.jar`` with no ``.py`` or ``.pyc`` member.
    """
    kept = []
    for entry in path:
        pkg = _zip_package(entry)
        if pkg is not None:
            bundled = _zip_member(entry, f"{pkg}/version.py")
            rest = [e for e in path if e != entry]
            if bundled is not None and bundled == _installed_version(pkg, rest):
                continue
        elif entry.endswith(".jar") and _python_free_jar(entry):
            continue
        kept.append(entry)
    return kept


def main() -> None:
    kept = worker_path(sys.path)
    gone = [e for e in sys.path if e not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == g or key.startswith(g + os.sep) for g in gone):
            del sys.path_importer_cache[key]

    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
