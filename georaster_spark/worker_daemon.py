"""Python worker daemon that imports the installed pyspark package.

Spark starts its Python workers with ``$SPARK_HOME/python/lib/*.zip``
and the spark-core jar at the head of PYTHONPATH. pyspark's worker
calls ``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``), and on CPython 3.11 each
``zipimporter`` in ``sys.path_importer_cache`` then re-reads its whole
archive directory: about 20 pyspark.zip sub-package importers plus the
jar's, 240-400 ms per task on a 4-vCPU host, whatever the task's size.

When every package those archives hold is also installed on the rest
of ``sys.path`` with a byte-identical ``version.py`` (the same build),
this module drops the archives from ``sys.path`` and their importers
from ``sys.path_importer_cache``, then runs Spark's own daemon; the
workers it forks import the package directories. Otherwise ``sys.path``
stays as Spark set it. ``session.get_spark`` selects this module with
``spark.python.daemon.module``.

Imports nothing from pyspark before the swap, and neither may the
package ``__init__`` that ``python -m`` runs first.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _installed_version(pkg: str, path: list[str]) -> bytes | None:
    spec = PathFinder.find_spec(pkg, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def _archive_matches(archive: str, path: list[str]) -> bool:
    """True when each top-level package in ``archive`` is installed on
    ``path`` with the same ``version.py``. A jar holds no Python
    package, so it always matches."""
    if archive.endswith(".jar"):
        return True
    try:
        with zipfile.ZipFile(archive) as zf:
            names = zf.namelist()
            pkgs = {n.split("/")[0] for n in names if n.count("/") == 1 and n.endswith("/__init__.py")}
            if not pkgs:
                return False
            for pkg in pkgs:
                try:
                    bundled = zf.read(f"{pkg}/version.py")
                except KeyError:
                    return False
                if _installed_version(pkg, path) != bundled:
                    return False
    except (OSError, zipfile.BadZipFile):
        return False
    return True


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without SPARK_HOME's zips and jars, or ``path`` itself
    when any of them holds a package that is not installed as the same
    build elsewhere on ``path``."""
    if not spark_home:
        return path
    home = os.path.realpath(spark_home) + os.sep
    archives = {
        p for p in path if p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(home)
    }
    if not any(p.endswith(".zip") for p in archives):
        return path
    kept = [p for p in path if p not in archives]
    if all(_archive_matches(a, kept) for a in archives):
        return kept
    return path


def main() -> None:
    dropped = set(sys.path)
    sys.path[:] = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    dropped -= set(sys.path)
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
