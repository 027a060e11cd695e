"""Python workers import the installed pyspark, not SPARK_HOME's
archives (``georaster_spark.worker_daemon``), and the drop rule keeps
``sys.path`` as Spark set it whenever the swap is not safe."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pandas as pd
import pyspark
import pytest

from georaster_spark import worker_daemon
from georaster_spark.session import WORKER_DAEMON

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_imports_installed_pyspark(spark):
    home = os.environ.get("SPARK_HOME")
    bundled = os.path.join(home or "", "python", "lib", "pyspark.zip")
    installed = os.path.join(os.path.dirname(pyspark.__file__), "version.py")
    if os.path.isfile(bundled):
        with zipfile.ZipFile(bundled) as zf, open(installed, "rb") as f:
            if zf.read("pyspark/version.py") != f.read():
                pytest.skip("SPARK_HOME's pyspark.zip is not the installed pyspark build")
    assert spark.conf.get("spark.python.daemon.module") == WORKER_DAEMON
    under = os.path.realpath(home or "/nonexistent") + os.sep

    def _worker_state(batches):
        import zipimport

        import pyspark as worker_pyspark

        zips = [
            k
            for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter) and os.path.realpath(k).startswith(under)
        ]
        for _ in batches:
            pass
        yield pd.DataFrame({"file": [worker_pyspark.__file__], "n_zips": [len(zips)]})

    driver_dir = os.path.dirname(os.path.realpath(pyspark.__file__)) + os.sep
    rows = spark.range(0, 8, 1, 4).mapInPandas(_worker_state, "file string, n_zips int").collect()
    assert len(rows) == 4
    for r in rows:
        assert os.path.realpath(r.file).startswith(driver_dir), r.file
        assert r.n_zips == 0


def _zip(path, files: dict[str, str]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _pkg(root, name: str, version: str) -> None:
    os.makedirs(root / name)
    (root / name / "__init__.py").write_text("")
    (root / name / "version.py").write_text(version)


@pytest.fixture()
def layout(tmp_path):
    """A fake SPARK_HOME (pyspark + py4j zips, a jar) and a site dir
    holding installed copies of both packages."""
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    site = tmp_path / "site"
    ps = _zip(lib / "pyspark.zip", {"pyspark/__init__.py": "", "pyspark/version.py": "V = '4'\n"})
    p4 = _zip(lib / "py4j-src.zip", {"py4j/__init__.py": "", "py4j/version.py": "V = '0.10'\n"})
    jar = _zip(home / "jars" / "spark-core.jar", {"org/apache/Spark.class": ""})
    _pkg(site, "py4j", "V = '0.10'\n")
    path = [str(tmp_path / "cwd"), ps, p4, jar, "/usr/lib/python3.11", str(site)]
    return str(home), site, path


def test_drop_rule_removes_archives_of_the_installed_build(layout):
    home, site, path = layout
    _pkg(site, "pyspark", "V = '4'\n")
    assert worker_daemon.worker_path(path, home) == [path[0], path[4], path[5]]


def test_drop_rule_keeps_path_on_version_mismatch(layout):
    home, site, path = layout
    _pkg(site, "pyspark", "V = '3.5'\n")
    before = list(path)
    assert worker_daemon.worker_path(path, home) == before


def test_drop_rule_keeps_path_without_installed_package_or_spark_home(layout):
    home, _, path = layout
    before = list(path)
    assert worker_daemon.worker_path(path, home) == before  # no installed pyspark
    assert worker_daemon.worker_path(path, None) == before


def test_package_import_does_not_load_pyspark():
    """``python -m georaster_spark.worker_daemon`` runs the package
    ``__init__`` before the swap, so it must not import pyspark."""
    code = "import sys, georaster_spark; assert 'pyspark' not in sys.modules; georaster_spark.get_spark"
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True, timeout=60)
