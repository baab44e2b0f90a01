"""The engine's Python worker daemon: it drops Spark's archives from the
workers' ``sys.path`` only when the same pyspark is installed elsewhere
on it, and a ``get_spark`` session's tasks then import pyspark from a
directory and still return their exact rows."""

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

from modeltracking_spark.worker_daemon import without_spark_archives

REPO = Path(__file__).resolve().parents[1]


def _package(root: Path, version: str) -> str:
    """A directory holding a fake ``pyspark`` of ``version`` and a py4j."""
    for pkg in ("pyspark", "py4j"):
        (root / pkg).mkdir(parents=True)
        (root / pkg / "__init__.py").write_text("")
    (root / "pyspark" / "version.py").write_text(
        f"__version__: str = '{version}'\n")
    return str(root)


def _spark_lib(tmp_path: Path, version: str) -> list[str]:
    """Spark's three worker archives, the zipped pyspark of ``version``."""
    lib, jars = tmp_path / "spark" / "python" / "lib", tmp_path / "spark" / "jars"
    lib.mkdir(parents=True)
    jars.mkdir()
    zipped = lib / "pyspark.zip"
    with zipfile.ZipFile(zipped, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    py4j = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j, "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = jars / f"spark-core_2.13-{version}.jar"
    jar.write_bytes(b"")
    return [str(zipped), str(py4j), str(jar)]


def test_archives_dropped_only_for_the_same_pyspark(tmp_path):
    cwd = str(tmp_path / "cwd")
    archives = _spark_lib(tmp_path, "9.9.9")
    same = _package(tmp_path / "same", "9.9.9")
    other = _package(tmp_path / "other", "9.9.8")

    path = [cwd, *archives, same]
    assert without_spark_archives(path) == [cwd, same]
    # no pyspark outside the archives: the path stays as Spark built it
    path = [cwd, *archives]
    assert without_spark_archives(path) == path
    # a pyspark of another version is not a stand-in for the zipped one
    path = [cwd, *archives, other]
    assert without_spark_archives(path) == path
    # a path without Spark's archives is left alone
    assert without_spark_archives([cwd, same]) == [cwd, same]


_SESSION = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from modeltracking_spark.fixtures import hycom_grid_fixture
from modeltracking_spark.queries.common import ensure_pkg_on_workers
from modeltracking_spark.session import get_spark
from modeltracking_spark.sources.grid_source import HycomGridDataSource

def imports(_):
    import sys, zipimport, pyspark
    yield pyspark.__file__, sorted(
        f.archive for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter))

spark = get_spark("worker-daemon", cpus=2)
ensure_pkg_on_workers(spark)
spark.dataSource.register(HycomGridDataSource)
rows = [(i, 10.0 + i, -60.0 - i, 3 * i) for i in range(5)]
track = spark.createDataFrame(
    rows, "point_id long, lat double, lon double, t_hours long")
pred = "time_hours = 9 AND depth_idx < 2 AND lat_idx < 5"
scan = spark.read.format("hycom_grid").option("pushdown", "true").load()
scan_rows = sorted(map(tuple, scan.where(pred).collect()))
fixture_rows = sorted(map(tuple, hycom_grid_fixture(spark).where(pred).collect()))
print(json.dumps({
    "worker": spark.sparkContext.parallelize([0], 1).mapPartitions(imports).collect()[0],
    "track": [tuple(r) for r in track.collect()] == rows,
    "scan": scan_rows == fixture_rows,
    "n_scan": len(scan_rows),
}))
spark.stop()
"""


def test_get_spark_workers_import_pyspark_from_a_directory(tmp_path):
    # a fresh JVM (the tests' own session does not come from get_spark),
    # from a cwd outside the repo and with no PYTHONPATH of the caller's
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _SESSION, str(REPO)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    pyspark_file, zip_archives = res["worker"]
    assert os.path.isfile(pyspark_file), pyspark_file
    spark_archives = [a for a in zip_archives if os.path.basename(a).startswith(
        ("pyspark.zip", "py4j-", "spark-core_"))]
    assert spark_archives == []
    assert res["track"] and res["scan"] and res["n_scan"] > 0
