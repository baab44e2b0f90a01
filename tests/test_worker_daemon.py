"""The Python workers' start-up hook: it drops Spark's archives from the
workers' ``sys.path`` only when the same pyspark is installed elsewhere
on it, and runs the ``sitecustomize`` it shadows. Once
``ensure_pkg_on_workers`` has run on a session (``get_spark`` calls it),
its tasks and DataSource planner calls import pyspark and this package
from directories, and the tasks still return their exact rows."""

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path
from types import SimpleNamespace

import setuptools

from modeltracking_spark.queries.common import ensure_pkg_on_workers
from modeltracking_spark.session import WORKER_PYTHONPATH
from modeltracking_spark.worker_site import SITE_DIR
from modeltracking_spark.worker_site.sitecustomize import without_spark_archives

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


# argv: the repo, then how the session is built:
#   get_spark  get_spark, then ensure_pkg_on_workers again (idempotent)
#   plain      a plain SparkSession.builder session, then ensure_pkg_on_workers
#   late       a plain session already running, then get_spark
_SESSION = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from modeltracking_spark.fixtures import hycom_grid_fixture
from modeltracking_spark.queries.common import ensure_pkg_on_workers
from modeltracking_spark.session import get_spark
from modeltracking_spark.sources.grid_source import HycomGridDataSource
from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

def imported():
    import sys, zipimport, pyspark, modeltracking_spark
    return [pyspark.__file__, modeltracking_spark.__file__, sorted(
        f.archive for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter))]

def imports(_):
    yield imported()

# each planner call records what its worker imported; read() returns them
class ProbeReader(DataSourceReader):
    def __init__(self, seen):
        self.seen = seen

    def pushFilters(self, filters):
        self.seen["pushFilters"] = imported()
        yield from filters

    def partitions(self):
        return [InputPartition(imported())]

    def read(self, partition):
        for step, record in [*self.seen.items(), ("partitions", partition.value)]:
            yield (step, *record)

class Probe(DataSource):
    @classmethod
    def name(cls):
        return "worker_probe"

    def schema(self):
        self.seen = {"schema": imported()}
        return "step string, pyspark string, package string, archives array<string>"

    def reader(self, schema):
        return ProbeReader(dict(self.seen))

mode = sys.argv[2]
if mode == "get_spark":
    spark = get_spark("worker-daemon", cpus=2)
    ensure_pkg_on_workers(spark)
else:
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.python.filterPushdown.enabled", "true")
             .config("spark.ui.enabled", "false").getOrCreate())
    if mode == "plain":
        ensure_pkg_on_workers(spark)
    else:
        spark = get_spark("worker-daemon", cpus=2)
spark.dataSource.register(HycomGridDataSource)
spark.dataSource.register(Probe)
probe = spark.read.format("worker_probe").load().where("step IS NOT NULL")
rows = [(i, 10.0 + i, -60.0 - i, 3 * i) for i in range(5)]
track = spark.createDataFrame(
    rows, "point_id long, lat double, lon double, t_hours long")
pred = "time_hours = 9 AND depth_idx < 2 AND lat_idx < 5"
scan = spark.read.format("hycom_grid").option("pushdown", "true").load()
scan_rows = sorted(map(tuple, scan.where(pred).collect()))
fixture_rows = sorted(map(tuple, hycom_grid_fixture(spark).where(pred).collect()))
print(json.dumps({
    "pythonpath": spark.sparkContext.environment.get("PYTHONPATH"),
    "planner": [list(r) for r in probe.collect()],
    "worker": spark.sparkContext.parallelize([0], 1).mapPartitions(imports).collect()[0],
    "track": [tuple(r) for r in track.collect()] == rows,
    "scan": scan_rows == fixture_rows,
    "n_scan": len(scan_rows),
}))
spark.stop()
"""

# the fixture's nodes at time_hours = 9, depth_idx < 2 and lat_idx < 5
_N_SCAN = 810


def _workers_import_from_directories(tmp_path, mode: str) -> None:
    """Run ``_SESSION`` in ``mode`` in a fresh JVM (the tests' own session
    is built elsewhere), from a cwd outside the repo and with no
    ``PYTHONPATH`` of the caller's. Every planner call and the task import
    pyspark and this package from directories, and the rows are exact."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _SESSION, str(REPO), mode], cwd=tmp_path,
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    # what the workers get, not a conf that may never reach them
    assert res["pythonpath"] == WORKER_PYTHONPATH
    records = {"task": res["worker"]}
    records.update((step, rest) for step, *rest in res["planner"])
    assert sorted(records) == ["partitions", "pushFilters", "schema", "task"]
    for step, (pyspark_file, package_file, zip_archives) in records.items():
        assert os.path.isfile(pyspark_file), (step, pyspark_file)
        assert os.path.isfile(package_file), (step, package_file)
        assert Path(package_file).is_relative_to(REPO / "modeltracking_spark"), step
        archives = [a for a in zip_archives if os.path.basename(a).startswith(
            ("pyspark.zip", "py4j-", "spark-core_", "modeltracking_spark.zip"))]
        assert archives == [], step
    assert res["track"] and res["scan"] and res["n_scan"] == _N_SCAN


def test_get_spark_workers_import_pyspark_from_a_directory(tmp_path):
    _workers_import_from_directories(tmp_path, "get_spark")


def test_plain_session_after_ensure_pkg_on_workers(tmp_path):
    # the driver contract's path: the caller builds the session
    _workers_import_from_directories(tmp_path, "plain")


def test_get_spark_on_a_running_context(tmp_path):
    # executorEnv settings are fixed once the context runs
    _workers_import_from_directories(tmp_path, "late")


def test_ensure_pkg_on_workers_is_idempotent():
    env = {"PYTHONPATH": os.pathsep.join(("/srv/site", SITE_DIR))}
    session = SimpleNamespace(sparkContext=SimpleNamespace(environment=env))
    ensure_pkg_on_workers(session)
    first = env["PYTHONPATH"]
    assert first == os.pathsep.join((WORKER_PYTHONPATH, "/srv/site"))
    ensure_pkg_on_workers(session)
    assert env["PYTHONPATH"] == first


_PATH = "import json, sys; print(json.dumps(sys.path))"


def test_hook_runs_the_sitecustomize_it_shadows(tmp_path):
    # a site's own sitecustomize later on the path still runs, and a path
    # without Spark's archives comes out as it went in
    marker, blank = tmp_path / "marker", tmp_path / "blank"
    marker.mkdir()
    blank.mkdir()
    ran = tmp_path / "ran"
    (marker / "sitecustomize.py").write_text(
        f"open({str(ran)!r}, 'a').write('ran\\n')\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    def path_with(first: str) -> list[str]:
        out = subprocess.run(
            [sys.executable, "-c", _PATH], cwd=tmp_path, capture_output=True,
            text=True, timeout=60,
            env={**env, "PYTHONPATH": os.pathsep.join((first, str(marker)))},
        )
        assert out.returncode == 0, out.stderr
        return json.loads(out.stdout)

    hooked = path_with(SITE_DIR)
    assert ran.read_text() == "ran\n"
    plain = path_with(str(blank))
    assert hooked == [SITE_DIR if p == str(blank) else p for p in plain]


def test_hook_ships_with_the_package():
    packages = setuptools.find_packages(str(REPO), include=["modeltracking_spark*"])
    assert "modeltracking_spark.worker_site" in packages
    first = WORKER_PYTHONPATH.split(os.pathsep)[0]
    assert first == SITE_DIR
    assert os.path.isfile(os.path.join(first, "sitecustomize.py"))
