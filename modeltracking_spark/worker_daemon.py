"""Spark's Python worker daemon, importing pyspark from a directory.

Spark puts its own archives (``pyspark.zip``, ``py4j-*-src.zip``, the
``spark-core_*.jar``) first on every Python worker's ``sys.path``, and each
task starts with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``). On CPython 3.11 that re-reads the central
directory of every cached zipimporter, one per imported sub-package of
pyspark.zip: 0.13-0.35 s per task. ``session.get_spark`` starts this
module as ``spark.python.daemon.module``; when the installed pyspark is the
zipped one's version it drops the archives, so the forked workers import
pyspark from the package directory, and then runs pyspark's daemon.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import zipfile

_ARCHIVE = re.compile(r"pyspark\.zip|py4j-.*-src\.zip|spark-core_.*\.jar")
_VERSION = re.compile(rb"""__version__\b[^=]*=\s*["']([^"']+)["']""")


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` less Spark's archives if the rest of it holds a pyspark of
    the zipped one's version (and a py4j); otherwise ``path`` itself."""
    archives = {p for p in path if _ARCHIVE.fullmatch(os.path.basename(p))}
    zipped = next((p for p in archives if p.endswith("pyspark.zip")), None)
    rest = [p for p in path if p not in archives]
    find = importlib.machinery.PathFinder.find_spec
    spec = find("pyspark", rest) if zipped else None
    if spec is None or not spec.submodule_search_locations or not find("py4j", rest):
        return path
    try:
        with zipfile.ZipFile(zipped) as z:
            want = _VERSION.search(z.read("pyspark/version.py"))
        pkg = list(spec.submodule_search_locations)[0]
        with open(os.path.join(pkg, "version.py"), "rb") as f:
            have = _VERSION.search(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if want and have and want[1] == have[1] else path


if __name__ == "__main__":
    kept = without_spark_archives(sys.path)
    for p in set(sys.path) - set(kept):
        # the -m lookup of this module already opened them; left cached,
        # every per-task invalidation would still re-read them
        for key in [k for k in sys.path_importer_cache if k.startswith(p)]:
            del sys.path_importer_cache[key]
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()
