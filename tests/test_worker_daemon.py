"""The ``get_spark`` worker daemon (``mapreduce_lab_spark/worker_daemon.py``).

Two properties:

- the stat-keyed ``zipimporter`` cache re-reads an archive's directory
  only when the archive changed (no Spark);
- RDD and Arrow (``mapInPandas``) workers of a ``get_spark`` session
  run under that daemon and can import the package when the driver
  runs from a neutral cwd (subprocess, following
  ``tests/test_fault_tolerance.py``).
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from mapreduce_lab_spark import worker_daemon


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


def test_stat_keyed_cache_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, {"zmod_a.py": "VALUE = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zmod_a").VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()  # first sight: read once, key recorded
    files = importer._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importer._files is files

    # Rewrite in place with a new member: a different size, so a new key
    # even where the filesystem's mtime is coarse.
    _write_zip(archive, {"zmod_a.py": "VALUE = 1\n", "zmod_b.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive, archive]
    assert importlib.import_module("zmod_b").VALUE == 2

    # An archive that cannot be stat'ed is re-read, and drops out.
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


_SCRIPT = r"""
import sys

sys.path.insert(0, sys.argv[1])
from mapreduce_lab_spark.session import get_spark


def probe():
    import sys
    import zipimport

    import mapreduce_lab_spark

    main = sys.modules["__main__"].__spec__
    return "|".join(
        [
            zipimport.zipimporter.invalidate_caches.__module__,
            main.name if main else "",
            mapreduce_lab_spark.__name__,
        ]
    )


spark = get_spark("worker-daemon-probe", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
rdd = spark.sparkContext.parallelize([0], 1).map(lambda _: probe()).collect()[0]


def arrow(batches):
    import pandas as pd

    for _ in batches:
        yield pd.DataFrame({"probe": [probe()]})


pandas = spark.range(1, numPartitions=1).mapInPandas(arrow, "probe string").collect()[0][0]
print("RDD", rdd)
print("ARROW", pandas)
spark.stop()
"""


def test_get_spark_workers_run_the_engine_daemon_from_a_neutral_cwd(tmp_path):
    script = tmp_path / "daemon_probe.py"
    script.write_text(_SCRIPT)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # No PYTHONPATH: the workers must find the package through get_spark.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script), repo],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    want = "__main__|mapreduce_lab_spark.worker_daemon|mapreduce_lab_spark"
    assert f"RDD {want}" in out.stdout, out.stdout
    assert f"ARROW {want}" in out.stdout, out.stdout
