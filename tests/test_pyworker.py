"""The engine's Python worker daemon (op_etl_spark/pyworker.py).

- The stamp rule: `importlib.invalidate_caches()` makes a zipimporter
  re-read its archive only when the archive changed.
- Workers of the suite's get_spark session run under the rule.
- The daemon imports from any cwd with PYTHONPATH unset, because
  get_spark puts the checkout on the workers' path.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from op_etl_spark import pyworker
from op_etl_spark.session import CHECKOUT


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pw_stamp_a.py", "X = 1\n")

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pw_stamp_a").X == 1
        importlib.invalidate_caches()  # the importer takes its first stamp
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("pw_stamp_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads
        assert importlib.import_module("pw_stamp_b").Y == 2
    finally:
        for name in ("pw_stamp_a", "pw_stamp_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def _report_patch(batches):
    import zipimport

    import pandas as pd

    for _ in batches:
        pass
    fn = zipimport.zipimporter.invalidate_caches
    yield pd.DataFrame({"file": [fn.__code__.co_filename]})


def test_session_workers_run_the_engine_rule(spark):
    rows = spark.range(1, numPartitions=1).mapInPandas(_report_patch, "file string").collect()
    assert rows[0].file == pyworker.__file__


SCRIPT = f"""
import sys
sys.path.insert(0, {CHECKOUT!r})
from op_etl_spark.session import get_spark

def report(batches):
    import zipimport
    import pandas as pd
    for _ in batches:
        pass
    yield pd.DataFrame({{"file": [zipimport.zipimporter.invalidate_caches.__code__.co_filename]}})

spark = get_spark("pyworker-test", master="local[1]", shuffle_partitions=1)
print("WORKER", spark.range(1, numPartitions=1).mapInPandas(report, "file string").first().file)
"""


def test_daemon_starts_from_foreign_cwd_without_pythonpath(tmp_path):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert f"WORKER {pyworker.__file__}" in proc.stdout
