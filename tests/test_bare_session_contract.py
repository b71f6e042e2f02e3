"""Driver-contract regression: every Python-UDF-bearing query must run
under a BARE SparkSession created from a FOREIGN cwd — exactly how the
round driver invokes `queries()`. Module-level UDF functions (e.g. the
applyInPandasWithState sessionizer) deserialize BY REFERENCE on workers,
so op_etl_spark must be shipped (session.ensure_shipped) by every such
entry point; the repo's own tuned session masks a missing call because
tests run with cwd=/root/repo on PYTHONPATH. This caught the stateful
stream gate failing with ModuleNotFoundError under driver conditions.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").getOrCreate()
import __spark_entry__ as m
qs = m.queries()
for name in sys.argv[1:]:
    n = len(qs[name](spark, {SF_DIR!r}).collect())
    print("OK", name, n)
"""

# One representative per Python-UDF family, each list in a fresh session
# (shipping is per session, so the first query of a list is the one that
# proves its own entry point ships the package): the k-means partial sums
# (mapInPandas), stateful stream (module-level applyInPandasWithState fn),
# multimodal (mapInPandas), geometry pandas_udf; and the cosine argmax.
RUNS = [
    ["label_centroids", "stateful_sessionize_stream", "media_byte_entropy", "reproject_points"],
    ["semantic_decontaminate"],
]


@pytest.mark.slow
def test_udf_queries_run_under_bare_foreign_cwd_session(tmp_path):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"no testdata at {SF_DIR}")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the driver does not export the repo path
    for names in RUNS:
        proc = subprocess.run(
            [sys.executable, "-c", SCRIPT, *names],
            cwd=str(tmp_path),  # foreign cwd: repo not importable implicitly
            capture_output=True,
            text=True,
            timeout=600,
            env=env,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        for name in names:
            assert f"OK {name}" in proc.stdout


def test_each_checkout_ships_its_own_zip(tmp_path):
    """Two checkouts on one host cache two zips, so neither ships the
    other's code to its Python workers."""
    from op_etl_spark.session import _ship_zip_path

    a = str(tmp_path / "a" / "op_etl_spark")
    b = str(tmp_path / "b" / "op_etl_spark")
    assert _ship_zip_path(a) != _ship_zip_path(b)
    assert _ship_zip_path(a) == _ship_zip_path(a + "/")
