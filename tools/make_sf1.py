"""Materialize the sf1 dress-rehearsal directory (VERDICT r6 task 4).

There is no sf1 in /root/testdata (the driver generates sf0.001/0.01/0.1
and the dirs are read-only), so the rehearsal corpus is a K=10 fan of
sf0.1 through the SAME audited materializer the scale probes use
(tools/scale_probe.materialize_scaled, family='pairs' = every table):
facts, documents (per-copy word-mangled so shingle universes stay
disjoint) and embeddings (per-copy rotated) grow 10x to ~6M lineitem
rows, dims stay fixed — the realistic production regime.

Usage: python tools/make_sf1.py [out_dir]   (default /tmp/sf1)
Then:  SPARK_GRAFT_SF_DIR=<out_dir> python bench.py > BENCH_local_sf1.json
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scale_probe import materialize_scaled  # noqa: E402


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    base = "/root/testdata/sf0.1"

    from op_etl_spark.session import get_spark

    spark = get_spark("make-sf1")
    materialize_scaled(spark, base, out, 10, "pairs")
    print(f"sf1 rehearsal corpus at {out} (10x {base}, fixed dims)")


if __name__ == "__main__":
    main()
