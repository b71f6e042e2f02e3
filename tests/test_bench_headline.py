"""The bench HEADLINE list is maintained by hand as queries are added; a
typo there would surface only as an errors entry in the driver's
per-round BENCH_r{N}.json. Pin the invariants here instead: every
headline name resolves to a registered query, and no name repeats
(a duplicate would double-count its time in the total).
"""

from __future__ import annotations


def test_headline_names_resolve_and_are_unique():
    import bench
    from op_etl_spark import suite

    registered = (
        set(suite.all_queries())
        | set(bench.EXTRA_QUERIES)
        | set(bench.STREAMING_BENCH)
    )
    missing = [q for q in bench.HEADLINE if q not in registered]
    assert not missing, f"bench HEADLINE references unknown queries: {missing}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    # bench-only entries must not shadow driver-declared queries
    assert not set(bench.EXTRA_QUERIES) & set(suite.all_queries())
    assert not set(bench.STREAMING_BENCH) & set(suite.all_queries())


def test_probe_family_names_resolve():
    import os
    import sys

    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    sys.path.insert(0, tools)
    import scale_probe

    from op_etl_spark import suite

    registered = set(suite.all_queries())
    for fam in (
        scale_probe.MAIN_QUERIES,
        scale_probe.PAIR_QUERIES,
        scale_probe.SKETCH_QUERIES,
        scale_probe.SKEW_QUERIES,
        scale_probe.ATTRIBUTION_QUERIES,
    ):
        missing = [q for q in fam if q not in registered]
        assert not missing, f"scale_probe family references unknown queries: {missing}"
