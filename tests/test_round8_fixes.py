"""Round-8 behavior pins.

- grid_distance_pairs' fan tiling must be an EXACT no-op below
  FAN_COPY_SHIFT (driver scales: hashes byte-identical) and a disjoint
  x-translation above it (probe/rehearsal fans: constant density).
- the skew probe's hot-doc chain must actually produce CC edges
  (>= MIN_COMMON_TRIGRAMS shared word trigrams between rank-adjacent
  docs) while every chain trigram stays far under DF_CAP, or the skew
  family silently measures nothing.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_tiled_points_noop_below_copy_shift(spark):
    from op_etl_spark.suite.geo import (
        FAN_COPY_SHIFT,
        FAN_TILE_STRIDE,
        _synth_points,
        _tiled_synth_points,
    )

    ev = spark.createDataFrame(
        [(i, i * 37 % 1500) for i in (0, 1, 499, 9_999_999)],
        "event_id long, user_id long",
    )
    plain = {r.event_id: (r.x, r.y) for r in _synth_points(ev).collect()}
    tiled = {r.event_id: (r.x, r.y) for r in _tiled_synth_points(ev).collect()}
    assert tiled == plain  # bit-identical, not approximately equal

    # one fan copy up: x shifts by exactly one stride, y untouched
    ev2 = ev.withColumn("event_id", F.col("event_id") + F.lit(FAN_COPY_SHIFT))
    shifted = {r.event_id: (r.x, r.y) for r in _tiled_synth_points(ev2).collect()}
    for eid, (x, y) in plain.items():
        # the x-synth term depends on event_id mod 800000, which the copy
        # shift changes; assert the TILE placement instead: every copy-1
        # point lands in [stride, stride + 950000), disjoint from copy 0
        x2, y2 = shifted[eid + FAN_COPY_SHIFT]
        assert FAN_TILE_STRIDE <= x2 < FAN_TILE_STRIDE + 960_000.0
    assert all(x < 960_000.0 for x, _ in plain.values())


def test_skew_chain_docs_form_edges_under_df_cap():
    import os
    import sys

    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    sys.path.insert(0, tools)
    from scale_probe import CHAIN_W

    from op_etl_spark.suite.clustering import MIN_COMMON_TRIGRAMS
    from op_etl_spark.suite.dedup import DF_CAP

    def chain_words(rank):
        return [f"hot{rank + j}" for j in range(CHAIN_W)]

    def trigrams(words):
        return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}

    # rank-adjacent hot docs share enough trigrams to be a CC edge
    shared = trigrams(chain_words(7)) & trigrams(chain_words(8))
    assert len(shared) >= MIN_COMMON_TRIGRAMS
    # ...and so do docs up to distance CHAIN_W-8 (the band that makes the
    # component one connected chain)
    d = CHAIN_W - 8
    assert len(trigrams(chain_words(7)) & trigrams(chain_words(7 + d))) >= MIN_COMMON_TRIGRAMS
    # every chain trigram occurs in at most CHAIN_W-2 docs — far under the
    # posting cap, so the chain is never silently dropped by DF_CAP
    assert CHAIN_W - 2 <= DF_CAP
