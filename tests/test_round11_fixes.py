"""Round-11 pins.

Graph peels:
- The size-gated local endgame (_peel_local on both peels) produces the
  same surviving graph, round count, and edge curve as the forced
  distributed paths — three-way for the truss (local / driver-decs
  rounds / fully distributed wedge body), two-way for the k-core.
- _ckpt_leaf's internal-API fallback is LOUD (one-time RuntimeWarning)
  and _stats_canary raises on multiplicative stats inheritance
  (SPARK-27712) instead of letting deep peels silently degrade.

Streaming upsert:
- rebucket_target's swap is crash-safe: every kill-between-steps window
  (complete tmp + missing target; aside copy only; stale aside debris)
  is adopted or cleaned automatically by the next read/merge — no
  manual recovery step exists anymore.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from op_etl_spark.operators import graph as G

from test_round10_fixes import _mk_target, _random_canonical, _state


def _truss_result(spark, pairs, k):
    st = G._TrussState(pairs, k)
    rounds, curve = st.peel(G.KTRUSS_DEFAULT_MAX_ROUNDS)
    edges = sorted(map(tuple, st.surviving_edges().collect()))
    return rounds, curve, edges


@pytest.mark.parametrize("seed,k", [(5, 3), (6, 4), (7, 5)])
def test_truss_local_driver_distributed_equivalent(spark, monkeypatch, seed, k):
    pairs = _random_canonical(spark, seed, n_nodes=28, n_edges=110)
    local = _truss_result(spark, pairs, k)  # default: local endgame

    monkeypatch.setattr(G, "KTRUSS_LOCAL_EDGES_MAX", 0)
    driver_rounds = _truss_result(spark, pairs, k)  # driver-decs rounds

    monkeypatch.setattr(G, "KTRUSS_DRIVER_FRONTIER_MAX", -1)
    distributed = _truss_result(spark, pairs, k)  # wedge body every round

    assert local == driver_rounds == distributed


def test_truss_sup_gate_keeps_distributed_body(spark, monkeypatch):
    """Above KTRUSS_DRIVER_SUP_MAX alive edges the driver-decs path must
    not fire (its adjacency probe is a full pass over the live table —
    measured a net loss at the x32 scale), and results are identical."""
    pairs = _random_canonical(spark, 11, n_nodes=26, n_edges=100)
    monkeypatch.setattr(G, "KTRUSS_LOCAL_EDGES_MAX", 0)
    want = _truss_result(spark, pairs, 4)  # driver-decs rounds
    monkeypatch.setattr(G, "KTRUSS_DRIVER_SUP_MAX", 0)  # gate always closed
    assert _truss_result(spark, pairs, 4) == want


def test_truss_adj_probe_overflow_falls_back(spark, monkeypatch):
    """A frontier whose incident adjacency overflows the LIMIT-guarded
    probe must fall back to the distributed body, not truncate."""
    pairs = _random_canonical(spark, 8, n_nodes=26, n_edges=100)
    want = _truss_result(spark, pairs, 4)
    monkeypatch.setattr(G, "KTRUSS_LOCAL_EDGES_MAX", 0)
    monkeypatch.setattr(G, "KTRUSS_ADJ_PROBE_MAX", 1)  # always overflows
    assert _truss_result(spark, pairs, 4) == want


def _kcore_result(spark, pairs, k):
    edges = G.symmetrize(pairs)
    st = G._PeelState(edges)
    rounds, curve = st.peel(k, G.KCORE_DEFAULT_MAX_ROUNDS)
    deg = sorted(map(tuple, st.degrees().collect()))
    surv = sorted(map(tuple, st.surviving_edges().collect()))
    return rounds, curve, deg, surv, st.cur_rows, st.cur_nodes


@pytest.mark.parametrize("seed,k", [(9, 3), (10, 4)])
def test_kcore_local_distributed_equivalent(spark, monkeypatch, seed, k):
    pairs = _random_canonical(spark, seed, n_nodes=26, n_edges=95)
    local = _kcore_result(spark, pairs, k)  # default: local endgame
    monkeypatch.setattr(G, "KCORE_LOCAL_EDGES_MAX", 0)
    distributed = _kcore_result(spark, pairs, k)
    assert local == distributed


def test_kcore_ramp_local_matches_distributed(spark, monkeypatch):
    """The sticky local state must survive a whole ascending-k ramp."""
    pairs = _random_canonical(spark, 12, n_nodes=30, n_edges=140)

    def profile():
        return G.kcore_profile_counts(G.symmetrize(pairs), (2, 3, 4, 5))

    local = profile()
    monkeypatch.setattr(G, "KCORE_LOCAL_EDGES_MAX", 0)
    assert profile() == local


def test_ckpt_leaf_fallback_warns_once_and_stays_correct(spark, monkeypatch):
    def boom(spark_, ck):
        raise AttributeError("internalCreateDataFrame is gone")

    monkeypatch.setattr(G, "_internal_create", boom)
    monkeypatch.setattr(G, "_ckpt_fallback_warned", False)
    df = spark.range(5).select(F.col("id").alias("a"))
    with pytest.warns(RuntimeWarning, match="SPARK-27712"):
        out = G._ckpt_leaf(df)
    assert sorted(r["a"] for r in out.collect()) == [0, 1, 2, 3, 4]
    # one-time: a second fallback is silent (no warning spam per round)
    import warnings as W

    with W.catch_warnings():
        W.simplefilter("error")
        G._ckpt_leaf(df)


def test_stats_canary_raises_on_multiplicative_stats(spark):
    df = spark.range(1000)
    for _ in range(9):
        df = df.crossJoin(spark.range(1000).withColumnRenamed("id", f"i{_}"))
        df = df.select(df.columns[0])
    digits = len(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    assert digits > G.CKPT_STATS_DIGITS_MAX  # fixture sanity
    with pytest.raises(RuntimeError, match="SPARK-27712"):
        G._stats_canary(df)
    # and a healthy leaf passes through untouched
    ok = spark.range(10)
    assert G._stats_canary(ok) is ok


# --- rebucket_target crash-safe swap (round-11 ask 3) ---


def _swap_paths(target):
    from op_etl_spark.streaming.upsert import _swap_dirs

    return _swap_dirs(target)


def test_rebucket_window_complete_tmp_adopted_by_read(spark, tmp_path):
    """Kill between rename-aside and rename-in: target missing, tmp and
    aside copy both complete. The next read adopts the COMPLETE tmp (the
    migration finishes, nothing re-runs)."""
    from op_etl_spark.streaming.upsert import _read_marker, rebucket_target

    target = str(tmp_path / "t")
    _mk_target(spark, target, n_buckets=8)
    before = _state(spark, target)
    tmp, old = _swap_paths(target)
    pre8 = str(tmp_path / "pre8")
    shutil.copytree(target, pre8)  # snapshot of the pre-migration data
    rebucket_target(spark, target, 16)
    shutil.move(target, tmp)  # 16-bucket complete dir at the tmp path
    shutil.move(pre8, old)  # pre-migration aside copy
    # window B: no target, complete tmp, complete aside
    assert _state(spark, target) == before  # read_upsert_target adopts
    assert _read_marker(spark, target) == 16
    import os

    assert not os.path.exists(tmp) and not os.path.exists(old)


def test_rebucket_window_aside_only_restored(spark, tmp_path):
    """A rename that lied (tmp lost, aside copy intact): the next read
    restores the pre-migration target; the migration simply re-runs."""
    from op_etl_spark.streaming.upsert import _read_marker

    target = str(tmp_path / "t")
    _mk_target(spark, target, n_buckets=8)
    before = _state(spark, target)
    _, old = _swap_paths(target)
    shutil.move(target, old)
    assert _state(spark, target) == before
    assert _read_marker(spark, target) == 8


def test_rebucket_window_adopted_by_merge_not_treated_as_first_write(
    spark, tmp_path
):
    """The merge path must adopt too: without recovery, a missing target
    looks like a FIRST write and the merge would silently drop all prior
    state."""
    from op_etl_spark.streaming.upsert import merge_upsert_batch, rebucket_target

    target = str(tmp_path / "t")
    _mk_target(spark, target, n_buckets=8)
    tmp, _ = _swap_paths(target)
    rebucket_target(spark, target, 16)
    shutil.move(target, tmp)  # window B again
    late = spark.createDataFrame(
        [(1, 10_000, 99.9)], "user_id long, seq long, v double"
    )
    merge_upsert_batch(late, target, ["user_id"], "seq", n_buckets=16)
    got = dict((r[0], (r[1], r[2])) for r in _state(spark, target))
    assert got[1] == (10_000, 99.9)  # the late row won
    assert len(got) == 40  # ... and nothing else was lost


def test_rebucket_stale_debris_cleaned_and_rerun_safe(spark, tmp_path):
    """Aborted pre-swap run (complete target + leftover tmp + stale
    aside): re-running the migration reclaims both and succeeds."""
    import os

    from op_etl_spark.streaming.upsert import _read_marker, rebucket_target

    target = str(tmp_path / "t")
    _mk_target(spark, target, n_buckets=8)
    before = _state(spark, target)
    tmp, old = _swap_paths(target)
    shutil.copytree(target, tmp)
    shutil.copytree(target, old)
    rebucket_target(spark, target, 16)
    assert _state(spark, target) == before
    assert _read_marker(spark, target) == 16
    assert not os.path.exists(tmp) and not os.path.exists(old)


# ---- round-11 optimization: marker-recorded schema on the merge path ----


def test_marker_records_schema_and_fast_read_matches(spark, tmp_path):
    """The first write records the target schema in the marker; later
    merges read with it (no per-batch footer inference) and produce the
    identical state."""
    from op_etl_spark.streaming.upsert import _parse_marker, _read_marker_lines

    target = str(tmp_path / "t")
    _mk_target(spark, target, n_buckets=8)
    _, _, sch = _parse_marker(_read_marker_lines(spark, target))
    assert sch is not None and "__bucket" in sch.fieldNames()
    assert set(sch.fieldNames()) == {"user_id", "seq", "v", "__bucket"}
    got = {r[0]: (r[1], r[2]) for r in _state(spark, target)}
    assert got[0] == (5, 0.5) and got[1] == (10, 1.0)  # latest per key


def test_legacy_two_line_marker_still_merges(spark, tmp_path):
    """Pre-round-11 markers (no schema line) must keep merging via the
    inferred-read fallback — same final state."""
    from op_etl_spark.streaming.upsert import (
        _parse_marker,
        _read_marker_lines,
        _write_marker,
        merge_upsert_batch,
    )

    target = str(tmp_path / "t")
    _mk_target(spark, target, n_buckets=8)
    # rewrite the marker without the schema line (a legacy target)
    _write_marker(spark, target, 8, ["user_id"])
    assert _parse_marker(_read_marker_lines(spark, target)) == (8, ["user_id"], None)
    b3 = spark.createDataFrame(
        [(1, 999, 42.0)], "user_id long, seq long, v double"
    )
    merge_upsert_batch(b3, target, ["user_id"], "seq", n_buckets=8)
    got = {r[0]: (r[1], r[2]) for r in _state(spark, target)}
    assert got[1] == (999, 42.0) and got[0] == (5, 0.5)


def test_marker_schema_drift_message_names_columns(spark, tmp_path):
    """Schema drift against a recorded marker raises the explicit
    ValueError (not a generic analysis error) and loses nothing."""
    from op_etl_spark.streaming.upsert import merge_upsert_batch

    target = str(tmp_path / "t")
    _mk_target(spark, target, n_buckets=8)
    widened = spark.createDataFrame(
        [(0, 1000, 7.0, "x")], "user_id long, seq long, v double, extra string"
    )
    with pytest.raises(ValueError, match="schema drift"):
        merge_upsert_batch(widened, target, ["user_id"], "seq", n_buckets=8)
    assert len(_state(spark, target)) == 40  # nothing lost


@pytest.mark.parametrize("seed,k", [(3, 4), (9, 4), (17, 3), (21, 5)])
def test_ktruss_with_support_matches_recount(spark, seed, k):
    """The maintained-support output path (ktruss_edges since round 11)
    must be row-for-row identical to the retired formulation — peel,
    then a fresh truss_support recount over the survivors — for every
    k >= 3 (below that, threshold 0 keeps triangle-free edges the
    recount's inner wedge join drops; no declared query peels there)."""
    pairs = _random_canonical(spark, seed, n_nodes=24, n_edges=90)
    got_df, rounds = G.ktruss_with_support(pairs, k=k)
    assert got_df.columns == ["a", "b", "support"]
    got = sorted(map(tuple, got_df.collect()))
    truss, rounds_ref = G.ktruss(pairs, k=k)
    want = sorted(map(tuple, G.truss_support(truss).collect()))
    assert got == want
    assert rounds == rounds_ref


def test_exploded_pair_expansion_matches_hof_fold(spark):
    """The pair family's candidate expansion (dedup._posting_pairs) and
    pmi_collocations' co-occurrence expansion moved from nested
    transform/filter/flatten higher-order folds (CodegenFallback — every
    k^2 struct interpreted) to two codegen'd explodes. Pin row-for-row
    equivalence against the HOF formulation on posting lists with dups,
    singletons, and unordered members."""
    from op_etl_spark.suite.dedup import _posting_pairs

    rows = [
        (["b", "a", "c"],),
        (["x"],),
        (["d", "a"],),
        (["q", "q", "r"],),  # duplicate member: q<q filtered out, (q, r) emitted twice
        ([],),
    ]
    posts = spark.createDataFrame(
        [([{"doc_id": m, "sz": len(m)} for m in ms],) for (ms,) in rows], "m: array<struct<doc_id:string,sz:long>>"
    )
    xs = F.col("m")
    hof = F.filter(
        F.flatten(
            F.transform(xs, lambda x: F.transform(xs, lambda y: F.struct(x.alias("a"), y.alias("b"))))
        ),
        lambda p: p["a"]["doc_id"] < p["b"]["doc_id"],
    )
    want = sorted(
        map(tuple, posts.select(F.explode(hof).alias("p")).select("p.a", "p.b").collect())
    )
    got = sorted(map(tuple, _posting_pairs(posts).collect()))
    assert got == want
    # the duplicate-member list contributes (q, r) TWICE in both shapes
    assert len([t for t in got if t[0][0] == "q"]) == 2


def test_bloom_probe_keeps_duplicate_probe_rows(spark):
    """bloom_probe's round-11 shape (left join + min-hit per row id, no
    shuffled rejoin) must preserve duplicate probe rows' multiplicity —
    the retired formulation recovered it via the rejoin; the row-id group
    key is the new carrier."""
    from op_etl_spark.operators.sketches import (
        bloom_positions, bloom_probe, bloom_size_bits,
    )

    build = spark.createDataFrame([(k,) for k in range(0, 60, 3)], "k long")
    m = bloom_size_bits(20)
    pos = bloom_positions(build, "k", m)
    probe = spark.createDataFrame([(3,), (3,), (4,), (4,), (4,), (7,)], "k long")
    out = bloom_probe(probe, "k", pos, m).collect()
    assert sorted(r["k"] for r in out) == [3, 3, 4, 4, 4, 7]
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], set()).add(r["bloom_pass"])
    assert by_key[3] == {True}          # member, duplicated: both rows pass
    assert len(by_key[4]) == 1          # dup rows agree with each other
