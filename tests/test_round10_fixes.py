"""Round-10 pins.

Semantic family:
- semdedup_assign dispatches flat vs two-level on the centroid count;
  the two-level (coarse -> fine, nprobe=2) path is deterministic and its
  assignment recall vs the exact flat argmax is gated.
- Zero-norm vectors are excluded engine-independently (Spark NULL vs
  DuckDB IEEE divergence guard), mirrored in the DuckDB oracle.
- semantic_dedup publishes a centroids/assign phase split and persists
  (recomputable, clearCache-releasable) instead of localCheckpoint.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from op_etl_spark.operators import kmeans
from op_etl_spark.suite import similarity as S

SF = "/root/testdata/sf0.001"


def _assignments(df):
    return {
        r["vec_id"]: (r["cluster"], r["cosc"])
        for r in df.select("vec_id", "cluster", "cosc").collect()
    }


@pytest.fixture(scope="module")
def cent_and_corpus(spark):
    e = S._emb(spark, SF)
    cent = kmeans.label_means(e, "label", "emb", caller="test", scale=kmeans.TICK)
    en = e.withColumn("nrm", S._norm(F.col("emb"))).filter(F.col("nrm") > 0)
    return cent, en


def test_semdedup_dispatch_flat_below_threshold(cent_and_corpus):
    cent, en = cent_and_corpus
    assert len(cent) <= S.SEMDEDUP_FLAT_K_MAX  # suite fixtures stay flat
    plan = S.semdedup_assign(en, cent)._jdf.queryExecution().optimizedPlan().toString()
    # one narrow kernel pass: no join, and no centroid baked into the
    # plan as a literal fold
    assert "Join" not in plan
    assert "transform(" not in plan and "array_max(" not in plan
    assert _assignments(S.semdedup_assign(en, cent)) == _assignments(S._assign_flat(en, cent))


def test_semdedup_dispatch_two_level_above_threshold(cent_and_corpus, monkeypatch):
    cent, en = cent_and_corpus
    monkeypatch.setattr(S, "SEMDEDUP_FLAT_K_MAX", 2)
    got = _assignments(S.semdedup_assign(en, cent))
    assert got == _assignments(S._assign_two_level(en, cent))
    assert got != _assignments(S._assign_flat(en, cent))  # the paths differ here


def test_two_level_recall_and_determinism(cent_and_corpus):
    cent, en = cent_and_corpus
    flat = _assignments(S._assign_flat(en, cent))
    two_a = _assignments(S._assign_two_level(en, cent))
    two_b = _assignments(S._assign_two_level(en, cent))
    assert two_a == two_b  # deterministic end to end
    assert set(two_a) == set(flat)  # every row assigned exactly once
    agree = sum(1 for v, a in two_a.items() if a == flat[v])
    recall = agree / len(flat)
    # k=10 -> 4 coarse cells is the WORST regime for coarse routing (the
    # synthetic label clusters genuinely overlap); nprobe=2 still lands
    # ~0.89 here and higher at realistic k. Gate well below observed so
    # the pin is stable, well above chance (~0.4 at 4 cells).
    assert recall >= 0.80, f"two-level assignment recall {recall:.3f}"
    # the approximate pick can never beat the exact max cosine
    for v, (_, cosc) in two_a.items():
        assert cosc <= flat[v][1] + 1e-12


def test_zero_norm_vectors_excluded_on_both_engines(spark, tmp_path):
    import duckdb

    src = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(src.select("embedding").first()["embedding"])
    # vec_id 3 (corpus row) and vec_id 0 (an eval probe for the decon
    # query: 0 % SEM_DECON_MOD == 0) both become exact zero vectors
    zeroed = src.withColumn(
        "embedding",
        F.when(
            F.col("vec_id").isin(0, 3),
            F.array(*[F.lit(0.0).cast("float") for _ in range(dim)]),
        ).otherwise(F.col("embedding")),
    )
    sf_dir = str(tmp_path / "sf")
    zeroed.write.parquet(f"{sf_dir}/embeddings.parquet")

    from op_etl_spark.suite.contamination import ORACLE_SEM_DECON, semantic_decontaminate
    from op_etl_spark.suite.similarity import ORACLE_SEMDEDUP

    for q, oracle in (
        (S.semantic_dedup, ORACLE_SEMDEDUP),
        (semantic_decontaminate, ORACLE_SEM_DECON),
    ):
        rows = q(spark, sf_dir).collect()
        ids = {r["vec_id"] for r in rows}
        assert 0 not in ids and 3 not in ids
        for r in rows:  # no NULL / NaN cosine leaked through
            for v in r:
                assert v is not None
                if isinstance(v, float):
                    assert not math.isnan(v)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')"
        )
        assert con.execute(f"SELECT count(*) FROM ({oracle})").fetchone()[0] == len(rows)
        con.close()


def test_semantic_dedup_phase_split(spark):
    from op_etl_spark.operators import phases

    phases.reset()
    S.semantic_dedup(spark, SF)
    snap = phases.snapshot().get("semantic_dedup", {})
    assert set(snap) == {"centroids", "assign"}
    assert all(v > 0 for v in snap.values())
    phases.reset()


def test_semantic_dedup_persists_instead_of_checkpoint(spark):
    df = S.semantic_dedup(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # persisted assignment: cache-released by clearCache, recomputable on
    # executor loss — a localCheckpoint would show Scan ExistingRDD
    assert "InMemoryTableScan" in plan
    assert "ExistingRDD" not in plan
    spark.catalog.clearCache()


# --- k-truss incremental support maintenance (_TrussState) ---


def _ktruss_recompute(pairs, k, max_rounds=48):
    """The retired recompute-per-round formulation, kept here as the
    brute-force reference: full truss_support + semi-join each round."""
    from op_etl_spark.operators.graph import truss_support

    pairs = pairs.select("a", "b").localCheckpoint()
    n = pairs.count()
    rounds = 0
    for _ in range(max_rounds):
        if n == 0:
            return pairs, rounds
        rounds += 1
        sup = truss_support(pairs).withColumnRenamed("support", "sup")
        kept = pairs.join(
            sup.filter(F.col("sup") >= k - 2).select("a", "b"),
            ["a", "b"],
            "left_semi",
        ).localCheckpoint()
        na = kept.count()
        pairs = kept
        if na == n:
            return pairs, rounds
        n = na
    raise RuntimeError("reference did not converge")


def _random_canonical(spark, seed: int, n_nodes: int = 24, n_edges: int = 70):
    import random

    rng = random.Random(seed)
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    return spark.createDataFrame(sorted(edges), "a long, b long")


@pytest.mark.parametrize("seed,k", [(0, 3), (1, 4), (2, 5), (3, 4), (4, 3)])
def test_ktruss_incremental_equals_recompute_random(spark, seed, k):
    """Random graphs hit every batch-removal shape (triangles with 1, 2,
    or 3 frontier edges in one round, side edges dead from earlier
    rounds) — the incremental peel must match the recompute reference
    edge-for-edge AND round-for-round."""
    from op_etl_spark.operators.graph import ktruss

    pairs = _random_canonical(spark, seed)
    got, rounds = ktruss(pairs, k)
    want, want_rounds = _ktruss_recompute(pairs, k)
    assert rounds == want_rounds
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ktruss_maintained_support_is_exact(spark):
    """After convergence the maintained sup table must equal a fresh
    truss_support recount over the survivors (zero-triangle survivors
    carry sup 0) — the invariant every round's decrement relies on."""
    from op_etl_spark.operators.graph import _TrussState, truss_support

    pairs = _random_canonical(spark, 7, n_nodes=20, n_edges=60)
    st = _TrussState(pairs, k=4)
    st.peel(max_rounds=48)
    maintained = {(r["a"], r["b"]): r["sup"] for r in st.sup.collect()}
    fresh = {
        (r["a"], r["b"]): r["support"]
        for r in truss_support(st.surviving_edges()).collect()
    }
    assert maintained == {e: fresh.get(e, 0) for e in maintained}


def test_ktruss_k2_keeps_triangle_free_edges(spark):
    """k <= 2 means threshold 0: every edge survives, including
    triangle-free ones — the oracle's coalesce(sup, 0) semantics (the
    retired semi-join formulation silently dropped edges absent from the
    inner wedge join; no declared query peels below k=4)."""
    from op_etl_spark.operators.graph import ktruss

    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a long, b long")
    got, rounds = ktruss(chain, k=2)
    assert rounds == 1  # one confirming round, nothing to drop
    assert got.count() == 3


# --- CDC upsert bucket lifecycle (rebucket_target) ---


def _state(spark, target):
    from op_etl_spark.streaming.upsert import read_upsert_target

    return sorted(map(tuple, read_upsert_target(spark, target).collect()))


def _mk_target(spark, target, n_buckets=8):
    from op_etl_spark.streaming.upsert import merge_upsert_batch

    b1 = spark.createDataFrame(
        [(i, i * 10, float(i)) for i in range(40)], "user_id long, seq long, v double"
    )
    b2 = spark.createDataFrame(
        [(i, i * 10 + 5, float(i) + 0.5) for i in range(0, 40, 2)],
        "user_id long, seq long, v double",
    )
    merge_upsert_batch(b1, target, ["user_id"], "seq", n_buckets=n_buckets)
    merge_upsert_batch(b2, target, ["user_id"], "seq", n_buckets=n_buckets)


def test_rebucket_preserves_state_and_unblocks_new_count(spark, tmp_path):
    import os

    from op_etl_spark.streaming.upsert import (
        BUCKET_COL,
        merge_upsert_batch,
        rebucket_target,
    )

    target = str(tmp_path / "t")
    _mk_target(spark, target, n_buckets=8)
    before = _state(spark, target)

    rebucket_target(spark, target, 16)
    assert _state(spark, target) == before  # merged state invariant
    # physical layout actually re-bucketed under the new formula
    parts = {d for d in os.listdir(target) if d.startswith(f"{BUCKET_COL}=")}
    assert len(parts) > 8
    assert not os.path.exists(target + "__rebucket_tmp")

    # merges at the OLD count now raise; the new count merges fine
    late = spark.createDataFrame([(1, 999, 9.9)], "user_id long, seq long, v double")
    with pytest.raises(ValueError, match="n_buckets"):
        merge_upsert_batch(late, target, ["user_id"], "seq", n_buckets=8)
    merge_upsert_batch(late, target, ["user_id"], "seq", n_buckets=16)
    assert (1, 999, 9.9) in _state(spark, target)


def test_rebucket_same_count_is_noop(spark, tmp_path):
    import os

    from op_etl_spark.streaming.upsert import rebucket_target

    target = str(tmp_path / "t")
    _mk_target(spark, target, n_buckets=8)
    mtimes = {f: os.path.getmtime(os.path.join(target, f)) for f in os.listdir(target)}
    rebucket_target(spark, target, 8)
    assert {
        f: os.path.getmtime(os.path.join(target, f)) for f in os.listdir(target)
    } == mtimes


def test_merge_rejects_key_mismatch(spark, tmp_path):
    from op_etl_spark.streaming.upsert import merge_upsert_batch

    target = str(tmp_path / "t")
    _mk_target(spark, target, n_buckets=8)
    b = spark.createDataFrame([(1, 1, 1.0)], "user_id long, seq long, v double")
    with pytest.raises(ValueError, match="bucketed on key"):
        merge_upsert_batch(b, target, ["seq"], "user_id", n_buckets=8)


def test_pre_round10_marker_still_merges_and_demands_keys(spark, tmp_path):
    from op_etl_spark.streaming.upsert import (
        _MARKER,
        merge_upsert_batch,
        rebucket_target,
    )

    target = str(tmp_path / "t")
    _mk_target(spark, target, n_buckets=8)
    # rewrite the marker in the one-line pre-round-10 format (drop the
    # Hadoop local-FS checksum sidecar the out-of-band edit invalidates)
    import os

    with open(f"{target}/{_MARKER}", "w") as f:
        f.write("8\n")
    crc = f"{target}/.{_MARKER}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    late = spark.createDataFrame([(2, 999, 2.2)], "user_id long, seq long, v double")
    merge_upsert_batch(late, target, ["user_id"], "seq", n_buckets=8)  # back-compat
    with pytest.raises(ValueError, match="pass key_cols"):
        rebucket_target(spark, target, 16)
    before = _state(spark, target)
    rebucket_target(spark, target, 16, key_cols=["user_id"])
    assert _state(spark, target) == before


def test_peel_checkpoint_stats_stay_flat(spark):
    """Dataset.localCheckpoint preserves the child plan's Catalyst stats
    (SPARK-27712); in an iterative peel the maintained table feeds
    several join sides, so inherited sizeInBytes estimates MULTIPLY and
    their digit count grows geometrically per round — by round ~10 the
    driver spends seconds-to-minutes in BigInteger arithmetic inside
    stats estimation (measured: 0.7s -> 22s -> 112s per k-truss round at
    constant data and task counts). _ckpt_leaf re-wraps the materialized
    RDD as a stats-free leaf; this pins that the estimate stays O(1)
    digits across rounds for BOTH peels."""
    from op_etl_spark.operators.graph import _PeelState, _TrussState, symmetrize

    pairs = _random_canonical(spark, 11, n_nodes=30, n_edges=120)

    def digits(df):
        return len(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))

    st = _TrussState(pairs, k=4)
    _, nf, fsup = st._stats()
    seen = [digits(st.sup)]
    for _ in range(3):
        if not nf:
            break
        _, nf, fsup = st._round(nf, fsup)
        seen.append(digits(st.sup))
    ps = _PeelState(symmetrize(pairs))
    ps.peel(k=3, max_rounds=24)
    seen.append(digits(ps.deg))
    # Long.MaxValue is 19 digits; a couple of rounds of inherited-stat
    # multiplication already blows past 50
    assert max(seen) <= 25, seen


def test_ktruss_edges_query_hash_unchanged(spark):
    """The declared ktruss_edges output on the real sf0.001 near-dup
    graph, pinned against the recompute reference end to end."""
    from op_etl_spark.operators.graph import truss_support
    from op_etl_spark.suite.clustering import KCORE_MIN_COMMON, KTRUSS_K, _pairs
    from op_etl_spark.suite.clustering import ktruss_edges

    got = sorted(map(tuple, ktruss_edges(spark, SF).collect()))
    ref, _ = _ktruss_recompute(
        _pairs(spark, SF, min_common=KCORE_MIN_COMMON), KTRUSS_K
    )
    want = sorted(map(tuple, truss_support(ref).collect()))
    assert got == want
