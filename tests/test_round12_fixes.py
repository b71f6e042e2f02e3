"""Round-12 pins.

ANN builds:
- the k-means kernel's Lloyd round (operators/kmeans.py: one
  mapInPandas partial-sums job) must reproduce the retired posexplode +
  groupBy floored means BIT-EXACTLY,
  including the empty-list / empty-codeword fallback to the previous
  centroid.
Two-level assignment:
- routing and the fine argmax are ONE mapInPandas pass, evaluated once
  even under a filter on its output (a filter pushed below a projection
  would duplicate a UDF column — guide §4.4).
Funnel:
- the persisted flags table carries ONLY the columns the downstream
  stages read (no md5/token stats in the cache).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --- fused Lloyd round (kmeans.lloyd_round, as the IVF recall gates run it) ---


def _retired_ivf_lloyd(qv, cent_list):
    """The retired posexplode + groupBy((list_id, pos)) round, verbatim."""
    from op_etl_spark.suite.ann_recall import _assign_literal

    assigned = _assign_literal(qv, cent_list)
    rows = (
        assigned.select("list_id", F.posexplode("q").alias("pos", "val"))
        .groupBy("list_id", "pos")
        .agg(
            F.floor(F.sum("val") / F.count(F.lit(1)) + F.lit(0.5))
            .cast("double")
            .alias("m")
        )
        .groupBy("list_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pairs"))
        .select("list_id", F.transform("pairs", lambda s: s["m"]).alias("cu"))
        .collect()
    )
    updated = {r.list_id: list(r.cu) for r in rows}
    return [updated.get(i, cent_list[i]) for i in range(len(cent_list))]


def test_fused_ivf_lloyd_matches_retired_formulation(spark):
    from op_etl_spark.operators.kmeans import lloyd_round
    from op_etl_spark.operators.sampling import hash_unit
    from op_etl_spark.suite.ann_recall import RECALL_N_LISTS, _quantized

    qv = _quantized(spark, SF).localCheckpoint()
    seeds = (
        qv.orderBy(hash_unit(F.col("vec_id"), "ivf-seed"), F.col("vec_id"))
        .limit(RECALL_N_LISTS)
        .collect()
    )
    cents = [list(r.q) for r in seeds]
    for _ in range(2):  # two rounds: exercises the updated-centroid input
        new = lloyd_round(qv, "q", cents, caller="test")
        want = _retired_ivf_lloyd(qv, cents)
        assert new == want  # bit-exact doubles, list for list
        cents = new


def test_fused_ivf_lloyd_keeps_empty_list_centroid(spark):
    """A centroid so far away that no row assigns to it must survive a
    round unchanged (the retired updated.get(i, cent_list[i]) fallback)."""
    from op_etl_spark.operators.kmeans import lloyd_round
    from op_etl_spark.suite.ann_recall import _quantized

    qv = _quantized(spark, SF).localCheckpoint()
    dim = len(qv.first()["q"])
    near = list(qv.first()["q"])
    far = [1e12] * dim
    out = lloyd_round(qv, "q", [near, far], caller="test")
    assert out[1] == far  # empty list: previous centroid kept
    assert out[0] != near  # every row landed here: mean recomputed


def _retired_pq_lloyd(qv, books):
    """The retired _encode + _collect_subspace_means round, verbatim."""
    from op_etl_spark.suite.pq_ann import PQ_KCODES, PQ_M, PQ_SUBDIM, _encode, _sub

    enc = _encode(qv, books)
    rows = (
        enc.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.col(f"c{m}").alias("code"),
                            _sub(F.col("q"), m).alias("sub"),
                        )
                        for m in range(PQ_M)
                    ]
                )
            ).alias("s")
        )
        .select("s.m", "s.code", F.posexplode("s.sub").alias("pos", "val"))
        .groupBy("m", "code", "pos")
        .agg(
            F.floor(F.sum("val") / F.count(F.lit(1)) + F.lit(0.5))
            .cast("double")
            .alias("mu")
        )
        .collect()
    )
    upd: dict[tuple[int, int], dict[int, float]] = {}
    for r in rows:
        upd.setdefault((r["m"], r["code"]), {})[r["pos"]] = r["mu"]
    return [
        [
            [upd.get((m, c), {}).get(p, books[m][c][p]) for p in range(PQ_SUBDIM)]
            for c in range(PQ_KCODES)
        ]
        for m in range(PQ_M)
    ]


def test_fused_pq_lloyd_matches_retired_formulation(spark):
    from op_etl_spark.operators.sampling import hash_unit
    from op_etl_spark.suite.pq_ann import (
        PQ_KCODES,
        PQ_M,
        PQ_SUBDIM,
        _lloyd_update_books,
        _quantized,
    )

    qv = _quantized(spark, SF).localCheckpoint()
    seeds = (
        qv.orderBy(hash_unit(F.col("vec_id"), "pq-seed"), F.col("vec_id"))
        .limit(PQ_KCODES)
        .collect()
    )
    books = [
        [list(r.q)[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM] for r in seeds]
        for m in range(PQ_M)
    ]
    for _ in range(2):
        new = _lloyd_update_books(qv, books)
        want = _retired_pq_lloyd(qv, books)
        assert new == want
        books = new


# --- two-level routing (similarity._assign_two_level) ---


@pytest.fixture(scope="module")
def sem2_en(spark):
    """The SEM2 gate's integer-grid corpus + centroids at sf0.001."""
    from op_etl_spark.suite import similarity as S

    e = S.read_table(spark, SF, "embeddings", fan=True)
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * S.SEM2_QSCALE + F.lit(0.5)).cast("double"),
    )
    en = (
        e.select("vec_id", q.alias("emb"))
        .withColumn("label", (F.col("vec_id") % S.SEM2_K).cast("int"))
        .withColumn("nrm", S._norm(F.col("emb")))
        .filter(F.col("nrm") > 0)
    )
    cent_rows = (
        en.select("label", F.posexplode("emb").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.floor(F.sum("val") / F.count(F.lit(1)) + F.lit(0.5))
            .cast("double")
            .alias("cval")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda s: s["cval"]).alias("centroid"))
        .orderBy("label")
        .collect()
    )
    return en, [r for r in cent_rows if sum(v * v for v in r["centroid"]) > 0]


def test_fused_label_centroids_match_retired_formulation(spark, sem2_en):
    """kmeans.label_means on the grid (single-pass partial sums) must
    reproduce the retired posexplode + groupBy((label, pos)) floored
    means bit-exactly — sem2_en's fixture centroids ARE that retired
    chain's output."""
    from op_etl_spark.operators.kmeans import label_means
    from op_etl_spark.suite import similarity as S

    en, want_rows = sem2_en
    got = label_means(en, "label", "emb", caller="test")
    got = [r for r in got if S._pydot(r["centroid"], r["centroid"]) > 0]
    assert [(r["label"], list(r["centroid"])) for r in got] == [
        (r["label"], list(r["centroid"])) for r in want_rows
    ]


def test_routing_udf_evaluated_once_in_plan(spark, sem2_en):
    """The two-level assignment (routing and fine argmax) is ONE
    mapInPandas pass, and stays one when a consumer filters on its
    cluster column: a filter pushed below a projection would evaluate a
    deterministic UDF column twice (guide §4.4)."""
    from op_etl_spark.suite import similarity as S

    en, cent_rows = sem2_en
    df = S._assign_two_level(en, cent_rows).filter(F.col("cluster") > 3)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    tree = p.split("\n\n", 1)[0]
    assert tree.count("MapInPandas") == 1, tree
    assert "EvalPython" not in tree, tree


# --- funnel flags persist projection ---


def test_funnel_persists_only_downstream_columns(spark):
    from op_etl_spark.suite.contamination import training_corpus_funnel

    df = training_corpus_funnel(spark, SF)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # the discriminating node is the cached RELATION, not the scan: the
    # pre-round-12 plan already projected 7 columns out of the cache while
    # materializing all 13 (md5 h, token stats, join markers) into it
    rels = re.findall(r"\(\d+\) InMemoryRelation\nArguments: \[([^\]]*)\]", p)
    flags = [a for a in rels if "f_clean" in a]
    assert flags, p[:2000]
    for args in flags:
        cols = {c.split("#")[0].strip() for c in args.split(",") if "#" in c}
        assert cols <= {
            "doc_id",
            "source",
            "f_split",
            "f_quality",
            "f_exact",
            "f_near",
            "f_clean",
        }, cols
    spark.catalog.clearCache()


# --- targeted grouped rank probe (robust._robust_pair) ---


def test_targeted_rank_probe_matches_retired_grouped_rank(spark):
    """grouped_rows_at_rank must select the SAME element the retired
    grouped_row_index + filter(rn == (n-1)//2) chain selected — odd and
    even group sizes, duplicate order values, multi-partition groups."""
    import random

    from op_etl_spark.operators.ranks import grouped_row_index, grouped_rows_at_rank

    rng = random.Random(12)
    rows = []
    eid = 0
    for g, n in [("a", 101), ("b", 100), ("c", 1), ("d", 2), ("e", 4093)]:
        for _ in range(n):
            # coarse grid → plenty of exact ties exercising the event_id
            # tiebreak inside and across range partitions
            rows.append((g, float(rng.randint(0, 50)), eid))
            eid += 1
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "g string, v double, eid long")

    mid = lambda n: (n - 1) // 2  # noqa: E731
    got_rows, counts = grouped_rows_at_rank(df, "g", ["v", "eid"], mid)
    got = {r["g"]: (r["v"], r["eid"]) for r in got_rows}

    idx = grouped_row_index(df, "g", ["v", "eid"], out="rn")
    cnt = {r["g"]: r["n"] for r in df.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = {}
    for r in idx.collect():
        if r["rn"] == mid(cnt[r["g"]]):
            want[r["g"]] = (r["v"], r["eid"])

    assert {k[0]: v for k, v in counts.items()} == cnt
    assert got == want


def test_robust_pair_matches_retired_scored_chain(spark):
    """_robust_pair's (med, mad) must equal the retired _scored chain's
    broadcast med/mad columns bit-for-bit on real fixture data."""
    from op_etl_spark.operators.ranks import grouped_row_index
    from op_etl_spark.session import read_events
    from op_etl_spark.suite.robust import _robust_pair

    got = _robust_pair(spark, SF)

    ev = read_events(spark, SF).select("event_type", "value", "event_id")
    mid = F.floor((F.col("n") - F.lit(1)) / F.lit(2)).cast("long")
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    idx = grouped_row_index(ev, "event_type", ["value", "event_id"], out="rn")
    med = (
        idx.join(F.broadcast(cnt), "event_type")
        .filter(F.col("rn") == mid)
        .select("event_type", F.col("value").alias("med"), "n")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    idx2 = grouped_row_index(dev, "event_type", ["dev", "event_id"], out="rn2")
    mad = idx2.filter(F.col("rn2") == mid).select(
        "event_type", F.col("dev").alias("mad")
    )
    want_med = {r["event_type"]: r["med"] for r in med.collect()}
    want_mad = {r["event_type"]: r["mad"] for r in mad.collect()}

    assert got == {k: (want_med[k], want_mad[k]) for k in want_med}


# --- fused semdedup tick-mean centroid build (kmeans.label_means, ticks) ---


def test_fused_semdedup_centroids_match_retired_formulation(spark):
    """The mapInPandas partial-tick-sums build must reproduce the retired
    posexplode + groupBy((label, pos)) tick-mean chain BIT-EXACTLY."""
    from op_etl_spark.operators.kmeans import TICK, label_means
    from op_etl_spark.suite import similarity as S

    e = S._emb(spark, SF)
    got = label_means(e, "label", "emb", caller="test", scale=TICK)

    want = [
        {"label": r["label"], "centroid": list(r["centroid"])}
        for r in (
            e.select("label", F.posexplode("emb").alias("pos", "val"))
            .groupBy("label", "pos")
            .agg(
                (
                    F.sum(F.floor(F.col("val") * 1000000 + F.lit(0.5)).cast("long"))
                    / F.lit(1000000.0)
                    / F.count(F.lit(1))
                ).alias("cval")
            )
            .groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
            .select(
                "label", F.transform("pairs", lambda s: s["cval"]).alias("centroid")
            )
            .orderBy("label")
            .collect()
        )
    ]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["label"] == w["label"]
        assert g["centroid"] == w["centroid"]  # exact double equality


# --- fused JL projection (jl_projection_distortion) ---


def test_jl_sign_matrix_matches_spark_md5_parity(spark):
    """The Python-side md5-parity sign matrix must equal the retired
    Spark expression cell for cell."""
    import hashlib

    import numpy as np

    from op_etl_spark.suite.similarity import JL_IN_DIM, JL_OUT_DIM

    S = np.array(
        [
            [
                1
                if int(hashlib.md5(f"jl|{i}|{j}".encode()).hexdigest()[:15], 16) % 2
                == 0
                else -1
                for j in range(JL_OUT_DIM)
            ]
            for i in range(JL_IN_DIM)
        ]
    )
    cell = spark.range(JL_IN_DIM * JL_OUT_DIM).select(
        (F.col("id") / JL_OUT_DIM).cast("long").alias("i"),
        (F.col("id") % JL_OUT_DIM).alias("j"),
    )
    hx = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("jl|"),
                    F.col("i").cast("string"),
                    F.lit("|"),
                    F.col("j").cast("string"),
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    rows = cell.select(
        "i", "j", F.when(hx % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("s")
    ).collect()
    for r in rows:
        assert S[r["i"], r["j"]] == r["s"], (r["i"], r["j"])


def test_fused_jl_matches_retired_formulation(spark):
    """The fused matmul-kernel query must reproduce the retired
    posexplode + broadcast-sign-join + double-self-join chain row for
    row (exact int64 distances, identical ratio doubles)."""
    from op_etl_spark.suite.similarity import (
        JL_IN_DIM,
        JL_OUT_DIM,
        JL_TICK,
        jl_projection_distortion,
    )
    from op_etl_spark.suite._util import fround, read_table

    got = {
        r["id1"]: (r["d2_orig"], r["d2_proj"], r["jl_ratio"])
        for r in jl_projection_distortion(spark, SF).collect()
    }

    e = read_table(spark, SF, "embeddings", fan=True)
    ticks = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    ).select(
        "vec_id",
        "i",
        F.floor(F.col("x") * JL_TICK + F.lit(0.5)).cast("long").alias("t"),
    )
    cell = spark.range(JL_IN_DIM * JL_OUT_DIM).select(
        (F.col("id") / JL_OUT_DIM).cast("long").alias("i"),
        (F.col("id") % JL_OUT_DIM).alias("j"),
    )
    hx = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("jl|"),
                    F.col("i").cast("string"),
                    F.lit("|"),
                    F.col("j").cast("string"),
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    signs = cell.select(
        "i", "j", F.when(hx % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("s")
    )
    proj = (
        ticks.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("s") * F.col("t")).alias("p"))
    )
    p2 = proj.select((F.col("vec_id") - 1).alias("vec_id"), "j", F.col("p").alias("q"))
    d2p = (
        proj.join(p2, ["vec_id", "j"])
        .groupBy("vec_id")
        .agg(F.sum((F.col("p") - F.col("q")) * (F.col("p") - F.col("q"))).alias("d2_proj"))
    )
    t2 = ticks.select((F.col("vec_id") - 1).alias("vec_id"), "i", F.col("t").alias("u"))
    d2o = (
        ticks.join(t2, ["vec_id", "i"])
        .groupBy("vec_id")
        .agg(F.sum((F.col("t") - F.col("u")) * (F.col("t") - F.col("u"))).alias("d2_orig"))
    )
    want = {
        r["id1"]: (r["d2_orig"], r["d2_proj"], r["jl_ratio"])
        for r in d2o.join(d2p, "vec_id")
        .filter(F.col("d2_orig") > 0)
        .select(
            F.col("vec_id").alias("id1"),
            "d2_orig",
            "d2_proj",
            fround(
                F.col("d2_proj") / F.lit(float(JL_OUT_DIM)) / F.col("d2_orig"), 4
            ).alias("jl_ratio"),
        )
        .collect()
    }
    assert got == want
    spark.catalog.clearCache()


# --- fused 64-bit SimHash fingerprint (dedup._simhash64) ---


def _retired_simhash64(d):
    """The retired explode + groupBy((doc_id, tok)) + 64-sum chain, verbatim."""
    from op_etl_spark.suite.dedup import SIMHASH64_BAND_BITS, SIMHASH64_BANDS

    toks = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hx = F.md5(F.col("tok").cast("binary"))
    vcols = [
        F.conv(F.substring(hx, 1 + 4 * t, 4), 16, 10).cast("long").alias(f"v{t}")
        for t in range(SIMHASH64_BANDS)
    ]
    tv = toks.select("doc_id", "cnt", *vcols)
    votes = [
        F.sum(
            F.col("cnt")
            * (F.shiftright(F.col(f"v{t}"), i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{t}_{i}")
        for t in range(SIMHASH64_BANDS)
        for i in range(SIMHASH64_BAND_BITS)
    ]
    agg = tv.groupBy("doc_id").agg(*votes)
    outs = []
    for t in range(SIMHASH64_BANDS):
        fp = None
        for i in range(SIMHASH64_BAND_BITS):
            bit = F.when(F.col(f"s{t}_{i}") > 0, 2**i).otherwise(0)
            fp = bit if fp is None else fp + bit
        outs.append(fp.cast("long").alias(f"b{t}"))
    return agg.select("doc_id", *outs)


def test_kernel_simhash64_matches_retired_formulation(spark):
    """The mapInPandas vote kernel + narrow groupBy(doc_id) must reproduce
    the retired two-Exchange token chain bit-for-bit: on the real corpus,
    and on a synthetic fixture exercising duplicate doc_id rows (vote
    additivity), NULL text (dropped), empty text / multi-space runs
    (empty-string tokens kept by split), unicode tokens and heavy
    multiplicity."""
    from op_etl_spark.suite.dedup import _docs, _simhash64

    d = _docs(spark, SF)
    got = {r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in _simhash64(d).collect()}
    want = {
        r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in _retired_simhash64(d).collect()
    }
    assert got == want and len(got) == d.count()

    rows = [
        (1, "a b b ü tøk"),
        (1, "b c a"),
        (2, ""),
        (3, None),
        (4, "x  y "),
        (5, "a a a b b"),
        (6, " leading"),
    ]
    sd = spark.createDataFrame(rows, "doc_id long, text string")
    got2 = {r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in _simhash64(sd).collect()}
    want2 = {
        r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in _retired_simhash64(sd).collect()
    }
    assert got2 == want2
    assert 3 not in got2 and 1 in got2 and 2 in got2
    spark.catalog.clearCache()
