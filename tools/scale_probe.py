"""Scale probe: measure how query time grows when the fact tables grow Kx.

Materializes a Kx copy of the sf0.1 fact tables (orders, lineitem,
events — keys shifted per copy so join fan-out stays realistic; dims
stay fixed, as they do in production), then times representative
queries at 1x and Kx through the exact same suite code paths.

ratio = t(Kx) / t(1x). With fixed parallelism, linear work scales at
ratio ~= K. The verdict grades what is actually proven:
  SUPERLINEAR  median_ratio > K      (worse than linear — plan is broken)
  linear       K/2 < median_ratio <= K  (no headroom at fixed parallelism)
  sublinear    median_ratio <= K/2   (per-core work grows slower than data)
The point is catching operators whose cost CURVE is wrong before they
meet a real cluster — absolute seconds here are local-mode noise.

Two probe families:
  main  (default) — relational/window/streaming-gate representatives, K=8
  pairs           — the dedup/similarity/clustering pair family, meant to
                    be run deeper (K=32): every capped pair-expansion path
                    claims a bounded cost contract, and the caps are
                    constants — so they must be measured at a second,
                    farther point on the curve. Documents AND embeddings
                    are fanned out (embeddings per-copy rotated so copies
                    are near-orthogonal, not 32x cross-copy duplicates).
  geo             — the spatial near-join at CONSTANT DENSITY: fanning k
                    event copies into the same coordinate area multiplies
                    point density by k, so qualifying pairs grow ~k^2 by
                    geometry and a naive probe measures output size, not
                    the operator. This family translates each copy's
                    points into its own disjoint coordinate tile (copy
                    index = event_id div KEY_SHIFT), keeping density —
                    and so pairs-per-point — constant while the corpus
                    grows k-fold. Also reports the per-cell density cap's
                    exclusion fraction at both scales.
  sketches        — the mergeable-sketch family: events/orders grow Kx
                    while the user/customer key domains stay fixed; the
                    sketch state is constant-size, so anything beyond
                    scan-linear growth means sketch state leaked into a
                    corpus-sized shuffle.

  skew            — the hot-key family: one user carries ~20% of event
                    rows (one event_type ~10% — the v2 split at
                    SKEW_TYPE_MOD) and one chained near-dup component 20%
                    of documents, AT BOTH SCALES; the ratio measures how
                    the salted aggregate, per-user session window, and CC
                    label loop behave as the hottest key itself grows Kx.

Usage: python tools/scale_probe.py [K] [base_sf_dir] [main|pairs|geo|sketches|skew]
Writes one JSON line; the caller merges it into SCALE_PROBE.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

MAIN_QUERIES = [
    # full-scan agg, selective agg, broadcast-dim join, agg-join-agg,
    # window, sessionization, as-of, exact dedup
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q5_nation_revenue",
    "q18_large_volume_customers",
    "w_top3_orders_per_customer",
    "sessionize_events",
    "asof_join_events",
    "dedup_keep_newest_event",
    "tumbling_hourly_events",
    "moving_avg_7d_revenue",
    # the text / dedup pipeline: single-scan token ops, inverted-index
    # pair generation, minhash signatures, tf-idf two-shuffle scoring.
    # NOTE: the probe runs the DF-CAPPED jaccard — the exact variant is
    # quadratic in shingle document-frequency BY DESIGN (it's the
    # verify stage you run on candidates, not the corpus; the 22x-at-8x
    # measurement that motivated the capped variant is in git history).
    "token_counts",
    "quality_filter",
    "exact_dedup_groups",
    "ngram_jaccard_pairs_capped",
    "minhash_lsh_candidates",
    "tfidf_top_terms",
    # scale-pattern + monitoring ops: MG heavy hitters (narrow pass +
    # bounded exact count), array-zip bigram table, terasort shuffle
    # manifest, heap-merge top-k, one-scan-per-table constraints,
    # single-scan drift buckets.
    # grid_distance_pairs is probed by the dedicated geo family (the
    # query self-tiles fan copies into disjoint coordinate areas, so the
    # geo probe measures the operator at constant density).
    "heavy_hitter_users",
    "bigram_next_token",
    "bigram_surprisal_scores",
    # real multimodal kernels: corpus-linear Arrow-batched numpy maps
    "raw_resize_checksum",
    "pcm_frame_report",
    "shuffle_shard_manifest",
    "global_topk_docs",
    "dq_constraint_report",
    "drift_bucket_report",
    # round-5 additions that fit the main-family regime (corpus-linear
    # work, non-pair-shaped): exact-k weighted sampling, JL projection,
    # HLL merge gate
    "weighted_reservoir_sample",
    "jl_projection_distortion",
    "hll_merge_days",
    # round-6 additions: grouped order statistics (two range-partitioned
    # rank passes over events) and the per-user lead() Markov chain —
    # both corpus-linear by construction
    "mad_outlier_report",
    "event_transition_matrix",
    "exact_stratified_split",
    "pmi_collocations",
    "event_volume_anomalies",
    "decayed_user_value",
    "quantile_normalized_lengths",
    "source_diversity_report",
]

# Every bounded-pair-cost contract in the dedup/similarity/clustering
# family, probed at a deeper K than the main sweep. ann_bruteforce_topk
# is deliberately included: it is the documented O(corpus) baseline and
# its ratio SHOULD read ~K — publishing it keeps the report honest.
PAIR_QUERIES = [
    "exact_dedup_groups",
    "doc_fingerprints",
    "ngram_jaccard_pairs_capped",
    "exact_substring_pairs",
    "minhash_lsh_candidates",
    "jaccard_verified_pairs",
    "prefix_filter_jaccard_pairs",
    "containment_pairs",
    "weighted_jaccard_pairs",
    "simhash64_fingerprints",
    "simhash64_near_pairs",
    "editdist_verified_pairs",
    "dedup_cc_assign",
    "incremental_cc_assign",
    "dedup_pagerank",
    "embedding_signlsh_neardup",
    "embedding_neardup_pairs",
    "ann_bruteforce_topk",
    # round 6: k-core peeling (per-round cost ~ surviving edges) and PQ
    # ADC search (documented O(corpus x probes) compressed-domain scan —
    # like ann_bruteforce_topk, its ratio SHOULD read ~K; what the probe
    # checks is that TRAINING stays corpus-pass-bounded)
    "kcore_members",
    # round 9: the whole nested decomposition runs as ONE continuous
    # incremental peel (operators/graph.kcore_profile_counts) — probed so
    # the per-round economics of the rewritten peel are on record
    "kcore_profile",
    "pq_recall_at_k",
    "ivfpq_recall_at_k",
    # round 9: SemDeDup — the pairs fan shifts labels into disjoint
    # domains per copy, so cluster COUNT grows K at constant cluster
    # size: exactly the paper's k-proportional-to-N operating regime
    # (the per-cluster pair join must read ~linear, not K^2). Round 10:
    # the fan's per-copy permutation+sign decorrelation (v3) makes the
    # OUTPUT curve measure the operator too — the r9 sign-only mask left
    # each vector's self-copies re-correlated (sum of +-v_d^2 terms),
    # and 95.7% of the fan assigned cross-copy: fixture-made output.
    "semantic_dedup",
    # round 10: the capstone funnel (SemDeDup decisions x eval flags in
    # one DAG) and the incremental-support k-truss peel — the latter was
    # excluded while rounds-vs-per-round-cost could not be decomposed;
    # the loop counters now separate them (fan replicates structure, so
    # round depth should hold constant while per-round cost scales)
    "embedding_curation_funnel",
    "ktruss_edges",
]

# Skew family: every other probe family scales VOLUME uniformly; this one
# scales a hot key with it. The fixture plants, at every scale, one user
# carrying ~20% of ALL event rows and one event_type carrying ~10% (the
# v2 split at SKEW_TYPE_MOD: hot rows chosen by event_id % 5 == 0,
# invariant under the copy fan since KEY_SHIFT % 5 == 0; every 2nd hot
# row keeps its real type), and one near-dup chain component holding 20%
# of ALL documents
# (hot docs get a sliding window of CHAIN_W sequential "hotN" tokens, so
# rank-adjacent docs share >= MIN_COMMON_TRIGRAMS trigrams while every
# chain trigram stays far under DF_CAP — a giant component that grows
# WITH the corpus without an uncapped pair explosion). Ratios compare
# skewed-Kx vs skewed-1x, so what is measured is how the salted
# aggregate, the per-user session window, and the CC label loop behave
# as their hottest key grows Kx — the regime AQE skew handling and the
# salting exist for.
SKEW_QUERIES = [
    "salted_event_type_totals",
    "sessionize_events",
    "dedup_cc_assign",
    # the skew-JOIN probe (round-9): the hot user's click x purchase block
    # is exactly the AQE skew-join case — ratio recorded here, the
    # skew-split trigger verified separately (see skew_join_aqe_probe)
    "click_attribution",
]

SKEW_MOD = 5            # event_id/doc_id % 5 == 0 -> ~20% of rows are hot
SKEW_TYPE_MOD = 2       # of the hot rows, every 2nd keeps its REAL event
                        # type (so the hot user has clicks/purchases and
                        # the interval join sees the skew); the other half
                        # becomes type 'hot' (~10% of all rows) for the
                        # salted-aggregation probe
SKEW_HOT_USER = 999_999  # outside the generated 0..1499 user domain
CHAIN_W = 20            # words per hot-doc window: docs at rank distance d
                        # share CHAIN_W-d-2 trigrams -> edges up to d <= 12
                        # under CC's >= 6 rule; trigram DF <= 18 << DF_CAP

# Attribution family (round-9): the sf1 rehearsal fans event_id but NOT
# user_id, so per-user event density grows Kx and the interval join's
# same-user candidate space grows ~K^2 while the corpus grows K — the
# DENSIFICATION regime (declared in DEPLOYMENT.md's rehearsal notes).
# This family measures exactly that fixture with the interval join's
# candidate/output counters on, so the rehearsal's click_attribution
# 6.84x max ratio is decomposed into fixture-made candidate growth vs
# operator behavior instead of argued.
ATTRIBUTION_QUERIES = [
    "click_attribution",
    "multitouch_attribution",
]


# Mergeable-sketch family: events/orders grow Kx while the key domains
# (users, customers) stay fixed — exactly the regime sketches target. The
# sketch tables themselves (registers, bottom-k arrays, CMS cells, Bloom
# positions) are constant-size, so the expected curve is the corpus-linear
# scan cost only; a superlinear reading here means sketch state leaked
# into a corpus-sized shuffle.
SKETCH_QUERIES = [
    "sample_quantile_gate",
    "kmv_distinct_users",
    "hll_distinct_users",
    "hll_merge_days",
    "cms_user_event_counts",
    "bloom_prune_orders",
]

KEY_SHIFT = 10_000_000
LABEL_SHIFT = 1_000  # floor; materialize_scaled raises it past max(label) read from the data

# bumped whenever a materialize_* fixture's SEMANTICS change, so stale
# /tmp dirs from an older probe version rebuild instead of mixing regimes
# (v3: pairs-family embedding fan gained per-copy PERMUTATION on top of
# the sign mask — see materialize_scaled)
FIXTURE_VERSION = "v3"


def _fresh_fixture_dir(out: str, base: str) -> None:
    """Wipe `out` unless its stamp says it was built from `base` by THIS
    fixture version. The fixed dimension tables are copied only
    if-missing, so rerunning a probe against a different base (sf0.1 vs
    sf1) into the same /tmp dir used to silently mix stale dims with
    freshly overwritten facts — a latent mixed-scale fixture."""
    stamp = os.path.join(out, "_SOURCE_BASE")
    want = f"{os.path.abspath(base)}|{FIXTURE_VERSION}"
    if os.path.isdir(out):
        have = open(stamp).read().strip() if os.path.exists(stamp) else None
        if have != want:
            shutil.rmtree(out)
    os.makedirs(out, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(want + "\n")


def materialize_scaled(spark, base: str, out: str, k: int,
                       family: str) -> None:
    _fresh_fixture_dir(out, base)
    fixed_dims = ["region", "nation", "customer", "supplier", "part"]
    if family != "pairs":
        fixed_dims.append("embeddings")
    for t in fixed_dims:
        src, dst = f"{base}/{t}.parquet", f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copyfile(src, dst)

    def fan(df, shift_cols):
        copies = []
        for i in range(k):
            c = df
            for col in shift_cols:
                c = c.withColumn(col, F.col(col) + F.lit(i * KEY_SHIFT))
            copies.append(c)
        out_df = copies[0]
        for c in copies[1:]:
            out_df = out_df.unionByName(c)
        return out_df

    ev_raw = spark.read.parquet(f"{base}/events.parquet")
    fan(ev_raw, ["event_id"]).write.mode("overwrite").parquet(f"{out}/events.parquet")
    if family in ("geo", "attribution"):
        # these families read only events (+ the copied dims above);
        # skip the expensive documents/embeddings/fact fan-out entirely.
        # NOTE the attribution family DELIBERATELY keeps the event_id-only
        # fan (user_id untouched): it measures the densification regime
        # the sf1 rehearsal uses, with counters separating candidate
        # growth from operator behavior.
        return
    orders = spark.read.parquet(f"{base}/orders.parquet")
    fan(orders, ["o_orderkey"]).write.mode("overwrite").parquet(f"{out}/orders.parquet")
    if family == "sketches":
        # the sketch family reads only events/orders/customer; skip the
        # expensive documents/lineitem fan-out
        return
    li = spark.read.parquet(f"{base}/lineitem.parquet")
    fan(li, ["l_orderkey"]).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")

    # documents: shift doc_id AND decorrelate the text per copy by
    # suffixing EVERY word with a copy tag. An earlier version appended a
    # single trailing copy-tag token, which left every other shingle
    # IDENTICAL across the K copies — document frequency of every shingle
    # inflated by K, and the capped pair expansion measured that artifact
    # (~K^2 pairs per formerly-unique shingle) instead of the operator's
    # real curve. Word-level suffixing makes each copy a fresh corpus
    # slice: shingle universes are disjoint across copies, while the
    # WITHIN-copy near-duplicate structure (what the dedup family
    # actually processes) is preserved exactly.
    docs = spark.read.parquet(f"{base}/documents.parquet")
    doc_copies = []
    for i in range(k):
        mangled = F.array_join(
            F.transform(
                F.split(F.col("text"), " "), lambda w: F.concat(w, F.lit(f"~{i}"))
            ),
            " ",
        )
        doc_copies.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * KEY_SHIFT))
            .withColumn("text", mangled)
        )
    out_docs = doc_copies[0]
    for c in doc_copies[1:]:
        out_docs = out_docs.unionByName(c)
    out_docs.write.mode("overwrite").parquet(f"{out}/documents.parquet")

    if family == "pairs":
        # embeddings: per copy i, shift vec_id, shift LABEL into its own
        # domain (label + i*LABEL_SHIFT), and apply a deterministic
        # signed PERMUTATION (seeded per copy: new[d] = s_d * old[pi(d)];
        # copy 0 is the identity).
        #
        # - The label shift is the geo family's constant-density move:
        #   label is a BLOCKING key of the near-dup operators, so copies
        #   live in disjoint similarity spaces and qualifying pairs grow
        #   exactly k-fold (structure replicated k times) instead of
        #   k^2-fold by density. (Round-7 stage counters exposed the old
        #   rotation fan's artifact: the synthetic embeddings are
        #   autocorrelated, every vector near-matched its k-1 rotated
        #   selves, and output grew 1198x at k=32 — the probe measured
        #   fixture-made pairs, not the operator.)
        # - A signed permutation is orthogonal: norms and within-copy
        #   cosines are preserved EXACTLY. The r9 fan used the sign mask
        #   ALONE, which decorrelates two different vectors but NOT a
        #   vector from its own copies: mask_i(v) . mask_j(v) =
        #   sum(+-v_d^2) — all-positive terms under a random sign, so
        #   self-copies stayed correlated and the UNBLOCKED semantic
        #   assignment sent 95.7% of rows cross-copy (the r9 probe's
        #   fixture-made 140.7x output curve). The permutation pairs
        #   DIFFERENT dimensions across copies, so cross-copy dots are
        #   scrambled sums even against a vector's own fan copies, and
        #   output growth measures the operator.
        emb = spark.read.parquet(f"{base}/embeddings.parquet")
        # the shift must clear the base label domain or fan copies share
        # blocking labels and the cross-copy density artifact returns —
        # derive it from the data instead of trusting the constant
        max_label = emb.agg(F.max("label")).collect()[0][0] or 0
        label_shift = max(LABEL_SHIFT, max_label + 1)
        dim = len(emb.select("embedding").first()["embedding"])

        def _perm_sign(copy: int):
            import random

            rng = random.Random(97 + copy)  # seeded: fixture deterministic
            perm = list(range(dim))
            rng.shuffle(perm)
            signs = [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
            return F.array(
                *[
                    F.lit(signs[d]) * F.col("embedding")[perm[d]]
                    for d in range(dim)
                ]
            ).cast("array<float>")

        emb_copies = []
        for i in range(k):
            masked = F.col("embedding") if i == 0 else _perm_sign(i)
            emb_copies.append(
                emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * KEY_SHIFT))
                .withColumn("label", F.col("label") + F.lit(i * label_shift))
                .withColumn("embedding", masked)
            )
        out_emb = emb_copies[0]
        for c in emb_copies[1:]:
            out_emb = out_emb.unionByName(c)
        out_emb.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")


def materialize_skewed(spark, base: str, out: str, k: int) -> None:
    """Kx fan of events + documents with the hot-key injection described
    at SKEW_QUERIES. Materialized for k=1 too: both probe points carry
    the SAME 20% skew, so the ratio isolates scale-under-skew, not the
    injection itself.

    Hot-row split (FIXTURE_VERSION v2): ALL hot rows (20%) move to the
    hot user, but only every SKEW_TYPE_MOD-th hot row (10% of all rows)
    is re-typed 'hot' — the rest keep their real event types, so the hot
    user owns a click x purchase block big enough to exercise the
    interval join's skew path while the salted-aggregation probe still
    sees a dominant hot type."""
    _fresh_fixture_dir(out, base)
    for t in ["region", "nation", "customer", "supplier", "part", "embeddings"]:
        src, dst = f"{base}/{t}.parquet", f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copyfile(src, dst)

    def fan(df, shift_col):
        copies = [
            df.withColumn(shift_col, F.col(shift_col) + F.lit(i * KEY_SHIFT))
            for i in range(k)
        ]
        out_df = copies[0]
        for c in copies[1:]:
            out_df = out_df.unionByName(c)
        return out_df

    hot = F.col("event_id") % SKEW_MOD == 0
    hot_type = hot & (F.expr(f"(event_id DIV {SKEW_MOD}) % {SKEW_TYPE_MOD}") == 0)
    ev = fan(spark.read.parquet(f"{base}/events.parquet"), "event_id")
    (
        ev.withColumn(
            "user_id", F.when(hot, F.lit(SKEW_HOT_USER)).otherwise(F.col("user_id"))
        )
        .withColumn(
            "event_type", F.when(hot_type, F.lit("hot")).otherwise(F.col("event_type"))
        )
        .write.mode("overwrite")
        .parquet(f"{out}/events.parquet")
    )

    docs = spark.read.parquet(f"{base}/documents.parquet")
    n_hot_per_copy = docs.filter(F.col("doc_id") % SKEW_MOD == 0).count()
    doc_copies = []
    for i in range(k):
        mangled = F.array_join(
            F.transform(
                F.split(F.col("text"), " "), lambda w: F.concat(w, F.lit(f"~{i}"))
            ),
            " ",
        )
        doc_copies.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * KEY_SHIFT))
            .withColumn("text", mangled)
        )
    out_docs = doc_copies[0]
    for c in doc_copies[1:]:
        out_docs = out_docs.unionByName(c)
    # hot docs: GLOBAL chain rank (copies are rank-contiguous, so the hot
    # component spans the whole fanned corpus and grows k-fold) with a
    # CHAIN_W-token sliding window of sequential, unmangled tokens
    rank = (
        F.floor(F.col("doc_id") / F.lit(KEY_SHIFT)) * F.lit(n_hot_per_copy)
        + F.floor((F.col("doc_id") % F.lit(KEY_SHIFT)) / F.lit(SKEW_MOD))
    ).cast("long")
    chain = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(CHAIN_W - 1)),
            lambda j: F.concat(F.lit("hot"), (rank + j).cast("string")),
        ),
        " ",
    )
    (
        out_docs.withColumn(
            "text",
            F.when(F.col("doc_id") % SKEW_MOD == 0, chain).otherwise(F.col("text")),
        )
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )


def time_queries(spark, queries, names, sf_dir: str,
                 with_counters: bool = False):
    """(times, counters) per query.  With `with_counters` the WARM run is
    instrumented via operators/counters.py (CollectMetrics piggybacking
    on the plan — no extra pass) and counters are disabled again before
    the timed runs, so the recorded seconds always measure the exact
    production plan."""
    from op_etl_spark.operators import counters

    times, counts = {}, {}
    for name in names:
        fn = queries[name]
        # counters.disable() must run even if the warm run dies between
        # enable and the action: snapshot() on an Observation whose plan
        # never executed blocks forever (counters.py docstring), and a
        # leaked-enabled state would instrument the next query's timed runs
        if with_counters:
            counters.enable()
            counters.set_scope(name)
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
            if with_counters:
                counts[name] = counters.snapshot().get(name, {})
                loops = counters.loops_snapshot().get(name)
                if loops:
                    counts[name]["loops"] = loops
        finally:
            if with_counters:
                counters.disable()
        best = None
        for _ in range(2):
            # same cache hygiene as bench.py: CacheManager matches
            # persisted plans across calls by analyzed-plan equality, so
            # without this a timed rep of a self-persisting query re-reads
            # the previous rep's blocks — ratios must compare COLD costs
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 3)
        print(f"  {sf_dir}: {name} {times[name]}s", file=sys.stderr, flush=True)
    return times, counts


def geo_probe(spark, base: str, scaled: str, k: int) -> dict:
    """Since round 8 the tile translation lives in the DECLARED query
    (suite/geo._tiled_synth_points — a no-op below FAN_COPY_SHIFT), so
    the probe measures grid_distance_pairs' own plan, and the sf1
    rehearsal sweep oracles it at 10x with no exclusion."""
    from op_etl_spark.session import read_events
    from op_etl_spark.suite.geo import (
        FAN_COPY_SHIFT,
        GRID_CELL_CAP,
        GRID_DIST,
        _tiled_synth_points,
        grid_pairs,
    )

    assert FAN_COPY_SHIFT == KEY_SHIFT, "probe fan and query tiling disagree"
    report = {}
    for tag, sf_dir in (("1x", base), ("kx", scaled)):
        pts = _tiled_synth_points(read_events(spark, sf_dir))
        q = grid_pairs(pts, GRID_DIST, GRID_CELL_CAP)
        q.write.format("noop").mode("overwrite").save()  # warm
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            q.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        n_pts = pts.count()
        n_pairs = q.count()
        # cap exclusion fraction: points whose home cell exceeds the cap
        cell = pts.select(
            (F.floor(F.col("x") / GRID_DIST)).alias("cx"),
            (F.floor(F.col("y") / GRID_DIST)).alias("cy"),
        )
        n_kept = (
            cell.groupBy("cx", "cy")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= GRID_CELL_CAP)
            .agg(F.sum("n"))
            .collect()[0][0]
            or 0
        )
        report[tag] = {
            "t": round(best, 3),
            "n_points": n_pts,
            "n_pairs": n_pairs,
            "pairs_per_point": round(n_pairs / n_pts, 3) if n_pts else None,
            "cap_excluded_frac": round(1.0 - n_kept / n_pts, 5) if n_pts else None,
        }
        print(f"  geo {tag}: {report[tag]}", file=sys.stderr, flush=True)
    report["ratio"] = round(report["kx"]["t"] / report["1x"]["t"], 2)
    return report


def skew_join_aqe_probe(spark, queries, sf_dir: str) -> dict:
    """Verify AQE's skew-join split actually FIRES on the hot user's
    click x purchase block (round-8 verdict ask #6): run
    click_attribution on the skewed fixture and read the final adaptive
    plan for the OptimizeSkewedJoin marker (SortMergeJoin(skew=true)).

    Two regime knobs, both lowered — and restored — to reproduce the
    cluster-scale regime locally:
    - broadcast OFF: at probe scale Spark (correctly) broadcasts the
      purchase side, which absorbs the key skew map-side with no skewed
      exchange at all; at 100 TB neither stream fits a broadcast, the
      join is sort-merge, and THAT is the plan whose skew handling needs
      proving;
    - skew thresholds down: the defaults are sized for cluster shuffle
      partitions (256 MB); a local partition never reaches them. At
      100 TB the same shape crosses the defaults on its own."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # map-status sizes are COMPRESSED bytes, so local thresholds must
        # sit well under the raw-size intuition (the x8 hot user's ~20k
        # click rows compress to <256 KB); 64k/32k is the highest setting
        # at which the split demonstrably fires on the x8 fixture
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {c: spark.conf.get(c, None) for c in confs}
    try:
        for c, v in confs.items():
            spark.conf.set(c, v)
        # a scalar count on top keeps the driver-side result tiny while
        # executing THIS DataFrame's own QueryExecution, whose final
        # adaptive plan is then inspectable
        cnt = queries["click_attribution"](spark, sf_dir).agg(
            F.count(F.lit(1)).alias("n")
        )
        n_pairs = cnt.collect()[0]["n"]
        plan = cnt._jdf.queryExecution().executedPlan().toString()
        n_splits = plan.count("skew=true")
        return {
            "triggered": n_splits > 0,
            "skew_marked_joins": n_splits,
            "skewed_shuffle_reads": plan.count("AQEShuffleRead coalesced and skewed"),
            "n_pairs": n_pairs,
            "probe_thresholds": confs,
        }
    finally:
        for c, v in saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def semantic_assign_probe(spark, scaled: str) -> dict:
    """Assignment-cost decomposition for the SemDeDup family (round-10
    verdict ask #1): on the fanned fixture the centroid count crosses
    SEMDEDUP_FLAT_K_MAX, so `semantic_dedup` routes through the
    two-level coarse/fine argmax — this probe times BOTH assignment
    implementations over the same corpus so the ~sqrt(k) claim is a
    measured number, not a cost-model citation. (Assignment only: the
    pair join downstream is identical either way.)"""
    from op_etl_spark.operators import kmeans
    from op_etl_spark.suite import similarity as S

    e = S._emb(spark, scaled)
    cent = kmeans.label_means(e, "label", "emb", caller="semantic_assign_probe", scale=kmeans.TICK)
    en = e.withColumn("nrm", S._norm(F.col("emb"))).filter(F.col("nrm") > 0)
    k = len(cent)
    n_coarse = max(2, __import__("math").isqrt(k - 1) + 1)
    rep = {
        "k": k,
        "n_coarse": n_coarse,
        "flops_per_row_flat": k,
        # coarse scoring + two probed cells of ~k/n_coarse members each
        "flops_per_row_two_level": n_coarse + 2 * -(-k // n_coarse),
    }
    for tag, build in (
        ("flat", lambda: S._assign_flat(en, cent)),
        ("two_level", lambda: S._assign_two_level(en, cent)),
    ):
        build().write.format("noop").mode("overwrite").save()  # warm
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            best = min(best or 9e9, time.perf_counter() - t0)
        rep[f"{tag}_sec"] = round(best, 3)
    rep["speedup"] = round(rep["flat_sec"] / rep["two_level_sec"], 2)
    print(f"  semantic_assign: {rep}", file=sys.stderr, flush=True)
    return rep


UPSERT_BATCH_BUCKET = 0  # the single-bucket batch targets this bucket


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def upsert_probe(spark, base: str, skew1: str, skewk: str, k: int) -> dict:
    """Two measured claims about the CDC upsert that were previously
    asserted from the design (round-10 verdict asks #4/#7):

    1. touched-bucket economics — per-batch work is proportional to the
       buckets the batch touches, not to target size: merge the SAME
       row count into a fixed target as (a) a batch confined to one
       bucket and (b) a batch spread over all buckets, and compare
       seconds + bytes rewritten.
    2. bucket skew — a hot key (SKEW_HOT_USER carries ~20% of all event
       rows) does NOT grow its bucket directory unboundedly, because the
       target stores LATEST-WINS STATE (one row per key), so per-bucket
       bytes track distinct keys, not event history: build targets from
       the skewed fixtures at 1x and Kx and compare the hot key's bucket
       against the median bucket."""
    import tempfile
    import shutil

    from op_etl_spark.session import read_events
    from op_etl_spark.streaming.upsert import (
        BUCKET_COL,
        DEFAULT_BUCKETS,
        _bucket,
        merge_upsert_batch,
    )

    tmp = tempfile.mkdtemp(prefix="upsert_probe_")
    rep: dict = {}
    try:
        # --- 1: touched-bucket economics on the base corpus ---
        ev = (
            read_events(spark, base)
            .select("user_id", "event_id", "ts", "value")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        target = f"{tmp}/t0"
        merge_upsert_batch(ev, target, ["user_id"], "event_id")
        one = (
            ev.withColumn("__b", _bucket(["user_id"], DEFAULT_BUCKETS))
            .filter(F.col("__b") == UPSERT_BATCH_BUCKET)
            .drop("__b")
            .localCheckpoint()
        )
        n_rows = one.count()
        spread = ev.orderBy("event_id").limit(n_rows).localCheckpoint()
        econ = {"batch_rows": n_rows, "n_buckets": DEFAULT_BUCKETS,
                "target_rows": spark.read.parquet(target).count()}
        for tag, batch in (("one_bucket", one), ("all_buckets", spread)):
            tcopy = f"{tmp}/t_{tag}"
            shutil.copytree(target, tcopy)
            before = _dir_bytes(tcopy)
            touched = batch.withColumn(
                "__b", _bucket(["user_id"], DEFAULT_BUCKETS)
            ).select("__b").distinct().count()
            t0 = time.perf_counter()
            merge_upsert_batch(batch, tcopy, ["user_id"], "event_id")
            sec = round(time.perf_counter() - t0, 3)
            # dynamic overwrite replaces touched bucket dirs in place:
            # rewritten bytes ~ bytes now stored in touched buckets
            buckets = sorted(
                d for d in os.listdir(tcopy) if d.startswith(f"{BUCKET_COL}=")
            )
            bb = {b: _dir_bytes(os.path.join(tcopy, b)) for b in buckets}
            if tag == "one_bucket":
                rewritten = bb[f"{BUCKET_COL}={UPSERT_BATCH_BUCKET}"]
            else:
                rewritten = sum(bb.values())
            econ[tag] = {
                "touched_buckets": touched,
                "merge_sec": sec,
                "rewritten_bytes": rewritten,
                "target_bytes_before": before,
            }
        econ["bytes_ratio"] = round(
            econ["all_buckets"]["rewritten_bytes"]
            / max(econ["one_bucket"]["rewritten_bytes"], 1),
            2,
        )
        rep["touched_bucket_econ"] = econ
        print(f"  upsert econ: {econ}", file=sys.stderr, flush=True)

        # --- 2: hot-key bucket growth at 1x vs Kx ---
        skew = {}
        for tag, d in (("1x", skew1), ("kx", skewk)):
            ev_s = (
                read_events(spark, d)
                .select("user_id", "event_id", "ts", "value")
                .withColumn("ts", F.col("ts").cast("timestamp"))
            )
            t = f"{tmp}/skew_{tag}"
            # 4 sequential merges = a replayed change stream; the hot
            # user's updates hit its bucket every batch
            for part in range(4):
                merge_upsert_batch(
                    ev_s.filter(F.pmod(F.col("event_id"), F.lit(4)) == part),
                    t,
                    ["user_id"],
                    "event_id",
                )
            hot_bucket = spark.createDataFrame(
                [(SKEW_HOT_USER,)], "user_id long"
            ).select(_bucket(["user_id"], DEFAULT_BUCKETS).alias("b")).collect()[0]["b"]
            sizes = sorted(
                _dir_bytes(os.path.join(t, dd))
                for dd in os.listdir(t)
                if dd.startswith(f"{BUCKET_COL}=")
            )
            med = sizes[len(sizes) // 2]
            hot = _dir_bytes(os.path.join(t, f"{BUCKET_COL}={hot_bucket}"))
            skew[tag] = {
                "hot_bucket_bytes": hot,
                "median_bucket_bytes": med,
                "hot_over_median": round(hot / max(med, 1), 2),
                "n_buckets_present": len(sizes),
            }
            print(f"  upsert skew {tag}: {skew[tag]}", file=sys.stderr, flush=True)
        skew["verdict"] = (
            "latest-wins state bounds the hot bucket: stored bytes track "
            "distinct keys per bucket (pmod-uniform), not the hot key's "
            f"event history — hot/median {skew['1x']['hot_over_median']} at 1x "
            f"vs {skew['kx']['hot_over_median']} at {k}x"
        )
        rep["hot_key_bucket"] = skew
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return rep


def grade(median_ratio: float, k: int) -> str:
    if median_ratio > k:
        return "SUPERLINEAR"
    if median_ratio > k / 2:
        return "linear"
    return "sublinear"


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    family = sys.argv[3] if len(sys.argv) > 3 else "main"
    names = {
        "pairs": PAIR_QUERIES,
        "sketches": SKETCH_QUERIES,
        "skew": SKEW_QUERIES,
        "attribution": ATTRIBUTION_QUERIES,
    }.get(family, MAIN_QUERIES)
    # Optional 5th arg: comma-separated query names — probe a SUBSET of the
    # family at a deeper K than the family's default without paying for the
    # whole list (e.g. the token_counts K=32 follow-up on the main family's
    # K=8 outlier). Materialization still follows the family's fan rules.
    if len(sys.argv) > 4:
        only = set(sys.argv[4].split(","))
        unknown = only - set(names)
        if unknown:
            raise SystemExit(f"not in {family} family: {sorted(unknown)}")
        names = [n for n in names if n in only]
    scaled = f"/tmp/scale_probe_{family}_x{k}"

    from op_etl_spark.session import get_spark
    from op_etl_spark import suite

    spark = get_spark("scale-probe")
    if family == "upsert":
        skew_base = "/tmp/scale_probe_skew_x1"
        materialize_skewed(spark, base, skew_base, 1)
        materialize_skewed(spark, base, scaled.replace("upsert", "skew"), k)
        report = {
            "k": k,
            "base": base,
            "family": "upsert",
            **upsert_probe(
                spark, base, skew_base, scaled.replace("upsert", "skew"), k
            ),
        }
        print(json.dumps(report))
        out_path = os.environ.get(
            "SCALE_PROBE_OUT", f"/tmp/scale_probe_{family}_x{k}.json"
        )
        with open(out_path, "w") as f:
            f.write(json.dumps(report) + "\n")
        return
    if family == "skew":
        # both probe points carry the same injected skew; only volume grows
        skew_base = "/tmp/scale_probe_skew_x1"
        materialize_skewed(spark, base, skew_base, 1)
        materialize_skewed(spark, base, scaled, k)
        base = skew_base
    else:
        materialize_scaled(spark, base, scaled, k, family)
    if family == "geo":
        geo = geo_probe(spark, base, scaled, k)
        report = {
            "k": k,
            "base": base,
            "family": "geo",
            "grid_distance_pairs_const_density": geo,
            "verdict": grade(geo["ratio"], k),
        }
        print(json.dumps(report))
        out_path = os.environ.get(
            "SCALE_PROBE_OUT", f"/tmp/scale_probe_{family}_x{k}.json"
        )
        with open(out_path, "w") as f:
            f.write(json.dumps(report) + "\n")
        return
    queries = suite.all_queries()

    with_counters = family in ("pairs", "skew", "attribution")
    t1, c1 = time_queries(spark, queries, names, base, with_counters)
    tk, ck = time_queries(spark, queries, names, scaled, with_counters)

    def _econ(snap: dict) -> dict | None:
        """candidate:output economics from a counter snapshot — the number
        that separates 'the operator's candidate generation degraded'
        from 'the corpus has more duplicates, so the output grew'."""
        cand = next(
            (
                snap[s]
                for s in ("candidates", "capped_candidates")
                if s in snap
            ),
            None,
        )
        out = next((snap[s] for s in ("output", "capped_out") if s in snap), None)
        if cand is None or out is None:
            return None
        return {
            "candidates": cand,
            "output": out,
            "cand_per_output": round(cand / out, 2) if out else None,
        }

    def _q(name):
        row = {
            "t_1x": t1[name],
            "t_kx": tk[name],
            "ratio": round(tk[name] / t1[name], 2) if t1[name] else None,
        }
        if with_counters and c1.get(name):
            row["counters_1x"] = c1[name]
            row["counters_kx"] = ck.get(name, {})
            e1, ek = _econ(c1[name]), _econ(ck.get(name, {}))
            if e1 and ek:
                row["econ_1x"] = e1
                row["econ_kx"] = ek
                # output-normalized growth: how much of the time ratio is
                # explained by the output itself growing with dup density
                if e1["output"]:
                    row["output_growth"] = round(ek["output"] / e1["output"], 2)
                if e1["candidates"]:
                    row["candidate_growth"] = round(
                        ek["candidates"] / e1["candidates"], 2
                    )
            # iterative-graph round economics: time ratio = rounds ratio x
            # per-round cost ratio; naming which factor carries the curve
            # is what separates "the fanned graph is deeper" (fixture
            # property) from "a round got more expensive than its data"
            l1 = c1[name].get("loops")
            lk = ck.get(name, {}).get("loops")
            if l1 and lk:
                r1 = sum(l.get("rounds", 0) for l in l1)
                rk2 = sum(l.get("rounds", 0) for l in lk)
                row["rounds_1x"], row["rounds_kx"] = r1, rk2
                if r1 and rk2 and row["ratio"]:
                    rr = round(rk2 / r1, 2)
                    pr = round((tk[name] / rk2) / (t1[name] / r1), 2)
                    row["rounds_growth"] = rr
                    row["per_round_cost_ratio"] = pr
                    if all(l.get("fixed_rounds") for l in l1):
                        row["rounds_verdict"] = (
                            f"fixed {r1} rounds: the {row['ratio']}x time "
                            f"ratio is pure per-round cost at {k}x data"
                        )
                    elif row["ratio"] <= 1.2:
                        row["rounds_verdict"] = (
                            f"rounds {r1}->{rk2} ({rr}x) x per-round cost "
                            f"{pr}x = {row['ratio']}x; flat at {k}x data - "
                            "neither factor degrades"
                        )
                    else:
                        lead = (
                            "round count carries the curve"
                            if rr >= pr
                            else "per-round cost carries the curve"
                        )
                        row["rounds_verdict"] = (
                            f"rounds {r1}->{rk2} ({rr}x) x per-round cost "
                            f"{pr}x = {row['ratio']}x; {lead}"
                        )
                # a loop that exits at max_rounds without a no-change
                # round is capped, not converged — say so, or rounds_kx
                # reads as a convergence depth (r8 ADVICE)
                if any(l.get("converged") is False for l in l1 + lk):
                    row["rounds_verdict"] = (
                        "CAPPED UNCONVERGED at max_rounds (rounds are a "
                        "floor, not a convergence depth); "
                        + row.get("rounds_verdict", "")
                    )
        return row

    report = {
        "k": k,
        "base": base,
        "family": family,
        "queries": {name: _q(name) for name in names},
    }
    ratios = [v["ratio"] for v in report["queries"].values() if v["ratio"]]
    report["median_ratio"] = sorted(ratios)[len(ratios) // 2]
    report["max_ratio"] = max(ratios)
    report["verdict"] = grade(report["median_ratio"], k)
    if family == "attribution":
        # pairs-per-user at both scales: the number that names the regime
        for tag, d in (("1x", base), ("kx", scaled)):
            st = (
                queries["click_attribution"](spark, d)
                .agg(
                    F.count(F.lit(1)).alias("pairs"),
                    F.countDistinct("user_id").alias("users"),
                )
                .collect()[0]
            )
            report[f"pairs_per_user_{tag}"] = round(
                st["pairs"] / max(st["users"], 1), 2
            )
        report["regime"] = (
            "DENSIFICATION (declared): the fan shifts event_id but not "
            f"user_id, so per-user event density grows {k}x and the "
            f"same-user interval-join candidate space grows ~{k}^2 while "
            f"the corpus grows {k}x — the sf1 rehearsal's regime; the "
            "counters above separate that fixture-made candidate growth "
            "from operator behavior (see DEPLOYMENT.md rehearsal notes)"
        )
    if family == "skew" and "click_attribution" in names:
        report["skew_join_aqe"] = skew_join_aqe_probe(spark, queries, scaled)
    if family == "pairs" and "semantic_dedup" in names:
        report["semantic_assign"] = semantic_assign_probe(spark, scaled)
    print(json.dumps(report))
    # stdout shares a pipe with Spark's \r progress bars under 2>&1 —
    # always leave a clean copy on disk too
    out_path = os.environ.get("SCALE_PROBE_OUT", f"/tmp/scale_probe_{family}_x{k}.json")
    with open(out_path, "w") as f:
        f.write(json.dumps(report) + "\n")


if __name__ == "__main__":
    main()
