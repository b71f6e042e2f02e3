"""Near-duplicate CLUSTERING: connected components over the candidate-pair
graph, assigning every document a canonical cluster id (the minimum doc_id
reachable through near-dup edges).

Pair generation alone (dedup.py) is not enough for a real dedup pipeline:
if A~B and B~C, all three must land in ONE cluster even when A~C was never
emitted as a pair — that transitivity is exactly connected components, and
"keep one doc per component" is the standard corpus-dedup step (the same
shape the reference's stem-dedup applies per file-stem group,
stage_files.py:280-295, lifted from per-group distinct to a graph closure).

Spark-side: min-label propagation WITH POINTER DOUBLING to a fixpoint.
Each round is (a) one join of labels onto the symmetric edge list + one
min-aggregate (one-hop propagation), then (b) one self-join of the label
table composing label with label-of-label (the classic parallel
pointer-jumping shortcut) — so label information crosses 2^r hops after r
rounds and convergence needs O(log diameter) rounds, not O(diameter).
The 32x scale probe motivated this: the plain Pregel loop's round count
grew with chain length (10.25x at 32x data, the steepest passing curve);
doubling makes round count logarithmic while each round stays the same
two-three shuffles over |edges| + |labels|. `localCheckpoint` truncates
the growing lineage each round. Convergence is detected with a single
scalar aggregate (labels only ever decrease, so the label-sum is a
monotone potential — when it stops falling, the assignment is a
fixpoint; no row-level diff join needed), and the rounds used are logged
(tests/test_cc_pointer_doubling.py pins a 256-chain to <= 12 rounds).

Oracle-side: DuckDB WITH RECURSIVE reachability + min-per-node — tractable
because near-dup components are tiny (bounded by LSH bucket sizes), which
is also what keeps the Spark fixpoint loop short.

Edges: document pairs sharing >= 6 distinct word trigrams (the same
inverted-index posting-pair plan as dedup.ngram_jaccard_pairs — one corpus
scan, two shuffles, no self-join; the count threshold replaces the jaccard
ratio so the recursive oracle stays simple).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ._util import read_table
from .dedup import (
    DF_CAP,
    INC_MOD,
    INC_REMAINDER,
    _DUCK_SHINGLES,
    _docs,
    _hashed_shingle_arrays,
    _posting_pairs,
)

MIN_COMMON_TRIGRAMS = 6
MAX_ROUNDS = 15


def _pairs(
    spark: SparkSession, sf_dir: str, min_common: int = MIN_COMMON_TRIGRAMS
) -> DataFrame:
    """Canonical (a < b) near-dup pairs, DF-capped.

    Shingles above DF_CAP are dropped before pair expansion — the same
    bounded-pair-cost contract as ngram_jaccard_pairs_capped (the scale
    probe measured the uncapped expansion quadratic in shingle DF); the
    oracle applies the identical cap. Since near-dup pairs share many
    LOW-frequency shingles, the >= MIN_COMMON_TRIGRAMS edge test is
    insensitive to losing ubiquitous ones."""
    arrs = _hashed_shingle_arrays(_docs(spark, sf_dir))
    sh = arrs.select(
        F.struct(F.col("doc_id")).alias("m"),
        F.explode("shingles").alias("shingle"),
    )
    posts = (
        sh.groupBy("shingle")
        .agg(F.collect_list("m").alias("m"))
        .filter((F.size("m") >= 2) & (F.size("m") <= DF_CAP))
    )
    return (
        _posting_pairs(posts)
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
        .select("a", "b")
    )


def _symmetrize(pairs: DataFrame) -> DataFrame:
    # single owner of the canonical->symmetric expansion: the production
    # graph module (operators/graph.py); deferred import, same reason as
    # kcore_fixpoint's
    from ..operators.graph import symmetrize

    return symmetrize(pairs)


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric near-dup edge list (src, dst), both directions."""
    return _symmetrize(_pairs(spark, sf_dir))


def cc_fixpoint(nodes: DataFrame, edges: DataFrame, max_rounds: int = MAX_ROUNDS):
    """Connected components: (doc_id, label=min reachable id), plus the
    round count. `nodes` must have a doc_id column; `edges` a symmetric
    (src, dst) list whose endpoints all appear in `nodes`.

    Round body = one-hop min propagation (join + min-agg) followed by
    pointer doubling: label <- min(label, label(label)). The doubling
    join always matches (every label value is itself a node id), and the
    invariant label(x) <= x makes the label-sum a monotone potential for
    the scalar convergence check. Reachable-set argument: label(x) is
    always an id in x's component, so composing labels never escapes the
    component and the fixpoint is exactly the component minimum."""
    import logging

    from pyspark.sql import Observation

    from ..operators import counters

    # the label-sum convergence scalar rides each round's own
    # materialization (Observation on the eager localCheckpoint action) —
    # one distributed job per round instead of checkpoint + separate
    # sum-collect; same fusion as the graph peels' _round. The
    # CollectMetrics node lives only in the materialized round plan:
    # localCheckpoint replaces the lineage with a LogicalRDD leaf, so
    # downstream (and returned) plans carry no observation node.
    obs0 = Observation()
    labels = (
        nodes.select("doc_id", F.col("doc_id").alias("label"))
        .observe(obs0, F.sum("label").alias("s"))
        .localCheckpoint()
    )
    prev_sum = obs0.get["s"] or 0
    rounds = 0
    # the label-sum potential per round — the scalar the convergence check
    # already collects; recorded (probe-only) so the scale report can tell
    # deeper-graph round growth from degraded per-round cost
    potential_curve = [prev_sum]
    # exiting at max_rounds without a no-change round is NOT convergence;
    # the flag travels with the probe record so rounds_kx == max_rounds
    # reads as "capped, unconverged", never "converged in max_rounds"
    converged = False
    for _ in range(max_rounds):
        rounds += 1
        msgs = edges.join(labels, edges.src == labels.doc_id).select(
            F.col("dst").alias("doc_id"), "label"
        )
        hop = (
            labels.unionAll(msgs)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
        par = hop.select(F.col("doc_id").alias("label"), F.col("label").alias("gl"))
        obs = Observation()
        labels = (
            hop.join(par, "label")
            .select("doc_id", F.least("label", "gl").alias("label"))
            .observe(obs, F.sum("label").alias("s"))
            .localCheckpoint()
        )
        new_sum = obs.get["s"] or 0
        potential_curve.append(new_sum)
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    logging.getLogger(__name__).info(
        "cc_fixpoint %s in %d rounds",
        "converged" if converged else "CAPPED UNCONVERGED",
        rounds,
    )
    counters.record_loop(
        "cc", rounds=rounds, converged=converged, potential=potential_curve
    )
    return labels, rounds


def dedup_cc_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every document: cluster_id = min doc_id in
    the document's connected component (singletons map to themselves)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    edges = _edges(spark, sf_dir).localCheckpoint()
    labels, _ = cc_fixpoint(docs, edges)
    # no final orderBy: the output is corpus-sized and the oracle compare
    # is row-order-insensitive — a global sort here would be a pure
    # single-reducer tax at scale
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


ORACLE_CC_ASSIGN = f"""
WITH RECURSIVE sh AS ({_DUCK_SHINGLES}),
capped AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {DF_CAP}),
e0 AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN capped c ON c.shingle = a.shingle
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_COMMON_TRIGRAMS}),
edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
comp(id, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT c.id, e.b FROM comp c JOIN edges e ON e.a = c.m
)
SELECT id AS doc_id, min(m) AS cluster_id
FROM comp GROUP BY id ORDER BY doc_id
"""


def incremental_cc_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components: yesterday's corpus labels plus
    today's delta, WITHOUT re-propagating the old graph.

    The standard union-find insight, distributed: a converged label
    assignment IS a star forest (every node points at its component
    minimum), so the prior state enters the fixpoint as |old_docs|
    doc->label star edges — diameter 2 — instead of the full old edge
    set, and the new fixpoint touches propagation work proportional to
    the DELTA, converging in O(log) rounds over stars + delta edges.
    The delta is every capped near-dup pair incident to a NEW doc (the
    same batch split as `incremental_lsh_dedup`; generating those pairs
    against a PERSISTED corpus without reshuffling it is demonstrated
    there — here the subject is the label propagation).

    The correctness claim is the strongest available: the incremental
    result must equal the from-scratch batch recompute BIT FOR BIT — the
    oracle is literally ORACLE_CC_ASSIGN, the batch CC oracle."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    is_new = F.col("doc_id") % INC_MOD == INC_REMAINDER
    pairs = _pairs(spark, sf_dir).localCheckpoint()
    a_new = F.col("a") % INC_MOD == INC_REMAINDER
    b_new = F.col("b") % INC_MOD == INC_REMAINDER

    # "persisted" prior state: labels over the old slice and its edges
    old_docs = docs.filter(~is_new)
    old_labels, _ = cc_fixpoint(old_docs, _symmetrize(pairs.filter(~a_new & ~b_new)))
    star = old_labels.filter(F.col("doc_id") != F.col("label"))
    star_pairs = star.select(F.col("doc_id").alias("a"), F.col("label").alias("b"))

    delta = pairs.filter(a_new | b_new)
    labels, _ = cc_fixpoint(
        docs, _symmetrize(star_pairs.unionAll(delta)).localCheckpoint()
    )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dedup_cc_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup decision itself: one canonical survivor per cluster (the
    min doc_id) with the number of near-dup documents it absorbs. The
    'drop' set is everything assign() maps to a different cluster_id —
    this query materializes the keep-list a training pipeline would
    semi-join against the corpus. Derived from the same fixpoint labels;
    one extra aggregate on the (tiny) assignment table."""
    assign = dedup_cc_assign(spark, sf_dir)
    return (
        assign.groupBy(F.col("cluster_id").alias("survivor_doc_id"))
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .filter(F.col("cluster_size") >= 2)
    )


ORACLE_CC_SURVIVORS = f"""
WITH RECURSIVE sh AS ({_DUCK_SHINGLES}),
capped AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {DF_CAP}),
e0 AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN capped c ON c.shingle = a.shingle
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_COMMON_TRIGRAMS}),
edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
comp(id, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT c.id, e.b FROM comp c JOIN edges e ON e.a = c.m
),
assign AS (SELECT id AS doc_id, min(m) AS cluster_id FROM comp GROUP BY id)
SELECT cluster_id AS survivor_doc_id, count(*) AS cluster_size
FROM assign GROUP BY 1 HAVING count(*) >= 2 ORDER BY survivor_doc_id
"""


def dedup_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: per near-dup cluster keep the
    HIGHEST-QUALITY document (type-token ratio, the same signal as
    text.quality_scores), not the arbitrary min-id — what a real corpus
    dedup does, since near-dups often differ by boilerplate or
    truncation and the keep-list should prefer the cleanest copy.
    One `max_by` over a composite (ttr, -doc_id) key — deterministic
    because doc_id is unique — on the cluster-id aggregate; cost is one
    join of the (tiny) assignment table onto per-doc scores plus one
    map-side-combinable aggregate."""
    from ._util import fround

    assign = dedup_cc_assign(spark, sf_dir)
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    q = d.select(
        "doc_id",
        fround(F.size(F.array_distinct(toks)) / F.size(toks), 4).alias("ttr"),
    )
    best = F.max_by(
        F.struct(F.col("doc_id"), F.col("ttr")),
        F.struct(F.col("ttr"), (-F.col("doc_id")).alias("neg")),
    )
    return (
        assign.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"), best.alias("s"))
        .filter(F.col("cluster_size") >= 2)
        .select(
            "cluster_id",
            F.col("s.doc_id").alias("survivor_doc_id"),
            "cluster_size",
            F.col("s.ttr").alias("survivor_ttr"),
        )
    )


ORACLE_QUALITY_SURVIVORS = f"""
WITH RECURSIVE sh AS ({_DUCK_SHINGLES}),
capped AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {DF_CAP}),
e0 AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN capped c ON c.shingle = a.shingle
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_COMMON_TRIGRAMS}),
edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
comp(id, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT c.id, e.b FROM comp c JOIN edges e ON e.a = c.m
),
assign AS (SELECT id AS doc_id, min(m) AS cluster_id FROM comp GROUP BY id),
q AS (
  SELECT doc_id,
         floor((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' '))::DOUBLE) * 10000 + 0.5) / 10000.0 AS ttr
  FROM documents),
r AS (
  SELECT a.cluster_id, a.doc_id, q.ttr,
         row_number() OVER (PARTITION BY a.cluster_id
                            ORDER BY q.ttr DESC, a.doc_id) AS rn,
         count(*) OVER (PARTITION BY a.cluster_id) AS cs
  FROM assign a JOIN q ON q.doc_id = a.doc_id)
SELECT cluster_id, doc_id AS survivor_doc_id,
       CAST(cs AS BIGINT) AS cluster_size, ttr AS survivor_ttr
FROM r WHERE rn = 1 AND cs >= 2
"""


# --- deterministic integer PageRank over the near-dup graph ---

PR_ITER = 3
PR_SCALE = 1_000_000  # rank unit: micro-ranks
PR_BASE = 150_000     # (1 - d) * SCALE with damping d = 0.85


def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority score for survivor selection: 3 damped power-iteration
    rounds over the symmetric near-dup graph, ENTIRELY in int64
    micro-ranks — each contribution is (r * 85) div (100 * deg), integer
    floor division, so per-node sums are order-independent and the result
    is bit-identical on any engine or partitioning (fp PageRank differs
    in the last ulps between engines; integer PageRank doesn't).

    Per round: one join of ranks onto edges (shuffle on doc_id — the
    SAME key every round, so a real deployment co-partitions edges and
    ranks once and the join is shuffle-free), one map-side-combinable
    sum. Fixed iteration count (not convergence detection) keeps the
    oracle expressible as unrolled SQL. Each round's rank table carries
    the full node set forward (left join of ranks onto the round's sums)
    and is localCheckpoint-ed, so documents is scanned ONCE for the
    initial ranks — the unrolled-lineage version re-scanned it every
    round (plan_audit's TableRescan axis caught it)."""
    from ..operators import counters

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    edges = _edges(spark, sf_dir).localCheckpoint()
    # fixed-iteration power method: rounds never vary, so a scale ratio on
    # this query is pure per-round cost — record that fact (probe-only)
    counters.record_loop("pagerank", rounds=PR_ITER, fixed_rounds=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = docs.select(
        "doc_id", F.lit(PR_SCALE).cast("long").alias("r")
    ).localCheckpoint()
    for _ in range(PR_ITER):
        contrib = (
            edges.join(ranks, edges.src == ranks.doc_id)
            .join(deg, "src")
            .select(
                F.col("dst").alias("doc_id"),
                F.expr(f"(r * 85) div (100 * deg)").cast("long").alias("c"),
            )
        )
        sums = contrib.groupBy("doc_id").agg(F.sum("c").alias("s"))
        ranks = (
            ranks.join(sums, "doc_id", "left")
            .select(
                "doc_id",
                (F.lit(PR_BASE) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select("doc_id", F.col("r").alias("microrank"))


def _pr_oracle() -> str:
    iters = []
    for i in range(PR_ITER):
        prev = f"r{i}"
        iters.append(f"""
c{i + 1} AS (
  SELECT e.b AS doc_id,
         sum((r.r * 85) // (100 * g.deg)) AS s
  FROM edges e
  JOIN {prev} r ON e.a = r.doc_id
  JOIN deg g ON g.doc_id = e.a
  GROUP BY e.b),
r{i + 1} AS (
  SELECT d.doc_id, CAST({PR_BASE} + coalesce(c{i + 1}.s, 0) AS BIGINT) AS r
  FROM documents d LEFT JOIN c{i + 1} USING (doc_id))""")
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
capped AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {DF_CAP}),
e0 AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN capped c ON c.shingle = a.shingle
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_COMMON_TRIGRAMS}),
edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
deg AS (SELECT a AS doc_id, count(*) AS deg FROM edges GROUP BY 1),
r0 AS (SELECT doc_id, CAST({PR_SCALE} AS BIGINT) AS r FROM documents),{",".join(iters)}
SELECT doc_id, r AS microrank FROM r{PR_ITER}
"""


ORACLE_PAGERANK = _pr_oracle()


def neardup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup candidate graph: edge/wedge/triangle
    counts and the global clustering coefficient — the standard structural
    check on a dedup graph (near-dup components should be triangle-dense
    cliques; a low coefficient means the LSH threshold is admitting chains
    of false positives that CC will then glue into mega-clusters).

    Algorithm: degree-ordered edge orientation (u -> v iff (deg(u), u) <
    (deg(v), v)), then count wedges at each apex and close them against
    the undirected edge set — the classic O(m^(3/2)) bound (Schank &
    Wagner 2005): every triangle has exactly ONE apex with two outgoing
    edges in the orientation DAG, so each is counted exactly once, and no
    vertex fans out more than O(sqrt(m)) oriented edges. Plan shape: the
    capped pair builder (same bounded contract as dedup_cc_assign), one
    degree aggregate, a self-join on the apex, and an equi-join back to
    the edge list — no unoriented neighborhood explosion. The clustering
    coefficient 3T/wedges is computed in pure integer arithmetic
    ((60000*T + W) DIV (2*W) — round-half-up basis points), so the gate
    has zero float surface."""
    pairs = _pairs(spark, sf_dir).localCheckpoint()  # (a < b), unique
    deg = (
        _symmetrize(pairs)
        .groupBy(F.col("src").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        pairs.join(deg.withColumnRenamed("doc_id", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("doc_id", "b").withColumnRenamed("deg", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    o2 = oriented.select(F.col("u"), F.col("v").alias("w"))
    wedges = oriented.join(o2, "u").filter(F.col("v") < F.col("w"))
    tri = wedges.join(
        pairs, (wedges.v == pairs.a) & (wedges.w == pairs.b)
    ).agg(F.count(F.lit(1)).alias("t"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("long").alias("w"),
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            F.col("w").alias("n_wedges"),
            F.col("t").alias("n_triangles"),
            F.when(F.col("w") == 0, F.lit(0).cast("long"))
            .otherwise(F.expr("(60000 * t + w) DIV (2 * w)"))
            .alias("global_cc_bp"),
        )
    )


ORACLE_TRIANGLES = f"""
WITH sh AS ({_DUCK_SHINGLES}),
capped AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {DF_CAP}),
e0 AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN capped c ON c.shingle = a.shingle
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_COMMON_TRIGRAMS}),
edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
deg AS (SELECT a AS doc_id, count(*) AS deg FROM edges GROUP BY 1),
o AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
              THEN e0.a ELSE e0.b END AS u,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
              THEN e0.b ELSE e0.a END AS v
  FROM e0
  JOIN deg da ON da.doc_id = e0.a
  JOIN deg db ON db.doc_id = e0.b),
w AS (SELECT o1.u, o1.v AS x, o2.v AS y
      FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v),
tri AS (
  SELECT count(*) AS t FROM w JOIN e0 ON e0.a = w.x AND e0.b = w.y),
st AS (
  SELECT (SELECT count(*) FROM deg) AS n_nodes,
         (SELECT count(*) FROM e0) AS n_edges,
         (SELECT sum(deg * (deg - 1)) // 2 FROM deg) AS wdg,
         (SELECT t FROM tri) AS t)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(wdg AS BIGINT) AS n_wedges,
       CAST(t AS BIGINT) AS n_triangles,
       CAST(CASE WHEN wdg = 0 THEN 0
                 ELSE (60000 * t + wdg) // (2 * wdg) END AS BIGINT) AS global_cc_bp
FROM st
"""


# --- k-core decomposition: density peeling of the near-dup graph ---

KCORE_K = 4
KCORE_MIN_COMMON = 2  # denser edge rule than CC's >= 6 (k-core needs degree)
# Matches KCORE_PROFILE_ROUNDS: peel depth grows with chain length in the
# data (nested k=5 needed 19+1 rounds at sf0.001), so the direct peel must
# afford at least as many rounds as the profile; extra rounds are no-ops
# and the unrolled oracle cost is linear in rounds.
KCORE_MAX_ROUNDS = 24


def kcore_fixpoint(edges: DataFrame, k: int, max_rounds: int = KCORE_MAX_ROUNDS):
    """Iterative k-core peeling (Matula & Beck 1983, distributed): each
    round drops every node of degree < k and every edge touching one,
    until no node is dropped; what survives is exactly the k-core (the
    maximal subgraph with min degree >= k).

    The algorithm lives in operators/graph.py (the production build/peel
    API over a persisted edge table — same split as operators/ann_index);
    this suite wrapper only pins the round budget that the unrolled
    DuckDB oracle replicates exactly, so silent divergence is impossible.
    `edges` must be the SYMMETRIC (src, dst) list; returns (surviving
    symmetric edges, rounds) and raises past `max_rounds`."""
    from ..operators.graph import kcore

    return kcore(edges, k, max_rounds=max_rounds)


def kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, core_degree) for every document in the 4-core of the
    near-dup graph (edges: pairs sharing >= 2 capped word trigrams — the
    same bounded posting-pair plan as the CC family, with a denser edge
    rule so cores exist to find).

    Why in a dedup pipeline: connected components over-merge through
    chains (A~B~C links A to C on no shared evidence); the k-core is the
    standard density refinement — its members participate in >= k
    near-dup relations INSIDE the surviving subgraph, i.e. the template /
    boilerplate heart of a duplicate cluster rather than its halo. At
    100 TB every round's exchange is proportional to the removed-vertex
    FRONTIER (incremental degree maintenance, operators/graph._PeelState);
    round count is bounded and asserted. Membership comes straight off
    the peel's maintained degree table — no final edge re-aggregate."""
    from ..operators.graph import kcore_degrees

    edges = _symmetrize(_pairs(spark, sf_dir, min_common=KCORE_MIN_COMMON))
    members, _ = kcore_degrees(edges, KCORE_K, max_rounds=KCORE_MAX_ROUNDS)
    return members.select(F.col("node").alias("doc_id"), "core_degree")


def _kcore_oracle() -> str:
    """Unrolled peeling: e{i+1} = e{i} restricted to endpoints of degree
    >= k in e{i}. KCORE_MAX_ROUNDS rounds — more than the measured
    fixpoint depth at every test scale; extra rounds are no-ops (peeling
    is monotone), and the Spark side RAISES if it ever needs more."""
    parts = [
        f"""p0 AS MATERIALIZED (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN capped c ON c.shingle = a.shingle
  GROUP BY 1, 2
  HAVING count(*) >= {KCORE_MIN_COMMON}),
e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM p0
       UNION ALL SELECT b AS src, a AS dst FROM p0)"""
    ]
    # every e{i} is referenced twice (k{i} and e{i+1}): without explicit
    # materialization the inlined expansion is EXPONENTIAL in rounds
    for i in range(KCORE_MAX_ROUNDS):
        parts.append(f"""k{i} AS MATERIALIZED (
  SELECT src FROM e{i} GROUP BY src HAVING count(*) >= {KCORE_K}),
e{i + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{i} e
  JOIN k{i} s ON e.src = s.src
  JOIN k{i} t ON e.dst = t.src)""")
    return ",\n".join(parts)


ORACLE_KCORE = f"""
WITH sh AS ({_DUCK_SHINGLES}),
capped AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {DF_CAP}),
{_kcore_oracle()}
SELECT src AS doc_id, count(*) AS core_degree
FROM e{KCORE_MAX_ROUNDS}
GROUP BY 1
"""


# --- degeneracy profile: nested k-core decomposition histogram ---

KCORE_PROFILE_KS = (2, 3, 4, 5)
KCORE_PROFILE_ROUNDS = 24  # per-k oracle unroll (nested k=5 needs 19+1 at sf0.001); Spark raises past it


def kcore_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, n_nodes, n_edges) for the k-core at k = 2..5 — the graph's
    degeneracy profile: how fast the near-dup graph evaporates under
    density pressure is the one-line summary of whether its clusters are
    chains (core sizes collapse immediately) or templates (a hard core
    persists). Exploits core NESTING: the k-core of the (k-1)-core IS
    the k-core of the whole graph, so the whole ramp runs as ONE
    continuous incremental peel (operators/graph.kcore_profile_counts):
    level k+1 starts from the k-core's degree table, and per-level
    node/edge counts come off that node-sized table instead of a
    distinct+count over reconstructed edges."""
    from ..operators.graph import kcore_profile_counts

    edges = _symmetrize(_pairs(spark, sf_dir, min_common=KCORE_MIN_COMMON))
    rows = kcore_profile_counts(edges, KCORE_PROFILE_KS,
                                max_rounds=KCORE_PROFILE_ROUNDS)
    return local_frame(spark, rows, "k int, n_nodes long, n_edges long")


def _kcore_profile_oracle() -> str:
    parts = [
        f"""q0e0 AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM p0 UNION ALL SELECT b, a FROM p0)"""
    ]
    selects = []
    prev_final = "q0e0"
    for qi, k in enumerate(KCORE_PROFILE_KS, start=1):
        src = prev_final
        for i in range(KCORE_PROFILE_ROUNDS):
            parts.append(f"""q{qi}k{i} AS MATERIALIZED (
  SELECT src FROM {src} GROUP BY src HAVING count(*) >= {k}),
q{qi}e{i + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {src} e
  JOIN q{qi}k{i} s ON e.src = s.src
  JOIN q{qi}k{i} t ON e.dst = t.src)""")
            src = f"q{qi}e{i + 1}"
        prev_final = src
        selects.append(
            f"SELECT {k} AS k, count(DISTINCT src) AS n_nodes,"
            f" count(*) // 2 AS n_edges FROM {src}"
        )
    return ",\n".join(parts) + "\n" + " UNION ALL ".join(selects)


ORACLE_KCORE_PROFILE = f"""
WITH sh AS ({_DUCK_SHINGLES}),
capped AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {DF_CAP}),
p0 AS MATERIALIZED (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN capped c ON c.shingle = a.shingle
  GROUP BY 1, 2
  HAVING count(*) >= {KCORE_MIN_COMMON}),
{_kcore_profile_oracle()}
"""


# --- k-truss: triangle-support peeling (edge analogue of k-core) ---

KTRUSS_K = 4
KTRUSS_MAX_ROUNDS = 48


def ktruss_fixpoint(pairs: DataFrame, k: int, max_rounds: int = KTRUSS_MAX_ROUNDS):
    """Iterative k-truss peeling (Cohen 2008): drop every edge whose
    triangle SUPPORT (common neighbors of its endpoints inside the
    surviving subgraph) is < k-2, until stable. Strictly stronger than
    the k-core: a long chain or a hub star survives degree peeling but
    has zero triangles — the truss keeps only edges embedded in locally
    dense (template/boilerplate) structure.

    `pairs` must be canonical (a < b). Round body (round 10, incremental
    support maintenance — operators/graph._TrussState): filter the
    maintained support table for the frontier, enumerate triangles
    through the REMOVED edges only (wedge join proportional to
    frontier-incident wedges, frontier broadcast when small), and
    decrement the surviving side edges — the k-core _PeelState idea
    applied to edges, replacing the old full wedge-closure recount every
    round. Convergence = scalar frontier count, bounded by `max_rounds`
    and raised past it — the oracle unrolls exactly that many rounds.
    Returns (surviving canonical edges, rounds).

    Algorithm body in operators/graph.py (see kcore_fixpoint note)."""
    from ..operators.graph import ktruss

    return ktruss(pairs, k, max_rounds=max_rounds)


def ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b, support) for every edge of the 4-truss of the near-dup
    graph (same >= 2 common-capped-trigram edges as kcore_members): each
    surviving edge closes >= 2 triangles inside the truss — the
    template-family extractor that discards chain links and hub spokes
    the k-core keeps.

    In the bench headline and the 32x probe since round 10: the old
    exclusion argument — peel-round COUNT is a graph-shape property (39
    rounds on the sf0.1 graph, 2 at sf0.01), so wall-clock conflates
    depth with per-round cost — is resolved by the loop counters, which
    decompose the probe ratio into rounds_growth x per_round_cost_ratio
    (the fan replicates structure, so depth holds while volume grows).

    The output support column comes straight from the peel's MAINTAINED
    table (round 11): the incremental peel keeps sup(e) exact at every
    step, so the old final truss_support recount (symmetrize +
    wedge-closure double-join over all survivors) was pure redundant
    work — k=4 means every survivor carries support >= 2, where the
    maintained table and a fresh recount are row-for-row identical."""
    from ..operators.graph import ktruss_with_support

    sup, _ = ktruss_with_support(
        _pairs(spark, sf_dir, min_common=KCORE_MIN_COMMON), KTRUSS_K
    )
    return sup


def _ktruss_oracle() -> str:
    parts = [
        f"""p0 AS MATERIALIZED (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN capped c ON c.shingle = a.shingle
  GROUP BY 1, 2
  HAVING count(*) >= {KCORE_MIN_COMMON})"""
    ]
    prev = "p0"
    for i in range(KTRUSS_MAX_ROUNDS):
        parts.append(f"""sym{i} AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM {prev} UNION ALL SELECT b, a FROM {prev}),
s{i} AS MATERIALIZED (
  SELECT e.a, e.b, count(*) AS sup
  FROM {prev} e
  JOIN sym{i} s1 ON s1.src = e.a
  JOIN sym{i} s2 ON s2.src = e.b AND s2.dst = s1.dst
  GROUP BY 1, 2),
p{i + 1} AS MATERIALIZED (
  SELECT e.a, e.b
  FROM {prev} e LEFT JOIN s{i} s ON s.a = e.a AND s.b = e.b
  WHERE coalesce(s.sup, 0) >= {KTRUSS_K - 2})""")
        prev = f"p{i + 1}"
    final = f"""symf AS (SELECT a AS src, b AS dst FROM {prev}
         UNION ALL SELECT b, a FROM {prev})
SELECT e.a, e.b, count(*) AS support
FROM {prev} e
JOIN symf s1 ON s1.src = e.a
JOIN symf s2 ON s2.src = e.b AND s2.dst = s1.dst
GROUP BY 1, 2"""
    return ",\n".join(parts) + ",\n" + final


ORACLE_KTRUSS = f"""
WITH sh AS ({_DUCK_SHINGLES}),
capped AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {DF_CAP}),
{_ktruss_oracle()}
"""


QUERIES = {
    "dedup_pagerank": dedup_pagerank,
    "incremental_cc_assign": incremental_cc_assign,
    "dedup_cc_assign": dedup_cc_assign,
    "dedup_cc_survivors": dedup_cc_survivors,
    "dedup_quality_survivors": dedup_quality_survivors,
    "neardup_triangle_stats": neardup_triangle_stats,
    "kcore_members": kcore_members,
    "kcore_profile": kcore_profile,
    "ktruss_edges": ktruss_edges,
}

ORACLE = {
    "dedup_pagerank": ORACLE_PAGERANK,
    # incremental == batch recompute, bit for bit: same oracle
    "incremental_cc_assign": ORACLE_CC_ASSIGN,
    "dedup_cc_assign": ORACLE_CC_ASSIGN,
    "dedup_cc_survivors": ORACLE_CC_SURVIVORS,
    "dedup_quality_survivors": ORACLE_QUALITY_SURVIVORS,
    "neardup_triangle_stats": ORACLE_TRIANGLES,
    "kcore_members": ORACLE_KCORE,
    "kcore_profile": ORACLE_KCORE_PROFILE,
    "ktruss_edges": ORACLE_KTRUSS,
}
