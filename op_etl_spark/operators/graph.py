"""Production graph-peeling operators: k-core / k-truss fixpoints over a
persisted edge table.

The peeling algorithms were born inside the query suite
(suite/clustering.py), where every call reconstructs the near-dup edge
list from document shingles.  A production caller peeling the SAME graph
at several k (or re-peeling after an append) should not re-pay that
`_pairs` reconstruction — this module is the build/peel split, mirroring
operators/ann_index.py's build/search/append structure: persist the
canonical edge table once, then run any number of peels against it.

Algorithms (both public, both cited in the suite docstrings):
- k-core: Matula & Beck 1983 degree peeling, distributed with
  INCREMENTAL degree maintenance (round 9): the maintained object is the
  node-sized degree table, not the edge set — each round subtracts the
  removed vertices' contributions from their surviving neighbors'
  degrees instead of recomputing degrees from the full surviving edge
  set, so the per-round shuffles move only removed-incident rows plus
  the node table (see _PeelState).
- k-truss: Cohen 2008 triangle-support peeling, distributed with
  INCREMENTAL support maintenance (round 10): the maintained object is
  the per-edge support table — each round enumerates only the triangles
  destroyed by the removed-edge frontier and decrements their surviving
  edges, instead of recounting every surviving edge's triangles via the
  full wedge-closure double-join (see _TrussState).

100 TB design: the k-core's per-round exchange is proportional to the
REMOVED-vertex frontier (node-sized tables otherwise); the k-truss's to
frontier-incident wedges (edge-sized map-side scans otherwise). The
only driver-side values are scalar counts. Round budgets are hard
bounds that RAISE rather than silently diverge (the suite's DuckDB
oracles unroll exactly that many rounds, so engine and oracle can never
quietly disagree about depth).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from . import counters

KCORE_DEFAULT_MAX_ROUNDS = 24
KTRUSS_DEFAULT_MAX_ROUNDS = 48


def symmetrize(pairs: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Canonical (a < b) pair list -> symmetric (src, dst) edge list."""
    return pairs.select(
        F.col(a).alias("src"), F.col(b).alias("dst")
    ).unionAll(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))


def build_edge_table(pairs: DataFrame, path: str, n_buckets: int = 0) -> None:
    """Persist a canonical (a, b) pair table as the reusable graph
    artifact.  Stored CANONICAL (one row per undirected edge, a < b) —
    half the bytes of the symmetric form; peels symmetrize on read, which
    is a narrow map-side union, not a shuffle.  `n_buckets` > 0
    repartitions by `a` before writing, clustering FILES for scan
    locality; a plain parquet read reports no output partitioning, so
    the first degree aggregate still exchanges — use a catalog table
    bucketed by `a` (bucketBy + saveAsTable) where that exchange must
    go too."""
    out = pairs.select("a", "b")
    if n_buckets > 0:
        out = out.repartition(n_buckets, "a")
    out.write.mode("overwrite").parquet(path)


def load_edge_table(spark: SparkSession, path: str) -> DataFrame:
    """Canonical (a, b) pairs persisted by build_edge_table."""
    return spark.read.parquet(path)


# Above this many frontier vertices the per-round removed set stops being
# broadcastable (~8 MB of longs at 1M rows) and the decrement scan falls
# back to a shuffle semi-join — the bulk first rounds of a power-law
# graph, the one regime where an edge-wide exchange is unavoidable.
BROADCAST_REMOVED_MAX = 1_000_000

# k-truss driver-path gates (_TrussState._driver_decs): frontiers up to
# this many EDGES have their destroyed triangles enumerated driver-side
# (the tail of a peel is dozens of few-edge rounds whose distributed cost
# is pure job scheduling) ...
KTRUSS_DRIVER_FRONTIER_MAX = 4096
# ... provided their incident adjacency fits this LIMIT-guarded probe
# (hub endpoints can make a tiny frontier touch a huge neighborhood — on
# overflow the round falls back to the distributed body)
KTRUSS_ADJ_PROBE_MAX = 1 << 18
# ... AND the alive-edge table itself is modest: the adjacency probe is a
# full pass over `sup` (two broadcast semi-join arms), so its cost scales
# with the LIVE table, not the frontier — measured on the x32 fixture
# (3.58M alive edges, same session), driver-decs rounds lose to the fused
# distributed round they replace (170.0s vs 159.1s for the whole peel).
# Below ~1M alive edges the probe is a sub-second scan and the saved
# shuffle stages dominate.
KTRUSS_DRIVER_SUP_MAX = 1 << 20
# next-frontier prefetch rides the update observation only when the
# decremented-edge count (its exact upper bound, known driver-side)
# stays metric-sized
KTRUSS_PREFETCH_MAX = 1 << 16

# Local-endgame gates: a peel shrinks its graph monotonically, and once
# the WHOLE live graph fits a bounded driver budget (~a few MB of edge
# tuples) every further distributed round is pure job-scheduling
# overhead — dozens of logical rounds over data that would fit in one
# task. Below these row counts the peel collects the live graph once,
# finishes the fixpoint driver-locally with the identical round algebra
# (same frontier rule, same min-generator triangle dedup, same
# round/edge-curve accounting, same max_rounds raise), and re-ships the
# result as a LocalRelation. Above them the incremental distributed
# rounds run unchanged — this is a bounded endgame, not a small-data
# shortcut: at the 32x probe scale the gates never trigger until the
# fixpoint is nearly reached, and on a 100 TB graph they trigger exactly
# when the surviving core actually is driver-sized.
KTRUSS_LOCAL_EDGES_MAX = 1 << 18  # canonical (a, b, sup) rows
KCORE_LOCAL_EDGES_MAX = 1 << 18  # symmetric (src, dst) rows


def _ckpt_leaf(df: DataFrame) -> DataFrame:
    """localCheckpoint + re-wrap the materialized RDD as a FRESH leaf
    plan carrying no inherited statistics.

    Dataset.localCheckpoint deliberately preserves the child plan's
    Catalyst statistics on the LogicalRDD it returns (SPARK-27712). In
    an iterative peel that is a time bomb: the maintained table appears
    on several join sides of the next round's plan, so the inherited
    sizeInBytes estimates MULTIPLY — digits(size) roughly triple per
    k-truss round (x2 per k-core round) — and by round ~10 Catalyst's
    stats arithmetic is doing Toom-Cook multiplications on thousand-
    digit BigIntegers on the DRIVER: measured 0.7 s -> 5 s -> 22 s ->
    112 s per round on the sf0.1 truss with CONSTANT data, plan shape,
    job and task counts (the tasks stayed at 21; the time was all
    planning). Re-wrapping the already-materialized checkpoint RDD in a
    stats-free LogicalRDD resets the estimate to the conf default each
    round, so stats stay O(1) digits at any depth. Join strategy is
    unaffected: the frontier is explicitly broadcast and AQE sizes the
    rest from runtime shuffle statistics.

    internalCreateDataFrame is `private[sql]` (public in bytecode, the
    standard py4j seam); if a future Spark removes it, fall back to the
    plain checkpoint — correct, but restoring the deep-peel slowdown.
    The fallback is LOUD (one-time RuntimeWarning) and the peel loops run
    a stats-digit canary (_stats_canary) that raises before the driver
    regresses to minutes-per-round planning, so internal-API drift can
    never silently re-arm the bomb."""
    ck = df.localCheckpoint()
    try:
        return _internal_create(df.sparkSession, ck)
    except Exception as e:  # noqa: BLE001 — internal-API drift: keep correctness
        global _ckpt_fallback_warned
        if not _ckpt_fallback_warned:
            _ckpt_fallback_warned = True
            warnings.warn(
                "internalCreateDataFrame unavailable "
                f"({type(e).__name__}: {e}); falling back to plain "
                "localCheckpoint — inherited Catalyst stats (SPARK-27712) "
                "will grow multiplicatively across peel rounds and the "
                "peel's stats canary will raise once they leave O(1) digits",
                RuntimeWarning,
                stacklevel=2,
            )
        return ck


def _internal_create(spark: SparkSession, ck: DataFrame) -> DataFrame:
    """The py4j seam _ckpt_leaf re-wraps through — a module-level hook so
    tests can simulate internal-API drift by monkeypatching it away."""
    jdf = ck._jdf
    fresh = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(fresh, spark)


_ckpt_fallback_warned = False

# A maintained table's sizeInBytes estimate should sit at O(1) digits
# (Long.MaxValue is 19); inherited-stat multiplication roughly triples
# the digit count per k-truss round, so 25 separates "conf default or a
# real size" from "round two of the bomb" with margin on both sides.
CKPT_STATS_DIGITS_MAX = 25


def _stats_canary(df: DataFrame) -> DataFrame:
    """Runtime guard on the SPARK-27712 stats bomb: raise the moment the
    maintained table's planner size estimate leaves O(1) digits instead
    of letting deep peels quietly degrade to minutes-per-round Catalyst
    BigInteger arithmetic (the _ckpt_leaf fallback path's failure mode)."""
    digits = len(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    if digits > CKPT_STATS_DIGITS_MAX:
        raise RuntimeError(
            f"peel stats canary: sizeInBytes estimate has {digits} digits "
            f"(> {CKPT_STATS_DIGITS_MAX}) — localCheckpoint is inheriting "
            "child-plan statistics (SPARK-27712) and the iterative peel is "
            "multiplying them; the _ckpt_leaf stats-free re-wrap is not "
            "taking effect (internalCreateDataFrame drift?)"
        )
    return df


class _PeelState:
    """Incremental-degree k-core peeling over one edge snapshot.

    The round-8 scale probe measured the old peel's cost as pure
    per-round shuffle volume at constant round count (3.07x at 32x data),
    and that round body recomputed degrees from the FULL surviving edge
    set every round: one groupBy shuffle + two semi-join shuffles + a
    checkpoint of the surviving edges. This state keeps the DEGREE table
    as the maintained object instead, with the invariant

        deg(v) == v's degree in the subgraph induced by alive vertices

    and each round only
      1. filters `deg` for the frontier dropping below k (node-sized),
      2. scans the STATIC edge snapshot once — map-side when the frontier
         broadcasts — counting decrements onto surviving neighbors,
      3. applies anti-join + decrement to the node-sized degree table.

    No edge-sized shuffle per round: the only edge-wide operation is the
    snapshot scan in (2), exchange-free under the broadcast semi-join,
    and the per-round shuffles move frontier-incident rows plus the node
    table. Edges incident to vertices removed in EARLIER rounds still sit
    in the snapshot; the decrements they generate target vertices no
    longer in `deg`, so the left join drops them — no alive-edge table is
    maintained at all. When cumulative removals halve the live edge mass
    the snapshot is compacted (one anti-join pass), so late-round scans
    track the live graph instead of the original one.

    Invariant argument: removing frontier R from an alive graph
    decrements each surviving v by |edges(v, R)|. Step (2) counts exactly
    the snapshot rows r->v with r in R; of those, rows whose v died
    earlier vanish in the left join (v not in `deg`), rows whose v is in
    R die in the anti-join before the decrement applies, and rows whose
    r-side was dead before this round cannot exist (R is drawn from
    `deg`, which excludes prior removals). Vertices decremented to 0 are
    dropped in the same update — mirroring how they silently vanish from
    an edge-derived degree table — which keeps round counts identical to
    the recompute formulation's."""

    def __init__(self, edges: DataFrame):
        self.edges_snap = _ckpt_leaf(edges.select("src", "dst"))
        self.deg = _ckpt_leaf(
            self.edges_snap.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        )
        self._removed: list[DataFrame] = []
        self.cur_rows = self.snap_rows = self.edges_snap.count()
        # live node count, maintained by the same per-round aggregate as
        # cur_rows (an edge list has no isolated nodes, so 0 edges -> 0
        # nodes; any peel over a non-empty graph refreshes it via _stats
        # before returning)
        self.cur_nodes = 0 if self.cur_rows == 0 else None
        # local-endgame adjacency (node -> neighbor set), entered once the
        # live graph fits KCORE_LOCAL_EDGES_MAX and sticky from then on —
        # the ramp's later levels peel the same driver-sized graph
        self._local: dict | None = None

    def _stats(self, k: int) -> tuple[int, int]:
        """(live symmetric edge rows, frontier size) in ONE tiny job over
        the node-sized degree table: sum(deg) equals the live row count
        because every live edge row contributes 1 to its src's degree.
        The same job refreshes `cur_nodes` — consumers that report node
        counts (the degeneracy profile) never pay a dedicated count()."""
        row = self.deg.agg(
            F.sum("deg").alias("s"),
            F.sum(F.when(F.col("deg") < k, 1).otherwise(0)).alias("r"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        self.cur_nodes = int(row["n"] or 0)
        return int(row["s"] or 0), int(row["r"] or 0)

    def peel(self, k: int, max_rounds: int) -> tuple[int, list[int]]:
        """Peel to the k-core fixpoint. Returns (rounds, edge_curve);
        raises past max_rounds. Round count matches the recompute
        formulation: the confirming no-change round counts, an emptied
        graph converges without one. A graph under KCORE_LOCAL_EDGES_MAX
        symmetric rows peels driver-locally (_peel_local) — same round
        algebra and accounting, zero per-round jobs."""
        if self._local is None and self.cur_rows <= KCORE_LOCAL_EDGES_MAX:
            self._enter_local()
        if self._local is not None:
            return self._peel_local(k, max_rounds)
        rounds = 0
        edge_curve = [self.cur_rows]
        if self.cur_rows == 0:
            return rounds, edge_curve
        _, n_rem = self._stats(k)
        while True:
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError(
                    f"k-core peeling did not converge in {max_rounds} rounds"
                )
            if n_rem == 0:
                # the confirming round re-appends the unchanged count, so
                # `rounds == len(edge_curve) - 1` holds for every exit
                # path (the contract probe consumers pin)
                edge_curve.append(self.cur_rows)
                return rounds, edge_curve
            removed = self.deg.filter(F.col("deg") < k).select("src")
            rem = (
                F.broadcast(removed)
                if n_rem <= BROADCAST_REMOVED_MAX
                else removed
            )
            dec = (
                self.edges_snap.join(rem, "src", "left_semi")
                .groupBy("dst")
                .agg(F.count(F.lit(1)).alias("dec"))
                .withColumnRenamed("dst", "src")
            )
            # next round's stats ride the update's own materialization
            # (Observation on the checkpoint action) — one job per round,
            # no separate _stats collect; same fusion as _TrussState
            obs = Observation()
            upd = (
                self.deg.join(rem, "src", "left_anti")
                .join(dec, "src", "left")
                .select(
                    "src",
                    (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))).alias(
                        "deg"
                    ),
                )
                .filter(F.col("deg") > 0)
                .observe(
                    obs,
                    F.sum("deg").alias("s"),
                    F.sum(
                        F.when(F.col("deg") < k, 1).otherwise(0)
                    ).alias("r"),
                    F.count(F.lit(1)).alias("n"),
                )
            )
            self.deg = _stats_canary(_ckpt_leaf(upd))
            self._removed.append(removed)
            row = obs.get
            self.cur_nodes = int(row["n"] or 0)
            self.cur_rows, n_rem = int(row["s"] or 0), int(row["r"] or 0)
            edge_curve.append(self.cur_rows)
            if self.cur_rows == 0:
                return rounds, edge_curve
            if self.cur_rows <= self.snap_rows // 2:
                self._compact()

    def _enter_local(self) -> None:
        """Collect the live symmetric adjacency once; all later levels of
        the ramp peel it in place."""
        rows = self.surviving_edges().collect()
        adj: dict = {}
        for r in rows:
            adj.setdefault(r[0], set()).add(r[1])
        self._local = adj
        self._removed = []
        self.cur_rows = len(rows)
        self.cur_nodes = len(adj)

    def _peel_local(self, k: int, max_rounds: int) -> tuple[int, list[int]]:
        """Driver-local peel with the distributed loop's exact round
        accounting: frontier = nodes of degree < k, removal decrements
        surviving neighbors, zero-degree nodes vanish in the same update,
        the confirming round counts, raise past max_rounds."""
        adj = self._local
        rounds = 0
        edge_curve = [self.cur_rows]
        if self.cur_rows == 0:
            return rounds, edge_curve
        front = {v for v, s in adj.items() if len(s) < k}
        while True:
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError(
                    f"k-core peeling did not converge in {max_rounds} rounds"
                )
            if not front:
                edge_curve.append(self.cur_rows)
                return rounds, edge_curve
            for v in front:
                for u in adj[v]:
                    if u not in front:
                        adj[u].discard(v)
                del adj[v]
            for u in [u for u, s in adj.items() if not s]:
                del adj[u]
            self.cur_rows = sum(len(s) for s in adj.values())
            self.cur_nodes = len(adj)
            edge_curve.append(self.cur_rows)
            if self.cur_rows == 0:
                return rounds, edge_curve
            front = {v for v, s in adj.items() if len(s) < k}

    def _compact(self) -> None:
        """Fold accumulated removals into the snapshot (one anti-join
        pass). Every surviving row's endpoints are alive, so the new
        snapshot's row count is exactly sum(deg) == cur_rows."""
        self.edges_snap = _ckpt_leaf(self.surviving_edges())
        self._removed = []
        self.snap_rows = self.cur_rows

    def surviving_edges(self) -> DataFrame:
        """Symmetric (src, dst) rows of the current core — the snapshot
        minus every row touching a removed vertex. Built from the DF
        objects captured now, so the plan stays valid across later peels
        and compactions of this state."""
        if self._local is not None:
            from pyspark.sql import types as T

            spark = self.edges_snap.sparkSession
            st = self.edges_snap.schema
            schema = T.StructType(
                [
                    T.StructField("src", st["src"].dataType),
                    T.StructField("dst", st["dst"].dataType),
                ]
            )
            return local_frame(
                spark, [(v, u) for v, s in self._local.items() for u in s], schema
            )
        e = self.edges_snap
        if self._removed:
            rem = self._removed[0]
            for r in self._removed[1:]:
                rem = rem.unionAll(r)
            e = (
                e.join(rem, "src", "left_anti")
                .join(rem.select(F.col("src").alias("dst")), "dst", "left_anti")
            )
        return e.select("src", "dst")

    def degrees(self) -> DataFrame:
        """(node, core_degree) membership — the degree table the peel
        maintains anyway, so membership queries skip reconstructing the
        edge set and re-aggregating it."""
        if self._local is not None:
            from pyspark.sql import types as T

            spark = self.edges_snap.sparkSession
            schema = T.StructType(
                [
                    T.StructField(
                        "node", self.edges_snap.schema["src"].dataType
                    ),
                    T.StructField("core_degree", T.LongType()),
                ]
            )
            return local_frame(
                spark, [(v, len(s)) for v, s in self._local.items()], schema
            )
        return self.deg.select(
            F.col("src").alias("node"), F.col("deg").alias("core_degree")
        )


def _peel_once(edges: DataFrame, k: int, max_rounds: int) -> _PeelState:
    """One-level peel with the loop-economics record every public entry
    point shares (per-round surviving-edge counts the loop computes
    anyway — recorded only when the probe enables counters, so the scale
    report can separate "more rounds" from "costlier rounds" without an
    extra pass)."""
    st = _PeelState(edges)
    st.rounds, edge_curve = st.peel(k, max_rounds)
    counters.record_loop("kcore", k=k, rounds=st.rounds, edges=edge_curve)
    return st


def _peel_ramp(edges: DataFrame, ks, max_rounds: int):
    """Continuous ascending-k peel over ONE shared state: exploits core
    NESTING — the k-core of the (k-1)-core IS the k-core of the whole
    graph — so level k+1 starts from the k-core's degree table, with no
    edge rebuild and no per-level degree recompute. Yields (k, state)
    after each level's fixpoint."""
    st = _PeelState(edges)
    last_k = None
    for k in ks:
        if last_k is not None and k < last_k:
            raise ValueError(f"ks must be ascending, got {k} after {last_k}")
        last_k = k
        rounds, edge_curve = st.peel(k, max_rounds)
        counters.record_loop("kcore", k=k, rounds=rounds, edges=edge_curve)
        yield k, st


def kcore(edges: DataFrame, k: int,
          max_rounds: int = KCORE_DEFAULT_MAX_ROUNDS):
    """k-core of a SYMMETRIC (src, dst) edge list: drop every node of
    degree < k (and its edges) per round until stable.  Returns
    (surviving symmetric edges, rounds); raises past `max_rounds`.
    Per-round cost is frontier-incident, not survivor-wide — _PeelState.

    The returned edges are a LAZY bounded plan (the checkpointed
    snapshot minus at most one accumulated-removals anti-join pair), not
    a materialized table: single-action consumers — every declared query
    — pay no extra write. A caller running SEVERAL actions over the
    result should `localCheckpoint()` it once, or the anti-joins re-run
    per action."""
    st = _peel_once(edges, k, max_rounds)
    return st.surviving_edges(), st.rounds


def kcore_degrees(edges: DataFrame, k: int,
                  max_rounds: int = KCORE_DEFAULT_MAX_ROUNDS):
    """(node, core_degree) membership of the k-core, straight off the
    peel's maintained degree table — no edge reconstruction, no final
    degree aggregate. Returns (membership DataFrame, rounds)."""
    st = _peel_once(edges, k, max_rounds)
    return st.degrees(), st.rounds


def kcore_decompose(edges: DataFrame, ks,
                    max_rounds: int = KCORE_DEFAULT_MAX_ROUNDS):
    """Nested k-core decomposition over ascending `ks`: yields
    (k, surviving symmetric edges) per level, all levels peeled as one
    continuous ramp (_peel_ramp)."""
    for k, st in _peel_ramp(edges, ks, max_rounds):
        yield k, st.surviving_edges()


def kcore_profile_counts(edges: DataFrame, ks,
                         max_rounds: int = KCORE_DEFAULT_MAX_ROUNDS):
    """[(k, n_nodes, n_edges)] degeneracy profile via one continuous
    incremental peel (_peel_ramp): node counts ride the per-round stats
    aggregate the peel already runs and edge counts come from its
    maintained sum (each undirected edge holds two symmetric rows), so
    no level ever reconstructs, re-aggregates, or re-counts anything."""
    return [
        (k, st.cur_nodes, st.cur_rows // 2)
        for k, st in _peel_ramp(edges, ks, max_rounds)
    ]


def truss_support(pairs: DataFrame) -> DataFrame:
    """(a, b, support): triangles closed by each canonical edge inside
    the graph `pairs` spans — the wedge-closure double-join (common
    neighbors of a and b via the symmetric adjacency)."""
    sym = symmetrize(pairs)
    s1 = sym.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    s2 = sym.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    return (
        pairs.join(s1, "a")
        .join(s2, ["b", "c"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )


class _TrussState:
    """Incremental-support k-truss peeling (round 10) — the edge
    analogue of _PeelState, motivated by the same measurement: the old
    round body recounted EVERY surviving edge's triangle support per
    round via the full wedge-closure double-join (39 rounds on the
    sf0.1 near-dup graph = 39 edge-wide double-joins).  The maintained
    object is the SUPPORT table

        sup(e) == e's triangle count in the subgraph of alive edges

    (alive edges carry a row even at support 0, matching the oracle's
    coalesce(sup, 0) round semantics), and each round only
      1. filters `sup` for the frontier R dropping below k-2,
      2. enumerates triangles THROUGH R against the LIVE adjacency —
         symmetrize(sup): `sup`'s key set IS the alive edge set, so no
         separate snapshot, no compaction, and no aliveness-membership
         joins exist; the wedge join is proportional to
         frontier-incident wedges, with R broadcast below
         BROADCAST_REMOVED_MAX,
      3. flags which side edges are themselves in R (broadcast
         left-join against the frontier) and decrements the surviving
         side edges in one map-side update pass.

    Batch-removal dedup (the standard decremental triangle-maintenance
    rule): a triangle containing m >= 1 frontier edges is enumerated
    once per frontier edge; only the LEXICOGRAPHICALLY SMALLEST frontier
    edge emits its decrements, and only to non-frontier edges — so a
    destroyed triangle decrements each of its surviving edges exactly
    once, and frontier edges (dropped wholesale in the same update)
    never receive one.

    Invariant argument: removing frontier R from the alive graph
    destroys exactly the triangles with >= 1 edge in R whose other
    edges are alive.  Step (2) enumerates every triangle through each
    r in R whose side edges are in the live adjacency — alive by
    construction (edges dead from earlier rounds left `sup` the round
    they died, after their triangles were subtracted; sup was correct
    then, by induction).  Side edges in R are flagged in (3) and
    excluded from decrements, and the min-edge rule collapses
    multi-frontier-edge triangles to one emission."""

    def __init__(self, pairs: DataFrame, k: int):
        self.k = k
        snap = _ckpt_leaf(pairs.select("a", "b"))
        self.cur_rows = snap.count()
        base = truss_support(snap).withColumnRenamed("support", "sup")
        # alive edges keep a row even at zero support: truss_support's
        # inner wedge join omits triangle-free edges, but the oracle's
        # left-join + coalesce(0) is the declared round semantics
        self.sup = _ckpt_leaf(
            snap.join(base, ["a", "b"], "left")
            .select("a", "b", F.coalesce(F.col("sup"), F.lit(0)).alias("sup"))
        )
        # frontier rows prefetched by the previous round's observation
        # (driver-path rounds only, size-bounded before the metric is
        # added) — saves the next round's frontier-collect job
        self._next_front_rows: list | None = None

    def _is_front(self):
        return F.col("sup") < self.k - 2

    def _obs_metrics(self) -> list:
        """The scalar stats every round observes on its own update job:
        alive edges, next frontier size, and the frontier's summed
        support — `fsup` bounds the NEXT round's decrement table (each
        destroyed triangle has >= 1 frontier edge and decrements <= 2
        survivors, so |decs| <= 2 * fsup), which is the gate the decs
        broadcast needs: frontier SIZE is the wrong proxy (a sub-1M
        frontier of high-support edges can touch tens of millions of
        survivor edges)."""
        f = self._is_front()
        return [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(f, 1).otherwise(0)).alias("r"),
            F.sum(F.when(f, F.col("sup"))).alias("fsup"),
        ]

    def _stats(self) -> tuple[int, int, int]:
        """(alive edges, frontier size, frontier support sum) in one tiny
        aggregate over the maintained support table — loop entry only;
        in-loop rounds observe the same metrics on their own update job."""
        row = self.sup.agg(*self._obs_metrics()).collect()[0]
        return int(row["n"] or 0), int(row["r"] or 0), int(row["fsup"] or 0)

    def _driver_decs(self, n_frontier: int) -> dict | None:
        """Driver-local decrement computation for SMALL frontiers — the
        round-overhead killer: from round ~3 of the sf0.1 peel the
        frontier is <300 rows yet every distributed round paid ~0.6 s of
        fixed job/stage/broadcast scheduling (the 40-round loop spent
        ~24 s on ~1 s of actual work). With the frontier and its
        incident adjacency both tiny, enumerate the destroyed triangles
        in plain Python and ship the decrements back as a broadcast
        LocalRelation: the whole round then costs ONE distributed job
        (the update scan that materializes the new support table).

        Scale safety: the frontier path is size-gated
        (KTRUSS_DRIVER_FRONTIER_MAX rows collected — same order as the
        scalar stats every round already returns) and the adjacency
        probe is LIMIT-guarded — if frontier-incident edges exceed
        KTRUSS_ADJ_PROBE_MAX (hub endpoints), return None and let the
        distributed path run. Enumeration rule is the same min-generator
        batch dedup as the distributed body: a destroyed triangle is
        emitted only by its lexicographically smallest frontier edge,
        and only toward non-frontier edges."""
        if self._next_front_rows is not None:
            front = self._next_front_rows
        else:
            front = [
                (r[0], r[1])
                for r in self.sup.filter(self._is_front())
                .select("a", "b")
                .collect()
            ]
        fset = set(front)
        nodes = {x for e in fset for x in e}
        # endpoint-incident adjacency probe as a broadcast semi-join pair
        # (duplicates across the two arms are harmless set-inserts below).
        # NOT isin(): a thousands-literal In expression costs one py4j
        # round-trip per literal to BUILD — measured 4.8 s of pure driver
        # time at 5k literals, dwarfing the job it feeds.
        spark = self.sup.sparkSession
        from pyspark.sql import types as T

        nodes_df = local_frame(
            spark,
            [(x,) for x in nodes],
            T.StructType([T.StructField("a", self.sup.schema["a"].dataType)]),
        )
        e = self.sup.select("a", "b")
        adj_rows = (
            e.join(F.broadcast(nodes_df), "a", "left_semi")
            .unionAll(
                e.join(
                    F.broadcast(nodes_df.withColumnRenamed("a", "b")),
                    "b",
                    "left_semi",
                )
            )
            .limit(KTRUSS_ADJ_PROBE_MAX + 1)
            .collect()
        )
        if len(adj_rows) > KTRUSS_ADJ_PROBE_MAX:
            return None
        adj: dict = {}
        for row in adj_rows:
            a, b = row[0], row[1]
            if a in nodes:
                adj.setdefault(a, set()).add(b)
            if b in nodes:
                adj.setdefault(b, set()).add(a)
        empty: set = set()
        dec: dict = {}
        for a, b in fset:
            for c in adj.get(a, empty) & adj.get(b, empty):
                e1 = (a, c) if a < c else (c, a)
                e2 = (b, c) if b < c else (c, b)
                m = (a, b)
                if e1 in fset and e1 < m:
                    m = e1
                if e2 in fset and e2 < m:
                    m = e2
                if m != (a, b):
                    continue  # a smaller frontier edge owns this triangle
                if e1 not in fset:
                    dec[e1] = dec.get(e1, 0) + 1
                if e2 not in fset:
                    dec[e2] = dec.get(e2, 0) + 1
        return dec

    def _round(self, n_frontier: int, fsup: int) -> tuple[int, int, int]:
        """Subtract the frontier's destroyed triangles from surviving
        edges' support and drop the frontier rows. Returns the updated
        (alive edges, next frontier size, frontier support sum), observed
        ON the update's own materialization (pyspark Observation riding
        the checkpoint action) so a round costs one distributed job plus
        at most two bounded driver probes — no separate stats pass. The
        CollectMetrics node lives only in the materialized round plan;
        the maintained `sup` the next round (and the returned query plan)
        reads is a fresh stats-free leaf, so production plans stay free
        of observation nodes (the plan-audit CollectMetricsLeak axis).

        Two bodies, same algebra:
        - SMALL frontier (<= KTRUSS_DRIVER_FRONTIER_MAX) over a MODEST
          live table (<= KTRUSS_DRIVER_SUP_MAX — the adjacency probe is
          a full pass over `sup`, so it must stay sub-second):
          _driver_decs enumerates the destroyed triangles driver-locally
          and the decrements join in as a broadcast LocalRelation — the
          round is ONE distributed job (the tail of a peel is dozens of
          few-edge rounds whose cost is otherwise pure job scheduling).
        - LARGE frontier: the distributed wedge enumeration below.
          `sup`'s key set IS the alive edge set, so the adjacency for
          the wedge join is symmetrize(sup) — no separate snapshot, no
          compaction, no aliveness membership joins. Destroyed triangles
          are grouped BY TRIANGLE, which makes the batch-removal
          bookkeeping intrinsic: a triangle with m frontier edges is
          enumerated exactly m times, so its GENERATOR set collected in
          the group is exactly its frontier edges — one decrement per
          (triangle, non-generator edge). The frontier broadcast gates
          on its own row count; the decs broadcast gates on the 2*fsup
          bound observed LAST round (frontier size is not a valid proxy
          for decs size — see _obs_metrics)."""
        is_front = self._is_front()
        spark = self.sup.sparkSession
        dec_map = (
            self._driver_decs(n_frontier)
            if n_frontier <= KTRUSS_DRIVER_FRONTIER_MAX
            and self.cur_rows <= KTRUSS_DRIVER_SUP_MAX
            else None
        )
        if dec_map is not None:
            survivors = self.sup.filter(~is_front)
            if dec_map:
                a_type = self.sup.schema["a"].dataType
                b_type = self.sup.schema["b"].dataType
                from pyspark.sql import types as T

                schema = T.StructType(
                    [
                        T.StructField("a", a_type),
                        T.StructField("b", b_type),
                        T.StructField("dec", T.LongType()),
                    ]
                )
                decs_local = local_frame(
                    spark, [(a, b, d) for (a, b), d in dec_map.items()], schema
                )
                upd = (
                    survivors.join(F.broadcast(decs_local), ["a", "b"], "left")
                    .select(
                        "a",
                        "b",
                        (
                            F.col("sup") - F.coalesce(F.col("dec"), F.lit(0))
                        ).alias("sup"),
                    )
                )
            else:
                upd = survivors.select("a", "b", "sup")
            # next round's frontier is a subset of the decremented edges,
            # so its row count is bounded by len(dec_map) — when that
            # bound is driver-scale, prefetch the frontier rows on the
            # SAME observation and the next driver round skips its
            # frontier-collect job entirely
            prefetch = len(dec_map) <= KTRUSS_PREFETCH_MAX
        else:
            small = n_frontier <= BROADCAST_REMOVED_MAX
            removed = self.sup.filter(is_front).select("a", "b")
            rem = F.broadcast(removed) if small else removed
            sym = symmetrize(self.sup.select("a", "b"))
            # triangles through a frontier edge (a,b): common neighbor c
            # in the LIVE adjacency — cost ~ frontier-incident wedges
            tri = (
                rem.join(
                    sym.select(F.col("src").alias("a"), F.col("dst").alias("c")),
                    "a",
                )
                .join(
                    sym.select(F.col("src").alias("b"), F.col("dst").alias("c")),
                    ["b", "c"],
                )
                .select(
                    F.array_sort(F.array("a", "b", "c")).alias("ns"),
                    F.struct(
                        F.col("a").alias("a"), F.col("b").alias("b")
                    ).alias("gen"),
                )
                .groupBy("ns")
                .agg(F.collect_set("gen").alias("gens"))
            )
            n0, n1, n2 = (F.col("ns")[i] for i in range(3))
            edges3 = F.array(
                F.struct(n0.alias("a"), n1.alias("b")),
                F.struct(n0.alias("a"), n2.alias("b")),
                F.struct(n1.alias("a"), n2.alias("b")),
            )
            decs = (
                tri.select(
                    F.explode(
                        F.filter(edges3, lambda e: ~F.array_contains("gens", e))
                    ).alias("e")
                )
                .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
                .agg(F.count(F.lit(1)).alias("dec"))
            )
            # |decs| <= 2 * fsup (destroyed-triangle side edges): gate
            # the broadcast on the bound of the table actually shipped,
            # not on frontier size — a small frontier of high-support
            # edges can touch survivor edges far past the broadcast limit
            small_decs = 2 * fsup <= BROADCAST_REMOVED_MAX
            upd = (
                self.sup.filter(~is_front)
                .join(
                    F.broadcast(decs) if small_decs else decs, ["a", "b"], "left"
                )
                .select(
                    "a",
                    "b",
                    (F.col("sup") - F.coalesce(F.col("dec"), F.lit(0))).alias(
                        "sup"
                    ),
                )
            )
            prefetch = False
        obs = Observation()
        metrics = self._obs_metrics()
        if prefetch:
            metrics.append(
                F.collect_list(
                    F.when(self._is_front(), F.struct("a", "b"))
                ).alias("fl")
            )
        upd = upd.observe(obs, *metrics)
        self.sup = _stats_canary(_ckpt_leaf(upd))
        row = obs.get
        self._next_front_rows = (
            [(r["a"], r["b"]) for r in row["fl"]] if prefetch else None
        )
        return int(row["n"] or 0), int(row["r"] or 0), int(row["fsup"] or 0)

    def peel(self, max_rounds: int) -> tuple[int, list[int]]:
        """Rounds and edge-curve semantics identical to the recompute
        formulation: the confirming no-change round counts, an emptied
        graph converges without one. Once the live graph fits the
        driver budget the remaining rounds run locally (_peel_local) —
        same algebra, same accounting, zero per-round jobs."""
        rounds = 0
        edge_curve = [self.cur_rows]
        if self.cur_rows == 0:
            return rounds, edge_curve
        if self.cur_rows <= KTRUSS_LOCAL_EDGES_MAX:
            return self._peel_local(rounds, edge_curve, max_rounds)
        _, n_front, fsup = self._stats()
        for _ in range(max_rounds):
            rounds += 1
            if n_front == 0:
                edge_curve.append(self.cur_rows)
                return rounds, edge_curve
            self.cur_rows, n_front, fsup = self._round(n_front, fsup)
            edge_curve.append(self.cur_rows)
            if self.cur_rows == 0:
                return rounds, edge_curve
            if self.cur_rows <= KTRUSS_LOCAL_EDGES_MAX:
                return self._peel_local(rounds, edge_curve, max_rounds)
        raise RuntimeError(
            f"k-truss peeling did not converge in {max_rounds} rounds"
        )

    def _peel_local(
        self, rounds: int, edge_curve: list[int], max_rounds: int
    ) -> tuple[int, list[int]]:
        """Local endgame: collect the live (a, b, sup) rows once, finish
        the fixpoint with the identical round algebra (frontier rule,
        min-generator triangle dedup, confirming-round and max_rounds
        semantics), and re-ship the surviving support table as a
        LocalRelation. The round budget CONTINUES the distributed
        count — a peel that switches paths raises at exactly the same
        depth it would have raised distributed."""
        sup = {(r[0], r[1]): r[2] for r in self.sup.collect()}
        adj: dict = {}
        for a, b in sup:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        thr = self.k - 2
        while True:
            if rounds >= max_rounds:
                raise RuntimeError(
                    f"k-truss peeling did not converge in {max_rounds} rounds"
                )
            rounds += 1
            front = [e for e, s in sup.items() if s < thr]
            if not front:
                edge_curve.append(len(sup))
                self._finalize_local(sup)
                return rounds, edge_curve
            fset = set(front)
            for a, b in front:
                for c in adj[a] & adj[b]:
                    e1 = (a, c) if a < c else (c, a)
                    e2 = (b, c) if b < c else (c, b)
                    m = (a, b)
                    if e1 in fset and e1 < m:
                        m = e1
                    if e2 in fset and e2 < m:
                        m = e2
                    if m != (a, b):
                        continue  # a smaller frontier edge owns this triangle
                    if e1 not in fset:
                        sup[e1] -= 1
                    if e2 not in fset:
                        sup[e2] -= 1
            for a, b in front:
                del sup[(a, b)]
                adj[a].discard(b)
                if not adj[a]:
                    del adj[a]
                adj[b].discard(a)
                if not adj[b]:
                    del adj[b]
            edge_curve.append(len(sup))
            if not sup:
                self._finalize_local(sup)
                return rounds, edge_curve

    def _finalize_local(self, sup: dict) -> None:
        spark = self.sup.sparkSession
        self.sup = local_frame(
            spark, [(a, b, s) for (a, b), s in sup.items()], self.sup.schema
        )
        self.cur_rows = len(sup)
        self._next_front_rows = None

    def surviving_edges(self) -> DataFrame:
        return self.sup.select("a", "b")


def ktruss(pairs: DataFrame, k: int,
           max_rounds: int = KTRUSS_DEFAULT_MAX_ROUNDS):
    """k-truss of a CANONICAL (a < b) pair list: drop every edge whose
    triangle support inside the surviving subgraph is < k-2, until
    stable.  Returns (surviving canonical pairs, rounds); raises past
    `max_rounds`.  Per-round cost is frontier-incident (incremental
    support maintenance, _TrussState), not survivor-wide."""
    st = _TrussState(pairs, k)
    rounds, edge_curve = st.peel(max_rounds)
    counters.record_loop("ktruss", k=k, rounds=rounds, edges=edge_curve)
    return st.surviving_edges(), rounds


def ktruss_with_support(pairs: DataFrame, k: int,
                        max_rounds: int = KTRUSS_DEFAULT_MAX_ROUNDS):
    """Like ktruss, but returns ((a, b, support), rounds) straight from
    the MAINTAINED support table — the whole point of the incremental
    peel is that sup(e) is exact at every step (pinned by
    test_ktruss_maintained_support_is_exact), so the final wedge-closure
    recount `truss_support(survivors)` is redundant work: one full
    symmetrize + double-join + aggregate over the survivors, paid only
    to recompute numbers the peel already holds.

    Semantics caveat, k <= 2 only: threshold 0 keeps triangle-free
    edges, which carry support 0 here but are DROPPED by a
    truss_support recount (inner wedge join).  For k >= 3 every
    survivor has support >= k-2 >= 1 and the two formulations are
    row-for-row identical."""
    if k < 3:
        raise ValueError(
            f"ktruss_with_support requires k >= 3 (got k={k}): at k <= 2 the "
            "maintained table keeps triangle-free edges at support 0 that a "
            "truss_support recount drops — use ktruss() + truss_support() "
            "for that regime"
        )
    st = _TrussState(pairs, k)
    rounds, edge_curve = st.peel(max_rounds)
    counters.record_loop("ktruss", k=k, rounds=rounds, edges=edge_curve)
    return st.sup.select("a", "b", F.col("sup").alias("support")), rounds


def kcore_persisted(spark: SparkSession, path: str, k: int,
                    max_rounds: int = KCORE_DEFAULT_MAX_ROUNDS):
    """Peel the k-core of a prebuilt edge table without re-deriving the
    graph: load canonical pairs, symmetrize, peel.  Returns the
    (doc/node, core_degree) membership table."""
    members, _ = kcore_degrees(symmetrize(load_edge_table(spark, path)), k,
                               max_rounds=max_rounds)
    return members


def ktruss_persisted(spark: SparkSession, path: str, k: int,
                     max_rounds: int = KTRUSS_DEFAULT_MAX_ROUNDS):
    """k-truss of a prebuilt edge table: surviving canonical edges with
    their in-truss triangle support."""
    truss, _ = ktruss(load_edge_table(spark, path), k, max_rounds=max_rounds)
    return truss_support(truss)
