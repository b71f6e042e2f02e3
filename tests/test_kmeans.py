"""The k-means kernel (operators/kmeans.py) and its callers, pinned
against a short pure-Python reference: a left-fold squared distance, the
first minimum, and the grid (`floor(sum / n + 0.5)`) and tick
(`sum(floor(x * 1e6 + 0.5)) / 1e6 / n`) means.

The cosine argmax is pinned against Spark's own `dot_fold` cosine (a
tie, the runner-up, a zero-norm centroid, an empty batch).

Also: the preconditions the kernel checks (null or misshapen vectors,
values off the integer grid), and the guard that keeps every argmin,
argmax and scatter-add of the engine inside the kernel."""

from __future__ import annotations

import ast
import glob
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from op_etl_spark.operators import kmeans
from op_etl_spark.operators.ann_index import (
    build_ivf2_index,
    build_ivf_index,
    ivf2_append_batch,
    ivf_append_batch,
)
from op_etl_spark.operators.sampling import hash_unit

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "op_etl_spark")


# --- the reference ---


def _sqdist(x, c):
    acc = 0.0
    for a, b in zip(x, c):
        acc += (a - b) * (a - b)
    return acc


def _nearest(x, cents):
    d = [_sqdist(x, c) for c in cents]
    return d.index(min(d))


def _grid_mean(vs):
    return [float(math.floor(sum(col) / len(vs) + 0.5)) for col in zip(*vs)]


def _tick_mean(vs):
    return [
        sum(math.floor(v * 1000000 + 0.5) for v in col) / 1000000.0 / len(vs)
        for col in zip(*vs)
    ]


def _lloyd(xs, cents, mean):
    groups: dict[int, list] = {}
    for x in xs:
        groups.setdefault(_nearest(x, cents), []).append(x)
    return [mean(groups[i]) if i in groups else cents[i] for i in range(len(cents))]


# --- fixtures ---


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def vecs(emb):
    """{vec_id: embedding as doubles}."""
    return {
        r.vec_id: list(r.v)
        for r in emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v")).collect()
    }


def _hash_order(emb, salt):
    return [
        r.vec_id for r in emb.orderBy(hash_unit(F.col("vec_id"), salt), F.col("vec_id")).collect()
    ]


def _frame(spark, rows, schema="q array<double>"):
    return spark.createDataFrame(rows, schema)


# --- the cases: each returns (kernel result, reference result) ---


def case_build_ivf_index(spark, emb, vecs, tmp):
    path = f"{tmp}/ivf"
    got = build_ivf_index(emb, path, n_lists=8, iters=2)
    got_ids = {r.vec_id: r.list_id for r in spark.read.parquet(f"{path}/vectors").collect()}

    cents = [vecs[i] for i in _hash_order(emb, "ivf-seed")[:8]]
    for _ in range(2):
        cents = _lloyd(vecs.values(), cents, _tick_mean)
    want_ids = {i: _nearest(v, cents) for i, v in vecs.items()}
    return (got, got_ids), (cents, want_ids)


def case_build_ivf2_index(spark, emb, vecs, tmp):
    path = f"{tmp}/ivf2"
    got_fine = build_ivf2_index(emb, path, n_coarse=4, n_fine=4, iters=2)
    got_coarse = [
        list(r.centroid)
        for r in spark.read.parquet(f"{path}/centroids_coarse").orderBy("coarse_id").collect()
    ]
    got_ids = {
        r.vec_id: (r.coarse_id, r.fine_id) for r in spark.read.parquet(f"{path}/vectors").collect()
    }

    coarse = [vecs[i] for i in _hash_order(emb, "ivf-seed")[:4]]
    for _ in range(2):
        coarse = _lloyd(vecs.values(), coarse, _tick_mean)
    cell = {i: _nearest(v, coarse) for i, v in vecs.items()}
    fine: dict[int, list] = {}
    for i in _hash_order(emb, "ivf2-fine-seed"):
        if len(fine.setdefault(cell[i], [])) < 4:
            fine[cell[i]].append(vecs[i])
    for c in range(4):
        fine.setdefault(c, [coarse[c]])
    for _ in range(2):
        fine = {
            c: _lloyd([v for i, v in vecs.items() if cell[i] == c], cl, _tick_mean)
            for c, cl in fine.items()
        }
    want_ids = {i: (cell[i], _nearest(v, fine[cell[i]])) for i, v in vecs.items()}
    return (got_coarse, got_fine, got_ids), (coarse, fine, want_ids)


def case_exact_tie_goes_to_lowest_id(spark, emb, vecs, tmp):
    # [0, 0] is exactly 1.0 from both centroids; [3, 0] is nearer the first
    rows = [([0.0, 0.0],), ([3.0, 0.0],)]
    cents = [[1.0, 0.0], [-1.0, 0.0]]
    got = kmeans.lloyd_round(_frame(spark, rows), "q", cents, caller="test")
    got_first = int(kmeans.nearest(np.array([[0.0, 0.0]]), np.array(cents))[0])
    want = _lloyd([r[0] for r in rows], cents, _grid_mean)
    return (got, got_first), (want, 0)


def case_empty_list_keeps_its_centroid(spark, emb, vecs, tmp):
    rows = [([1.0, 2.0],), ([3.0, 5.0],)]
    cents = [[0.0, 0.0], [1e12, 1e12]]
    got = kmeans.lloyd_round(_frame(spark, rows), "q", cents, caller="test")
    want = _lloyd([r[0] for r in rows], cents, _grid_mean)
    assert want[1] == cents[1]
    return got, want


def case_absent_label(spark, emb, vecs, tmp):
    rows = [(0, [0.1, -0.25]), (2, [0.3, 0.5]), (0, [0.2, 0.0000015])]
    df = _frame(spark, rows, "label int, q array<double>")
    got = kmeans.label_means(df, "label", "q", caller="test", scale=kmeans.TICK)
    want = [
        {"label": lb, "n": len(vs), "centroid": _tick_mean(vs)}
        for lb in (0, 2)
        for vs in [[v for b, v in rows if b == lb]]
    ]
    return got, want


def case_pq_subspace_keys(spark, emb, vecs, tmp):
    from op_etl_spark.suite.pq_ann import (
        PQ_KCODES,
        PQ_M,
        PQ_SUBDIM,
        _lloyd_update_books,
        _quantized,
    )

    qv = _quantized(spark, SF)
    qs = {r.vec_id: list(r.q) for r in qv.collect()}
    seeds = [qs[i] for i in _hash_order(emb, "pq-seed")[:PQ_KCODES]]
    books = [[s[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM] for s in seeds] for m in range(PQ_M)]
    got = _lloyd_update_books(qv, books)
    want = [
        _lloyd([q[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM] for q in qs.values()], books[m], _grid_mean)
        for m in range(PQ_M)
    ]
    return got, want


CASES = {f.__name__[5:]: f for f in [
    case_build_ivf_index,
    case_build_ivf2_index,
    case_exact_tie_goes_to_lowest_id,
    case_empty_list_keeps_its_centroid,
    case_absent_label,
    case_pq_subspace_keys,
]}


@pytest.mark.parametrize("name", sorted(CASES))
def test_kernel_matches_python_reference(spark, emb, vecs, tmp_path, name):
    got, want = CASES[name](spark, emb, vecs, str(tmp_path))
    assert got == want  # exact doubles and ids


# --- the cosine argmax, against Spark's fold ---


def _spark_top2(spark, X, C):
    """Per row of X: [(index, cosine)] of its two best rows of C by
    ORDER BY cos DESC, index, with Spark's dot_fold / (norm_fold *
    norm_fold) and -1.0 for a zero-norm side."""
    from pyspark.sql import Window

    from op_etl_spark.suite._util import dot_fold, norm_fold

    xs = spark.createDataFrame([(i, x.tolist()) for i, x in enumerate(X)], "i int, x array<double>")
    cs = spark.createDataFrame([(j, c.tolist()) for j, c in enumerate(C)], "j int, c array<double>")
    den = norm_fold("x") * norm_fold("c")
    rk = F.row_number().over(Window.partitionBy("i").orderBy(F.desc("cos"), "j"))
    top = {}
    for r in (
        xs.crossJoin(cs)
        .select("i", "j", F.when(den > 0, dot_fold("x", "c") / den).otherwise(-1.0).alias("cos"))
        .withColumn("rk", rk)
        .filter("rk <= 2")
        .orderBy("i", "rk")
        .collect()
    ):
        top.setdefault(r.i, []).append((r.j, r.cos))
    return [top[i] for i in range(len(X))]


def _cosine_cases():
    rng = np.random.default_rng(6)
    X, C = rng.normal(size=(60, 7)) / 3, rng.normal(size=(9, 7)) * 1.7
    tie = C.copy()
    tie[6] = tie[2]  # an exact duplicate: every row scores both the same
    near = tie[2] + rng.normal(size=(20, 7)) * 0.01  # rows whose best is the pair
    zero = C.copy()
    zero[0] = 0.0
    return {
        "non_integer": (X, C),
        "duplicated_centroid_ties_to_lowest_index": (np.vstack([X, near]), tie),
        "zero_norm_centroid_scores_minus_one": (X, zero),
        "one_centroid_has_no_runner_up": (X, C[:1]),
        "empty_batch": (np.empty((0, 7)), C),
    }


@pytest.mark.parametrize("name", sorted(_cosine_cases()))
def test_cosine_argmax_matches_spark_fold(spark, name):
    X, C = _cosine_cases()[name]
    best, cos, second = kmeans.cosine_argmax(X, C, runner_up=True)
    got = [(b, c, s) for b, c, s in zip(best.tolist(), cos.tolist(), second.tolist())]
    want = [(t[0][0], t[0][1], t[1][0] if len(t) > 1 else -1) for t in _spark_top2(spark, X, C)]
    assert got == want  # exact doubles and indices
    if name.startswith("duplicated"):
        assert [(b, s) for b, _, s in got[-20:]] == [(2, 6)] * 20
    assert kmeans.cosine_argmax(X, C)[0].tolist() == best.tolist()


# --- preconditions ---


def _with_row(emb, spark, vec):
    return emb.unionByName(spark.createDataFrame([(10**6, vec, 0)], emb.schema))


@pytest.mark.parametrize("vec", [None, [0.5, 0.5, 0.5]], ids=["null", "short"])
def test_build_rejects_null_or_misshapen_vector(spark, emb, tmp_path, vec):
    bad = _with_row(emb, spark, vec)
    with pytest.raises(ValueError, match="build_ivf_index.*'embedding'"):
        build_ivf_index(bad, str(tmp_path / "ivf"), n_lists=4, iters=1)
    with pytest.raises(ValueError, match="build_ivf2_index.*'embedding'"):
        build_ivf2_index(bad, str(tmp_path / "ivf2"), n_coarse=2, n_fine=2, iters=1)


@pytest.mark.parametrize("vec", [None, [0.5, 0.5, 0.5]], ids=["null", "short"])
def test_appends_reject_null_or_misshapen_vector(spark, emb, tmp_path, vec):
    batch = _with_row(emb.limit(3), spark, vec)
    flat, two = str(tmp_path / "ivf"), str(tmp_path / "ivf2")
    build_ivf_index(emb, flat, n_lists=4, iters=1)
    build_ivf2_index(emb, two, n_coarse=2, n_fine=2, iters=1)
    with pytest.raises(ValueError, match="ivf_append_batch.*'embedding'"):
        ivf_append_batch(spark, flat, batch)
    with pytest.raises(ValueError, match="ivf2_append_batch.*'embedding'"):
        ivf2_append_batch(spark, two, batch)
    # nothing was appended, and no vector sits in a partition no search probes
    for path in (flat, two):
        assert spark.read.parquet(f"{path}/vectors").count() == emb.count()
        assert not glob.glob(f"{path}/vectors/**/*__HIVE_DEFAULT_PARTITION__*", recursive=True)


@pytest.mark.parametrize(
    "value", [0.5, 2.0**53, -(2.0**53), float("nan"), float("inf")]
)
def test_grid_conversion_rejects_off_grid_values(value):
    with pytest.raises(ValueError, match="my_gate"):
        kmeans.integers(np.array([[1.0, value]]), None, "my_gate")


def test_grid_conversion_keeps_grid_values():
    X = np.array([[0.0, -(2.0**53 - 1), 2.0**53 - 1, 42.0]])
    assert kmeans.integers(X, None, "my_gate").tolist() == [[0, -(2**53 - 1), 2**53 - 1, 42]]


def test_grid_check_runs_in_the_job(spark):
    df = _frame(spark, [([1.0, 2.5],)])
    with pytest.raises(Exception, match="my_gate"):
        kmeans.lloyd_round(df, "q", [[0.0, 0.0]], caller="my_gate")


# --- one kernel ---


def _kernel_calls(tree: ast.AST):
    """Lines of every `<x>.argmin(...)`, `<x>.argmax(...)` and
    `<x>.add.at(...)` call."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if f.attr in ("argmin", "argmax") or (
                f.attr == "at" and isinstance(f.value, ast.Attribute) and f.value.attr == "add"
            ):
                out.append(node.lineno)
    return out


def test_guard_sees_the_kernel_calls():
    src = "import numpy as np\nnp.add.at(s, i, v)\nd.argmin(axis=1)\nnp.argmin(d)\nc.argmax(axis=1)\n"
    assert sorted(_kernel_calls(ast.parse(src))) == [2, 3, 4, 5]


def test_argmin_and_scatter_add_live_only_in_the_kernel():
    found = {}
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path) as f:
            lines = _kernel_calls(ast.parse(f.read(), path))
        if lines:
            found[os.path.relpath(path, PKG)] = lines
    assert set(found) == {os.path.join("operators", "kmeans.py")}, found
