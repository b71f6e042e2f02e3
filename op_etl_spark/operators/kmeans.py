"""The one k-means kernel: nearest-centroid assignment (by L2 and by
cosine), per-key partial sums, and the driver-side means. The IVF/IVF2
index builds (operators/ann_index.py) and every centroid gate in suite/
(IVF, PQ and IVFPQ recall, the label centroids, SemDeDup, the semantic
decontamination) call it.

- `nearest(X, C)` is the first argmin over centroids of the squared L2
  distance, summed as a LEFT FOLD over the dimensions. That is the order
  Spark's `aggregate(zip_with(...))` folds in, so the distances are the
  same doubles on any input. NumPy's `.sum(axis=...)` sums pairwise and
  differs at the last ulp off the integer grid. Ties go to the lowest
  centroid id, as `ORDER BY d, id` does in the oracles.
- `cosine_argmax(X, C)` is the first argmax of `dot / (|x| * |c|)`, the
  dot and both squared norms left folds over the dimensions: the doubles
  of Spark's `dot_fold(x, c) / (norm_fold(x) * norm_fold(c))` and of
  DuckDB's `list_dot_product`, on any input. Ties go to the lowest
  centroid index, as `ORDER BY cos DESC, id` does in the oracles; it can
  also return the runner-up. `cosine_assign` runs a batch function built
  on it as one `mapInPandas` pass.
- `partial_sums` is one `mapInPandas` job. Each task keys its rows with
  the caller's `key` function and emits, per key, the int64 sum of the
  keyed vectors and their count. The driver adds the task partials; they
  are integers, so partitioning and row order cannot change the totals.
- `combine` forms the means on the driver.

One argument, `scale`, decides both the integer form and the rounding:
- `scale=None`: the values must already be integer-valued doubles below
  2^53 (the gates' micro grid; checked, not assumed), and the mean is
  floored back onto the grid, `floor(sum / n + 0.5)`;
- `scale=TICK`: the values become int64 ticks `floor(x * 1e6 + 0.5)`,
  and the mean is `sum / 1e6 / n`, Spark's
  `sum(ticks) / 1000000.0 / count(1)` operand for operand.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..session import ensure_shipped

TICK = 1_000_000
_GRID_LIMIT = 2.0**53

# (valid rows of the batch, their (n, d) matrix) -> (int key per keyed
# vector, the keyed vectors as an (r, d') float matrix)
Key = Callable[[pd.DataFrame, np.ndarray], tuple[np.ndarray, np.ndarray]]


def nearest(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Row i's nearest centroid: the first argmin of the left-fold
    squared L2 distance from X[i] to each row of C."""
    acc = np.zeros((len(X), len(C)))
    for j in range(C.shape[1]):
        d = X[:, j, None] - C[None, :, j]
        acc += d * d
    return acc.argmin(axis=1)


def _dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(len(A), len(B)) dot products, each a left fold over the dimensions."""
    acc = np.zeros((len(A), len(B)))
    for j in range(A.shape[1]):
        acc += A[:, j, None] * B[None, :, j]
    return acc


def _norms(A: np.ndarray) -> np.ndarray:
    acc = np.zeros(len(A))
    for j in range(A.shape[1]):
        acc += A[:, j] * A[:, j]
    return np.sqrt(acc)


def cosine_argmax(X: np.ndarray, C: np.ndarray, runner_up: bool = False) -> tuple:
    """(best, cos): row i's most cosine-similar row of C, the first argmax
    (ties go to the lowest index), and that cosine. A zero-norm row or
    centroid scores -1.0. With `runner_up`, a third array holds the
    second best index by the same rule (-1 when C has one row)."""
    den = _norms(X)[:, None] * _norms(C)[None, :]
    cos = np.divide(_dots(X, C), den, out=np.full(den.shape, -1.0), where=den > 0)
    rows = np.arange(len(X))
    best = cos.argmax(axis=1)
    out = (best, cos[rows, best])
    if not runner_up:
        return out
    if len(C) < 2:
        return out + (np.full(len(X), -1),)
    cos[rows, best] = -np.inf
    return out + (cos.argmax(axis=1),)


def cosine_assign(
    df: DataFrame,
    vec_col: str,
    best: Callable[[np.ndarray], tuple[np.ndarray, np.ndarray]],
    dim: int,
    *,
    caller: str,
    keep: list[str],
    out: tuple[str, str],
) -> DataFrame:
    """One `mapInPandas` pass: the `keep` columns of `df` plus the two
    `out` columns (bigint id, double cosine) that `best` gives for each
    batch of `vec_col` as an (n, dim) matrix. A null or misshapen vector
    raises `invalid_vectors`. The matrices `best` closes over ride the
    task closure, which PySpark broadcasts once it passes 1 MB. The
    optimizer cannot push a filter below the pass, so no plan evaluates
    it twice."""
    id_col, cos_col = out

    def _task(batches):
        for pdf in batches:
            X, ok = matrix(pdf[vec_col], dim)
            if not ok.all():
                raise invalid_vectors(caller, vec_col, dim)
            ids, cos = best(X)
            yield pdf[keep].assign(**{id_col: np.asarray(ids, dtype=np.int64), cos_col: cos})

    schema = StructType(
        [df.schema[c] for c in keep]
        + [StructField(id_col, LongType()), StructField(cos_col, DoubleType())]
    )
    ensure_shipped(df.sparkSession)  # the task calls this module by reference
    return df.mapInPandas(_task, schema)


def matrix(v: pd.Series, dim: int | None) -> tuple[np.ndarray, np.ndarray]:
    """(X, ok): the rows of an array column that are non-null and `dim`
    long (the first non-null row's length when `dim` is None) as an
    (n_ok, dim) float64 matrix, and the mask of those rows."""
    if dim is None:
        dim = next((len(a) for a in v if a is not None), 0)
    ok = np.fromiter((a is not None and len(a) == dim for a in v), bool, len(v))
    if not ok.any():
        return np.empty((0, dim)), ok
    return np.vstack(v[ok].to_numpy()).astype(np.float64, copy=False), ok


def invalid_vectors(caller: str, col: str, dim: int | None) -> ValueError:
    want = "as long as the other rows" if dim is None else f"{dim} long"
    return ValueError(
        f"{caller}: column {col!r} holds a null vector or one that is not {want}"
    )


def integers(X: np.ndarray, scale: int | None, caller: str) -> np.ndarray:
    """X as int64: ticks when `scale` is given, else the grid values
    themselves, which must be integers of magnitude below 2^53."""
    if scale is not None:
        return np.floor(X * scale + 0.5).astype(np.int64)
    bad = ~((np.floor(X) == X) & (np.abs(X) < _GRID_LIMIT))
    if bad.any():
        raise ValueError(
            f"{caller}: k-means grid values must be integer-valued doubles "
            f"of magnitude below 2^53; got {X[bad][0]!r}"
        )
    return X.astype(np.int64)


def partial_sums(
    df: DataFrame,
    vec_col: str,
    key: Key,
    *,
    caller: str,
    scale: int | None = None,
    dim: int | None = None,
) -> dict[int, tuple[np.ndarray, int]]:
    """{key: (int64 sum, count)} over `df` in one job. Each task emits
    one row per key it saw, plus one null-key row counting its null or
    misshapen vectors; any such row raises `invalid_vectors` here.
    `df` should hold only the columns `key` reads and `vec_col`."""

    def _task(batches):
        sums: dict[int, np.ndarray] = {}
        cnts: dict[int, int] = {}
        bad = 0
        for pdf in batches:
            X, ok = matrix(pdf[vec_col], dim)
            bad += len(ok) - int(ok.sum())
            if not len(X):
                continue
            ids, V = key(pdf[ok], X)
            u, inv = np.unique(ids, return_inverse=True)
            S = np.zeros((len(u), V.shape[1]), dtype=np.int64)
            np.add.at(S, inv, integers(V, scale, caller))
            for k, s, n in zip(u.tolist(), S, np.bincount(inv).tolist()):
                sums[k] = sums[k] + s if k in sums else s
                cnts[k] = cnts.get(k, 0) + n
        keys = sorted(sums)
        tail = [None] if bad else []
        yield pd.DataFrame(
            {
                "key": pd.Series(keys + tail, dtype="Int64"),
                "s": pd.Series([sums[k] for k in keys] + tail, dtype=object),
                "n": pd.Series([cnts[k] for k in keys] + ([bad] if bad else []), dtype="int64"),
            }
        )

    ensure_shipped(df.sparkSession)  # the task calls this module by reference
    rows = df.mapInPandas(_task, "key bigint, s array<bigint>, n bigint").collect()
    tot: dict[int, tuple[np.ndarray, int]] = {}
    for r in rows:
        if r["key"] is None:
            raise invalid_vectors(caller, vec_col, dim)
        s = np.asarray(r["s"], dtype=np.int64)
        k = r["key"]
        tot[k] = (tot[k][0] + s, tot[k][1] + r["n"]) if k in tot else (s, r["n"])
    return tot


def combine(
    totals: dict[int, tuple[np.ndarray, int]],
    *,
    scale: int | None = None,
    prev: dict[int, list[float]] | None = None,
) -> dict[int, list[float]]:
    """{key: mean} from `partial_sums` totals, rounded by `scale`'s rule.
    With `prev`, every key of `prev` that had no rows keeps its previous
    centroid (and the result follows `prev`'s key order); without it, such
    a key is absent."""
    out = dict(prev or {})
    for k, (s, n) in totals.items():
        m = np.floor(s / n + 0.5) if scale is None else s / float(scale) / n
        out[k] = [float(v) for v in m]
    return out


def lloyd_round(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    *,
    caller: str,
    scale: int | None = None,
) -> list[list[float]]:
    """One Lloyd round in one job: each vector is keyed by its `nearest`
    centroid, and each centroid moves to its members' mean (a centroid
    with no members stays where it was)."""
    C = np.asarray(centroids, dtype=np.float64)
    tot = partial_sums(
        df.select(vec_col),
        vec_col,
        lambda pdf, X: (nearest(X, C), X),
        caller=caller,
        scale=scale,
        dim=C.shape[1],
    )
    return list(combine(tot, scale=scale, prev=dict(enumerate(centroids))).values())


def label_means(
    df: DataFrame, label_col: str, vec_col: str, *, caller: str, scale: int | None = None
) -> list[dict]:
    """[{'label', 'n', 'centroid'}] sorted by label: the mean of each
    given (non-null integer) label's vectors, in one job."""
    tot = partial_sums(
        df.select(label_col, vec_col),
        vec_col,
        lambda pdf, X: (pdf[label_col].to_numpy(), X),
        caller=caller,
        scale=scale,
    )
    means = combine(tot, scale=scale)
    return [{"label": k, "n": tot[k][1], "centroid": means[k]} for k in sorted(tot)]
