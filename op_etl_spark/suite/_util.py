"""Shared helpers for the query suite.

Cross-engine float determinism. Two distinct problems, two tools:

1. Rounding rules differ: Spark `round` applies HALF_UP to the exact
   decimal expansion of the binary double; DuckDB rounds the shortest
   decimal representation. On exact .xx5 boundaries they disagree.
   `fround` = `floor(x * 10^n + 0.5) / 10^n` — identical IEEE754 ops on
   both engines, bit-identical results given identical inputs.

2. Summation *order and algorithm* differ: DuckDB's (windowed) SUM uses
   segment-tree/blocked accumulation, Spark sums per-partition then
   merges — different fp association, ulp-level differences that rounding
   can't fully hide. `money_sum`/`money_avg` convert fixed-point values to
   exact integers first (`floor(x*10^s + 0.5)` per row), sum the integers
   (exact, order-independent), and divide back — deterministic across
   engines regardless of plan shape. Use for any aggregate over 2-decimal
   money-like columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def read_table(spark, sf_dir: str, name: str, fan: bool = False) -> DataFrame:
    """Parquet read with a per-session DataFrame cache.

    Every suite query rebuilding `spark.read.parquet(path)` pays file
    listing + footer schema inference (~80 ms locally, worse on object
    stores) per table per build; multi-join queries pay it five times.
    Returning the same analyzed DataFrame skips all of it. Safe because
    the benchmark tables are immutable; the cache key includes the fan_out
    decision, and the cache lives on the session object so it dies with
    the session."""
    from op_etl_spark.session import session_cache

    cache = session_cache(spark, "_op_etl_table_cache")
    key = (sf_dir, name, fan)
    df = cache.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if fan:
            df = fan_out(df)
        cache[key] = df
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the scan produced fewer partitions
    than the cluster has task slots (i.e. a small single-file local input).

    On the bench's one-file parquet tables every downstream map stage
    (shingling, md5 minhash, tokenize) would otherwise run on ONE core.
    At real scale (100 TB = thousands of file splits) the condition is
    false and this is a no-op — we never pay a full-data shuffle there.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot_fold(a, b) -> Column:
    """Sequential left-fold dot product over two array<double> columns —
    the deterministic accumulation order that matches DuckDB's
    list_dot_product bit-for-bit (the property every embedding oracle
    twin relies on). One definition so a future fold fix has one site."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )


def word_ngrams(words, n: int) -> Column:
    """Every run of `n` consecutive words of an array<string> column, in
    order and with repeats, each joined by one space — DuckDB's
    `[array_to_string(ws[i:i+n-1], ' ') for i in range(1, len(ws) - n + 2)]`.
    NULL for NULL words. Needs at least n - 1 words (slice refuses a
    negative length), so callers guard shorter arrays first."""
    w = _c(words)
    m = F.size(w) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(w, i + 1, m) for i in range(n)])
    return F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))


def norm_fold(a) -> Column:
    return F.sqrt(dot_fold(a, a))


def fround(col, n: int) -> Column:
    p = 10 ** n
    return F.floor(_c(col) * p + F.lit(0.5)) / F.lit(float(p))


def cents(col, scale: int = 2) -> Column:
    """Fixed-point value -> exact integer units."""
    p = 10 ** scale
    return F.floor(_c(col) * p + F.lit(0.5)).cast("long")


def money_sum(col, scale: int = 2) -> Column:
    """Order-independent exact sum of fixed-point values."""
    return F.sum(cents(col, scale)) / F.lit(float(10 ** scale))


def money_avg(col, scale: int = 2) -> Column:
    """Deterministic average of fixed-point values (exact sum / count)."""
    return (F.sum(cents(col, scale)) / F.lit(float(10 ** scale))) / F.count(F.lit(1))


def sql_cents(expr: str, scale: int = 2) -> str:
    p = 10 ** scale
    return f"CAST(floor(({expr}) * {p} + 0.5) AS BIGINT)"


def sql_money_sum(expr: str, scale: int = 2) -> str:
    p = 10 ** scale
    return f"sum({sql_cents(expr, scale)}) / {p}.0"


def sql_money_avg(expr: str, scale: int = 2) -> str:
    p = 10 ** scale
    return f"(sum({sql_cents(expr, scale)}) / {p}.0) / count(*)"


def fixture_mod(n_rows: int, target_rows: int) -> int:
    """Power-of-two subsample modulus sized from the table's row count so
    `key % mod == 0` keeps ~target_rows rows at ANY scale factor.

    The stream gates write driver-local fixture files; a FIXED modulus
    bounds only the collected FRACTION, so the driver collect grows
    linearly with the corpus. Deriving the modulus from one cheap count
    makes the collect O(target_rows) instead. Pure integer/double math —
    `fixture_mod_sql` is the bit-identical DuckDB twin, so the oracle
    self-adapts to whatever sf dir the gate runs against."""
    import math

    if n_rows <= target_rows:
        return 1
    return 2 ** math.ceil(math.log2(n_rows / float(target_rows)))


def fixture_mod_sql(table: str, target_rows: int) -> str:
    """Scalar-subquery SQL twin of `fixture_mod` over `table`'s count(*)."""
    return (
        f"(SELECT CASE WHEN count(*) <= {target_rows} THEN 1 "
        f"ELSE CAST(pow(2, ceil(log2(count(*) / {target_rows}.0))) AS BIGINT) END "
        f"FROM {table})"
    )
