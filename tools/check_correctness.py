"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, sorted column names,
and an order-insensitive value hash (values stringified with float
normalization, rows sorted). Prints one line per query + a summary.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(norm_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def duckdb_memory_limit() -> int:
    """Bytes the DuckDB oracle may hold before it spills: a quarter of the
    memory this process can have (physical memory, or the cgroup limit
    when that is lower). The rest stays for the Spark driver JVM and its
    Python workers, which run in the same sweep."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max",  # cgroup v2; "max" when unset
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):  # v1
        try:
            with open(path) as f:
                total = min(total, int(f.read()))
        except (OSError, ValueError):
            pass
    return total // 4


def clean_head(repo: str) -> str:
    """HEAD's sha; exits non-zero when tracked files differ from HEAD, so
    an artifact's sha always names the code that produced it."""

    def git(*args):
        return subprocess.run(
            ["git", *args], cwd=repo, capture_output=True, text=True, check=True
        ).stdout.strip()

    dirty = git("status", "--porcelain", "--untracked-files=no")
    if dirty:
        raise SystemExit(
            "--artifact: tracked files differ from HEAD; commit or stash "
            f"them first:\n{dirty}"
        )
    return git("rev-parse", "HEAD")


def main():
    # --artifact PATH: also write the sweep as a committed, diffable JSON
    # (git SHA inside) so the 170/170 claim is a checked-in artifact, not
    # a CI side effect — the driver's CORRECTNESS_r*.json samples ~50
    # queries, this records all of them.
    args = sys.argv[1:]
    artifact = None
    if "--artifact" in args:
        i = args.index("--artifact")
        if i + 1 >= len(args) or args[i + 1].startswith("/root/testdata"):
            raise SystemExit(
                "--artifact needs an output path (not a testdata dir)"
            )
        artifact = args[i + 1]
        args = args[:i] + args[i + 2 :]
        sha = clean_head(REPO)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from op_etl_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    # Bound the oracle engine's memory and let blocking operators spill:
    # an unbounded (or oversized) DuckDB hash join draws the OOM killer on
    # the corpus-wide containment oracle; with a limit + temp dir it
    # spills instead.
    con.execute(f"SET memory_limit='{duckdb_memory_limit() // 2**20}MB'")
    os.makedirs("/tmp/duckdb_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        # driver testdata is one file per table; Spark-materialized dirs
        # (tools/make_sf1.py, scale_probe fans) are parquet DIRECTORIES —
        # DuckDB needs the glob form for those
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            results[name] = {"status": "fail", "error": f"spark: {type(e).__name__}: {str(e)[:300]}"}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"....  {name}: rows-only ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
            results[name] = {"status": "rows_only", "rows": len(spark_rows),
                             "secs": round(time.time() - t0, 1)}
            continue
        try:
            rel = con.execute(oracles[name])
            duck_cols = [d[0] for d in rel.description]
            # fetch through Arrow like the driver does: HUGEINT/DECIMAL
            # surface as decimal128 here, not as clean Python ints
            atbl = rel.fetch_arrow_table()
            duck_rows = [tuple(d[c] for c in duck_cols) for d in atbl.to_pylist()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            results[name] = {"status": "fail", "error": f"duckdb: {type(e).__name__}: {str(e)[:300]}"}
            n_fail += 1
            continue
        problems = []
        import pyarrow.types as pat
        bad_types = [
            f"{f.name}:{f.type}" for f in atbl.schema
            if pat.is_decimal(f.type)
        ]
        if bad_types:
            problems.append(
                f"oracle exports decimal128 (HUGEINT sum?) — cast to BIGINT: {bad_types}"
            )
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        if not problems:
            hs = table_hash(spark_rows, spark_cols)
            hd = table_hash(duck_rows, duck_cols)
            if hs != hd:
                problems.append(f"hash spark={hs} duck={hd}")
                order_s = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
                order_d = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
                set_s = {"|".join(norm_value(r[i]) for i in order_s) for r in spark_rows}
                set_d = {"|".join(norm_value(r[i]) for i in order_d) for r in duck_rows}
                for x in list(set_s - set_d)[:3]:
                    problems.append(f"  spark-only: {x[:160]}")
                for x in list(set_d - set_s)[:3]:
                    problems.append(f"  duck-only:  {x[:160]}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            results[name] = {"status": "fail", "problems": [p[:300] for p in problems]}
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
            results[name] = {"status": "pass", "rows": len(spark_rows),
                             "hash": table_hash(spark_rows, spark_cols),
                             "secs": round(time.time() - t0, 1)}
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed, {len(qs)} total")
    if artifact:
        import json

        with open(artifact, "w") as f:
            json.dump(
                {
                    "git_sha": sha,
                    "sf_dir": sf_dir,
                    "declared": len(qs),
                    "checked": len(results),
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "queries": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
        print(f"artifact -> {artifact}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
