"""The near-dup family (suite/dedup.py) by component.

- the signature kernel (`_minhash_sigs_np`) gives all 16 `h` columns of
  the DuckDB formulation (`_DUCK_MINHASH_AB` and its 16-way min) on edge
  rows and on the sf0.001 corpus;
- a NULL text matches nothing: every dedup query equals its oracle on a
  fixture holding two NULL-text documents and two identical ones;
- one owner per step: `xxhash64(`, `array_intersect(` and
  `_band_structs(` each appear in one function of suite/dedup.py and
  nowhere in operators/dedup_index.py.
"""

from __future__ import annotations

import ast
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tools.check_correctness import table_hash

SF = "/root/testdata/sf0.001"
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "op_etl_spark")

EDGE_ROWS = [
    (1, "a b c d e f"),  # normal shingles
    (1, "b c d x y z"),  # duplicate doc_id: min over both rows
    (2, "short"),  # < 3 words -> the text is its one shingle
    (3, None),  # NULL text -> NULL signature, row kept
    (4, "ü tøk ümlaut ü tøk"),  # unicode, repeated shingles
    (5, "a b c d e f"),  # exact overlap with doc 1
    (6, ""),  # empty text -> the single shingle ""
]


def _write_docs(dirpath, rows) -> str:
    ids, texts = zip(*rows)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
        os.path.join(dirpath, "documents.parquet"),
    )
    return str(dirpath)


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        rel = con.execute(sql)
        cols = [d[0] for d in rel.description]
        return cols, [tuple(r) for r in rel.fetchall()]
    finally:
        con.close()


def _duck_sigs(sf_dir: str) -> dict:
    from op_etl_spark.suite.dedup import N_HASHES, _duck_minhash_core

    hs = ", ".join(f"h{k}" for k in range(N_HASHES))
    _, rows = _duck(sf_dir, _duck_minhash_core() + f"SELECT doc_id, {hs} FROM sigs")
    return {r[0]: tuple(r[1:]) for r in rows}


def _kernel_sigs(spark, sf_dir: str) -> dict:
    from op_etl_spark.suite.dedup import N_HASHES, _docs, _minhash_sigs_np, _shingle_arrays

    sigs = _minhash_sigs_np(_shingle_arrays(_docs(spark, sf_dir)))
    return {r["doc_id"]: tuple(r[f"h{k}"] for k in range(N_HASHES)) for r in sigs.collect()}


def test_kernel_signatures_match_duckdb(spark, tmp_path):
    fixture = _write_docs(tmp_path, EDGE_ROWS)
    got = _kernel_sigs(spark, fixture)
    assert got == _duck_sigs(fixture)
    assert got[3] == (None,) * 16 and None not in got[6]

    got = _kernel_sigs(spark, SF)
    assert got == _duck_sigs(SF) and len(got) == 500


NULL_ROWS = [
    (3, "the quick brown fox jumps over the lazy dog"),
    (4, "the quick brown fox jumps over the lazy dog"),
    (13, None),  # in the doc_id % 10 == 3 delta
    (50, None),  # in minhash_signature_sample's doc_id % 50 == 0 sample
    (100, "an unrelated sentence about something else entirely"),
    (7, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
]


@pytest.fixture(scope="module")
def null_fixture(tmp_path_factory):
    return _write_docs(tmp_path_factory.mktemp("null_docs"), NULL_ROWS)


def test_null_text_matches_nothing(spark, null_fixture):
    from op_etl_spark.suite import dedup

    mismatched = {}
    for name, fn in dedup.QUERIES.items():
        df = fn(spark, null_fixture)
        got = table_hash([tuple(r) for r in df.collect()], df.columns)
        cols, rows = _duck(null_fixture, dedup.ORACLE[name])
        if got != table_hash(rows, cols):
            mismatched[name] = rows
    spark.catalog.clearCache()
    assert not mismatched, mismatched

    pairs = {tuple(r) for r in dedup.jaccard_verified_pairs(spark, null_fixture).collect()}
    assert pairs == {(3, 4, 7, 1.0)}
    sample = dedup.minhash_signature_sample(spark, null_fixture).collect()
    assert {(r.doc_id, r.h0) for r in sample if r.h0 is None} == {(50, None)}
    spark.catalog.clearCache()


def test_dedup_delta_null_text_matches_nothing(spark, null_fixture, tmp_path):
    from pyspark.sql import functions as F

    from op_etl_spark.operators.dedup_index import build_dedup_index, dedup_delta
    from op_etl_spark.suite.dedup import _docs

    docs = _docs(spark, null_fixture)
    idx = str(tmp_path / "idx")
    build_dedup_index(docs.filter(F.col("doc_id") != 13), idx)
    # a delta of one NULL-text document: an Arrow batch with no shingle
    assert dedup_delta(spark, idx, docs.filter(F.col("doc_id") == 13)).collect() == []
    got = {tuple(r) for r in dedup_delta(spark, idx, docs.filter(F.col("doc_id") == 3)).collect()}
    assert got == {(3, 3, 7, 1.0), (3, 4, 7, 1.0)}


# --- one owner per step ---

GUARDED = ("xxhash64", "array_intersect", "_band_structs")


def _calls_by_function(tree: ast.AST) -> dict:
    """{guarded name: {top-level function names whose body calls it}}."""
    out = {n: set() for n in GUARDED}
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in out:
                    out[name].add(getattr(top, "name", "<module>"))
    return out


def _parse(rel: str) -> ast.AST:
    with open(os.path.join(PKG, rel)) as f:
        return ast.parse(f.read(), rel)


def test_guard_sees_the_calls():
    src = (
        "def f(c):\n    return F.xxhash64(c)\n"
        "def g(a, b):\n    return F.array_intersect(a, b), _band_structs()\n"
        "X = F.xxhash64('x')\n"
    )
    assert _calls_by_function(ast.parse(src)) == {
        "xxhash64": {"f", "<module>"},
        "array_intersect": {"g"},
        "_band_structs": {"g"},
    }


def test_each_near_dup_step_has_one_owner():
    found = _calls_by_function(_parse(os.path.join("suite", "dedup.py")))
    assert found == {
        "xxhash64": {"_shingle_ids"},
        "array_intersect": {"_exact_overlap"},
        "_band_structs": {"_bands"},
    }, found
    found = _calls_by_function(_parse(os.path.join("operators", "dedup_index.py")))
    assert found == {n: set() for n in GUARDED}, found


def test_incremental_lsh_dedup_runs_the_kernel_once(spark):
    from op_etl_spark.suite.dedup import incremental_lsh_dedup

    df = incremental_lsh_dedup(spark, SF)
    p = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    tree = p.split("\n\n", 1)[0]
    # the persisted band table prints its cached plan once per reference;
    # count the distinct physical MapInPandas nodes by their node ids
    ids = {ln.split(")", 1)[0] for ln in p.splitlines() if ln.startswith("(") and "MapInPandas" in ln}
    assert len(ids) == 1, tree
    spark.catalog.clearCache()
