"""Persisted IVF index: build determinism, partition pruning, search
correctness (full-probe == brute force) and recall at partial probe."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from op_etl_spark.operators.ann_index import (
    build_ivf_index,
    ivf_search,
    load_centroids,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
N_LISTS = 8


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = build_ivf_index(emb, path, n_lists=N_LISTS, iters=2)
    return path, centroids, emb


@pytest.fixture(scope="module")
def query_vec(spark):
    row = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .collect()[0]
    )
    return [float(v) for v in row.embedding]


def _brute_topk(spark, query, k):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = F.array(*[F.lit(float(v)) for v in query])
    e = F.col("embedding").cast("array<double>")
    dot = F.aggregate(F.zip_with(e, q, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    nrm = F.sqrt(F.aggregate(F.zip_with(e, e, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v))
    qn = sum(v * v for v in query) ** 0.5
    return [
        r.vec_id
        for r in emb.withColumn("cosine", dot / (nrm * F.lit(qn)))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
        .collect()
    ]


def test_layout_and_coverage(spark, index):
    path, centroids, emb = index
    assert len(centroids) == N_LISTS and len(centroids[0]) > 0
    part_dirs = glob.glob(os.path.join(path, "vectors", "list_id=*"))
    assert 1 < len(part_dirs) <= N_LISTS
    vecs = spark.read.parquet(f"{path}/vectors")
    assert vecs.count() == emb.count()
    assert load_centroids(spark, path) == centroids


def test_build_deterministic(spark, index, tmp_path):
    path, centroids, emb = index
    again = build_ivf_index(emb, str(tmp_path / "idx2"), n_lists=N_LISTS, iters=2)
    assert again == centroids


def test_partition_pruning_in_plan(spark, index, query_vec):
    path, _, _ = index
    df = ivf_search(spark, path, query_vec, nprobe=2, topk=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    probed = {r.list_id for r in df.select("list_id").distinct().collect()}
    assert len(probed) <= 2


def test_full_probe_equals_bruteforce(spark, index, query_vec):
    path, _, _ = index
    got = [r.vec_id for r in ivf_search(spark, path, query_vec, nprobe=N_LISTS, topk=10).collect()]
    assert got == _brute_topk(spark, query_vec, 10)


def test_partial_probe_recall(spark, index, query_vec):
    path, _, _ = index
    got = {r.vec_id for r in ivf_search(spark, path, query_vec, nprobe=4, topk=10).collect()}
    truth = set(_brute_topk(spark, query_vec, 10))
    # embeddings are near-random (TESTDATA), so partial-probe recall is
    # modest but deterministic; the self-match (vec_id 0) must survive
    assert 0 in got
    assert len(got & truth) >= 3


def test_small_corpus_clamps_n_lists(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(F.col("vec_id") < 5)
    cents = build_ivf_index(emb, str(tmp_path / "tiny"), n_lists=16, iters=1)
    assert 0 < len(cents) <= 5
    vecs = spark.read.parquet(str(tmp_path / "tiny") + "/vectors")
    assert vecs.count() == 5


def test_build_stable_under_repartition(spark, index, tmp_path):
    path, centroids, emb = index
    again = build_ivf_index(emb.repartition(13), str(tmp_path / "idx3"), n_lists=N_LISTS, iters=2)
    assert again == centroids


class TestIncrementalAppend:
    def test_append_assigns_writes_and_leaves_other_lists_untouched(
        self, spark, tmp_path
    ):
        from op_etl_spark.operators.ann_index import ivf_append_batch

        path = str(tmp_path / "idx")
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        base = emb.filter(F.col("vec_id") % 2 == 0)
        batch = emb.filter(F.col("vec_id") % 2 == 1)
        centroids = build_ivf_index(base, path, n_lists=N_LISTS, iters=2)

        files_before = {
            d: sorted(os.listdir(os.path.join(path, "vectors", d)))
            for d in os.listdir(os.path.join(path, "vectors"))
            if d.startswith("list_id=")
        }
        touched = ivf_append_batch(spark, path, batch)
        assert touched  # something was written

        # every vector present exactly once after the append
        allv = spark.read.parquet(f"{path}/vectors")
        assert allv.count() == emb.count()
        assert allv.select("vec_id").distinct().count() == emb.count()

        # untouched list partitions kept their exact file sets
        for d, before in files_before.items():
            lid = int(d.split("=")[1])
            if lid not in touched:
                after = sorted(os.listdir(os.path.join(path, "vectors", d)))
                assert after == before

        # frozen codebook: appended vectors sit in the argmin list of the
        # ORIGINAL centroids (spot-check via a fresh assignment)
        import numpy as np

        from op_etl_spark.operators.kmeans import nearest

        rows = batch.select("vec_id", "embedding").collect()
        X = np.array([r.embedding for r in rows], dtype="float64")
        expected = zip([r.vec_id for r in rows], nearest(X, np.array(centroids)).tolist())
        got = allv.join(batch.select("vec_id"), "vec_id").select("vec_id", "list_id")
        assert {(r.vec_id, r.list_id) for r in got.collect()} == set(expected)

        # search still finds an appended vector as its own nearest neighbor
        target = batch.orderBy("vec_id").limit(1).collect()[0]
        q = [float(v) for v in target.embedding]
        hits = ivf_search(spark, path, q, nprobe=N_LISTS, topk=3).collect()
        assert hits[0].vec_id == target.vec_id
