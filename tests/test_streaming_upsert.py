"""Keyed upsert sink: latest-wins merge semantics, bounded bucket
rewrites, retry idempotence, and the streaming end-to-end path."""

import glob
import json
import os

from pyspark.sql import functions as F

from op_etl_spark.streaming.upsert import (
    BUCKET_COL,
    _bucket,
    latest_per_key,
    merge_upsert_batch,
    read_upsert_target,
    start_upsert_stream,
)

KEYS = ["k"]
SEQ = "seq"
N_BUCKETS = 8


def _updates(spark, rows):
    structs = [
        F.struct(F.lit(k).alias("k"), F.lit(s).alias("seq"), F.lit(v).alias("val"))
        for k, s, v in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("r"))
        .select("r.k", "r.seq", "r.val")
    )


def _state(spark, target):
    return {
        r.k: (r.seq, r.val)
        for r in read_upsert_target(spark, target).collect()
    }


def test_merge_semantics(spark, tmp_path):
    target = str(tmp_path / "t")
    merge_upsert_batch(
        _updates(spark, [(1, 10, "a"), (2, 10, "b")]), target, KEYS, SEQ, N_BUCKETS
    )
    assert _state(spark, target) == {1: (10, "a"), 2: (10, "b")}

    # newer seq wins, older (late) loses, new key inserts
    merge_upsert_batch(
        _updates(spark, [(1, 11, "a2"), (2, 9, "late"), (3, 10, "c")]),
        target, KEYS, SEQ, N_BUCKETS,
    )
    assert _state(spark, target) == {1: (11, "a2"), 2: (10, "b"), 3: (10, "c")}


def test_retry_idempotent(spark, tmp_path):
    target = str(tmp_path / "t")
    b1 = _updates(spark, [(1, 10, "a"), (2, 10, "b")])
    merge_upsert_batch(b1, target, KEYS, SEQ, N_BUCKETS)
    before = _state(spark, target)
    merge_upsert_batch(b1, target, KEYS, SEQ, N_BUCKETS)  # redelivery
    assert _state(spark, target) == before


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    target = str(tmp_path / "t")
    # seed many keys so several buckets exist
    merge_upsert_batch(
        _updates(spark, [(k, 1, f"v{k}") for k in range(40)]),
        target, KEYS, SEQ, N_BUCKETS,
    )
    all_dirs = sorted(glob.glob(os.path.join(target, f"{BUCKET_COL}=*")))
    assert len(all_dirs) > 2

    # find the bucket of key 0 and update only that key
    bucket_of_0 = (
        _updates(spark, [(0, 2, "v0b")])
        .select(_bucket(KEYS, N_BUCKETS).alias("b"))
        .collect()[0]
        .b
    )
    untouched = [d for d in all_dirs if d != os.path.join(target, f"{BUCKET_COL}={bucket_of_0}")]
    sig_before = {d: sorted(os.listdir(d)) for d in untouched}

    merge_upsert_batch(_updates(spark, [(0, 2, "v0b")]), target, KEYS, SEQ, N_BUCKETS)

    assert _state(spark, target)[0] == (2, "v0b")
    for d in untouched:
        assert sorted(os.listdir(d)) == sig_before[d]  # bytes untouched


def test_streaming_end_to_end(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    rows1 = [{"k": 1, "seq": 10, "val": "a"}, {"k": 2, "seq": 10, "val": "b"}]
    rows2 = [{"k": 1, "seq": 11, "val": "a2"}, {"k": 3, "seq": 10, "val": "c"}]
    for i, rows in enumerate([rows1, rows2]):
        with open(src / f"{i}.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("k long, seq long, val string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    target = str(tmp_path / "t")
    q = start_upsert_stream(
        stream, target, str(tmp_path / "ckpt"), KEYS, SEQ, N_BUCKETS,
        available_now=True,
    )
    assert q.awaitTermination(120)
    assert _state(spark, target) == {1: (11, "a2"), 2: (10, "b"), 3: (10, "c")}


def test_latest_per_key_deterministic_on_ties(spark):
    df = _updates(spark, [(1, 10, "x"), (1, 10, "y")])
    got = latest_per_key(df, KEYS, SEQ).collect()
    assert len(got) == 1 and got[0].val == "y"  # struct-desc tiebreak


def test_latest_per_key_null_seq_never_drops_a_key(spark):
    """The max_by ordinal is a struct wrapping seq, never a bare seq: a
    bare null ordinal would make max_by skip the row and an all-null-seq
    key would VANISH from the merged state. Struct ordering instead
    treats the null field as smallest, so non-null seq wins and an
    all-null key still keeps exactly one row."""
    df = spark.createDataFrame(
        [(1, None, "only"), (2, None, "lo"), (2, 5, "hi")],
        "k int, seq int, val string",
    )
    got = {r.k: (r.seq, r.val) for r in latest_per_key(df, KEYS, SEQ).collect()}
    assert got == {1: (None, "only"), 2: (5, "hi")}


def test_merge_is_split_invariant(spark, tmp_path):
    """The redelivery/associativity contract the foreachBatch merge rests
    on, checked end-to-end: replaying the same update set as ONE batch,
    as THREE batches, and as three batches with one redelivered must all
    land the identical target state. Seeded-random updates with heavy
    key collision and duplicated (key, seq) pairs so the tie-break path
    is exercised, not just the max path."""
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        rows = [
            (rng.randrange(12), rng.randrange(6), f"v{seed}_{i}")
            for i in range(60)
        ]
        one = str(tmp_path / f"one_{seed}")
        merge_upsert_batch(_updates(spark, rows), one, KEYS, SEQ, N_BUCKETS)

        cut1, cut2 = sorted(rng.sample(range(1, len(rows)), 2))
        parts = [rows[:cut1], rows[cut1:cut2], rows[cut2:]]
        split = str(tmp_path / f"split_{seed}")
        for p in parts:
            merge_upsert_batch(_updates(spark, p), split, KEYS, SEQ, N_BUCKETS)
        # redeliver the middle batch (retry semantics: must be a no-op)
        merge_upsert_batch(_updates(spark, parts[1]), split, KEYS, SEQ, N_BUCKETS)

        assert _state(spark, one) == _state(spark, split), f"seed {seed}"


def test_mismatched_buckets_rejected(spark, tmp_path):
    target = str(tmp_path / "t")
    merge_upsert_batch(_updates(spark, [(1, 1, "a")]), target, KEYS, SEQ, 8)
    import pytest as pt

    with pt.raises(ValueError, match="n_buckets=8"):
        merge_upsert_batch(_updates(spark, [(1, 2, "b")]), target, KEYS, SEQ, 4)


def test_schema_drift_raises_not_data_loss(spark, tmp_path):
    target = str(tmp_path / "t")
    merge_upsert_batch(
        _updates(spark, [(k, 1, f"v{k}") for k in range(10)]), target, KEYS, SEQ, N_BUCKETS
    )
    widened = _updates(spark, [(0, 2, "x")]).withColumn("extra", F.lit(1))
    import pytest as pt

    with pt.raises(Exception):  # surfaces instead of silently dropping rows
        merge_upsert_batch(widened, target, KEYS, SEQ, N_BUCKETS)
    assert len(_state(spark, target)) == 10  # nothing lost


def test_unorderable_payload_column_accepted(spark, tmp_path):
    target = str(tmp_path / "t")
    df = _updates(spark, [(1, 1, "a"), (1, 2, "b")]).withColumn(
        "meta", F.create_map(F.lit("k"), F.col("val"))
    )
    merge_upsert_batch(df, target, KEYS, SEQ, N_BUCKETS)
    got = read_upsert_target(spark, target).collect()
    assert len(got) == 1 and got[0].seq == 2


def test_type_drift_raises_before_write(spark, tmp_path):
    # ADVICE r11: a same-named column of a coercible different type (int
    # vs long seq) must raise the drift error, not be silently widened by
    # unionByName into files the marker's recorded schema can't read back
    target = str(tmp_path / "t")
    merge_upsert_batch(
        _updates(spark, [(1, 10, "a")]), target, KEYS, SEQ, N_BUCKETS
    )
    drifted = _updates(spark, [(1, 11, "a2")]).withColumn(
        "seq", F.col("seq").cast("long")
    )
    import pytest

    with pytest.raises(ValueError, match="drift"):
        merge_upsert_batch(drifted, target, KEYS, SEQ, N_BUCKETS)
    # the target is untouched and still mergeable with the right types
    merge_upsert_batch(
        _updates(spark, [(1, 12, "a3")]), target, KEYS, SEQ, N_BUCKETS
    )
    assert _state(spark, target)[1] == (12, "a3")


def test_merge_into_all_new_buckets(spark, tmp_path):
    # the bucket-pruned read lists only touched `__bucket=` subdirs; a
    # batch whose touched buckets were ALL never written (glob matches
    # nothing) must merge as batch-only, not error
    target = str(tmp_path / "t")
    rows = [(k, 10, f"v{k}") for k in range(4)]
    first = [r for r in rows if _bucket_of(spark, r[0]) == _bucket_of(spark, 0)]
    rest = [r for r in rows if r not in first]
    merge_upsert_batch(_updates(spark, first), target, KEYS, SEQ, N_BUCKETS)
    merge_upsert_batch(_updates(spark, rest), target, KEYS, SEQ, N_BUCKETS)
    assert _state(spark, target) == {k: (s, v) for k, s, v in rows}


def _bucket_of(spark, k):
    from pyspark.sql import Row

    return (
        spark.createDataFrame([Row(k=k)])
        .select(_bucket(["k"], N_BUCKETS).alias("b"))
        .collect()[0]["b"]
    )


def _bucket_files(target):
    """{bucket dir: {data file name: bytes}} for every `__bucket=` dir."""
    out = {}
    for d in sorted(glob.glob(os.path.join(target, f"{BUCKET_COL}=*"))):
        out[d] = {}
        for name in os.listdir(d):
            if name.startswith("part-"):
                with open(os.path.join(d, name), "rb") as f:
                    out[d][name] = f.read()
    return out


def test_merge_into_mixed_existing_and_new_buckets(spark, tmp_path):
    # one batch that updates keys in existing buckets AND inserts keys
    # into buckets never written before: no key's state may be lost, and
    # the buckets the batch does not touch keep their bytes
    n = 16
    target = str(tmp_path / "t")
    by_bucket = {}
    keyed = _updates(spark, [(k, 0, "") for k in range(64)])
    for r in keyed.select("k", _bucket(KEYS, n).alias("b")).collect():
        by_bucket.setdefault(r.b, []).append(r.k)
    buckets = sorted(by_bucket)
    old_b, new_b = buckets[: len(buckets) // 2], buckets[len(buckets) // 2:]
    first = [(k, 1, f"a{k}") for b in old_b for k in by_bucket[b]]
    merge_upsert_batch(_updates(spark, first), target, KEYS, SEQ, n)
    # update one key of the first existing bucket (plus a late replay of
    # another) and insert every key of the never-written buckets
    upd_k, late_k = by_bucket[old_b[0]][0], by_bucket[old_b[-1]][0]
    second = [(upd_k, 2, "upd"), (late_k, 0, "late")] + [
        (k, 1, f"n{k}") for b in new_b for k in by_bucket[b]
    ]
    untouched = {
        d: files for d, files in _bucket_files(target).items()
        if d not in {os.path.join(target, f"{BUCKET_COL}={b}")
                     for b in (old_b[0], old_b[-1])}
    }
    merge_upsert_batch(_updates(spark, second), target, KEYS, SEQ, n)

    want = {k: (s, v) for k, s, v in first}
    want.update({k: (s, v) for k, s, v in second if k != late_k})
    assert _state(spark, target) == want
    after = _bucket_files(target)
    for d, files in untouched.items():
        assert after[d] == files


def test_one_file_per_bucket_and_one_merge_shuffle(spark, tmp_path):
    # more buckets than task slots (local[4]): each write task writes the
    # files of several buckets, yet every bucket dir holds exactly one
    # data file, and a merge into an existing target shuffles once (plus
    # the touched-bucket probe's shuffle) — no second repartition
    n = 16
    assert spark.sparkContext.defaultParallelism < n
    target = str(tmp_path / "t")
    merge_upsert_batch(
        _updates(spark, [(k, 1, f"a{k}") for k in range(0, 60, 2)]),
        target, KEYS, SEQ, n,
    )
    before = {s.stageId() for s in _stages(spark)}
    merge_upsert_batch(
        _updates(spark, [(k, 2, f"b{k}") for k in range(30, 90)]
                 + [(40, 3, "dup"), (41, 0, "late")]),
        target, KEYS, SEQ, n,
    )
    shuffle_writers = [
        s for s in _stages(spark)
        if s.stageId() not in before and s.shuffleWriteRecords() > 0
    ]
    assert len(shuffle_writers) == 2, [s.name() for s in shuffle_writers]

    files = _bucket_files(target)
    assert len(files) > spark.sparkContext.defaultParallelism
    assert all(len(f) == 1 for f in files.values()), {
        d: sorted(f) for d, f in files.items() if len(f) != 1
    }
    want = {k: (1, f"a{k}") for k in range(0, 60, 2)}
    want.update({k: (2, f"b{k}") for k in range(30, 90)})
    want[40] = (3, "dup")
    assert _state(spark, target) == want


def _stages(spark):
    """Every stage in the status store, once the listener bus has
    delivered the events of the jobs that already ran."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jvm = spark._jvm
    empty = sc._gateway.new_array(jvm.double, 0)
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False, empty, jvm.java.util.ArrayList()
    )
    return [stages.apply(i) for i in range(stages.size())]


def test_empty_batch_leaves_target_unchanged(spark, tmp_path):
    target = str(tmp_path / "t")
    merge_upsert_batch(
        _updates(spark, [(k, 1, f"v{k}") for k in range(20)]),
        target, KEYS, SEQ, N_BUCKETS,
    )
    state, files = _state(spark, target), _bucket_files(target)
    empty = _updates(spark, [(0, 0, "x")]).limit(0)
    merge_upsert_batch(empty, target, KEYS, SEQ, N_BUCKETS)
    assert _state(spark, target) == state
    assert _bucket_files(target) == files


def test_stream_restart_from_checkpoint_matches_uninterrupted_run(
    spark, tmp_path
):
    # stop the stream after its first file, add the second file, restart
    # from the same checkpoint: the state must equal one uninterrupted run
    # over both files (the second file carries updates, a late replay and
    # new keys)
    files = [
        [(k, 10, f"a{k}") for k in range(12)] + [(3, 12, "a3b")],
        [(k, 11, f"b{k}") for k in range(6, 18)] + [(2, 9, "late")],
    ]

    def put(src, i):
        with open(src / f"{i}.json", "w") as f:
            for k, s, v in files[i]:
                f.write(json.dumps({"k": k, "seq": s, "val": v}) + "\n")

    def stream(src):
        return (
            spark.readStream.schema("k long, seq long, val string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    src, target, ckpt = tmp_path / "src", str(tmp_path / "t"), str(tmp_path / "ck")
    src.mkdir()
    put(src, 0)
    q = start_upsert_stream(stream(src), target, ckpt, KEYS, SEQ, N_BUCKETS)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    put(src, 1)
    q = start_upsert_stream(
        stream(src), target, ckpt, KEYS, SEQ, N_BUCKETS, available_now=True
    )
    assert q.awaitTermination(120)

    one_src, one = tmp_path / "src1", str(tmp_path / "t1")
    one_src.mkdir()
    put(one_src, 0)
    put(one_src, 1)
    q = start_upsert_stream(
        stream(one_src), one, str(tmp_path / "ck1"), KEYS, SEQ, N_BUCKETS,
        available_now=True,
    )
    assert q.awaitTermination(120)

    want = {k: (10, f"a{k}") for k in range(12)}
    want[3] = (12, "a3b")
    want.update({k: (11, f"b{k}") for k in range(6, 18)})
    assert _state(spark, one) == want
    assert _state(spark, target) == want
