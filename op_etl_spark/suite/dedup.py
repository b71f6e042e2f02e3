"""Deduplication operators over `documents` — exact, n-gram Jaccard,
MinHash+LSH, SimHash. The training-data-pipeline surface, designed
scale-first:

 - exact dedup = one hash-groupBy (single shuffle, map-side combine);
 - n-gram Jaccard = shingle inverted-index self-join (the exact baseline;
   at 100 TB you run it only on LSH candidates);
 - MinHash+LSH = signatures in one mapInPandas pass over the shingle
   arrays (one md5 per distinct shingle per batch, per-doc minima via
   reduceat); band-bucket join produces candidates without any
   all-pairs work;
 - SimHash = 16-bit fingerprint via per-bit majority vote, prefix-bucket
   join (banding) instead of an O(n^2) cross join.

Each step of the near-dup family has one owner here, which
operators/dedup_index.py and suite/clustering.py call too:
`_shingle_arrays` (the shingle sets), `_shingle_ids` (their 64-bit ids),
`_minhash_sigs_np` (signatures), `_bands` (the LSH layout),
`_exact_overlap` (the verify join) and `_rounded_jaccard` (the score).
A NULL text has no shingles: its shingle array and signature are NULL
and it matches nothing, as in the DuckDB oracles, where NULL never joins
NULL.

Hash contract shared with the DuckDB oracles: ONE md5 per shingle/token,
hex-parsed into 60/56-bit ints on both engines (Spark `conv` or Python
`int(hex, 16)`, DuckDB `('0x'||…)::BIGINT`), then a Carter-Wegman family
h_k = (a + k*b) mod (2^61-1) derives all minhash functions with exact
int64 arithmetic — 16× less hashing than the naive min(md5(k|shingle))
per k, with the pairwise-independence guarantee the naive seeding lacks.
Everything is column expressions, except the 64-bit SimHash vote
partials and the minhash signature minima, which run as vectorized
mapInPandas kernels (bit-exact by integer arithmetic — see `_simhash64`,
`_minhash_sigs_np`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import fround, read_table, word_ngrams

N_HASHES = 16  # minhash signature length
BAND_ROWS = 4  # rows per LSH band -> 4 bands
MINHASH_P = (1 << 61) - 1  # Mersenne prime; a < 2^60, k*b < 2^60 -> no int64 overflow
JACCARD_THRESHOLD = 0.3
SIMHASH_BITS = 16
SIMHASH_MAX_HAMMING = 3
BAND_KEY = ["band_id"] + [f"x{r}" for r in range(BAND_ROWS)]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents", fan=True)


def _shingle_arrays(d: DataFrame) -> DataFrame:
    """(doc_id, shingles: array<string>) — distinct word-3-gram shingles;
    a text of fewer than 3 words is its own single shingle, and a NULL
    text has a NULL array.

    `split(text)` is materialized into a `words` column first so the slice
    lambda doesn't re-split the text once per shingle (O(len²) otherwise).
    One narrow stage, no shuffle.
    """
    d = d.select("doc_id", F.split(F.col("text"), " ").alias("words"))
    words = F.col("words")
    sh = F.when(F.size(words) >= 3, F.array_distinct(word_ngrams(words, 3))).when(
        words.isNotNull(), F.array(F.array_join(words, " "))
    )
    return d.select("doc_id", sh.alias("shingles"))


def _shingle_ids(arrs: DataFrame) -> DataFrame:
    """(doc_id, shingles: array<long>) — a `_shingle_arrays` table with
    each shingle as its 64-bit xxhash64 ID: everything downstream
    (shuffle keys, posting lists) moves 8-byte longs instead of ~25-byte
    strings — the standard trick at scale (Spark MLlib's MinHashLSH
    likewise hashes terms to ints first). The string-side oracle still
    matches because the final pair output only depends on set equality,
    and 64-bit collisions at ~2^22 distinct shingles (~1e-6,
    deterministic) don't occur in these corpora. A NULL array stays
    NULL, so a NULL text explodes to no posting and matches nothing."""
    return arrs.select(
        "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles")
    )


def _rounded_jaccard(common: str = "n_common", n1: str = "n1", n2: str = "n2"):
    """|A ∩ B| / |A ∪ B| from the overlap and the two sizes, rounded to 4
    decimals the way every oracle rounds it."""
    c = F.col(common)
    return fround(c / (F.col(n1) + F.col(n2) - c), 4)


def _exact_overlap(
    cand: DataFrame, ids: tuple[str, str], side1: DataFrame, side2: DataFrame
) -> DataFrame:
    """The exact verify: candidate pairs joined back to both documents'
    shingle-id arrays (`_shingle_ids` tables), as (id1, id2, n_common,
    n1, n2) under the column names in `ids`: n_common = |S1 ∩ S2| by
    `array_intersect`, n1 and n2 the set sizes. Cost is
    O(|candidates| x shingles/doc); no corpus-wide posting expansion.
    Callers score and threshold the overlap; a side that should be
    broadcast arrives already wrapped in `F.broadcast`."""
    id1, id2 = ids
    s1 = side1.select(F.col("doc_id").alias(id1), F.col("shingles").alias("_s1"))
    s2 = side2.select(F.col("doc_id").alias(id2), F.col("shingles").alias("_s2"))
    return cand.join(s1, id1).join(s2, id2).select(
        id1,
        id2,
        F.size(F.array_intersect("_s1", "_s2")).alias("n_common"),
        F.size("_s1").alias("n1"),
        F.size("_s2").alias("n2"),
    )


def _posting_pairs(posts: DataFrame, member_col: str = "m") -> DataFrame:
    """Explode each posting list (array of member structs, grouped by some
    bucket key) into its ordered member pairs: (p1, p2) with
    p1.doc_id < p2.doc_id.

    This replaces the classic inverted-index SELF-JOIN: the join would scan
    and shingle the corpus twice and shuffle both exploded streams; pair
    generation inside the already-grouped array needs no join at all.
    Posting lists are bounded (doc-frequency of a shingle / LSH bucket
    size), so the k² in-array expansion is small and skew-free; at 100 TB
    you'd additionally cap/drop ultra-frequent shingles before this step.

    The expansion is two nested explodes (Generate operators, whole-stage
    codegen) rather than the earlier nested transform/filter/flatten
    higher-order fold: HOFs are CodegenFallback, so that version built
    every one of the k² candidate structs through the interpreted
    expression evaluator — measured 20%+ of several pair queries' wall
    time at sf0.1. Same rows, same (a, b) struct columns, same a < b
    canonical filter.
    """
    xs = F.col(member_col)
    return (
        posts.select(xs.alias("_xs"), F.explode(xs).alias("a"))
        .select("a", F.explode("_xs").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )


_DUCK_SHINGLES = """
  SELECT doc_id,
         unnest(CASE WHEN len(string_split(text,' ')) >= 3 THEN
                  list_distinct([array_to_string(string_split(text,' ')[i:i+2], ' ')
                                 for i in range(1, len(string_split(text,' ')) - 1)])
                ELSE [text] END) AS shingle
  FROM documents
"""


# `_rounded_jaccard`'s twin over the oracles' `sizes` joins sa and sb
_DUCK_JACCARD = "floor((n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common)) * 10000 + 0.5) / 10000.0"


# --- exact dedup: hash-groupBy on content fingerprint ---

def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    fp = F.md5(F.col("text").cast("binary"))
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


ORACLE_EXACT = """
SELECT md5(text) AS fingerprint, min(doc_id) AS canonical_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


# --- n-gram Jaccard near-dup pairs (exact baseline via inverted index) ---

def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle inverted index.

    ORACLE-BASELINE HELPER, NOT A DECLARED QUERY. The posting-list pair
    expansion is quadratic in shingle document-frequency, so this plan is
    unbounded on corpus-shaped input and is deliberately absent from
    QUERIES/ORACLE (and from bench.py). Its sole role is recall/precision
    ground truth at small sf for the scale-safe variants that ARE declared:
    `ngram_jaccard_pairs_capped` (DF-capped postings) and
    `jaccard_verified_pairs` (exact verify over LSH-capped candidates) —
    see tests/test_pair_caps.py.

    Plan shape (why it's the right baseline): ONE scan of documents;
    per-doc set size rides along as `n_sh`; groupBy(shingle) builds posting
    lists; pairs are generated in-array (`_posting_pairs`) and counted.
    Two small shuffles total, zero joins; shingles are 64-bit IDs so both
    shuffles move longs, not strings.
    """
    arrs = _shingle_ids(_shingle_arrays(_docs(spark, sf_dir)))
    sh = arrs.select(
        F.struct(F.col("doc_id"), F.size("shingles").alias("n_sh")).alias("m"),
        F.explode("shingles").alias("shingle"),
    )
    posts = (
        sh.groupBy("shingle")
        .agg(F.collect_list("m").alias("m"))
        .filter(F.size("m") >= 2)  # singleton lists yield no pairs
    )
    common = (
        _posting_pairs(posts)
        .groupBy(
            F.col("a.doc_id").alias("id1"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.doc_id").alias("id2"),
            F.col("b.n_sh").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.withColumn("jaccard", _rounded_jaccard())
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id1", "id2", "n_common", "jaccard")
    )


ORACLE_JACCARD = f"""
WITH sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id1, id2, n_common,
       {_DUCK_JACCARD} AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id1
JOIN sizes sb ON sb.doc_id = id2
WHERE {_DUCK_JACCARD} >= {JACCARD_THRESHOLD}
"""


# --- MinHash signatures + LSH band candidates ---

def _minhash_sigs_np(arrs: DataFrame) -> DataFrame:
    """(doc_id, h0..h15) minhash signatures from a shingle-array table
    (`_shingle_arrays` output) — h_k = min over the doc's shingles of
    (a + k*b) mod p, a = md5 hex chars 1-15 (60 bits), b = chars 17-30
    (56 bits), so a + 15*b < 2^61 stays exact in int64 on both engines.

    ONE mapInPandas pass per Arrow batch (guide §2.3/§2.4/§4.2 — the
    `_simhash64` discipline): each DISTINCT shingle in the batch is
    hashed once (hashlib.md5 over the same UTF-8 bytes DuckDB's md5
    hashes; the hex-slice parses equal its `('0x'||…)::BIGINT` casts),
    the 16 Carter-Wegman values are one int64 NumPy expression, and
    per-doc batch minima come from one reduceat over the array offsets.
    The groupBy(doc_id) min that follows combines batch partials — one
    16-long row per (doc, batch) instead of a per-shingle stream — and
    equals the global min for ANY doc_id multiplicity, since min is
    associative and commutative over any row split. int64
    (a + k*b) % p never wraps (envelope above).

    A doc with no shingle (a NULL or empty array, or only NULL elements)
    keeps its row with NULL h's, as the oracle's min over NULL does;
    `_bands` gives it no band. Checked against the DuckDB formulation in
    tests/test_minhash.py."""

    def _sigs(batches):
        import hashlib

        ks = np.arange(N_HASHES, dtype=np.int64)
        sentinel = np.int64(1) << 62  # > any (a + k*b) % p < 2^61
        for pdf in batches:
            lists = pdf["shingles"].to_numpy()
            lens = np.fromiter(
                (0 if x is None else len(x) for x in lists),
                dtype=np.int64,
                count=len(lists),
            )
            parts = [x for x in lists if x is not None]
            flat = np.concatenate(parts) if parts else np.empty(0, dtype=object)
            # factorize: one hash per DISTINCT shingle per batch; a NULL
            # element codes to -1, which indexes the trailing sentinel row
            codes, uniq = pd.factorize(flat)
            a = np.empty(len(uniq), dtype=np.int64)
            b = np.empty(len(uniq), dtype=np.int64)
            for i, s in enumerate(uniq):
                hx = hashlib.md5(s.encode("utf-8")).hexdigest()
                a[i] = int(hx[0:15], 16)
                b[i] = int(hx[16:30], 16)
            hs = np.full((len(uniq) + 1, N_HASHES), sentinel)
            hs[:-1] = (a[:, None] + ks[None, :] * b[:, None]) % MINHASH_P
            mins = np.full((len(lists), N_HASHES), sentinel)
            has = lens > 0
            if has.any():
                starts = (np.cumsum(lens) - lens)[has]
                mins[has] = np.minimum.reduceat(hs[codes], starts, axis=0)
            null = mins[:, 0] == sentinel
            out = {"doc_id": pdf["doc_id"].to_numpy()}
            for k in range(N_HASHES):
                out[f"h{k}"] = pd.arrays.IntegerArray(mins[:, k].copy(), null)
            yield pd.DataFrame(out)

    sch = "doc_id bigint, " + ", ".join(f"h{k} bigint" for k in range(N_HASHES))
    partial = arrs.select("doc_id", "shingles").mapInPandas(_sigs, sch)
    return partial.groupBy("doc_id").agg(
        *[F.min(f"h{k}").alias(f"h{k}") for k in range(N_HASHES)]
    )


LSH_BUCKET_CAP = 32


def _band_structs():
    """array<struct(band_id, x0..x{BAND_ROWS-1})> over the h0..h15
    signature columns; `_bands` is its one caller."""
    n_bands = N_HASHES // BAND_ROWS
    return F.array(
        *[
            F.struct(
                F.lit(band).alias("band_id"),
                *[
                    F.col(f"h{band * BAND_ROWS + r}").alias(f"x{r}")
                    for r in range(BAND_ROWS)
                ],
            )
            for band in range(n_bands)
        ]
    )


def _bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, x0..x{BAND_ROWS-1}) — THE banding layout of a
    signature table, one row per (doc, band), exploded in ONE pass over
    the signatures (not a 4-way union re-reading them). The LSH
    self-join, the incremental gate and the persisted index
    (operators/dedup_index.py) all band through here, so index rows
    written yesterday and delta rows computed today can never disagree
    on the layout. A NULL signature gets no band: it matches nothing."""
    return (
        sigs.filter(F.col("h0").isNotNull())
        .select("doc_id", F.explode(_band_structs()).alias("band"))
        .select("doc_id", "band.*")
    )


def _lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """LSH candidate pairs from a signature table (doc_id, h0..h15),
    bucketed directly on the (band_id, x0..x3) int tuple — no band
    re-hash, no self-join; pairs generated in-array.

    Buckets larger than LSH_BUCKET_CAP are dropped before pair
    expansion: a bucket that big means a boilerplate/exact-dup cluster
    (handled upstream by exact_dedup_groups), and expanding it is the
    same quadratic cost curve the scale probe caught in the exact
    jaccard — the cap bounds pairs per bucket at CAP^2 at any corpus
    size."""
    posts = (
        _bands(sigs)
        .groupBy(*BAND_KEY)
        .agg(F.collect_list(F.struct("doc_id")).alias("m"))
        .filter(F.size("m") <= LSH_BUCKET_CAP)
    )
    return (
        _posting_pairs(posts)
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_candidate_pairs(
        _minhash_sigs_np(_shingle_arrays(_docs(spark, sf_dir)))
    )


_DUCK_MINHASH_AB = """
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS a,
         ('0x' || substr(md5(shingle), 17, 14))::BIGINT AS b
  FROM sh
"""


def _duck_minhash_core() -> str:
    hcols = ",\n         ".join(
        f"min((a + {k} * b) % {MINHASH_P}) AS h{k}" for k in range(N_HASHES)
    )
    band_selects = []
    for band in range(N_HASHES // BAND_ROWS):
        cols = ", ".join(
            f"h{band * BAND_ROWS + r} AS x{r}" for r in range(BAND_ROWS)
        )
        band_selects.append(f"SELECT doc_id, {band} AS band_id, {cols} FROM sigs")
    bands_sql = "\n  UNION ALL\n  ".join(band_selects)
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
ab AS ({_DUCK_MINHASH_AB}),
sigs AS (
  SELECT doc_id,
         {hcols}
  FROM ab GROUP BY doc_id),
banded AS (
  {bands_sql})
"""


_BAND_EQ = " AND ".join(f"a.x{r} = b.x{r}" for r in range(BAND_ROWS))

_BUCKET_KEY = ", ".join(f"x{r}" for r in range(BAND_ROWS))

_SMALL_EQ = " AND ".join(f"s.x{r} = a.x{r}" for r in range(BAND_ROWS))

# shared candidate-CTE tail: appended to _duck_minhash_core()
_DUCK_LSH_CAND = f"""
, small AS (
  SELECT band_id, {_BUCKET_KEY} FROM banded
  GROUP BY band_id, {_BUCKET_KEY}
  HAVING count(*) <= {LSH_BUCKET_CAP})
, lsh AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM banded a
  JOIN banded b ON a.band_id = b.band_id AND {_BAND_EQ}
              AND a.doc_id < b.doc_id
  JOIN small s ON s.band_id = a.band_id AND {_SMALL_EQ})
"""

ORACLE_MINHASH_LSH = (
    _duck_minhash_core() + _DUCK_LSH_CAND + "SELECT id1, id2 FROM lsh"
)


def minhash_signature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 4 signature components for a deterministic sample of docs —
    verifies the signature computation itself, not just the candidate set."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 50 == 0)
    sigs = _minhash_sigs_np(_shingle_arrays(d))
    return sigs.select("doc_id", "h0", "h1", "h2", "h3")


ORACLE_MINHASH_SAMPLE = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(CASE WHEN len(string_split(text,' ')) >= 3 THEN
                  list_distinct([array_to_string(string_split(text,' ')[i:i+2], ' ')
                                 for i in range(1, len(string_split(text,' ')) - 1)])
                ELSE [text] END) AS shingle
  FROM documents WHERE doc_id % 50 = 0),
ab AS ({_DUCK_MINHASH_AB})
SELECT doc_id,
       min((a + 0 * b) % {MINHASH_P}) AS h0,
       min((a + 1 * b) % {MINHASH_P}) AS h1,
       min((a + 2 * b) % {MINHASH_P}) AS h2,
       min((a + 3 * b) % {MINHASH_P}) AS h3
FROM ab GROUP BY doc_id
"""


# --- SimHash fingerprint + prefix-bucket near-dup pairs ---

def _simhash(d: DataFrame) -> DataFrame:
    """16-bit SimHash: per-token md5 -> first 4 hex chars -> 16-bit int;
    fingerprint bit i = majority vote of token bit i (ties -> 0).
    All tokens (with multiplicity) vote, matching classic SimHash
    weighting; as in `_simhash64`, multiplicity is folded in first so
    the md5 + bit extraction runs once per distinct (doc, token).
    """
    toks = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hx = F.md5(F.col("tok").cast("binary"))
    v = F.conv(F.substring(hx, 1, 4), 16, 10).cast("long").alias("v")
    tv = toks.select("doc_id", "cnt", v)
    votes = [
        F.sum(
            F.col("cnt") * (F.shiftright(F.col("v"), i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = tv.groupBy("doc_id").agg(*votes)
    fp = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{i}") > 0, 2 ** i).otherwise(0)
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash(_docs(spark, sf_dir))


def _duck_simhash_core() -> str:
    votes = ",\n         ".join(
        f"sum(((v >> {i}) & 1) * 2 - 1) AS s{i}" for i in range(SIMHASH_BITS)
    )
    fp = " + ".join(f"(CASE WHEN s{i} > 0 THEN {2 ** i} ELSE 0 END)" for i in range(SIMHASH_BITS))
    return f"""
WITH tv AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 4))::BIGINT AS v
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
agg AS (
  SELECT doc_id,
         {votes}
  FROM tv GROUP BY doc_id),
fps AS (
  SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM agg)
"""


ORACLE_SIMHASH = _duck_simhash_core() + "SELECT doc_id, simhash FROM fps"


SIMHASH_BUCKET_CAP = 256


def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= 3, bucketed by the high byte
    (SimHash banding — trades recall for never doing all-pairs).

    Buckets above SIMHASH_BUCKET_CAP are dropped before pair expansion
    (bounded pair cost, same contract as the capped jaccard/LSH
    variants). Note the 16-bit fingerprint / 256-bucket banding is
    corpus-size-limited by construction: at real scale you widen to a
    64-bit simhash and multiple band tables, which is a constant change
    here — the plan shape (bucket groupBy + in-array pairs) is the
    scale-relevant part."""
    fps = _simhash(_docs(spark, sf_dir))
    posts = (
        fps.select(
            F.floor(F.col("simhash") / 256).alias("bucket"),
            F.struct(F.col("doc_id"), F.col("simhash")).alias("m"),
        )
        .groupBy("bucket")
        .agg(F.collect_list("m").alias("m"))
        .filter(F.size("m") <= SIMHASH_BUCKET_CAP)
    )
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    return (
        _posting_pairs(posts)
        .withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"), "hamming")
    )


ORACLE_SIMHASH_PAIRS = (
    _duck_simhash_core()
    + f"""
SELECT a.doc_id AS id1, b.doc_id AS id2,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fps a
JOIN fps b ON a.simhash // 256 = b.simhash // 256 AND a.doc_id < b.doc_id
JOIN (SELECT simhash // 256 AS bkt FROM fps GROUP BY 1
      HAVING count(*) <= {SIMHASH_BUCKET_CAP}) ok ON ok.bkt = a.simhash // 256
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""
)


# --- 64-bit SimHash: 4 x 16-bit band tables (corpus-size-robust) ---
#
# The 16-bit/256-bucket variant above stops discriminating as the corpus
# grows (every bucket fills up and gets cap-dropped). 64 fingerprint bits
# are held as FOUR 16-bit band values b0..b3 — (a) no int64 overflow at
# bit 63 on either engine, (b) the bands ARE the LSH tables: by
# pigeonhole, hamming(fp) <= 3 over 64 bits guarantees at least one of
# the 4 bands matches exactly, so banding loses NO recall at the
# hamming-3 threshold (the 16-bit high-byte banding could).

SIMHASH64_BANDS = 4
SIMHASH64_BAND_BITS = 16


def _simhash64(d: DataFrame) -> DataFrame:
    """(doc_id, b0..b3): 64-bit SimHash as four 16-bit band fingerprints.
    Band t's bits come from md5 hex chars [1+4t, 4+4t]; bit i of band t =
    majority vote of token bit (ties -> 0), all tokens voting with
    multiplicity — same contract as the 16-bit `_simhash`.

    Fused (guide §2.3/§2.4/§4.2): the retired chain exploded every token
    occurrence, shuffled the distinct (doc_id, tok) universe to fold
    multiplicity, ran md5 + 64 bit-extract expressions per distinct-token
    row, then shuffled the votes again into the per-doc 64-sum aggregate —
    two corpus-sized Exchanges. Now ONE mapInPandas pass tokenizes each
    Arrow batch (str.split(" ") == Java split(regex=" ", limit=-1) for
    this metachar-free single-space pattern, trailing/leading empties
    kept by both), hashes each DISTINCT token once per batch
    (hashlib.md5 over the same UTF-8 bytes Spark's md5(cast binary)
    hashes), folds multiplicity batch-locally and emits the 64 per-row
    vote-sum columns; the groupBy(doc_id) that follows shuffles 64 longs
    per document instead of the token universe. Vote sums are additive
    over any row split (every vote is cnt * ±1 in exact int64, the same
    wrap envelope as Spark's long sum, and 2*sum(cnt*bit) - sum(cnt) =
    sum(cnt*(2*bit-1)) term-for-term in that ring), so the grouped sums —
    and therefore the packed bits — are bit-identical to the retired
    formulation for ANY doc_id multiplicity; rows with NULL text are
    dropped exactly like the retired explode(split(NULL, ' ')) did.
    Pinned by test_round12_fixes.py::
    test_kernel_simhash64_matches_retired_formulation."""
    n_bits = SIMHASH64_BANDS * SIMHASH64_BAND_BITS
    cols = [
        f"s{t}_{i}"
        for t in range(SIMHASH64_BANDS)
        for i in range(SIMHASH64_BAND_BITS)
    ]

    def _votes(batches):
        import hashlib

        shifts = np.arange(SIMHASH64_BAND_BITS, dtype="int64")
        for pdf in batches:
            pdf = pdf[pdf["text"].notna()]
            if not len(pdf):
                continue
            tok_lists = [t.split(" ") for t in pdf["text"]]
            lens = np.array([len(t) for t in tok_lists], dtype="int64")
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in tok_lists]
            )
            doc_idx = np.repeat(np.arange(len(pdf), dtype="int64"), lens)
            uniq, inv = np.unique(flat, return_inverse=True)
            bits = np.empty((len(uniq), n_bits), dtype="int8")
            for j, tok in enumerate(uniq):
                hx = hashlib.md5(tok.encode("utf-8")).hexdigest()
                for t in range(SIMHASH64_BANDS):
                    v = int(hx[4 * t : 4 * t + 4], 16)
                    bits[j, 16 * t : 16 * t + 16] = (v >> shifts) & 1
            # fold multiplicity batch-locally: one row per (doc, distinct
            # tok), segments contiguous per doc because ukey is sorted
            key = doc_idx * len(uniq) + inv
            ukey, kcnt = np.unique(key, return_counts=True)
            d_idx = ukey // len(uniq)
            t_idx = ukey % len(uniq)
            bounds = np.append(
                np.searchsorted(d_idx, np.arange(len(pdf), dtype="int64")),
                len(d_idx),
            )
            S = np.zeros((len(pdf), n_bits), dtype="int64")
            C = np.zeros(len(pdf), dtype="int64")
            for r in range(len(pdf)):
                lo, hi = bounds[r], bounds[r + 1]
                S[r] = kcnt[lo:hi] @ bits[t_idx[lo:hi]]
                C[r] = kcnt[lo:hi].sum()
            votes = 2 * S - C[:, None]
            out = {"doc_id": pdf["doc_id"].to_numpy()}
            for c_i, c in enumerate(cols):
                out[c] = votes[:, c_i]
            yield pd.DataFrame(out)

    schema = "doc_id bigint, " + ", ".join(f"{c} bigint" for c in cols)
    partial = d.select("doc_id", "text").mapInPandas(_votes, schema)
    agg = partial.groupBy("doc_id").agg(*[F.sum(c).alias(c) for c in cols])
    outs = []
    for t in range(SIMHASH64_BANDS):
        fp = None
        for i in range(SIMHASH64_BAND_BITS):
            bit = F.when(F.col(f"s{t}_{i}") > 0, 2**i).otherwise(0)
            fp = bit if fp is None else fp + bit
        outs.append(fp.cast("long").alias(f"b{t}"))
    return agg.select("doc_id", *outs)


def simhash64_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash64(_docs(spark, sf_dir))


def _duck_simhash64_core() -> str:
    votes = ",\n         ".join(
        f"sum(((v{t} >> {i}) & 1) * 2 - 1) AS s{t}_{i}"
        for t in range(SIMHASH64_BANDS)
        for i in range(SIMHASH64_BAND_BITS)
    )
    vdefs = ",\n         ".join(
        f"('0x' || substr(md5(tok), {1 + 4 * t}, 4))::BIGINT AS v{t}"
        for t in range(SIMHASH64_BANDS)
    )
    fps = ",\n         ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN s{t}_{i} > 0 THEN {2**i} ELSE 0 END)"
            for i in range(SIMHASH64_BAND_BITS)
        )
        + f" AS BIGINT) AS b{t}"
        for t in range(SIMHASH64_BANDS)
    )
    return f"""
WITH tv AS (
  SELECT doc_id,
         {vdefs}
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
agg AS (
  SELECT doc_id,
         {votes}
  FROM tv GROUP BY doc_id),
fps64 AS (
  SELECT doc_id,
         {fps}
  FROM agg)
"""


ORACLE_SIMHASH64 = _duck_simhash64_core() + "SELECT doc_id, b0, b1, b2, b3 FROM fps64"


def _simhash64_posts(fps: DataFrame, extra_cols: list[str]) -> DataFrame:
    """Band-table posting lists for the 64-bit SimHash: one pass explodes
    each doc into its 4 (band_id, band_value) keys; buckets above
    SIMHASH_BUCKET_CAP are dropped before pair expansion (bounded-pair
    contract, per band table)."""
    member = F.struct(
        F.col("doc_id"), *[F.col(c) for c in extra_cols]
    ).alias("m")
    bands = F.array(
        *[
            F.struct(F.lit(t).alias("band_id"), F.col(f"b{t}").alias("bval"))
            for t in range(SIMHASH64_BANDS)
        ]
    )
    return (
        fps.select(member, F.explode(bands).alias("band"))
        .groupBy("band.band_id", "band.bval")
        .agg(F.collect_list("m").alias("m"))
        .filter(F.size("m") <= SIMHASH_BUCKET_CAP)
    )


def simhash64_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with 64-bit hamming <= 3 via the 4 band tables.
    A pair surfacing in several bands is deduped AFTER the cheap hamming
    filter; hamming is 4 xor+popcounts over the band columns riding in
    the posting structs — no join back to the corpus."""
    fps = _simhash64(_docs(spark, sf_dir))
    posts = _simhash64_posts(fps, [f"b{t}" for t in range(SIMHASH64_BANDS)])
    hamming = None
    for t in range(SIMHASH64_BANDS):
        h = F.bit_count(F.col(f"a.b{t}").bitwiseXOR(F.col(f"b.b{t}")))
        hamming = h if hamming is None else hamming + h
    return (
        _posting_pairs(posts)
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"), "hamming"
        )
        .distinct()
    )


_SIMHASH64_HAMMING = " + ".join(
    f"bit_count(xor(f1.b{t}, f2.b{t}))" for t in range(SIMHASH64_BANDS)
)


def _duck_simhash64_cand(src: str) -> str:
    """UNION of the 4 band-table candidate joins over `src` (which must
    expose doc_id and b0..b3), each with the per-band bucket cap."""
    parts = []
    for t in range(SIMHASH64_BANDS):
        parts.append(
            f"""SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM {src} a JOIN {src} b ON a.b{t} = b.b{t} AND a.doc_id < b.doc_id
  JOIN (SELECT b{t} AS bv FROM {src} GROUP BY 1
        HAVING count(*) <= {SIMHASH_BUCKET_CAP}) ok ON ok.bv = a.b{t}"""
        )
    return "\n  UNION\n  ".join(parts)


ORACLE_SIMHASH64_PAIRS = (
    _duck_simhash64_core()
    + f"""
, cand AS (
  {_duck_simhash64_cand("fps64")})
SELECT id1, id2, {_SIMHASH64_HAMMING} AS hamming
FROM cand
JOIN fps64 f1 ON f1.doc_id = id1
JOIN fps64 f2 ON f2.doc_id = id2
WHERE {_SIMHASH64_HAMMING} <= {SIMHASH_MAX_HAMMING}
"""
)


# --- entity resolution: block (SimHash band) -> verify (edit distance) ---

ER_PREFIX_LEN = 48
ER_MAX_EDITS = 12


def editdist_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical two-stage entity-resolution pipeline: cheap BLOCKING
    proposes candidates, then an exact VERIFY stage scores each candidate
    with Levenshtein distance over a fixed-length text prefix and keeps
    real matches. Blocking uses the 64-bit SimHash band tables
    (`_simhash64_posts`: 4 x 16-bit bands, per-band bucket cap) — unlike
    the old 16-bit high-byte bucket this keeps discriminating as the
    corpus grows, and hamming<=3 recall is pigeonhole-guaranteed. The
    prefix rides inside the posting struct, so the verify stage needs NO
    join back to the corpus — edit distance (quadratic per pair) runs
    only on |candidates|, never |corpus|^2, and only on bounded 48-char
    strings; a pair blocked by several bands is deduped after the verify
    filter."""
    d = _docs(spark, sf_dir)
    fps = _simhash64(d).join(
        d.select("doc_id", F.substring("text", 1, ER_PREFIX_LEN).alias("prefix")),
        "doc_id",
    )
    posts = _simhash64_posts(fps, ["prefix"])
    cand = _posting_pairs(posts).withColumn(
        "edits", F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
    )
    return (
        cand.filter(F.col("edits") <= ER_MAX_EDITS)
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            "edits",
        )
        .distinct()
    )


ORACLE_EDITDIST_PAIRS = (
    _duck_simhash64_core()
    + f"""
, pref AS (
  SELECT f.doc_id, f.b0, f.b1, f.b2, f.b3, substr(d.text, 1, {ER_PREFIX_LEN}) AS prefix
  FROM fps64 f JOIN documents d USING (doc_id))
, cand AS (
  {_duck_simhash64_cand("pref")})
SELECT DISTINCT c.id1, c.id2, levenshtein(p1.prefix, p2.prefix) AS edits
FROM cand c
JOIN pref p1 ON p1.doc_id = c.id1
JOIN pref p2 ON p2.doc_id = c.id2
WHERE levenshtein(p1.prefix, p2.prefix) <= {ER_MAX_EDITS}
"""
)


# --- DF-capped n-gram Jaccard: the scale-safe candidate generator ---

DF_CAP = 64


def ngram_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram_jaccard_pairs with a document-frequency cap: shingles held
    by more than DF_CAP documents are dropped BEFORE pair expansion.

    The exact variant's posting-list expansion is quadratic in shingle
    DF — the 8x scale probe measured it 22x slower on 8x data, exactly
    the blow-up this cap removes: ubiquitous shingles generate almost
    every candidate pair yet contribute the least distinctive evidence
    (standard practice: SimHash/MinHash papers drop or downweight
    ultra-common features). With the cap, pairs per shingle are bounded
    by DF_CAP^2 regardless of corpus size, so cost scales with the
    corpus, not quadratically. n_common counts only capped shingles
    (candidates trade recall on boilerplate-heavy pairs); set sizes stay
    full, so the reported jaccard_lb is a LOWER BOUND of true Jaccard —
    pairs it keeps are guaranteed-near-dup, the verify stage
    (ngram_jaccard_pairs on candidates) recovers exact scores."""
    return _capped_candidate_pairs(_shingle_ids(_shingle_arrays(_docs(spark, sf_dir))))


def _capped_candidate_pairs(
    arrs: DataFrame, qname: str = "ngram_jaccard_pairs_capped"
) -> DataFrame:
    """DF-capped candidate pairs from a hashed shingle-array table.

    `qname` labels the stage counters (operators/counters.py, off by
    default) for whichever declared query this build serves —
    ngram_jaccard_pairs_capped directly, or the capped branch inside
    jaccard_verified_pairs."""
    from ..operators import counters

    sh = arrs.select(
        F.struct(F.col("doc_id"), F.size("shingles").alias("n_sh")).alias("m"),
        F.explode("shingles").alias("shingle"),
    )
    posts = (
        sh.groupBy("shingle")
        .agg(F.collect_list("m").alias("m"))
        .filter((F.size("m") >= 2) & (F.size("m") <= DF_CAP))
    )
    common = (
        counters.observe_stage(
            _posting_pairs(posts), qname, "capped_posting_pairs"
        )
        .groupBy(
            F.col("a.doc_id").alias("id1"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.doc_id").alias("id2"),
            F.col("b.n_sh").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # PAIR-level candidate count (capped_posting_pairs above is
    # token-level — one row per colliding token — and not comparable to
    # the other queries' per-pair candidate funnels). Named
    # capped_candidates, NOT candidates: jaccard_verified_pairs runs this
    # build as one branch and has its own post-union "candidates" stage —
    # a shared name would sum branch and union counts into nonsense.
    common = counters.observe_stage(common, qname, "capped_candidates")
    out = (
        common.withColumn("jaccard_lb", _rounded_jaccard())
        .filter(F.col("jaccard_lb") >= JACCARD_THRESHOLD)
        .select("id1", "id2", "n_common", "jaccard_lb")
    )
    return counters.observe_stage(out, qname, "capped_out")


# --- exact-substring duplicate spans: content-defined gram sampling ---
#
# The set-similarity family above (Jaccard/MinHash/SimHash) measures
# SHINGLE-SET overlap; it cannot assert "these two documents share an
# exact verbatim run of >= W consecutive tokens" — the property exact
# substring dedup of LM training data cares about (long verbatim overlap
# inflates memorization even between documents that are otherwise
# dissimilar, so their Jaccard is tiny). This operator detects exact
# runs with the content-defined sampling used by CDC/fingerprinting
# systems (Rabin-fingerprint chunking, rsync, winnowing): sample gram
# POSITIONS by a predicate on the gram's own hash, so two documents
# sharing a run make identical sampling decisions inside it.

SPAN_W = 6        # tokens per gram: every reported pair shares at least
                  # one exact 6-token run VERBATIM (zero false positives)
SPAN_SEL_MOD = 4  # keep a gram iff md5-int % 4 == 0: ~1/4 of positions;
                  # a shared L-token run is missed only if all L-W+1 of
                  # its grams hash off the residue (~0.75^(L-5) — the
                  # standard content-defined-sampling recall trade)
SPAN_DF_CAP = 64  # boilerplate guard, same bound as DF_CAP: pairs per
                  # gram <= cap^2 at ANY corpus size


def exact_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id1, id2, n_shared_grams): document pairs sharing >= 1 exact
    6-token run, with the count of distinct selected runs shared.

    Plan: one narrow stage builds each doc's distinct 6-gram strings
    from a single split (no re-split per gram), filters them by the
    content-sampling residue JVM-side, and explodes; one shuffle groups
    postings by gram (DF-capped before any pair work); pair expansion
    happens inside the grouped posting arrays (`_posting_pairs` — no
    self-join, no second corpus scan); one final shuffle aggregates
    pair counts. Docs shorter than 6 tokens contribute nothing (their
    exact duplication is exact_dedup_groups' job)."""
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", F.split(F.col("text"), " ").alias("words"))
        .filter(F.size("words") >= SPAN_W)
    )
    grams = F.array_distinct(word_ngrams("words", SPAN_W))
    sel = F.filter(
        grams,
        lambda g: F.pmod(
            F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
            F.lit(SPAN_SEL_MOD),
        )
        == 0,
    )
    sh = d.select(
        F.struct(F.col("doc_id")).alias("m"), F.explode(sel).alias("gram")
    )
    posts = (
        sh.groupBy("gram")
        .agg(F.collect_list("m").alias("m"))
        .filter((F.size("m") >= 2) & (F.size("m") <= SPAN_DF_CAP))
    )
    from ..operators import counters

    out = (
        counters.observe_stage(
            _posting_pairs(posts), "exact_substring_pairs", "candidates"
        )
        .groupBy(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    return counters.observe_stage(out, "exact_substring_pairs", "output")


ORACLE_SUBSTRING_PAIRS = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE len(string_split(text, ' ')) >= {SPAN_W}),
g AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(words[i:i+{SPAN_W - 1}], ' ')
                                for i in range(1, len(words) - {SPAN_W - 2})])) AS gram
  FROM w),
sel AS (
  SELECT doc_id, gram FROM g
  WHERE ('0x' || substr(md5(gram), 1, 15))::BIGINT % {SPAN_SEL_MOD} = 0),
capped AS (
  SELECT gram FROM sel GROUP BY gram
  HAVING count(*) >= 2 AND count(*) <= {SPAN_DF_CAP}),
-- cap the posting stream BEFORE the self-join (same memory-shape rule
-- as the capped-jaccard oracle above)
capsel AS MATERIALIZED (
  SELECT s.doc_id, s.gram FROM sel s JOIN capped c ON c.gram = s.gram)
SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared_grams
FROM capsel a JOIN capsel b ON a.gram = b.gram AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


ORACLE_JACCARD_CAPPED = f"""
WITH sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
capped AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {DF_CAP}),
-- df-cap the posting stream BEFORE the self-join: joining the cap in
-- after the a x b expansion is semantically identical (the shared
-- shingle is the capped one) but lets the optimizer build the full
-- uncapped pair blow-up first — observed >100 GB at the sf1 rehearsal
capsh AS MATERIALIZED (
  SELECT s.doc_id, s.shingle FROM sh s JOIN capped c ON c.shingle = s.shingle),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM capsh a JOIN capsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id1, id2, n_common,
       {_DUCK_JACCARD} AS jaccard_lb
FROM common
JOIN sizes sa ON sa.doc_id = id1
JOIN sizes sb ON sb.doc_id = id2
WHERE {_DUCK_JACCARD} >= {JACCARD_THRESHOLD}
"""


# --- flagship: two-stage candidates -> exact-verify Jaccard ---

def jaccard_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE near-dup dedup path for a real corpus: bounded-cost candidate
    generation, then exact verification per candidate.

    Stage 1 (candidates): MinHash-LSH band buckets UNION DF-capped
    shingle pairs — both have the bounded-pair-cost contract (bucket cap
    / document-frequency cap), so candidate count scales linearly with
    the corpus, never quadratically.

    Stage 2 (verify): exact Jaccard per candidate pair by intersecting
    the two documents' distinct-shingle arrays (`array_intersect` on
    64-bit shingle IDs) — two hash joins back to the shingle-array table,
    cost O(|candidates| x shingles/doc). The corpus-wide posting-list
    expansion of `ngram_jaccard_pairs` (the 22x-at-8x quadratic curve the
    scale probe caught) never happens; that exact variant remains only as
    the small-sf oracle baseline.

    Output = every candidate pair whose TRUE Jaccard clears the
    threshold: exact scores on a high-recall candidate set.

    The shingle-array table is computed ONCE and persisted — the LSH
    branch, the DF-capped branch, and the verify joins all read the
    cached blocks instead of re-scanning and re-shingling the corpus
    (3x before). At 100 TB this persist is a materialized shingle table
    on storage; locally MEMORY_AND_DISK is its analog. The signature
    kernel reads the cached string arrays; the other three read their
    shingle ids."""
    from pyspark import StorageLevel

    from ..operators import counters

    _QN = "jaccard_verified_pairs"
    arrs = _shingle_arrays(_docs(spark, sf_dir)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ids = _shingle_ids(arrs)
    cand = (
        counters.observe_stage(
            _lsh_candidate_pairs(_minhash_sigs_np(arrs)), _QN, "lsh_candidates"
        )
        .union(_capped_candidate_pairs(ids, qname=_QN).select("id1", "id2"))
        .distinct()
    )
    cand = counters.observe_stage(cand, _QN, "candidates")
    out = (
        _exact_overlap(cand, ("id1", "id2"), ids, ids)
        .withColumn("jaccard", _rounded_jaccard())
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id1", "id2", "n_common", "jaccard")
    )
    return counters.observe_stage(out, _QN, "output")


ORACLE_JACCARD_VERIFIED = (
    _duck_minhash_core()
    + _DUCK_LSH_CAND
    + f"""
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)
, dfcap AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {DF_CAP})
, capsh AS MATERIALIZED (
  SELECT s.doc_id, s.shingle FROM sh s JOIN dfcap c ON c.shingle = s.shingle)
, ccommon AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM capsh a JOIN capsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
, cpairs AS (
  SELECT id1, id2 FROM ccommon
  JOIN sizes sa ON sa.doc_id = id1
  JOIN sizes sb ON sb.doc_id = id2
  WHERE {_DUCK_JACCARD} >= {JACCARD_THRESHOLD})
, cand AS (SELECT id1, id2 FROM lsh UNION SELECT id1, id2 FROM cpairs)
, vcommon AS (
  SELECT c.id1, c.id2, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id1
  JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
  GROUP BY 1, 2)
SELECT id1, id2, n_common,
       {_DUCK_JACCARD} AS jaccard
FROM vcommon
JOIN sizes sa ON sa.doc_id = id1
JOIN sizes sb ON sb.doc_id = id2
WHERE {_DUCK_JACCARD} >= {JACCARD_THRESHOLD}
"""
)


# --- prefix-filtering exact Jaccard join (PPJoin-style, no false negatives) ---

def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs Jaccard >= t via prefix filtering (Chaudhuri et al.
    ICDE 2006; Xiao et al. "PPJoin", WWW 2008) — the guaranteed-recall
    counterpart to the LSH/capped probabilistic paths: NO false negatives,
    yet never the corpus-wide posting expansion of the retired exact
    variant.

    The filter: order every document's shingles by a single global rank
    (document frequency asc, then shingle id — rarest first) and index
    only each doc's PREFIX of length p = n - ceil(t_eff*n) + 1. Lemma: if
    J(A,B) >= t then |A and B| >= ceil(t*max(nA,nB)), and two sets whose
    (n - alpha + 1)-prefixes under a COMMON total order are disjoint share
    fewer than alpha elements (pigeonhole on the order: all common
    elements would have to sit in one side's last alpha-1 positions) — so
    every qualifying pair collides on at least one prefix token, and
    because prefixes hold each doc's globally RAREST shingles, prefix
    posting lists are short exactly where naive posting lists explode.
    CRITICAL: t in every prune is the EFFECTIVE threshold t_eff =
    5999/20000 = 0.29995, not 3/10, because the final accept condition
    is the 4-decimal ROUNDED jaccard (fround(J,4) >= 0.3 on both
    engines) — exact J in [0.29995, 0.3) rounds up into acceptance and
    must never be pruned. All ceilings are exact integer floor forms
    ((5999n + 19999) // 20000 etc.), no float boundary; the prune-vs-
    accept consistency is property-tested over the full small-n grid in
    tests/test_prefix_filter_bounds.py.

    Stage 2 verifies candidates exactly (array_intersect on the persisted
    hashed-shingle table, same as jaccard_verified_pairs) after two
    prunes that need no shingle data, only sizes and prefix positions:

    - size-ratio prune: J <= min/max, so 20000*min(n1,n2) >=
      5999*max(n1,n2) is necessary (min/max >= t_eff);
    - PPJoin POSITIONAL filter (Xiao et al. 2008, sec. 3): J >= t forces
      |A and B| >= alpha = ceil(t/(1+t) * (nA+nB)) (=
      ceil(5999(nA+nB)/25999) at t_eff), while the FIRST common token —
      at sorted positions p1
      in A and p2 in B (0-based) — bounds the overlap above by
      min(nA-p1, nB-p2): every common element sits at or after the first
      common token in the SHARED order. Collisions are grouped per pair
      with min positions (the first common prefix token attains both
      mins, and any looser min only weakens the bound — never a false
      negative), then pairs with ubound < alpha are dropped before the
      array_intersect verify.

    The oracle is the straight corpus-wide exact SQL — the gate
    therefore re-proves the no-false-negative property end to end on
    every run, not just in a unit test.

    Plan shape: one scan + persist of the shingle arrays; df ranks join
    back on the shingle key; prefix posting lists are ~0.7x the exploded
    shingle stream with the frequent-token tail REMOVED (the quadratic
    part of the retired plan); verify joins are candidate-bounded. The
    collision->candidate->output funnel is counter-instrumented
    (operators/counters.py, off by default) so the scale probe reports
    candidate economics instead of arguing them."""
    from pyspark import StorageLevel

    from ..operators import counters

    arrs = _shingle_ids(_shingle_arrays(_docs(spark, sf_dir))).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh = arrs.select("doc_id", F.explode("shingles").alias("shingle"))
    df_tab = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(df_tab, "shingle")
    docs_sorted = ranked.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("df"), F.col("shingle")))
        ).alias("ss")
    )
    n = F.size("ss")
    # The filter chain must have zero false negatives w.r.t. the FINAL
    # accept condition, which is the 4-decimal ROUNDED jaccard (both the
    # engine filter and the oracle use fround(J,4) >= 0.3):
    #   floor(J*10000 + 0.5) >= 3000  <=>  20000*I >= 5999*U
    # i.e. the EFFECTIVE threshold is t_eff = 5999/20000 = 0.29995, a
    # hair below 0.3 — every prune below uses t_eff, not 3/10, so a
    # boundary pair that rounds UP into acceptance can never be pruned
    # (prunes derived from 3/10 were strictly tighter and could drop a
    # pair with exact J in [0.29995, 0.3) that the oracle emits).
    # p = n - ceil(t_eff*n) + 1; all products stay < 2^53 — exact floors.
    p = (n - F.floor((F.lit(5999) * n + 19999) / 20000) + 1).cast("int")
    pre = docs_sorted.select(
        F.col("doc_id"),
        n.alias("n_sh"),
        F.posexplode(F.slice(F.col("ss"), 1, p)).alias("pos", "tok"),
    ).select(
        F.struct("doc_id", "n_sh", "pos").alias("m"),
        F.col("tok.shingle").alias("shingle"),
    )
    posts = (
        pre.groupBy("shingle")
        .agg(F.collect_list("m").alias("m"))
        .filter(F.size("m") >= 2)
    )
    collide = _posting_pairs(posts).select(
        F.col("a.doc_id").alias("id1"),
        F.col("a.n_sh").alias("n1"),
        F.col("a.pos").alias("pos1"),
        F.col("b.doc_id").alias("id2"),
        F.col("b.n_sh").alias("n2"),
        F.col("b.pos").alias("pos2"),
    )
    collide = counters.observe_stage(
        collide, "prefix_filter_jaccard_pairs", "prefix_collisions"
    )
    least_n = F.least(F.col("n1"), F.col("n2"))
    greatest_n = F.greatest(F.col("n1"), F.col("n2"))
    # alpha = ceil(t_eff/(1+t_eff) * (n1+n2)) = ceil(5999(n1+n2)/25999):
    # J >= t_eff forces I >= alpha (same exact-small-int floor as p)
    alpha = F.floor(
        (F.lit(5999) * (F.col("n1") + F.col("n2")) + 25998) / 25999
    )
    ubound = F.least(
        F.col("n1") - F.col("p1"), F.col("n2") - F.col("p2")
    )
    cand = (
        collide.groupBy("id1", "id2", "n1", "n2")
        .agg(F.min("pos1").alias("p1"), F.min("pos2").alias("p2"))
        .filter(
            # size-ratio prune at t_eff: J <= min/max, so accept needs
            # 20000*min >= 5999*max
            (F.lit(20000) * least_n >= F.lit(5999) * greatest_n)
            & (ubound >= alpha)
        )
        .select("id1", "id2")
    )
    cand = counters.observe_stage(
        cand, "prefix_filter_jaccard_pairs", "candidates"
    )
    out = (
        _exact_overlap(cand, ("id1", "id2"), arrs, arrs)
        .withColumn("jaccard", _rounded_jaccard())
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id1", "id2", "n_common", "jaccard")
    )
    return counters.observe_stage(out, "prefix_filter_jaccard_pairs", "output")


# the oracle IS the corpus-wide exact join: hash equality re-proves the
# prefix filter's no-false-negative guarantee on every gate run
ORACLE_PREFIX_FILTER = ORACLE_JACCARD


# --- asymmetric set-containment join (quoted/subsumed-document detector) ---

CONTAINMENT_THRESHOLD = 0.5


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED containment pairs: (inner_id, outer_id) where
    |S_inner and S_outer| / |S_inner| >= t — the subsumed/quoted-document
    detector that symmetric Jaccard structurally misses: a short document
    quoted verbatim inside a long one has low Jaccard (the union is
    dominated by the long doc) but containment ~1. Training-data dedup
    cares: the quoted copy is the redundant one, and the direction tells
    you which doc to drop.

    Candidates: unordered pairs sharing >= 1 DF-capped shingle (the same
    bounded contract as the capped Jaccard — pairs per shingle <= cap^2;
    recall on boilerplate-only containment is traded, as there), PRUNED by
    an exact upper bound before the verify join: true common <=
    capped_common + min(hot_1, hot_2), where hot_i = inner's shingles
    above the DF cap (a common shingle either survives the cap and is
    counted, or is hot on BOTH sides). Only pairs whose bound clears
    t * min(n1, n2) — the easier direction — reach the array
    intersection; the K=32 probe measured the unpruned version verifying
    ~16x more pairs than qualify. Verify: exact intersection against the
    persisted hashed-shingle arrays, then BOTH directions tested — each
    surviving candidate yields up to two directed rows. The oracle applies
    the identical cap (the prune is invisible to it: a pure upper-bound
    rejection can only discard pairs that fail both directions)."""
    from pyspark import StorageLevel

    arrs = _shingle_ids(_shingle_arrays(_docs(spark, sf_dir))).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh = arrs.select("doc_id", F.explode("shingles").alias("shingle"))
    # hot shingles (df > cap) are FEW by definition — broadcast them back
    # instead of joining the df table onto the full exploded stream (the
    # unpruned version's dominant shuffle)
    df_tab = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    hot = df_tab.filter(F.col("df") > DF_CAP).select("shingle")
    n_hot_tab = (
        sh.join(F.broadcast(hot), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hot"))
    )
    per_doc = (
        arrs.select("doc_id", F.size("shingles").alias("n_sh"))
        .join(n_hot_tab, "doc_id", "left")
        .select("doc_id", "n_sh", F.coalesce("n_hot", F.lit(0)).alias("n_hot"))
    )
    posts = (
        sh.select(F.struct(F.col("doc_id")).alias("m"), "shingle")
        .groupBy("shingle")
        .agg(F.collect_list("m").alias("m"))
        .filter((F.size("m") >= 2) & (F.size("m") <= DF_CAP))
    )
    cc = (
        _posting_pairs(posts)
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("capped_common"))
    )
    d1 = per_doc.select(
        F.col("doc_id").alias("id1"), F.col("n_sh").alias("n1"), F.col("n_hot").alias("h1")
    )
    d2 = per_doc.select(
        F.col("doc_id").alias("id2"), F.col("n_sh").alias("n2"), F.col("n_hot").alias("h2")
    )
    bound = F.col("capped_common") + F.least("h1", "h2")
    cand = (
        cc.join(d1, "id1")
        .join(d2, "id2")
        .filter(
            # t = 1/2 with the gate's 4-decimal half-up rounding: a ratio
            # down to 0.49995 still rounds to the threshold, so prune with
            # integer cross-multiplication at 0.4999 (one rounding unit of
            # extra slack — a handful of spare verifications, zero recall
            # risk at any n)
            F.lit(20000) * bound >= F.lit(9998) * F.least("n1", "n2")
        )
        .select("id1", "id2")
    )
    verified = _exact_overlap(cand, ("id1", "id2"), arrs, arrs)
    fwd = verified.select(
        F.col("id1").alias("inner_id"),
        F.col("id2").alias("outer_id"),
        "n_common",
        F.col("n1").alias("n_inner"),
    )
    rev = verified.select(
        F.col("id2").alias("inner_id"),
        F.col("id1").alias("outer_id"),
        "n_common",
        F.col("n2").alias("n_inner"),
    )
    return (
        fwd.unionByName(rev)
        .withColumn(
            "containment", fround(F.col("n_common") / F.col("n_inner"), 4)
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("inner_id", "outer_id", "n_common", "containment")
    )


ORACLE_CONTAINMENT = f"""
WITH sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
capped AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {DF_CAP}),
capsh AS MATERIALIZED (
  SELECT s.doc_id, s.shingle FROM sh s JOIN capped c ON c.shingle = s.shingle),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM capsh a JOIN capsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
common AS (
  SELECT c.id1, c.id2, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id1
  JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
  GROUP BY 1, 2),
dirs AS (
  SELECT id1 AS inner_id, id2 AS outer_id, n_common, sa.n_sh AS n_inner
  FROM common JOIN sizes sa ON sa.doc_id = id1
  UNION ALL
  SELECT id2 AS inner_id, id1 AS outer_id, n_common, sb.n_sh AS n_inner
  FROM common JOIN sizes sb ON sb.doc_id = id2)
SELECT inner_id, outer_id, CAST(n_common AS BIGINT) AS n_common,
       floor((n_common::DOUBLE / n_inner) * 10000 + 0.5) / 10000.0 AS containment
FROM dirs
WHERE floor((n_common::DOUBLE / n_inner) * 10000 + 0.5) / 10000.0
      >= {CONTAINMENT_THRESHOLD}
"""


# --- weighted (min/max) Jaccard over token multiplicities ---

WJ_THRESHOLD = 0.3


def weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED Jaccard near-dup pairs over 3-gram shingle
    MULTIPLICITIES: J_w(A,B) = sum_t min(a_t, b_t) / sum_t max(a_t, b_t)
    — the variant that distinguishes "same shingle set" from "same text"
    (a doc and its 2x self-concatenation have unweighted shingle Jaccard
    ~1.0 but J_w ~0.5, since every shared shingle counts once vs twice).
    Completes the set-similarity quartet: unweighted set Jaccard
    (capped/prefix-exact), directed containment, and weighted multiset.

    Identity used: sum max = S_A + S_B - sum min (non-shared shingles
    contribute their full count to max and 0 to min), so only the shared
    min-sum needs pair computation — it rides the posting-pair expansion
    directly (min of the two multiplicities per shared shingle, summed
    per pair), no second verify join. All exact integer arithmetic until
    the final ratio.

    Bounded contract: shingle postings are DF-capped like the capped
    Jaccard (boilerplate shingles dropped before pair expansion; min-sum
    is then a lower bound and the reported score conservative). Oracle
    applies the identical cap."""
    # shingles WITH multiplicity: same 3-gram construction as
    # _shingle_arrays but without array_distinct (NULL text: no shingle)
    dd = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("words")
    )
    words = F.col("words")
    sh = F.when(F.size(words) >= 3, word_ngrams(words, 3)).when(
        words.isNotNull(), F.array(F.array_join(words, " "))
    )
    counts = (
        dd.select("doc_id", F.explode(sh).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.groupBy("doc_id").agg(F.sum("cnt").alias("s"))
    posts = (
        counts.join(totals, "doc_id")
        .select(
            F.struct(F.col("doc_id"), F.col("cnt"), F.col("s")).alias("m"), "tok"
        )
        .groupBy("tok")
        .agg(F.collect_list("m").alias("m"))
        .filter((F.size("m") >= 2) & (F.size("m") <= DF_CAP))
    )
    pair_min = (
        _posting_pairs(posts)
        .groupBy(
            F.col("a.doc_id").alias("id1"),
            F.col("a.s").alias("s1"),
            F.col("b.doc_id").alias("id2"),
            F.col("b.s").alias("s2"),
        )
        .agg(F.sum(F.least(F.col("a.cnt"), F.col("b.cnt"))).alias("minsum"))
    )
    return (
        pair_min.withColumn("w_jaccard", _rounded_jaccard("minsum", "s1", "s2"))
        .filter(F.col("w_jaccard") >= WJ_THRESHOLD)
        .select("id1", "id2", F.col("minsum").cast("long").alias("minsum"), "w_jaccard")
    )


ORACLE_WEIGHTED_JACCARD = f"""
WITH tc AS (
  SELECT doc_id, tok, count(*) AS cnt
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(string_split(text,' ')) >= 3 THEN
                    [array_to_string(string_split(text,' ')[i:i+2], ' ')
                     for i in range(1, len(string_split(text,' ')) - 1)]
                  ELSE [text] END) AS tok
    FROM documents)
  GROUP BY 1, 2),
totals AS (SELECT doc_id, sum(cnt) AS s FROM tc GROUP BY 1),
capped AS (
  SELECT tok FROM tc GROUP BY tok
  HAVING count(*) >= 2 AND count(*) <= {DF_CAP}),
pair_min AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2,
         sum(least(a.cnt, b.cnt)) AS minsum
  FROM tc a
  JOIN tc b ON b.tok = a.tok AND a.doc_id < b.doc_id
  JOIN capped c ON c.tok = a.tok
  GROUP BY 1, 2)
SELECT id1, id2, CAST(minsum AS BIGINT) AS minsum,
       floor((minsum::DOUBLE / (ta.s + tb.s - minsum)) * 10000 + 0.5) / 10000.0
         AS w_jaccard
FROM pair_min
JOIN totals ta ON ta.doc_id = id1
JOIN totals tb ON tb.doc_id = id2
WHERE floor((minsum::DOUBLE / (ta.s + tb.s - minsum)) * 10000 + 0.5) / 10000.0
      >= {WJ_THRESHOLD}
"""


# --- incremental dedup: new batch vs existing corpus, no corpus reshuffle ---

INC_MOD = 10
INC_REMAINDER = 3


def _delta_matches(
    old_bands: DataFrame, old_ids: DataFrame, new_bands: DataFrame, new_ids: DataFrame
) -> DataFrame:
    """(new_id, old_id, n_common, jaccard): every verified match of a
    delta against a corpus at JACCARD_THRESHOLD, from the two sides'
    `_bands` and `_shingle_ids` tables. The delta's band rows are
    BROADCAST against the corpus postings, whose buckets above
    LSH_BUCKET_CAP are dropped exactly as in the self-join path; the
    corpus is scanned and aggregated, never re-paired with itself."""
    posts_old = (
        old_bands.groupBy(*BAND_KEY)
        .agg(F.collect_list("doc_id").alias("olds"))
        .filter(F.size("olds") <= LSH_BUCKET_CAP)
    )
    cand = (
        posts_old.join(F.broadcast(new_bands.withColumnRenamed("doc_id", "new_id")), BAND_KEY)
        .select("new_id", F.explode("olds").alias("old_id"))
        .distinct()
    )
    return (
        _exact_overlap(cand, ("new_id", "old_id"), new_ids, old_ids)
        .withColumn("jaccard", _rounded_jaccard())
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("new_id", "old_id", "n_common", "jaccard")
    )


def incremental_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup the DELTA against the corpus — the production shape: a new
    batch arrives (here the deterministic doc_id%10==3 slice) and must be
    matched against everything already ingested WITHOUT re-pairing the
    corpus with itself (`_delta_matches`; at 100 TB the corpus band
    table is a persisted bucketed table partitioned by band key, the
    nightly batch is MBs of signatures). Output per matched new doc: its
    match count, the smallest matching corpus id (the canonical survivor
    it would attach to), and that match's true Jaccard.

    The band table feeds both the corpus postings and the broadcast
    delta side, so it is persisted within the query and the signature
    kernel runs once.

    Production callers use the PERSISTED split of this operator —
    operators/dedup_index.py build/dedup_delta/append (the band and
    shingle tables written once, each batch broadcast against them) —
    proven row-for-row equivalent to this gate in
    tests/test_dedup_index.py; this query keeps the self-contained
    in-memory shape the DuckDB oracle replays."""
    from pyspark import StorageLevel

    arrs = _shingle_arrays(_docs(spark, sf_dir)).persist(StorageLevel.MEMORY_AND_DISK)
    bands = _bands(_minhash_sigs_np(arrs)).persist(StorageLevel.MEMORY_AND_DISK)
    ids = _shingle_ids(arrs)
    is_new = F.col("doc_id") % INC_MOD == INC_REMAINDER
    verified = _delta_matches(bands.filter(~is_new), ids, bands.filter(is_new), ids)
    best = F.min(
        F.struct(F.col("old_id").alias("old_id"), F.col("jaccard").alias("jaccard"))
    ).alias("b")
    return (
        verified.groupBy("new_id")
        .agg(F.count(F.lit(1)).alias("n_matches"), best)
        .select(
            F.col("new_id").alias("doc_id"),
            "n_matches",
            F.col("b.old_id").alias("match_id"),
            F.col("b.jaccard").alias("jaccard"),
        )
    )


_INC_KEY = "band_id, " + ", ".join(f"x{r}" for r in range(BAND_ROWS))

ORACLE_INCREMENTAL_LSH = (
    _duck_minhash_core()
    + f"""
, bold AS (SELECT * FROM banded WHERE doc_id % {INC_MOD} != {INC_REMAINDER})
, bnew AS (SELECT * FROM banded WHERE doc_id % {INC_MOD} = {INC_REMAINDER})
, okb AS (
  SELECT {_INC_KEY} FROM bold
  GROUP BY {_INC_KEY}
  HAVING count(*) <= {LSH_BUCKET_CAP})
, cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM bold o
  JOIN okb USING ({_INC_KEY})
  JOIN bnew n USING ({_INC_KEY}))
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)
, common AS (
  SELECT c.new_id, c.old_id, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.old_id
  JOIN sh b ON b.doc_id = c.new_id AND b.shingle = a.shingle
  GROUP BY 1, 2)
, v AS (
  SELECT new_id, old_id,
         {_DUCK_JACCARD} AS j
  FROM common
  JOIN sizes sa ON sa.doc_id = old_id
  JOIN sizes sb ON sb.doc_id = new_id)
SELECT new_id AS doc_id, count(*) AS n_matches,
       min(old_id) AS match_id, arg_min(j, old_id) AS jaccard
FROM v
WHERE j >= {JACCARD_THRESHOLD}
GROUP BY 1
"""
)


QUERIES = {
    "exact_dedup_groups": exact_dedup_groups,
    "incremental_lsh_dedup": incremental_lsh_dedup,
    # ngram_jaccard_pairs (exact, uncapped) is intentionally NOT declared:
    # its pair cost is quadratic in shingle DF (unbounded on corpus-shaped
    # input). It remains above as the small-sf oracle baseline that
    # ngram_jaccard_pairs_capped / jaccard_verified_pairs are tested against.
    "ngram_jaccard_pairs_capped": ngram_jaccard_pairs_capped,
    "exact_substring_pairs": exact_substring_pairs,
    "minhash_lsh_candidates": minhash_lsh_candidates,
    "minhash_signature_sample": minhash_signature_sample,
    "simhash_fingerprints": simhash_fingerprints,
    "simhash_near_pairs": simhash_near_pairs,
    "simhash64_fingerprints": simhash64_fingerprints,
    "simhash64_near_pairs": simhash64_near_pairs,
    "editdist_verified_pairs": editdist_verified_pairs,
    "jaccard_verified_pairs": jaccard_verified_pairs,
    "prefix_filter_jaccard_pairs": prefix_filter_jaccard_pairs,
    "containment_pairs": containment_pairs,
    "weighted_jaccard_pairs": weighted_jaccard_pairs,
}

ORACLE = {
    "exact_dedup_groups": ORACLE_EXACT,
    "incremental_lsh_dedup": ORACLE_INCREMENTAL_LSH,
    "ngram_jaccard_pairs_capped": ORACLE_JACCARD_CAPPED,
    "exact_substring_pairs": ORACLE_SUBSTRING_PAIRS,
    "minhash_lsh_candidates": ORACLE_MINHASH_LSH,
    "minhash_signature_sample": ORACLE_MINHASH_SAMPLE,
    "simhash_fingerprints": ORACLE_SIMHASH,
    "simhash_near_pairs": ORACLE_SIMHASH_PAIRS,
    "simhash64_fingerprints": ORACLE_SIMHASH64,
    "simhash64_near_pairs": ORACLE_SIMHASH64_PAIRS,
    "editdist_verified_pairs": ORACLE_EDITDIST_PAIRS,
    "jaccard_verified_pairs": ORACLE_JACCARD_VERIFIED,
    "prefix_filter_jaccard_pairs": ORACLE_PREFIX_FILTER,
    "containment_pairs": ORACLE_CONTAINMENT,
    "weighted_jaccard_pairs": ORACLE_WEIGHTED_JACCARD,
}
