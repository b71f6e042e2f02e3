"""Training-data hygiene: benchmark decontamination, temperature-scaled
domain mixing, and payload scrubbing.

Three operators every large-scale LLM data pipeline runs before training:

 - `decontaminate_overlap`: find training documents that share word
   n-grams with the held-out eval split (the GPT-3-style 13-gram
   decontamination check, n scaled to these short synthetic docs). The
   eval side is benchmark-sized by construction, so its n-gram table is
   BROADCAST — at 100 TB the train side streams map-side against a
   few-MB eval set, no shuffle of the corpus at all (productionized as a
   bloom filter of eval n-grams; the broadcast hash join here has the
   same data movement).
 - `temperature_mix_sample`: resample sources toward p_s ∝ n_s^alpha
   (alpha=0.5 — the multilingual "temperature" flattening from the
   mBERT/XLM-R recipes). Per-source keep rates are derived from a
   source-count aggregate (|sources| rows, broadcast back); each row's
   fate is a pure (salt, key) hash — deterministic under repartitioning,
   appends, and retries. The sqrt weights are quantized to integer
   micro-units before the normalizing sum so the rate is bit-identical
   across engines (a raw double sum would depend on addend order).
 - `scrub_events_props`: redact numeric literals from event payloads
   (user ids, amounts — the PII-shaped part of a telemetry stream)
   before export, with per-type redaction counts and an order-
   independent 53-bit checksum over the scrubbed payloads pinning every
   replacement. Pure codegen'd regexp column ops — no UDFs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import fround, norm_fold, read_table, word_ngrams
from ..operators import kmeans
from ..operators.sampling import hash_unit, hash_unit_sql

NGRAM_N = 5
TEST_FRACTION = 0.2  # matches sampling.split_cohort_counts
HOLDOUT_FRACTION = 0.1
MIX_ALPHA = 0.5
MIX_TARGET_FRACTION = 0.6
NUM_PAT = "[0-9]{2,}"
EMAIL_PAT = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _word_5grams(d: DataFrame) -> DataFrame:
    """(doc_id, g): distinct word-5-grams. Same single-narrow-stage shape
    as dedup._shingle_arrays — split once, slice+zip, no shuffle."""
    d = d.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    grams = F.when(
        F.size("w") >= NGRAM_N, F.array_distinct(word_ngrams("w", NGRAM_N))
    ).otherwise(F.array().cast("array<string>"))
    return d.select("doc_id", F.explode(grams).alias("g"))


def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per contaminated TRAIN doc: how many distinct 5-grams it shares
    with the eval (test) split, and with how many distinct eval docs.
    Splits reuse the corpus-wide hash split (salt 'split'), so the eval
    set here is exactly `split_cohort_counts`' test cohort — the same
    leakage-proof split every other sampling operator sees."""
    d = _docs(spark, sf_dir)
    u = hash_unit(F.col("doc_id"), "split")
    ev = _word_5grams(d.filter(u < TEST_FRACTION)).withColumnRenamed(
        "doc_id", "eval_id"
    )
    tr = _word_5grams(d.filter(u >= TEST_FRACTION + HOLDOUT_FRACTION))
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_hit_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


_U_SPLIT = hash_unit_sql("doc_id", "split")

_DUCK_5G = f"""
  SELECT doc_id,
         unnest(list_distinct([array_to_string(ws[i:i+{NGRAM_N - 1}], ' ')
                               for i in range(1, len(ws) - {NGRAM_N - 2})])) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE {{COND}}) src
  WHERE len(ws) >= {NGRAM_N}
"""

ORACLE_DECONTAMINATE = f"""
WITH evg AS ({_DUCK_5G.replace("{COND}", f"{_U_SPLIT} < {TEST_FRACTION}")}),
trg AS ({_DUCK_5G.replace("{COND}", f"{_U_SPLIT} >= {TEST_FRACTION + HOLDOUT_FRACTION}")})
SELECT t.doc_id,
       count(DISTINCT t.g) AS n_hit_ngrams,
       count(DISTINCT e.doc_id) AS n_eval_docs
FROM trg t JOIN evg e USING (g)
GROUP BY 1
"""


def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the corpus toward the alpha=0.5 temperature-flattened
    source mixture: rate_s = min(1, T * ntot * sqrt(n_s)/Z / n_s) with
    Z = sum_s sqrt(n_s) (quantized to integer micro-units so the sum is
    exact) and T the target corpus fraction. Two tiny aggregates
    (|sources| rows) broadcast back onto the corpus scan; each row's
    keep decision is a pure (salt, key) hash."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    sq = counts.withColumn(
        "sq", F.floor(F.sqrt(F.col("n")) * 1000000 + F.lit(0.5)).cast("long")
    )
    stats = sq.agg(F.sum("n").alias("ntot"), F.sum("sq").alias("zq"))
    rates = sq.crossJoin(F.broadcast(stats)).withColumn(
        "rate",
        F.least(
            F.lit(1.0),
            F.lit(MIX_TARGET_FRACTION) * F.col("ntot") * F.col("sq") / F.col("zq")
            / F.col("n"),
        ),
    )
    kept = d.join(F.broadcast(rates.select("source", "rate")), "source").filter(
        hash_unit(F.col("doc_id"), "mix") < F.col("rate")
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_sum"),
            F.min("rate").alias("rate_raw"),
        )
        .select("source", "n_kept", "id_sum", fround("rate_raw", 6).alias("rate"))
    )


_U_MIX = hash_unit_sql("doc_id", "mix")

ORACLE_TEMPERATURE_MIX = f"""
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
sq AS (SELECT source, n,
              CAST(floor(sqrt(n::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS sq
       FROM c),
s AS (SELECT CAST(sum(n) AS BIGINT) AS ntot, CAST(sum(sq) AS BIGINT) AS zq FROM sq),
r AS (SELECT source,
             least(1.0::DOUBLE,
                   {MIX_TARGET_FRACTION}::DOUBLE * s.ntot::DOUBLE * sq::DOUBLE
                   / s.zq::DOUBLE / n::DOUBLE) AS rate
      FROM sq CROSS JOIN s)
SELECT d.source, count(*) AS n_kept, CAST(sum(d.doc_id) AS BIGINT) AS id_sum,
       floor(min(r.rate) * 1000000 + 0.5) / 1000000.0 AS rate
FROM documents d JOIN r ON r.source = d.source
WHERE {_U_MIX} < r.rate
GROUP BY 1
"""


def scrub_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-literal redaction over event payloads, per event type:
    counts of redacted runs / email-shaped tokens / untouched payloads,
    plus an order-independent XOR of 53-bit md5s of the scrubbed strings
    — one flipped byte anywhere changes the checksum. Entirely
    whole-stage-codegen regexp ops on the scan; nothing non-distributed."""
    from op_etl_spark.session import read_events

    ev = read_events(spark, sf_dir)
    scrubbed = F.regexp_replace(F.col("props"), NUM_PAT, "<NUM>")
    h = F.conv(F.substring(F.md5(scrubbed.cast("binary")), 1, 13), 16, 10).cast(
        "long"
    )
    return (
        ev.select(
            "event_type",
            F.regexp_count(F.col("props"), F.lit(NUM_PAT)).alias("n_num"),
            F.regexp_count(F.col("props"), F.lit(EMAIL_PAT)).alias("n_email"),
            h.alias("h"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("n_num").alias("n_redactions"),
            F.sum("n_email").alias("n_emails"),
            F.sum((F.col("n_num") == 0).cast("long")).alias("n_clean"),
            F.expr("bit_xor(h)").alias("scrub_xor"),
        )
    )


ORACLE_SCRUB = f"""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(len(regexp_extract_all(props, '{NUM_PAT}'))) AS BIGINT) AS n_redactions,
       CAST(sum(len(regexp_extract_all(props, '{EMAIL_PAT}'))) AS BIGINT) AS n_emails,
       CAST(sum(CASE WHEN NOT regexp_matches(props, '{NUM_PAT}') THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       bit_xor(('0x' || substr(md5(regexp_replace(props, '{NUM_PAT}', '<NUM>', 'g')), 1, 13))::BIGINT) AS scrub_xor
FROM events
GROUP BY 1
"""


def training_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE capstone: the whole training-corpus hygiene pipeline as ONE
    declarative DAG, reported as a per-source funnel —

      raw -> train-split -> quality gate -> exact dedup -> near-dup drop
          -> benchmark decontamination -> temperature mix

    Stage semantics (each gate applies to the previous stage's
    survivors): split keeps the hash-split train cohort; quality is the
    corpus quality_filter (token count / stopword ratio / TTR); exact
    dedup keeps the min doc_id per md5(text) group (partitioned window —
    one shuffle on the content hash); near-dup drops any doc appearing
    as the GREATER id of a verified near-dup pair (min-id dominance over
    the corpus-wide `jaccard_verified_pairs`, which also catches
    near-dups OF eval docs); decontamination drops docs sharing a
    5-gram with the eval split; the final mix resamples survivors to the
    alpha=0.5 temperature mixture.

    Plan shape: one doc-level flags table (persisted — it feeds both the
    mix-rate aggregate and the final rollup; at 100 TB this is the
    materialized corpus-manifest table), the near-dup/contaminated id
    sets arrive as shuffle anti-join sides (corpus-proportional — NOT
    broadcast), the eval n-gram table inside the decontamination stage
    is broadcast, and the mix normalizer is a 1-row broadcast."""
    from pyspark import StorageLevel
    from pyspark.sql import Window as W

    from . import dedup

    d = _docs(spark, sf_dir)
    u = hash_unit(F.col("doc_id"), "split")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    stop_ratio = fround(
        F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to")))
        / n_tok,
        4,
    )
    ttr = fround(F.size(F.array_distinct(toks)) / n_tok, 4)
    base = d.select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("h"),
        (u >= F.lit(TEST_FRACTION + HOLDOUT_FRACTION)).alias("f_split"),
        n_tok.alias("n_tok"),
        stop_ratio.alias("stop_ratio"),
        ttr.alias("ttr"),
    ).withColumn(
        "f_quality",
        F.col("f_split")
        & (F.col("n_tok") >= 20)
        & (F.col("stop_ratio") <= 0.5)
        & (F.col("ttr") >= 0.05),
    )
    wh = W.partitionBy("h")
    base = base.withColumn(
        "f_exact",
        F.col("f_quality")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("f_quality"), F.col("doc_id"))).over(wh)
        ),
    )
    dup2 = (
        dedup.jaccard_verified_pairs(spark, sf_dir)
        .select(F.col("id2").alias("doc_id"))
        .distinct()
        .withColumn("is_dup2", F.lit(True))
    )
    cont = (
        decontaminate_overlap(spark, sf_dir)
        .select("doc_id")
        .withColumn("is_cont", F.lit(True))
    )
    fl = (
        base.join(dup2, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .withColumn("f_near", F.col("f_exact") & F.col("is_dup2").isNull())
        .withColumn("f_clean", F.col("f_near") & F.col("is_cont").isNull())
        # project to exactly the columns the two downstream consumers
        # (mix-rate aggregate, final rollup) read BEFORE persisting: the
        # 32-char md5, token stats and join markers would otherwise be
        # materialized into the cache for nothing — at 100 TB the flags
        # manifest is doc_id + source + six booleans, not the hash column
        .select(
            "doc_id",
            "source",
            "f_split",
            "f_quality",
            "f_exact",
            "f_near",
            "f_clean",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = fl.filter("f_clean").groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    sq = counts.withColumn(
        "sq", F.floor(F.sqrt(F.col("n")) * 1000000 + F.lit(0.5)).cast("long")
    )
    stats = sq.agg(F.sum("n").alias("ntot"), F.sum("sq").alias("zq"))
    rates = (
        sq.crossJoin(F.broadcast(stats))
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.lit(MIX_TARGET_FRACTION)
                * F.col("ntot")
                * F.col("sq")
                / F.col("zq")
                / F.col("n"),
            ),
        )
        .select("source", "rate")
    )
    fl = fl.join(F.broadcast(rates), "source", "left").withColumn(
        "f_final",
        F.coalesce(
            F.col("f_clean") & (hash_unit(F.col("doc_id"), "mix") < F.col("rate")),
            F.lit(False),
        ),
    )

    def cnt(flag: str):
        return F.sum(F.col(flag).cast("long")).alias(f"n_{flag[2:]}")

    return fl.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        cnt("f_split"),
        cnt("f_quality"),
        cnt("f_exact"),
        cnt("f_near"),
        cnt("f_clean"),
        cnt("f_final"),
        F.sum(F.when(F.col("f_final"), F.col("doc_id")).otherwise(0)).alias(
            "id_sum_final"
        ),
    )


from .dedup import ORACLE as _DEDUP_ORACLE  # noqa: E402  (oracle reuse)

_TRAIN_U = TEST_FRACTION + HOLDOUT_FRACTION

ORACLE_FUNNEL = f"""
WITH base AS (
  SELECT doc_id, source, md5(text) AS h,
         {_U_SPLIT} AS u,
         len(string_split(text, ' ')) AS n_tok,
         floor((len(list_filter(string_split(text, ' '),
                               t -> t IN ('the','a','of','and','to')))
               / len(string_split(text, ' '))::DOUBLE) * 10000 + 0.5) / 10000.0 AS stop_ratio,
         floor((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' '))::DOUBLE) * 10000 + 0.5) / 10000.0 AS ttr
  FROM documents),
f2 AS (
  SELECT *, (u >= {_TRAIN_U}) AS f_split,
         ((u >= {_TRAIN_U}) AND n_tok >= 20 AND stop_ratio <= 0.5 AND ttr >= 0.05) AS f_quality
  FROM base),
f3 AS (
  SELECT *,
         (f_quality AND doc_id = min(CASE WHEN f_quality THEN doc_id END)
                                 OVER (PARTITION BY h)) AS f_exact
  FROM f2),
vp AS ({_DEDUP_ORACLE["jaccard_verified_pairs"]}),
dup2 AS (SELECT DISTINCT id2 AS doc_id FROM vp),
cont AS (SELECT DISTINCT doc_id FROM ({ORACLE_DECONTAMINATE}) c),
f5 AS (
  SELECT *,
         (f_exact AND doc_id NOT IN (SELECT doc_id FROM dup2)) AS f_near,
         (f_exact AND doc_id NOT IN (SELECT doc_id FROM dup2)
                  AND doc_id NOT IN (SELECT doc_id FROM cont)) AS f_clean
  FROM f3),
c AS (SELECT source, count(*) AS n FROM f5 WHERE f_clean GROUP BY 1),
sqt AS (SELECT source, n,
               CAST(floor(sqrt(n::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS sq
        FROM c),
st AS (SELECT CAST(sum(n) AS BIGINT) AS ntot, CAST(sum(sq) AS BIGINT) AS zq FROM sqt),
r AS (SELECT source,
             least(1.0::DOUBLE,
                   {MIX_TARGET_FRACTION}::DOUBLE * st.ntot::DOUBLE * sq::DOUBLE
                   / st.zq::DOUBLE / n::DOUBLE) AS rate
      FROM sqt CROSS JOIN st),
f6 AS (
  SELECT f5.*, COALESCE(f_clean AND ({_U_MIX} < r.rate), FALSE) AS f_final
  FROM f5 LEFT JOIN r ON r.source = f5.source)
SELECT source, count(*) AS n_raw,
       CAST(sum(CASE WHEN f_split THEN 1 ELSE 0 END) AS BIGINT) AS n_split,
       CAST(sum(CASE WHEN f_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN f_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN f_near THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
       CAST(sum(CASE WHEN f_clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(sum(CASE WHEN f_final THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       CAST(sum(CASE WHEN f_final THEN doc_id ELSE 0 END) AS BIGINT) AS id_sum_final
FROM f6
GROUP BY 1
"""


# --- embedding-space decontamination (semantic complement of the
# n-gram decontaminate_overlap above) ---

SEM_DECON_TAU = 0.35  # cosine to the nearest eval probe above this = contaminated
SEM_DECON_MOD = 50  # vec_id % MOD == 0 selects the deterministic eval probes
# Eval benchmarks are FIXED artifacts: they do not grow with the training
# corpus. The id cap pins that regime — every driver-scale vec_id is
# below it (identical outputs at sf0.001/0.01/0.1), while fanned
# rehearsal corpora (vec_id shifted by >= 10M per copy) add only CORPUS
# rows, so sf1 measures 10x corpus against the SAME eval set instead of
# a fixture-made 10x-eval-times-10x-corpus quadratic.
SEM_DECON_EVAL_CAP = 2000


def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space train/eval decontamination: a training vector is
    contaminated when its cosine to ANY eval probe reaches SEM_DECON_TAU.
    N-gram overlap (decontaminate_overlap) only catches verbatim leakage;
    paraphrased eval material needs the semantic check — standard
    practice in LLM data curation (e.g. the fuzzy dedup + decon stages
    of public corpus pipelines).

    The eval set here is the deterministic vec_id % SEM_DECON_MOD == 0
    slice below SEM_DECON_EVAL_CAP (a stand-in for a real benchmark's
    embedded prompts; eval sets are small FIXED artifacts — the cap pins
    that regime so fanned rehearsal corpora grow the corpus, never the
    eval side). Output: one row per training vector with its nearest
    eval probe, the cosine, and the 0/1 contaminated decision.

    100 TB shape: the eval set is a small FIXED artifact (at most
    SEM_DECON_EVAL_CAP / SEM_DECON_MOD = 40 probes by construction), so
    it is collected to the driver, sorted by eval id, and rides the task
    closure of one `kmeans.cosine_assign` pass — the corpus side is then
    a SINGLE NARROW pass: max-cosine + argmax per row, with NO corpus
    shuffle, no join, no groupBy, no window anywhere in the plan.
    Contrast ann_bruteforce_topk (probe rows × corpus join + per-probe
    top-k): here the decision is per-corpus-row, so the argmax is a
    row-local reduce. A real eval set of ~100k × 1k-dim floats is
    ~400 MB of closure — above that, chunk the eval set and take the max
    of the per-chunk argmaxes (still shuffle-free)."""
    e = read_table(spark, sf_dir, "embeddings", fan=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    is_eval = (F.col("vec_id") % SEM_DECON_MOD == 0) & (
        F.col("vec_id") < SEM_DECON_EVAL_CAP
    )
    # zero-norm guard (both sides, mirrored in the oracle): Spark's
    # Divide returns NULL on x/0.0 while DuckDB follows IEEE (inf/NaN),
    # so a zero-norm vector would diverge the argmax across engines —
    # the declared semantics exclude degenerate vectors from BOTH the
    # probe set and the corpus, engine-independently.
    probes = e.filter(is_eval & (norm_fold("emb") > 0)).orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in probes], dtype="int64")
    P = np.array([r["emb"] for r in probes], dtype="float64")

    def best(X):
        # first argmax over the id-sorted probes: on an exact double tie
        # the LOWEST eval id, as the oracle's ORDER BY cos DESC, eid
        j, cos = kmeans.cosine_argmax(X, P)
        return ids[j], cos

    corpus = (
        e.filter(~is_eval & (norm_fold("emb") > 0))
        # empty eval set -> zero output rows, matching the oracle's cross
        # join with an empty ev relation
        .filter(F.lit(len(ids) > 0))
    )
    return kmeans.cosine_assign(
        corpus,
        "emb",
        best,
        P.shape[-1],
        caller="semantic_decontaminate",
        keep=["vec_id"],
        out=("eval_id", "cos"),
    ).select(
        "vec_id",
        "eval_id",
        fround(F.col("cos"), 4).alias("eval_cos"),
        F.when(F.col("cos") >= SEM_DECON_TAU, F.lit(1)).otherwise(F.lit(0)).alias("contaminated"),
    )


ORACLE_SEM_DECON = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
ev AS (SELECT vec_id AS eid, emb AS ev FROM e
       WHERE vec_id % {SEM_DECON_MOD} = 0 AND vec_id < {SEM_DECON_EVAL_CAP}
         AND list_dot_product(emb, emb) > 0),
c AS (SELECT * FROM e
      WHERE NOT (vec_id % {SEM_DECON_MOD} = 0 AND vec_id < {SEM_DECON_EVAL_CAP})
        AND list_dot_product(emb, emb) > 0),
scored AS (
  SELECT c.vec_id, ev.eid,
         list_dot_product(c.emb, ev.ev)
           / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(ev.ev, ev.ev))) AS cos
  FROM c, ev),
best AS (
  SELECT vec_id, eid, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, eid) AS rn
  FROM scored)
SELECT vec_id, eid AS eval_id,
       floor(cos * 10000 + 0.5) / 10000.0 AS eval_cos,
       CASE WHEN cos >= {SEM_DECON_TAU} THEN 1 ELSE 0 END AS contaminated
FROM best WHERE rn = 1
"""


def embedding_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition of the two semantic hygiene stages in ONE DAG
    (the embedding-side twin of training_corpus_funnel): SemDeDup
    keep/remove decisions joined with the eval-decontamination flags,
    rolled up per cluster — members, eval probes, semantic duplicates
    removed, contaminated survivors, final training vectors, and an
    id-sum witness over the final set so the oracle hash pins WHICH
    vectors survived, not just how many.

    Plan shape: the two declared queries compose as DataFrames, so
    Catalyst fuses them — the corpus is scanned by each stage's own
    bounded pattern (narrow kernel assignment + cluster-keyed self-join;
    narrow kernel argmax over the collected eval probes), the stage
    outputs join on vec_id, and the rollup is one map-side-combining
    aggregate on cluster id. Eval probes are absent from the decontamination output
    by construction (left join), counted as n_eval and excluded from
    the final set: eval material is never training data."""
    from .similarity import semantic_dedup

    d = semantic_dedup(spark, sf_dir)
    c = semantic_decontaminate(spark, sf_dir).select("vec_id", "contaminated")
    j = d.join(c, "vec_id", "left")
    is_eval = F.col("contaminated").isNull()
    is_final = (F.col("removed") == 0) & (F.col("contaminated") == 0)
    return j.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.when(is_eval, 1).otherwise(0)).cast("bigint").alias("n_eval"),
        F.sum("removed").cast("bigint").alias("n_dup_removed"),
        F.sum(F.when(~is_eval, F.col("contaminated")).otherwise(0)).cast("bigint").alias("n_contaminated"),
        F.sum(F.when(is_final, 1).otherwise(0)).cast("bigint").alias("n_final"),
        F.sum(F.when(is_final, F.col("vec_id")).otherwise(0)).cast("bigint").alias("id_sum_final"),
    )


from .similarity import ORACLE_SEMDEDUP as _ORACLE_SEMDEDUP  # noqa: E402  (oracle reuse)

ORACLE_EMB_FUNNEL = f"""
WITH d AS ({_ORACLE_SEMDEDUP}),
c AS ({ORACLE_SEM_DECON})
SELECT d.cluster,
       count(*) AS n_members,
       CAST(sum(CASE WHEN c.contaminated IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
       CAST(sum(d.removed) AS BIGINT) AS n_dup_removed,
       CAST(sum(CASE WHEN c.contaminated IS NOT NULL THEN c.contaminated ELSE 0 END) AS BIGINT) AS n_contaminated,
       CAST(sum(CASE WHEN d.removed = 0 AND c.contaminated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       CAST(sum(CASE WHEN d.removed = 0 AND c.contaminated = 0 THEN d.vec_id ELSE 0 END) AS BIGINT) AS id_sum_final
FROM d LEFT JOIN c ON d.vec_id = c.vec_id
GROUP BY 1
"""


QUERIES = {
    "decontaminate_overlap": decontaminate_overlap,
    "semantic_decontaminate": semantic_decontaminate,
    "embedding_curation_funnel": embedding_curation_funnel,
    "temperature_mix_sample": temperature_mix_sample,
    "scrub_events_props": scrub_events_props,
    "training_corpus_funnel": training_corpus_funnel,
}

ORACLE = {
    "decontaminate_overlap": ORACLE_DECONTAMINATE,
    "semantic_decontaminate": ORACLE_SEM_DECON,
    "embedding_curation_funnel": ORACLE_EMB_FUNNEL,
    "temperature_mix_sample": ORACLE_TEMPERATURE_MIX,
    "scrub_events_props": ORACLE_SCRUB,
    "training_corpus_funnel": ORACLE_FUNNEL,
}
