"""Text-analysis operators over the `documents` table — the training-data
pipeline surface (language stats, token counting, quality scoring, document
fingerprinting). All hot-path logic is JVM-side column expressions (split/
regexp/aggregate) — no Python UDFs — so whole-stage codegen applies and the
same plan scales to 100 TB of documents: every query here is a single scan +
one (or zero) shuffle on the group keys.

Tokenization contract (shared with the DuckDB oracles): tokens are the
space-separated words of `text` (the synthetic corpus is single-space
separated, lowercase).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ._util import fround, read_table, word_ngrams

STOPWORDS = ("the", "a", "of", "and", "to")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents", fan=True)


# --- token counting (whitespace tokens + distinct tokens) ---

def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("len_chars"),
    )


ORACLE_TOKEN_COUNTS = """
SELECT doc_id,
       len(string_split(text, ' '))                AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       length(text)                                AS len_chars
FROM documents
"""


# --- BPE-ish tokenization (regex pre-tokenizer + bounded sub-word split) ---

def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting the way an LLM-data pipeline estimates cost: a
    GPT-2-style regex pre-tokenizer (letter runs / digit runs / punctuation
    runs), then a BPE-ish sub-word bound of ceil(len/4) pieces per token
    (merge tables are model-specific; the 4-char bound is the standard
    chars-per-token estimate). Pure JVM regex + higher-order array
    functions — codegen'd, single scan, no shuffle."""
    d = _docs(spark, sf_dir)
    toks = F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)")
    subwords = F.aggregate(
        F.transform(toks, lambda t: (F.length(t) + 3).cast("long") / F.lit(4)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + F.floor(v).cast("long"),
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("n_pieces"),
        subwords.alias("n_subwords"),
        fround(F.length("text") / subwords, 4).alias("chars_per_subword"),
    )


ORACLE_BPE = """
SELECT doc_id,
       len(pieces) AS n_pieces,
       CAST(n_subwords AS BIGINT) AS n_subwords,
       floor((length(text)::DOUBLE / n_subwords) * 10000 + 0.5) / 10000.0 AS chars_per_subword
FROM (
  SELECT doc_id, text, pieces,
         list_sum(list_transform(pieces, t -> (length(t) + 3) // 4)) AS n_subwords
  FROM (SELECT doc_id, text,
               regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+') AS pieces
        FROM documents))
"""


# --- quality scoring: length / stopword-ratio / mean word length ---

def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    mean_wl = (F.length("text") - (n_tok - 1)) / n_tok  # chars minus separators
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        fround(n_stop / n_tok, 4).alias("stopword_ratio"),
        fround(mean_wl, 4).alias("mean_word_len"),
        fround(F.size(F.array_distinct(toks)) / n_tok, 4).alias("ttr"),
    )


ORACLE_QUALITY = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       floor((len(list_filter(string_split(text, ' '),
                             t -> t IN ('the','a','of','and','to')))
             / len(string_split(text, ' '))::DOUBLE) * 10000 + 0.5) / 10000.0 AS stopword_ratio,
       floor(((length(text) - (len(string_split(text, ' ')) - 1))
             / len(string_split(text, ' '))::DOUBLE) * 10000 + 0.5) / 10000.0 AS mean_word_len,
       floor((len(list_distinct(string_split(text, ' ')))
             / len(string_split(text, ' '))::DOUBLE) * 10000 + 0.5) / 10000.0 AS ttr
FROM documents
"""


# --- training-data quality filter (composite gate, the "keep" set) ---

def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_scores(spark, sf_dir)
    return (
        q.filter(
            (F.col("n_tokens") >= 20)
            & (F.col("stopword_ratio") <= 0.5)
            & (F.col("ttr") >= 0.05)
        )
        .select("doc_id", "n_tokens", "stopword_ratio", "ttr")
    )


ORACLE_QUALITY_FILTER = """
WITH q AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         floor((len(list_filter(string_split(text, ' '),
                               t -> t IN ('the','a','of','and','to')))
               / len(string_split(text, ' '))::DOUBLE) * 10000 + 0.5) / 10000.0 AS stopword_ratio,
         floor((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' '))::DOUBLE) * 10000 + 0.5) / 10000.0 AS ttr
  FROM documents)
SELECT doc_id, n_tokens, stopword_ratio, ttr
FROM q WHERE n_tokens >= 20 AND stopword_ratio <= 0.5 AND ttr >= 0.05
"""


# --- language-ID heuristic (token-evidence scoring) + confusion vs label ---

def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID: score text against per-language marker
    tokens, argmax the score, report the confusion histogram vs the labeled
    `lang`. Markers are deterministic; the point is the operator shape
    (vectorized evidence scoring, no UDF), not linguistic accuracy on a
    synthetic corpus."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")

    def score(words: tuple[str, ...]):
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scored = d.select(
        "doc_id",
        "lang",
        score(("the", "a", "fast", "slow")).alias("s_en"),
        score(("data", "table", "row")).alias("s_de"),
        score(("query", "filter", "sort")).alias("s_fr"),
    )
    guess = (
        F.when((F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_fr")), "en")
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr")
    )
    return (
        scored.select("lang", guess.alias("guessed"))
        .groupBy("lang", "guessed")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_LANG_CONFUSION = """
WITH scored AS (
  SELECT lang,
         len(list_filter(string_split(text,' '), t -> t IN ('the','a','fast','slow'))) AS s_en,
         len(list_filter(string_split(text,' '), t -> t IN ('data','table','row')))    AS s_de,
         len(list_filter(string_split(text,' '), t -> t IN ('query','filter','sort'))) AS s_fr
  FROM documents)
SELECT lang,
       CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END AS guessed,
       count(*) AS n
FROM scored GROUP BY 1, 2
"""


# --- corpus rollup per (source, lang) ---

def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            fround(F.avg("n_chars"), 4).alias("avg_chars"),
            fround(F.avg(F.size(F.split(F.col("text"), " "))), 4).alias("avg_tokens"),
        )
    )


ORACLE_CORPUS_STATS = """
SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       floor((avg(n_chars)) * 10000 + 0.5) / 10000.0 AS avg_chars,
       floor((avg(len(string_split(text, ' ')))) * 10000 + 0.5) / 10000.0 AS avg_tokens
FROM documents GROUP BY source, lang
"""


# --- document fingerprinting (md5 content hash of normalized text) ---

def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " ")
    return d.select("doc_id", F.md5(norm.cast("binary")).alias("fingerprint"))


ORACLE_FINGERPRINTS = """
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


# --- within-doc repetition (boilerplate) scoring ---

def boilerplate_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-3-gram ratio per document: 1 - distinct/total 3-grams.
    High ratio = templated/boilerplate text (the standard within-doc
    repetition filter, complementing the cross-doc dedup suite). ONE
    narrow projection: the words array is materialized once per row and
    both counts (total slots, distinct shingles) are array expressions
    over it — one scan, one split, no join, no shuffle."""
    from ._util import fround

    d = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("words")
    )
    n = F.size("words")
    distinct_shingles = F.when(
        n >= 3, F.size(F.array_distinct(word_ngrams("words", 3)))
    ).otherwise(F.lit(1))
    return d.select(
        "doc_id",
        F.greatest(n - 2, F.lit(1)).alias("n_total"),
        distinct_shingles.alias("n_distinct"),
        fround(
            1 - distinct_shingles / F.greatest(n - 2, F.lit(1)), 4
        ).alias("rep_ratio"),
    )


ORACLE_BOILERPLATE = """
WITH t AS (
  SELECT doc_id,
         greatest(len(string_split(text,' ')) - 2, 1) AS n_total,
         len(CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct([array_to_string(string_split(text,' ')[i:i+2], ' ')
                              for i in range(1, len(string_split(text,' ')) - 1)])
             ELSE [text] END) AS n_distinct
  FROM documents)
SELECT doc_id, n_total, n_distinct,
       floor((1 - n_distinct::DOUBLE / n_total) * 10000 + 0.5) / 10000.0 AS rep_ratio
FROM t
"""


# --- vocabulary construction (token -> id, frequency cutoff) ---

VOCAB_MIN_COUNT = 20


def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: tokens above a frequency cutoff, ids assigned
    by (count desc, token) dense rank — the deterministic token->id map a
    tokenizer build step produces. One explode + one groupBy (map-side
    combined); ids come from `global_row_index` (range partition +
    per-partition offsets), so even a hundred-million-token vocabulary
    never funnels through a single-reducer window."""
    from ..operators.ranks import global_row_index

    d = _docs(spark, sf_dir)
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    kept = counts.filter(F.col("n") >= VOCAB_MIN_COUNT).withColumn(
        "__negn", -F.col("n")
    )
    return (
        global_row_index(kept, ["__negn", "tok"], out="token_id")
        .select("tok", "n", F.col("token_id").cast("int").alias("token_id"))
    )


ORACLE_VOCAB = f"""
SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) - 1 AS token_id
FROM (SELECT tok, count(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok)
WHERE n >= {VOCAB_MIN_COUNT}
"""


# --- Gopher-style repetition signals (mode concentration) ---

def rep_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals in the Gopher/C4 quality-filter
    family, complementing `boilerplate_scores` (distinct-ratio) with MODE
    CONCENTRATION: what fraction of the document is its single most
    frequent unigram / bigram, plus the duplicate-word fraction.

    Plan: the scalar counts (n_words, n_distinct) are array expressions on
    the base scan (no shuffle); the two mode counts are explode →
    two-phase groupBy( doc_id, gram ) → max per doc — partial aggregation
    makes the shuffled volume ~|distinct grams per doc|, and the final
    joins are on doc_id (skew-free, co-partitioned after the aggs). At
    100 TB every stage is linear in corpus size with bounded per-key
    state; nothing global."""
    d = _docs(spark, sf_dir).select("doc_id", F.split(F.col("text"), " ").alias("words"))
    words = F.col("words")
    n = F.size(words)
    base = d.select(
        "doc_id",
        n.alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
    )
    uni_top = (
        d.select("doc_id", F.explode("words").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_word_cnt"))
    )
    bi_top = (
        d.filter(n >= 2)
        .select("doc_id", F.explode(word_ngrams(words, 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_cnt"))
    )
    nw = F.col("n_words")
    return (
        base.join(uni_top, "doc_id", "left")
        .join(bi_top, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            fround((nw - F.col("n_distinct")) / nw, 4).alias("dup_word_frac"),
            fround(F.col("top_word_cnt") / nw, 4).alias("top_word_frac"),
            fround(
                F.coalesce(F.col("top_bigram_cnt"), F.lit(0))
                / F.greatest(nw - 1, F.lit(1)),
                4,
            ).alias("top_bigram_frac"),
        )
    )


ORACLE_REP_SIGNALS = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
base AS (SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct FROM d),
ut AS (SELECT doc_id, max(c) AS tc FROM (
         SELECT doc_id, g, count(*) AS c
         FROM (SELECT doc_id, unnest(ws) AS g FROM d) GROUP BY 1, 2)
       GROUP BY 1),
bt AS (SELECT doc_id, max(c) AS tbc FROM (
         SELECT doc_id, g, count(*) AS c
         FROM (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS g
               FROM d WHERE len(ws) >= 2) GROUP BY 1, 2)
       GROUP BY 1)
SELECT base.doc_id, n_words,
       floor(((n_words - n_distinct)::DOUBLE / n_words) * 10000 + 0.5) / 10000.0 AS dup_word_frac,
       floor((tc::DOUBLE / n_words) * 10000 + 0.5) / 10000.0 AS top_word_frac,
       floor((coalesce(tbc, 0)::DOUBLE / greatest(n_words - 1, 1)) * 10000 + 0.5) / 10000.0 AS top_bigram_frac
FROM base LEFT JOIN ut ON ut.doc_id = base.doc_id
          LEFT JOIN bt ON bt.doc_id = base.doc_id
"""


# --- cross-corpus duplicated n-gram fraction (contamination signal) ---

def dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each document's trigram POSITIONS whose trigram occurs
    in at least one OTHER document — the cross-corpus contamination /
    near-dup pressure signal (what fraction of this doc is shared
    content), counted with multiplicity so a doc that repeats a shared
    phrase is scored accordingly.

    Plan: one corpus scan explodes trigrams (hashed to 64-bit ids so both
    shuffles move longs); doc-frequency is a two-phase distinct-count per
    gram; the join back to positions is on the gram id. At 100 TB you'd
    additionally drop grams with df=1 before the join (they only
    contribute zeros to the numerator) — kept here because the
    denominator needs every position, carried via the left join's nulls."""
    d = _docs(spark, sf_dir).select("doc_id", F.split(F.col("text"), " ").alias("words"))
    pos = (
        d.filter(F.size("words") >= 3)
        .select("doc_id", F.explode(word_ngrams("words", 3)).alias("g"))
        .select("doc_id", F.xxhash64("g").alias("g"))
    )
    df_ = (
        pos.select("doc_id", "g").distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
    )
    return (
        pos.join(df_, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("nd").isNotNull(), 1).otherwise(0)).alias("n_shared"),
        )
        .select(
            "doc_id", "n_grams", "n_shared",
            fround(F.col("n_shared") / F.col("n_grams"), 4).alias("shared_frac"),
        )
    )


ORACLE_DUP_NGRAM = """
WITH g AS (
  SELECT doc_id, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  WHERE len(ws) >= 3),
df AS (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
SELECT doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       floor((CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE / count(*)) * 10000 + 0.5) / 10000.0 AS shared_frac
FROM g JOIN df USING (g)
GROUP BY doc_id
"""



# --- TF-IDF: top terms per document (the IR feature-extraction staple) ---

TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by tf-idf. Shape: one explode ->
    (doc, term) counts [shuffle 1] -> doc-frequency aggregate over terms
    [shuffle 2, output = |vocab| rows, broadcastable] -> score + per-doc
    top-k window [shuffle 3 on doc_id]. Cross-engine determinism: Spark
    computes log2 as log(x)/log(2) while DuckDB calls libm log2, so the
    raw doubles can differ by an ulp; the score is therefore quantized to
    3 decimals (an ulp flips the quantized value only within ~1e-13 of a
    boundary) and the top-k window tie-breaks on the integer-exact
    (tf DESC, df ASC, term) so rank order never depends on the float.
    At 100 TB the df table is the only global state and it's vocab-sized."""
    d = _docs(spark, sf_dir)
    n_docs = d.count()  # scalar; at scale a cached one-row aggregate
    terms = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_), "term").withColumn(
        "tfidf",
        fround(F.col("tf") * F.log2(F.lit(float(n_docs)) / F.col("df")), 3),
    )
    w = W.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.desc("tf"), F.asc("df"), "term"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tfidf")
    )


ORACLE_TFIDF = f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM terms WHERE term != '' GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         floor((tf.tf * log2(n.n_docs::DOUBLE / df.df)) * 1000 + 0.5) / 1000.0
           AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, CAST(rank AS INT) AS rank, term, tfidf
FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, tf DESC, df ASC, term) AS rank
  FROM scored)
WHERE rank <= {TFIDF_TOP_K}
"""


# --- corpus composition: per-source language diversity ---

def source_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: language diversity as Gini-Simpson (1 - sum p_l^2) and
    the inverse-Simpson "effective number of languages" (n^2 / sum c_l^2)
    — the corpus-composition dashboard numbers a mixing/rebalancing step
    monitors (a source whose effective-language count collapses is
    drifting monolingual). Simpson's index is chosen over Shannon
    deliberately: it needs no log, so every quantity is an exact integer
    ratio until one final divide and the gate is ulp-caveat-free.

    One corpus scan -> |source x lang| rows -> |source| rows; both
    aggregates map-side combine."""
    d = _docs(spark, sf_dir)
    cl = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    agg = cl.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    n2 = F.col("n_docs") * F.col("n_docs")
    return agg.select(
        "source",
        "n_docs",
        "n_langs",
        fround(F.lit(1.0) - F.col("ss") / n2, 6).alias("gini_simpson"),
        fround(n2 / F.col("ss"), 6).alias("effective_langs"),
    )


ORACLE_DIVERSITY = """
WITH cl AS (
  SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
agg AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         count(*) AS n_langs, CAST(sum(c * c) AS BIGINT) AS ss
  FROM cl GROUP BY 1)
SELECT source, n_docs, n_langs,
       floor((1.0 - ss / (n_docs * n_docs)) * 1000000 + 0.5)
         / 1000000.0 AS gini_simpson,
       floor(((n_docs * n_docs) / ss) * 1000000 + 0.5)
         / 1000000.0 AS effective_langs
FROM agg
"""


# --- PMI collocations: vocab-bounded within-doc co-occurrence lift ---

PMI_VOCAB = 64  # co-occurrence universe: top-V terms by doc frequency
PMI_MIN_PAIR_DOCS = 5  # support floor
PMI_TOP = 20


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocation pairs by pointwise-mutual-information LIFT:
    lift(x,y) = N * df(x,y) / (df(x) * df(y)) over document-level
    co-occurrence (PMI = log2(lift); ranking by lift IS ranking by PMI,
    and skipping the log keeps every quantity an exact integer ratio —
    no cross-engine ulp caveat like suite/lm_stats.py's log2 note).

    The classic collocation/phrase-mining statistic (Church & Hanks
    1990), with the standard scale discipline: the co-occurrence
    universe is capped to the top-V df terms (V=64 broadcast), so the
    per-doc pair expansion is <= V^2/2 regardless of document length and
    the pair-count shuffle key space is <= V^2 — never vocabulary^2.
    One corpus scan; doc frequencies ride the same scan's distinct
    (doc, term) stream. Output: top 20 pairs by (lift desc, pair), with
    exact integer numerator/denominator alongside."""
    d = _docs(spark, sf_dir)
    words = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok")
    ).localCheckpoint(eager=False)
    df_ = words.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    vocab = df_.orderBy(F.desc("df"), "tok").limit(PMI_VOCAB)
    n_docs = d.count()

    in_vocab = words.join(F.broadcast(vocab.select("tok")), "tok")
    per_doc = in_vocab.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("tok")).alias("ts")
    )
    # two nested explodes (codegen'd Generate operators) instead of the
    # nested transform/filter/flatten fold: HOFs are CodegenFallback, so
    # that shape built every one of the <=V^2 candidate structs per doc
    # through the interpreted expression evaluator (same rewrite as
    # dedup._posting_pairs). Same rows, same x < y canonical filter.
    ts = F.col("ts")
    cxy = (
        per_doc.select(ts.alias("_ts"), F.explode(ts).alias("x"))
        .select("x", F.explode("_ts").alias("y"))
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("df_xy"))
        .filter(F.col("df_xy") >= PMI_MIN_PAIR_DOCS)
    )
    vx = vocab.select(F.col("tok").alias("x"), F.col("df").alias("df_x"))
    vy = vocab.select(F.col("tok").alias("y"), F.col("df").alias("df_y"))
    lift = (F.lit(float(n_docs)) * F.col("df_xy")) / (F.col("df_x") * F.col("df_y"))
    return (
        cxy.join(F.broadcast(vx), "x")
        .join(F.broadcast(vy), "y")
        .select(
            "x", "y", "df_x", "df_y", "df_xy",
            fround(lift, 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "x", "y")
        .limit(PMI_TOP)
    )


ORACLE_PMI = f"""
WITH w AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents),
dfs AS (SELECT tok, count(*) AS df FROM w GROUP BY 1),
vocab AS (
  SELECT tok, df FROM dfs ORDER BY df DESC, tok LIMIT {PMI_VOCAB}),
n AS (SELECT count(*) AS n_docs FROM documents),
iv AS (SELECT w.doc_id, w.tok FROM w JOIN vocab USING (tok)),
cxy AS (
  SELECT a.tok AS x, b.tok AS y, count(*) AS df_xy
  FROM iv a JOIN iv b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
  HAVING count(*) >= {PMI_MIN_PAIR_DOCS})
SELECT x, y, vx.df AS df_x, vy.df AS df_y, df_xy,
       floor((CAST(n.n_docs AS DOUBLE) * df_xy) / (vx.df * vy.df)
             * 1000000 + 0.5) / 1000000.0 AS lift
FROM cxy
JOIN vocab vx ON vx.tok = x
JOIN vocab vy ON vy.tok = y
CROSS JOIN n
ORDER BY lift DESC, x, y
LIMIT {PMI_TOP}
"""


QUERIES = {
    "source_diversity_report": source_diversity_report,
    "pmi_collocations": pmi_collocations,
    "tfidf_top_terms": tfidf_top_terms,
    "rep_signals": rep_signals,
    "dup_ngram_frac": dup_ngram_frac,
    "boilerplate_scores": boilerplate_scores,
    "vocab_build": vocab_build,
    "bpe_token_stats": bpe_token_stats,
    "token_counts": token_counts,
    "quality_scores": quality_scores,
    "quality_filter": quality_filter,
    "lang_confusion": lang_confusion,
    "corpus_stats": corpus_stats,
    "doc_fingerprints": doc_fingerprints,
}

ORACLE = {
    "source_diversity_report": ORACLE_DIVERSITY,
    "pmi_collocations": ORACLE_PMI,
    "tfidf_top_terms": ORACLE_TFIDF,
    "rep_signals": ORACLE_REP_SIGNALS,
    "dup_ngram_frac": ORACLE_DUP_NGRAM,
    "boilerplate_scores": ORACLE_BOILERPLATE,
    "vocab_build": ORACLE_VOCAB,
    "bpe_token_stats": ORACLE_BPE,
    "token_counts": ORACLE_TOKEN_COUNTS,
    "quality_scores": ORACLE_QUALITY,
    "quality_filter": ORACLE_QUALITY_FILTER,
    "lang_confusion": ORACLE_LANG_CONFUSION,
    "corpus_stats": ORACLE_CORPUS_STATS,
    "doc_fingerprints": ORACLE_FINGERPRINTS,
}
