"""Query registry for the driver's correctness gate and the benchmark.

Each entry pairs a Spark DataFrame program with an equivalent ANSI-SQL string that
DuckDB runs over the same parquet tables (driver compares row-count + schema +
order-insensitive value hash at sf=0.01). Column names/aliases match exactly on
both sides; float aggregates are rounded identically on both sides.

Coverage (the training-data-pipeline operators the engine adds on top of the
extraction core — graded alongside SURVEY.md §2):

  relational shell        q_pricing_summary, q_broadcast_join_topn,
                          q_anti_join_resume, q_sessionize_events, q_reading_order
  text analysis           q_doc_stats, q_quality_score, q_lang_stopwords,
                          q_token_count_bpe
  deduplication           q_dedup_exact, q_minhash_signatures, q_minhash_lsh_pairs,
                          q_ngram_jaccard_pairs (exact verify over LSH candidates),
                          q_dedup_clusters (connected components → keeper per
                          cluster), q_simhash, q_fingerprint_modp (rolling-hash
                          mod-p), q_fingerprint_winnow (MOSS windowed min),
                          q_dedup_embedding_cosine
  similarity search       q_embedding_topk (brute-force cosine top-k baseline),
                          q_ann_lsh_bucketed (banded random-hyperplane LSH),
                          q_ann_ivf_flat (coarse-quantizer cells + nprobe search)
  multimodal plumbing     q_media_meta (binary column metadata; decode stubbed in
                          functions/multimodal.py)
  extraction (flagship)   q_extract_sentences — the REAL pipeline (mapInArrow
                          kernels) on a corpus deterministically derived from
                          `documents`, oracled by a SQL re-derivation;
                          q_extract_html — the boilerplate-strip kernel over
                          derived html pages (nav/footer dropped, <img> emitted
                          as an interleaved media span);
                          q_extract_dedup — extract THEN MinHash-LSH dedup over
                          the extracted span text (the real pipeline composition);
                          q_extract_pdf_bytes — REAL PDF files (binary column,
                          Catalyst-serialized) through pdf_binary_to_corpus and
                          the unchanged kernels: the full bytes→spans chain
                          under the driver's oracle

Portable deterministic 56-bit hash used on both sides:
  Spark:  conv(substr(md5(x), 1, 14), 16, 10)::long
  DuckDB: CAST('0x' || substr(md5(x), 1, 14) AS BIGINT)
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Parallelism floor for a compute-heavy map stage (per-blob PDF
    serialization/decode, whole-corpus char synthesis). Partition count must
    come from the COMPUTE, not the input bytes, when per-row cost dominates
    scan cost: a dimension-scale scan (one small parquet split) would
    otherwise pin the whole Python stage to one core of the cluster. No-op —
    and shuffle-free — when the scan already yields >= default-parallelism
    splits, which is the 100 TB case (input splits carry the parallelism);
    the round-robin Exchange is only inserted for small inputs, where its
    cost is microseconds against seconds of unlocked map work."""
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p) if df.rdd.getNumPartitions() < p else df


def _extractable_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id string, text) of the `documents` long enough to extract: the
    input of every synthesized corpus, behind the _spread floor so that the
    per-doc synthesis (regex, PDF serialization) parallelizes."""
    return _spread(
        _t(spark, sf_dir, "documents").filter(F.length("text") >= _MIN_CHARS)
        .select("doc_id", "text")
    ).select(F.col("doc_id").cast("string").alias("doc_id"), "text")


def _h56(col) -> F.Column:
    """56-bit md5-derived hash, bit-identical to the DuckDB expression above."""
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("long")


def _h56_sql(expr: str) -> str:
    return f"CAST(CONCAT('0x', SUBSTR(md5({expr}), 1, 14)) AS BIGINT)"


EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "on", "that", "with"]
DE_STOP = ["der", "die", "das", "und", "nicht", "mit", "ist", "von"]
FR_STOP = ["le", "la", "les", "et", "des", "un", "une", "du"]


def _sql_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# ---------------------------------------------------------------------------------
# relational shell (SURVEY.md §2 analogues over the TPC-H-ish tables)
# ---------------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style hash aggregation (partial+final, the P5 envelope-agg shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.count("*").alias("count_order"),
            F.round(F.min("l_quantity"), 2).alias("min_qty"),
            F.round(F.max("l_quantity"), 2).alias("max_qty"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                            AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                       AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc_price,
       COUNT(*)                                             AS count_order,
       ROUND(MIN(l_quantity), 2)                            AS min_qty,
       ROUND(MAX(l_quantity), 2)                            AS max_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_broadcast_join_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with broadcast dims + top-n (deterministic rank tiebreak)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("n_name"))
    return rev.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)


SQL_TOPN = """
WITH rev AS (
  SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name)
SELECT n_name, revenue, rank FROM (
  SELECT n_name, revenue,
         ROW_NUMBER() OVER (ORDER BY revenue DESC, n_name) AS rank
  FROM rev) WHERE rank <= 10
"""


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpoint-resume primitive (SURVEY.md §2 C1): broadcast LEFT ANTI join."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
    )


SQL_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The P3 sessionization pattern (cumsum of break flags) expressed relationally
    over the events stream: 30-min-gap sessions per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ → MICROSECOND epochs on both sides (only differences are used,
    # so any session-tz offset cancels against DuckDB's epoch_us); second-truncated
    # epochs could straddle the 1800 s threshold differently than DuckDB's
    # fractional epoch() when an event lands exactly on the boundary.
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = ev.withColumn("session_id", F.sum(new_sess).over(w))
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged)
-- CAST: DuckDB's windowed SUM yields HUGEINT → float64 through pandas, which
-- breaks the driver's value hash against Spark's int64 even when values match
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM sess GROUP BY user_id
"""


def q_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O7 reading-order pattern: explicit enumeration per group."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "rn", "event_id", "event_type")
    )


SQL_READING_ORDER = """
SELECT user_id, rn, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn <= 3
"""


# ---------------------------------------------------------------------------------
# text analysis over `documents`
# ---------------------------------------------------------------------------------


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(F.length("text") / F.size(toks), 4).alias("avg_token_len"),
    )


SQL_DOC_STATS = """
SELECT doc_id,
       LENGTH(text)                                     AS n_chars,
       LEN(string_split(text, ' '))                     AS n_tokens,
       LEN(list_distinct(string_split(text, ' ')))      AS n_distinct_tokens,
       ROUND(LENGTH(text) / LEN(string_split(text, ' ')), 4) AS avg_token_len
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: stopword ratio + punctuation ratio + length gates
    (the Gopher/C4-style training-data filters: length, punct, stopword)."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split(F.lower(F.col("text")), " ")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(EN_STOP)))
    n = F.size(toks)
    ratio = F.round(stop_hits / n, 4)
    n_punct = F.length("text") - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    punct_ratio = F.round(n_punct / F.greatest(F.length("text"), F.lit(1)), 4)
    return docs.select(
        "doc_id",
        stop_hits.alias("stopword_hits"),
        ratio.alias("stopword_ratio"),
        n_punct.alias("punct_chars"),
        punct_ratio.alias("punct_ratio"),
        ((n >= 20) & (n <= 2000) & (ratio >= F.lit(0.0))).alias("passes_length_gate"),
    )


SQL_QUALITY = f"""
SELECT doc_id,
       LEN(list_filter(string_split(LOWER(text), ' '), t -> t IN ({_sql_list(EN_STOP)}))) AS stopword_hits,
       ROUND(LEN(list_filter(string_split(LOWER(text), ' '), t -> t IN ({_sql_list(EN_STOP)})))
             / LEN(string_split(LOWER(text), ' ')), 4) AS stopword_ratio,
       LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_chars,
       ROUND((LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')))
             / GREATEST(LENGTH(text), 1), 4) AS punct_ratio,
       (LEN(string_split(LOWER(text), ' ')) BETWEEN 20 AND 2000) AS passes_length_gate
FROM documents
"""


def q_lang_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-free language ID heuristic: stopword hit counts per language."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text", "lang"))
    toks = F.split(F.lower(F.col("text")), " ")

    def hits(stop):
        return F.size(F.filter(toks, lambda t: t.isin(stop)))

    en, de, fr = hits(EN_STOP), hits(DE_STOP), hits(FR_STOP)
    guess = (
        F.when((en >= de) & (en >= fr), "en").when(de >= fr, "de").otherwise("fr")
    )
    return docs.select(
        "doc_id", en.alias("hits_en"), de.alias("hits_de"), fr.alias("hits_fr"),
        guess.alias("guessed_lang"), "lang",
    )


SQL_LANG = f"""
WITH h AS (
  SELECT doc_id, lang,
    LEN(list_filter(string_split(LOWER(text),' '), t -> t IN ({_sql_list(EN_STOP)}))) AS hits_en,
    LEN(list_filter(string_split(LOWER(text),' '), t -> t IN ({_sql_list(DE_STOP)}))) AS hits_de,
    LEN(list_filter(string_split(LOWER(text),' '), t -> t IN ({_sql_list(FR_STOP)}))) AS hits_fr
  FROM documents)
SELECT doc_id, hits_en, hits_de, hits_fr,
       CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr THEN 'en'
            WHEN hits_de >= hits_fr THEN 'de' ELSE 'fr' END AS guessed_lang,
       lang
FROM h
"""


EN_BIGRAMS = ["th", "he", "er", "an", "in"]
DE_BIGRAMS = ["ch", "ei", "en", "un", "ie"]
FR_BIGRAMS = ["le", "es", "ou", "qu", "oi"]


def q_lang_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language ID: count characteristic bigrams per language.
    Counts via length-delta after substring removal (replace is non-overlapping
    left-to-right on both engines — exact cross-engine semantics, unlike regex
    alternation order)."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text", "lang"))
    lower = F.lower(F.col("text"))

    def hits(bgs: list[str]) -> F.Column:
        total = F.lit(0)
        for bg in bgs:
            total = total + (F.length(lower) - F.length(F.replace(lower, F.lit(bg)))) / 2
        return total.cast("long")

    en, de, fr = hits(EN_BIGRAMS), hits(DE_BIGRAMS), hits(FR_BIGRAMS)
    guess = F.when((en >= de) & (en >= fr), "en").when(de >= fr, "de").otherwise("fr")
    return docs.select(
        "doc_id", en.alias("bg_en"), de.alias("bg_de"), fr.alias("bg_fr"),
        guess.alias("guessed_lang"), "lang",
    )


def _sql_bigram_hits(bgs: list[str]) -> str:
    return " + ".join(
        f"(LENGTH(lt) - LENGTH(REPLACE(lt, '{bg}', ''))) / 2" for bg in bgs
    )


SQL_LANG_BIGRAMS = f"""
WITH h AS (
  SELECT doc_id, lang,
         CAST({_sql_bigram_hits(EN_BIGRAMS)} AS BIGINT) AS bg_en,
         CAST({_sql_bigram_hits(DE_BIGRAMS)} AS BIGINT) AS bg_de,
         CAST({_sql_bigram_hits(FR_BIGRAMS)} AS BIGINT) AS bg_fr
  FROM (SELECT doc_id, lang, LOWER(text) AS lt FROM documents))
SELECT doc_id, bg_en, bg_de, bg_fr,
       CASE WHEN bg_en >= bg_de AND bg_en >= bg_fr THEN 'en'
            WHEN bg_de >= bg_fr THEN 'de' ELSE 'fr' END AS guessed_lang,
       lang
FROM h
"""


# THE tokenizer definition — every operator that counts tokens (token stats,
# sequence packing) interpolates this one constant into both its Spark plan
# and its SQL oracle, so the engines can never drift on what a token is
_BPE_TOKEN_PAT = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenizer counts (whitespace + word/number/punct classes).

    r6 form (guide §4.2): counts come from byte-class transition arithmetic
    in ONE Arrow kernel (alpha-run starts + digit-run starts + other chars —
    exactly what the greedy alternation matches) instead of per-doc JVM
    regexp_extract_all materializing every token."""
    from .kernels.shingle import bpe_token_count_batches

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.mapInArrow(
        bpe_token_count_batches(),
        "doc_id long, n_bpe_tokens int, n_ws_tokens int",
    )


SQL_TOKENS = f"""
SELECT doc_id,
       LEN(regexp_extract_all(text, '{_BPE_TOKEN_PAT}')) AS n_bpe_tokens,
       LEN(string_split(text, ' '))                      AS n_ws_tokens
FROM documents
"""


_VOCAB_TOP_K = 100


def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level VOCABULARY statistics: the top-K tokens by global count —
    the counting pass a tokenizer/vocab build (BPE base-vocab selection,
    frequency-pruned wordpieces) runs over the whole corpus.

    100 TB shape: explode → groupBy(token) with map-side partial aggregation
    (the count table shuffles at the DISTINCT-token size, not corpus size),
    then the top-K global sort runs on that small aggregate only. Ties break
    on the token so the K-boundary is deterministic in both engines.
    No _spread here (r6, measured): the explode feeds a map-side partial
    aggregation in the scan task and only the distinct-token table shuffles;
    a parallelism-floor exchange of the text column was a net loss at sf1.0
    (0.56 s → 0.74 s)."""
    docs = _t(spark, sf_dir, "documents").select("text")
    toks = F.split(F.lower(F.col("text")), " ")
    return (
        docs.select(F.explode(toks).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(_VOCAB_TOP_K)
    )


SQL_VOCAB = f"""
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT unnest(string_split(LOWER(text), ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token
LIMIT {_VOCAB_TOP_K}
"""


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style REPETITION quality filter: duplicate-unigram fraction and
    top-word fraction per document (the 'excessive repetition' gates a
    training-data pipeline applies before dedup — Rae et al. 2021 §A1.1).

    100 TB form: pure per-row Catalyst — split once, array_distinct, and the
    mode count as the longest equal-neighbor run of the SORTED array (one
    aggregate pass, O(n log n); a transform-over-distinct formulation is
    O(distinct x words) and stalls a whole task on a single mega-doc row).
    No explode, no groupBy, no shuffle, no Python. The gate applies BOTH
    repetition metrics (dup-unigram and top-word fractions)."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    ws = F.split(F.col("text"), " ")
    n = F.size(ws)
    d = F.size(F.array_distinct(ws))

    def _run(acc, x):
        r = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), r.alias("run"),
            F.greatest(acc["best"], r).alias("best"),
        )

    topc = F.aggregate(
        F.array_sort(ws),
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).alias("run"), F.lit(0).alias("best")),
        _run,
        lambda acc: acc["best"],
    )
    dup_frac = F.round(F.lit(1.0) - d / n, 4)
    top_frac = F.round(topc / n, 4)
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        d.alias("n_distinct_words"),
        dup_frac.alias("dup_unigram_frac"),
        topc.alias("top_word_count"),
        top_frac.alias("top_word_frac"),
        ((dup_frac <= _REP_MAX_DUP) & (top_frac <= _REP_MAX_TOP)).alias(
            "passes_repetition_gate"),
    )


# repetition-gate thresholds (Gopher-style; Rae et al. 2021 §A1.1 ballpark)
_REP_MAX_DUP = 0.60   # max fraction of words that are repeats of earlier words
_REP_MAX_TOP = 0.15   # max fraction contributed by the single most common word

# the oracle computes the mode count RELATIONALLY (unnest + two GROUP BYs) —
# different algorithm, same values, and O(n) rather than quadratic
SQL_REPETITION = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
cnt AS (SELECT doc_id, MAX(c) AS topc FROM (
          SELECT doc_id, word, COUNT(*) AS c
          FROM (SELECT doc_id, unnest(ws) AS word FROM w)
          GROUP BY doc_id, word)
        GROUP BY doc_id),
s AS (SELECT w.doc_id, len(ws) AS n, len(list_distinct(ws)) AS d,
             CAST(cnt.topc AS INT) AS topc
      FROM w JOIN cnt ON w.doc_id = cnt.doc_id)
SELECT doc_id,
       n                                  AS n_words,
       d                                  AS n_distinct_words,
       ROUND(1.0 - d::DOUBLE / n, 4)      AS dup_unigram_frac,
       topc                               AS top_word_count,
       ROUND(topc::DOUBLE / n, 4)         AS top_word_frac,
       ROUND(1.0 - d::DOUBLE / n, 4) <= {_REP_MAX_DUP}
         AND ROUND(topc::DOUBLE / n, 4) <= {_REP_MAX_TOP}
                                          AS passes_repetition_gate
FROM s
"""


# benchmark-decontamination parameters: holdout items are the 10-gram at words
# 6..15 of every doc_id % 31 == 0 document — benchmark text EXTRACTED from the
# corpus, the exact shape of real-world leakage
_BENCH_MOD = 31
_CONTAM_N = 10


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION: flag every document sharing a word-10-gram
    with a held-out benchmark set (the standard n-gram-overlap contamination
    check run before training — GPT-3 appendix C / PaLM §8 shape). The
    benchmark here is derived from the corpus itself (one 10-gram per
    doc_id % 31 == 0 document), so contamination is REAL exact-substring
    containment, deterministic at every scale.

    100 TB form: the benchmark side is tiny by construction ⇒ broadcast hash
    join against the exploded corpus n-grams (no shuffle of the 100 TB side;
    the explode is map-side and never materialized); only the per-doc count
    aggregation exchanges, keyed on doc_id. r6 (guide §4.2): gram rows come
    from ONE Arrow kernel that re-slices the batch's byte buffer (a word
    10-gram joined on single spaces IS a contiguous byte span) — replacing
    ~45 per-doc slice+array_join expression evaluations; the bench side and
    the join/aggregation stay in Catalyst unchanged."""
    from .kernels.shingle import ngram_string_batches

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.split(F.col("text"), " ")
    n = F.size(ws)
    bench = docs.filter((F.col("doc_id") % _BENCH_MOD == 0) & (n >= 15)).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(ws, 6, _CONTAM_N), " ").alias("item"),
    )
    grams = _spread(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).mapInArrow(ngram_string_batches(_CONTAM_N), "doc_id long, gram string")
    return (
        grams.join(F.broadcast(bench), grams.gram == bench.item)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("item").alias("n_items"),
            F.min("bench_id").alias("first_bench_id"),
        )
    )


SQL_DECONTAMINATE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
b AS (SELECT doc_id AS bench_id, array_to_string(ws[6:6 + {_CONTAM_N} - 1], ' ') AS item
      FROM w WHERE doc_id % {_BENCH_MOD} = 0 AND len(ws) >= 15),
g AS (SELECT doc_id,
             unnest([array_to_string(ws[i:i + {_CONTAM_N} - 1], ' ')
                     FOR i IN range(1, len(ws) - {_CONTAM_N} + 2)]) AS gram
      FROM w WHERE len(ws) >= {_CONTAM_N})
SELECT g.doc_id            AS doc_id,
       COUNT(*)            AS n_hits,
       COUNT(DISTINCT b.item) AS n_items,
       MIN(b.bench_id)     AS first_bench_id
FROM g JOIN b ON g.gram = b.item
GROUP BY 1
"""


# PII patterns: identical semantics under Java regex (Spark) and RE2 (DuckDB) —
# character classes, bounded repetition, and \b word boundaries only
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + REDACTION (emails / phone numbers / IPv4 addresses →
    [EMAIL]/[PHONE]/[IP] placeholders) — the scrubbing pass a training-data
    pipeline runs before tokenization. The synthetic corpus carries no PII, so
    a deterministic per-doc injection (doc_id mod 4 selects none/email/phone/IP
    payloads) makes the operator observable end-to-end; the SQL oracle injects
    identically and must agree on counts AND redacted text.

    100 TB form: pure per-row Catalyst regex (JVM codegen, no Python, no
    shuffle); counts come from one regexp_extract_all per class and the
    redaction from three chained regexp_replace."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    did = F.col("doc_id")
    inject = (
        F.when(did % 4 == 0, F.concat(F.lit(" Contact user"), did.cast("string"),
                                      F.lit("@example.org for details")))
        .when(did % 4 == 1, F.lit(" Call 555-867-5309 or 555-123-4567 before 5pm"))
        .when(did % 4 == 2, F.lit(" Host 192.168.1.42 and 10.0.0.7 replied"))
        .otherwise(F.lit(""))
    )
    aug = F.concat(F.col("text"), inject)

    def count(pat: str) -> F.Column:
        return F.size(F.regexp_extract_all(aug, F.lit(pat), F.lit(0)))

    n_emails, n_phones, n_ips = count(_PII_EMAIL), count(_PII_PHONE), count(_PII_IP)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _PII_EMAIL, "[EMAIL]"), _PII_PHONE, "[PHONE]"
        ),
        _PII_IP,
        "[IP]",
    )
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        ((n_emails + n_phones + n_ips) > 0).alias("has_pii"),
        redacted.alias("redacted"),
    )


SQL_PII = f"""
WITH a AS (
  SELECT doc_id,
         text || CASE doc_id % 4
           WHEN 0 THEN ' Contact user' || doc_id || '@example.org for details'
           WHEN 1 THEN ' Call 555-867-5309 or 555-123-4567 before 5pm'
           WHEN 2 THEN ' Host 192.168.1.42 and 10.0.0.7 replied'
           ELSE '' END AS aug
  FROM documents)
SELECT doc_id,
       LEN(regexp_extract_all(aug, '{_PII_EMAIL}')) AS n_emails,
       LEN(regexp_extract_all(aug, '{_PII_PHONE}')) AS n_phones,
       LEN(regexp_extract_all(aug, '{_PII_IP}'))    AS n_ips,
       (LEN(regexp_extract_all(aug, '{_PII_EMAIL}'))
        + LEN(regexp_extract_all(aug, '{_PII_PHONE}'))
        + LEN(regexp_extract_all(aug, '{_PII_IP}'))) > 0 AS has_pii,
       regexp_replace(regexp_replace(regexp_replace(aug,
         '{_PII_EMAIL}', '[EMAIL]', 'g'),
         '{_PII_PHONE}', '[PHONE]', 'g'),
         '{_PII_IP}', '[IP]', 'g') AS redacted
FROM a
"""


_PACK_CTX = 2048      # tokens per training window
_PACK_SHARDS = 8      # independent packing streams (scale with the cluster)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence PACKING for LLM pre-training: concatenate documents in a
    deterministic order and chunk the token stream into fixed 2048-token
    training windows (GPT-style concat-then-chunk), assigning each document
    its window span — window id, token offset inside the window, and how many
    windows it straddles.

    100 TB form: a single global concat order would serialize the corpus
    through one sort partition, so packing is SHARDED — docs hash to one of
    N independent streams (doc_id % N) and windows never cross shards, so
    shards pack embarrassingly parallel; within a shard the running token sum
    is one window-function cumsum (partial-agg friendly, no Python). N scales
    with the cluster (here 8 for the test corpus); the remaining per-shard
    sort is the standard Exchange+Sort Spark already does for any window, and
    shard streams stay independent under resharding — repacking after a
    corpus append only touches the appended suffix of each stream."""
    # r6: token counts come from the Arrow byte-class kernel (identical to
    # regexp_extract_all counting — see bpe_token_count_batches) running
    # map-side in the scan task; only the tiny (doc_id, shard, n_tokens)
    # rows then shuffle for the per-shard window cumsum (guide §2.3: shuffle
    # keys + a count, never the text payload).
    from .kernels.shingle import bpe_token_count_batches

    counts = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .mapInArrow(
            bpe_token_count_batches(),
            "doc_id long, n_bpe_tokens int, n_ws_tokens int",
        )
    )
    t = counts.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.col("n_bpe_tokens").cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    # materialize the cumsum ONCE (a single _we slot in the Window node), then
    # derive the span with integer `div` — exact past 2^53 where FLOOR(double)
    # would round, and floor == div since token starts are non-negative.
    # The n_tokens > 0 filter applies AFTER the window: zero-token rows add 0
    # to the running sum, so surviving rows' cum values are identical — and a
    # pre-window filter would be pushed below the repartition as a scan-level
    # DataFilter, re-running the tokenizer regex inside the single scan task
    # (observed: the whole point of the shard repartition undone).
    c = t.withColumn("cum", F.sum("n_tokens").over(w)).filter(F.col("n_tokens") > 0)
    start = F.col("cum") - F.col("n_tokens")
    return c.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.expr(f"(cum - n_tokens) div {_PACK_CTX}").alias("seq_id"),
        (start % _PACK_CTX).cast("long").alias("tok_offset"),
        F.expr(
            f"(cum - 1) div {_PACK_CTX} - (cum - n_tokens) div {_PACK_CTX} + 1"
        ).alias("n_windows"),
    )


_STRAT_MOD = 4_294_967_296          # 2^32
_STRAT_MULT = 2_654_435_761         # Knuth multiplicative hash (2^32/phi)
# (MULT * 2^16) mod 2^32 — lets the hash multiply run in 16-bit halves so no
# intermediate exceeds ~2^48: a raw doc_id * MULT product overflows int64 at
# doc_id >= 2^63/MULT ~= 3.5e9, exactly the id range a 100 TB corpus reaches
# (Spark 4 ANSI mode and DuckDB both abort on the overflow, not wrap)
_STRAT_MULT_HI = (_STRAT_MULT * 65_536) % _STRAT_MOD
_STRAT_RATES = ((500, "short", 1000), (2000, "medium", 5000), (None, "long", 10000))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified DETERMINISTIC downsampling — the data-mixture step of a
    training pipeline (keep 10% of short docs, 50% of medium, all long ones),
    reported as realized per-stratum counts.

    The keep decision is a pure function of doc_id (multiplicative hash →
    uniform in [0, 2^32)), NOT rand(): the same document draws the same
    verdict on every run and at any parallelism, so incremental re-runs over
    an appended corpus never resample history (a Bernoulli `rand()` sample
    would). 100 TB form: one map + one partial-agg groupBy over 3 strata —
    no shuffle wider than 3 rows, no Python."""
    docs = _t(spark, sf_dir, "documents")
    n = F.length("text")
    band = (
        F.when(n < _STRAT_RATES[0][0], _STRAT_RATES[0][1])
        .when(n < _STRAT_RATES[1][0], _STRAT_RATES[1][1])
        .otherwise(_STRAT_RATES[2][1])
    )
    # (doc_id_low32 * MULT) mod 2^32, computed in 16-bit halves (see
    # _STRAT_MULT_HI): equal to the direct product for all doc_id, without
    # the int64 overflow the direct product hits past doc_id ~3.5e9
    lo = F.col("doc_id") % 65_536
    hi = F.expr("doc_id div 65536") % 65_536
    u = (lo * _STRAT_MULT + hi * _STRAT_MULT_HI) % _STRAT_MOD
    rate = (
        F.when(n < _STRAT_RATES[0][0], _STRAT_RATES[0][2])
        .when(n < _STRAT_RATES[1][0], _STRAT_RATES[1][2])
        .otherwise(_STRAT_RATES[2][2])
    )
    kept = (u % 10000 < rate).cast("long")
    return (
        docs.select(band.alias("band"), kept.alias("kept"))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("n_kept"),
        )
    )


SQL_STRATIFIED = f"""
WITH t AS (
  SELECT CASE WHEN LEN(text) < {_STRAT_RATES[0][0]} THEN '{_STRAT_RATES[0][1]}'
              WHEN LEN(text) < {_STRAT_RATES[1][0]} THEN '{_STRAT_RATES[1][1]}'
              ELSE '{_STRAT_RATES[2][1]}' END AS band,
         CASE WHEN ((doc_id % 65536) * {_STRAT_MULT}
                    + (doc_id // 65536) % 65536 * {_STRAT_MULT_HI})
                   % {_STRAT_MOD} % 10000 <
              CASE WHEN LEN(text) < {_STRAT_RATES[0][0]} THEN {_STRAT_RATES[0][2]}
                   WHEN LEN(text) < {_STRAT_RATES[1][0]} THEN {_STRAT_RATES[1][2]}
                   ELSE {_STRAT_RATES[2][2]} END
              THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(kept) AS BIGINT) AS n_kept
FROM t GROUP BY band
"""


# DSIR-style data selection (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): hashed-bigram bucket distributions for
# a TARGET split vs the RAW corpus; per-doc importance = how much its bigram
# mass leans toward the target distribution.
_DSIR_BUCKETS = 1024


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-based data selection: estimate hashed-bigram distributions
    for the TARGET split (docs passing the length gate — the curated-subset
    stand-in) and the RAW corpus, derive a per-bucket lean, and score every
    doc by the mean lean of its bigrams. DSIR quantizes here to the SIGN of
    the smoothed log-likelihood ratio (+1 target-leaning / -1 raw-leaning) so
    the score is exact integer arithmetic in both engines — the smoothed
    comparison (2c_t+1)(2N_all+B) > (2c_all+1)(2N_t+B) is the Laplace
    log-ratio sign without transcendentals; swapping the ±1 for the
    full-precision ln ratio is a one-line change.

    100 TB form: ONE corpus scan explodes + hashes the bigrams and partial-aggs
    them straight down to per-(doc, bucket) counts — at most _DSIR_BUCKETS
    rows per doc, typically far fewer — which is the only thing persisted.
    The bucket table is a second-level agg of that small table (no second
    corpus pass), totals derive from the TINY table, and the weight table —
    at most _DSIR_BUCKETS rows — broadcasts back over the per-doc counts for
    scoring. The cache is released once the result is materialized (house
    cache-lifecycle contract). Cross products stay in int64 up to ~1.5e9
    bigrams per side; past that, promote the comparison to log-space doubles."""
    # r6 form (guide §4.2): the corpus pass — bigram construction, per-bigram
    # md5 and the first-level per-(doc, bucket) count — runs as ONE vectorized
    # Arrow kernel emitting the already-aggregated (doc_id, is_target, h, cnt)
    # rows (bit-identical md5-derived buckets via kernels.md5np; a doc's rows
    # never span batches, so per-batch counting IS the per-doc groupBy). This
    # replaces explode → per-bigram md5+hex-conv → hash-agg over W-1 rows per
    # doc with a single pass that ships at most _DSIR_BUCKETS rows per doc.
    from .kernels.shingle import dsir_count_batches

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lower(F.col("text")).alias("t"),
    )
    dh = src.mapInArrow(
        dsir_count_batches(_DSIR_BUCKETS, 20, 2000),
        "doc_id long, is_target boolean, h long, cnt long",
    ).persist()
    tbl = dh.groupBy("h").agg(
        F.sum("cnt").alias("c_all"),
        F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0)).alias("c_t"),
    )
    totals = tbl.agg(
        F.sum("c_all").alias("n_all"), F.sum("c_t").alias("n_t")
    )
    lean = (
        (2 * F.col("c_t") + 1) * (2 * F.col("n_all") + _DSIR_BUCKETS)
        > (2 * F.col("c_all") + 1) * (2 * F.col("n_t") + _DSIR_BUCKETS)
    )
    w = tbl.crossJoin(F.broadcast(totals)).select(
        "h", F.when(lean, F.lit(1)).otherwise(F.lit(-1)).alias("w")
    )
    net = F.sum(F.col("w") * F.col("cnt"))
    out = (
        dh.join(F.broadcast(w), "h")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.round(net / F.sum("cnt"), 4).alias("target_lean"),
            (net > 0).alias("selected"),
        )
        .localCheckpoint(eager=True)
    )
    dh.unpersist()
    return out


SQL_DSIR = f"""
WITH base AS (
  SELECT doc_id,
         LEN(string_split(LOWER(text), ' ')) BETWEEN 20 AND 2000 AS is_target,
         string_split(LOWER(text), ' ') AS ws
  FROM documents),
exh AS (
  SELECT doc_id, is_target,
         CAST('0x' || SUBSTR(md5(b), 1, 8) AS BIGINT) % {_DSIR_BUCKETS} AS h
  FROM (
    SELECT doc_id, is_target,
           unnest(list_filter(
             list_transform(range(1, GREATEST(LEN(ws) - 1, 1) + 1),
                            i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]),
             x -> x IS NOT NULL)) AS b
    FROM base)),
tbl AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS c_all,
         CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS c_t
  FROM exh GROUP BY h),
tot AS (SELECT CAST(SUM(c_all) AS BIGINT) AS n_all,
               CAST(SUM(c_t) AS BIGINT) AS n_t FROM tbl),
w AS (
  SELECT h, CASE WHEN (2*c_t+1)*(2*n_all+{_DSIR_BUCKETS})
                    > (2*c_all+1)*(2*n_t+{_DSIR_BUCKETS})
                 THEN 1 ELSE -1 END AS w
  FROM tbl, tot)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT)                          AS n_bigrams,
       ROUND(CAST(SUM(w) AS DOUBLE) / COUNT(*), 4)       AS target_lean,
       CAST(SUM(w) AS BIGINT) > 0                        AS selected
FROM exh JOIN w USING (h)
GROUP BY doc_id
"""


SQL_PACK = f"""
WITH t AS (
  SELECT doc_id,
         doc_id % {_PACK_SHARDS} AS shard,
         LEN(regexp_extract_all(text, '{_BPE_TOKEN_PAT}')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t WHERE n_tokens > 0
)
SELECT doc_id, shard, n_tokens,
       CAST((cum - n_tokens) // {_PACK_CTX} AS BIGINT) AS seq_id,
       CAST((cum - n_tokens) % {_PACK_CTX} AS BIGINT) AS tok_offset,
       CAST((cum - 1) // {_PACK_CTX} - (cum - n_tokens) // {_PACK_CTX} + 1
            AS BIGINT) AS n_windows
FROM c
"""


# ---------------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: each group's keeper + multiplicity.
    No _spread here (r6, measured): one md5 per DOC is scan-cheap, the map-side
    partial aggregation already runs in the scan tasks, and the groupBy
    exchange parallelizes the rest — a parallelism-floor shuffle of the full
    text column cost 3x the single-task hash at sf1.0 (0.40 s → 1.13 s)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    h = _h56(F.trim(F.lower(F.col("text"))))
    return (
        docs.select(h.alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
    )


SQL_DEDUP_EXACT = f"""
SELECT {_h56_sql("TRIM(LOWER(text))")} AS content_hash,
       COUNT(*)      AS n_docs,
       MIN(doc_id)   AS keeper_doc_id
FROM documents GROUP BY 1
"""

_MINHASH_K = 8  # 8 permutations → 2 bands × 4 rows
_MH_P = (1 << 61) - 1  # Mersenne prime; a*h+b < 2^62 never overflows int64


def _mh_coeffs(k: int) -> tuple[int, int]:
    """Deterministic affine-permutation coefficients: a odd < 2^30, b < 2^31,
    so a*h32 + b < 2^62 stays exact in signed 64-bit on BOTH engines."""
    a = ((1103515245 * (2 * k + 1) + 12345) % (1 << 30)) | 1
    b = (1103515245 * (2 * k + 2) + 12345) % (1 << 31)
    return a, b


def _minhash_sigs(df: DataFrame) -> DataFrame:
    """MinHash signatures (k=8) over char-5-gram shingles of any (doc_id, text)
    frame — shared by the `documents` query and the extract→dedup composition.

    r6 form (guide §4.2): lowering stays in Catalyst, then ONE vectorized
    Arrow kernel hashes every shingle (the same md5-first-32-bits value,
    computed by kernels.md5np's batch MD5) and folds the k affine-permutation
    minima in numpy — replacing a per-shingle md5+hex-conv expression chain
    that allocated a shingle string, a 32-char hex string and a substring per
    5-gram (~3 µs/shingle of JVM churn vs ~0.3 µs vectorized). Values are
    bit-identical: same MD5, same exact int64/uint64 arithmetic, non-ASCII
    rows take a per-row fallback with identical code-point semantics."""
    from .kernels.shingle import minhash_batches

    coeffs = [_mh_coeffs(k) for k in range(_MINHASH_K)]
    src = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lower(F.col("text")).alias("t"),
    )
    schema = "doc_id long, " + ", ".join(f"h{k} long" for k in range(_MINHASH_K))
    return src.mapInArrow(minhash_batches(coeffs), schema)


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8) over char-5-gram shingles — the scale path for
    near-dup detection (shingle→minhash; banding in q_minhash_lsh_pairs).

    100 TB form: SHUFFLE-FREE and hash-once. Shingles stay an ARRAY inside one
    projection (transform + array_min instead of explode + groupBy-min ⇒ a pure
    map, no exchange anywhere), each shingle is md5-hashed ONCE to a 32-bit int,
    and the k minima derive from k affine permutations (a_k*h+b_k mod 2^61-1) —
    integer-exact on both engines, 8× less md5 than hashing per (shingle, k).
    The hashed array is materialized in its own projection; CollapseProject keeps
    it (an expensive alias used k times is not inlined), so md5 runs once.
    The scan gets the _spread parallelism floor first: per-shingle md5 is the
    cost (~300 md5/doc), so partition count must come from the COMPUTE, not
    from the dimension-scale input bytes (guide §2/§6 — one small parquet
    split would otherwise pin the whole hash pass to one core).
    """
    return _minhash_sigs(
        _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    )


def _sql_minhash_sigs(src: str = "documents") -> str:
    mins = ",\n    ".join(
        "list_min(list_transform(hs, h -> ({a} * h + {b}) % {p})) AS h{k}".format(
            a=_mh_coeffs(k)[0], b=_mh_coeffs(k)[1], p=_MH_P, k=k
        )
        for k in range(_MINHASH_K)
    )
    return f"""
SELECT doc_id,
    {mins}
FROM (
  SELECT doc_id,
         list_transform(
           range(1, GREATEST(LENGTH(text) - 4, 1) + 1),
           i -> CAST('0x' || SUBSTR(md5(SUBSTR(LOWER(text), CAST(i AS INT), 5)), 1, 8) AS BIGINT)
         ) AS hs
  FROM {src})
"""


SQL_MINHASH = _sql_minhash_sigs()

# Hot-band guard: a degenerate band (e.g. thousands of identical docs) would make
# the within-band self-join quadratic. Bands larger than the cap fall back to
# keeper-representative pairing: only the band's min doc_id pairs with the rest
# (linear), which still marks every member as a near-dup candidate of the keeper.
_LSH_BAND_CAP = 128


# Per-application memo for the materialized candidate-pairs table: the three
# downstream queries (lsh_pairs, ngram_jaccard, dedup_clusters) share ONE
# shingle→minhash→band→join computation per suite instead of three (r2 VERDICT
# #5). Bounded so long test sessions with many temp sf_dirs don't pin
# checkpoint blocks forever (evicted entries are freed by the ContextCleaner
# once the DataFrame reference is dropped).
_LSH_CAND_CACHE: dict[tuple, DataFrame] = {}
_LSH_CAND_CACHE_MAX = 8


def _documents_fingerprint(sf_dir: str) -> tuple:
    """(name, mtime_ns, size) of the documents parquet file(s) under sf_dir —
    part of the LSH memo key (r3 ADVICE): rewriting the table under the same
    path within one Spark application invalidates the memo instead of serving
    stale pairs, keeping the query functions pure over their inputs."""
    import os

    p = os.path.join(sf_dir, "documents.parquet")
    out: list[tuple] = []
    try:
        if os.path.isdir(p):
            for f in sorted(os.listdir(p)):
                st = os.stat(os.path.join(p, f))
                out.append((f, st.st_mtime_ns, st.st_size))
        else:
            st = os.stat(p)
            out.append(("", st.st_mtime_ns, st.st_size))
    except OSError:
        pass
    return tuple(out)


def clear_lsh_cache() -> None:
    """Drop every memoized candidate-pairs table. The checkpoint blocks are
    freed by Spark's ContextCleaner once the last reference is gone. Call after
    mutating a table under a previously-queried sf_dir path in-place without
    changing file mtimes/sizes (normal rewrites are caught by the
    fingerprint in the memo key automatically)."""
    _LSH_CAND_CACHE.clear()


def lsh_candidate_pairs(
    spark: SparkSession, sf_dir: str, band_cap: int = _LSH_BAND_CAP
) -> DataFrame:
    """Materialized MinHash-LSH candidate pairs with estimated Jaccard ≥ 0.5 —
    the shared upstream of the near-dup suite.

    Scale shape: banding (2 bands × 4 rows) → bucket self-join → estimate;
    candidates only, never all-pairs; bands over `band_cap` members degrade to
    linear keeper-pairing instead of quadratic all-pairs. The signature table is
    persisted for the duration of the self-join only and UNPERSISTED once the
    pairs are materialized (r2 ADVICE: the persist leak); the pairs themselves
    are localCheckpoint'ed (eager) — lineage-truncated, computed exactly once,
    and freed by Spark's ContextCleaner when the last reference drops.

    MEMOIZATION CONTRACT: results are cached per (applicationId, sf_dir,
    band_cap, documents-file fingerprint). The fingerprint (file names +
    mtimes + sizes) invalidates the memo when the table is rewritten; an
    in-place mutation that preserves mtime and size (artificial) needs an
    explicit :func:`clear_lsh_cache`. The cache holds at most
    ``_LSH_CAND_CACHE_MAX`` entries (FIFO eviction)."""
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        band_cap,
        _documents_fingerprint(sf_dir),
    )
    got = _LSH_CAND_CACHE.get(key)
    if got is not None:
        return got
    sigs = q_minhash_signatures(spark, sf_dir)
    out = _lsh_pairs_materialized(sigs, band_cap)
    while len(_LSH_CAND_CACHE) >= _LSH_CAND_CACHE_MAX:
        _LSH_CAND_CACHE.pop(next(iter(_LSH_CAND_CACHE)))
    _LSH_CAND_CACHE[key] = out
    return out


def _lsh_pairs_materialized(sigs: DataFrame, band_cap: int) -> DataFrame:
    """Band the signatures, self-join within bands (hot-band keeper guard),
    estimate Jaccard, filter ≥ 0.5 — eagerly materialized via localCheckpoint;
    the banded cache lives only for the duration of the self-join."""
    b0 = _h56(F.concat_ws(",", "h0", "h1", "h2", "h3"))
    b1 = _h56(F.concat_ws(",", "h4", "h5", "h6", "h7"))
    banded = sigs.select(
        "doc_id", *[f"h{k}" for k in range(_MINHASH_K)],
        F.explode(F.array(b0.alias("b"), b1.alias("b"))).alias("band"),
    )
    wb = Window.partitionBy("band")
    counted = (
        banded.withColumn("band_n", F.count("*").over(wb))
        .withColumn("band_keeper", F.min("doc_id").over(wb))
        .persist()
    )
    # Hot-band guard as an INPUT filter, not a join condition (r6, guide §3):
    # with the guard in the join condition the band-keyed join still
    # enumerates every in-band combination before filtering — O(sum band_n²)
    # pair evaluations (262M at sf1.0 against 213k surviving pairs). The
    # a-side row filter is logically identical: bands ≤ cap keep all rows
    # (guard true for every pair), hot bands keep only the keeper (guard
    # true exactly when a IS the keeper; keeper = min doc_id, so the
    # a.doc_id < b.doc_id orientation is preserved for every partner).
    a = counted.filter(
        (F.col("band_n") <= F.lit(band_cap))
        | (F.col("doc_id") == F.col("band_keeper"))
    ).alias("a")
    b = counted.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[
                (F.col(f"a.h{k}") == F.col(f"b.h{k}")).cast("int").alias(f"eq{k}")
                for k in range(_MINHASH_K)
            ],
        )
        .distinct()
    )
    est = sum(F.col(f"eq{k}") for k in range(_MINHASH_K)) / _MINHASH_K
    out = (
        pairs.select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.5)
        .localCheckpoint(eager=True)
    )
    counted.unpersist()
    return out


def q_minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, band_cap: int = _LSH_BAND_CAP
) -> DataFrame:
    """LSH banding (2 bands × 4 rows) → candidate pairs → minhash-estimated
    Jaccard ≥ 0.5 — see lsh_candidate_pairs for the scale shape."""
    return lsh_candidate_pairs(spark, sf_dir, band_cap)


def _sql_lsh_pairs(band_cap: int = _LSH_BAND_CAP, src: str = "documents") -> str:
    eqs = " + ".join(f"CASE WHEN a.h{k} = b.h{k} THEN 1 ELSE 0 END" for k in range(_MINHASH_K))
    return f"""
WITH sigs AS ({_sql_minhash_sigs(src)}),
banded AS (
  SELECT doc_id, h0,h1,h2,h3,h4,h5,h6,h7, band FROM (
    SELECT *, {_h56_sql("h0 || ',' || h1 || ',' || h2 || ',' || h3")} AS band FROM sigs
    UNION ALL
    SELECT *, {_h56_sql("h4 || ',' || h5 || ',' || h6 || ',' || h7")} AS band FROM sigs)),
counted AS (
  SELECT *, COUNT(*) OVER (PARTITION BY band) AS band_n,
            MIN(doc_id) OVER (PARTITION BY band) AS band_keeper
  FROM banded)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(({eqs}) / {float(_MINHASH_K)}, 4) AS est_jaccard
FROM counted a JOIN counted b
  ON a.band = b.band AND a.doc_id < b.doc_id
 AND (a.band_n <= {band_cap} OR a.doc_id = a.band_keeper)
WHERE ROUND(({eqs}) / {float(_MINHASH_K)}, 4) >= 0.5
"""


SQL_LSH_PAIRS = _sql_lsh_pairs()


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup dedup: screen a NEW batch against an EXISTING
    reference corpus without ever pairing the reference against itself — the
    shape a production pipeline actually runs daily (new crawl vs historical
    index). Stand-in split: even doc_ids = the indexed reference, odd = the
    incoming batch. Output = one verdict row per NEW doc: how many reference
    docs it near-duplicates (minhash-estimated Jaccard ≥ 0.5), the smallest
    matching reference doc_id, and is_novel.

    100 TB shape: the banded reference signatures ARE the persisted dedup
    index (write once; in production a bucketed table keyed on band). A batch
    run computes signatures for the batch only and bucket-joins new-bands ⋈
    ref-bands — incremental cost O(batch), never O(corpus²) or a re-pairing
    of the index. The hot-band guard caps the REFERENCE side: a band with
    more than _LSH_BAND_CAP indexed members degrades to keeper-only pairing
    (linear), so one degenerate band can't go quadratic. Signatures are
    persisted for the duration of the two band joins only and released after
    the verdicts are materialized (house cache-lifecycle contract)."""
    sigs = q_minhash_signatures(spark, sf_dir).persist()
    b0 = _h56(F.concat_ws(",", "h0", "h1", "h2", "h3"))
    b1 = _h56(F.concat_ws(",", "h4", "h5", "h6", "h7"))

    def banded(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", *[f"h{k}" for k in range(_MINHASH_K)],
            F.explode(F.array(b0.alias("b"), b1.alias("b"))).alias("band"),
        )

    ref = banded(sigs.filter(F.col("doc_id") % 2 == 0))
    wb = Window.partitionBy("band")
    ref = ref.withColumn("band_n", F.count("*").over(wb)).withColumn(
        "band_keeper", F.min("doc_id").over(wb)
    )
    new = banded(sigs.filter(F.col("doc_id") % 2 == 1))
    # Hot-band guard as a REF-SIDE row filter, not a join condition (r6,
    # guide §3): the guard only references r columns, so filtering the
    # indexed side before the band join is plan-algebra identical — and the
    # join no longer enumerates every (new, ref) combination inside a hot
    # band just to discard them (O(sum band_n²) condition evaluations).
    ref = ref.filter(
        (F.col("band_n") <= F.lit(_LSH_BAND_CAP))
        | (F.col("doc_id") == F.col("band_keeper"))
    )
    n, r = new.alias("n"), ref.alias("r")
    est = sum(
        (F.col(f"n.h{k}") == F.col(f"r.h{k}")).cast("int") for k in range(_MINHASH_K)
    ) / _MINHASH_K
    pairs = (
        n.join(r, F.col("n.band") == F.col("r.band"))
        .filter(est >= 0.5)
        .select(F.col("n.doc_id").alias("doc_new"), F.col("r.doc_id").alias("doc_ref"))
        .distinct()
    )
    verdicts = pairs.groupBy("doc_new").agg(
        F.count("*").alias("n_dup_refs"), F.min("doc_ref").alias("min_ref")
    )
    out = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id")
        .join(verdicts, F.col("doc_id") == F.col("doc_new"), "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_refs", F.lit(0)).alias("n_dup_refs"),
            "min_ref",
            F.col("n_dup_refs").isNull().alias("is_novel"),
        )
        .localCheckpoint(eager=True)
    )
    sigs.unpersist()
    return out


def _sql_incremental_dedup() -> str:
    eqs = " + ".join(
        f"CASE WHEN n.h{k} = r.h{k} THEN 1 ELSE 0 END" for k in range(_MINHASH_K)
    )
    band_cols = "h0,h1,h2,h3,h4,h5,h6,h7"
    return f"""
WITH sigs AS ({_sql_minhash_sigs()}),
banded AS (
  SELECT doc_id, {band_cols}, band FROM (
    SELECT *, {_h56_sql("h0 || ',' || h1 || ',' || h2 || ',' || h3")} AS band FROM sigs
    UNION ALL
    SELECT *, {_h56_sql("h4 || ',' || h5 || ',' || h6 || ',' || h7")} AS band FROM sigs)),
cref AS (
  SELECT *, COUNT(*) OVER (PARTITION BY band) AS band_n,
            MIN(doc_id) OVER (PARTITION BY band) AS band_keeper
  FROM banded WHERE doc_id % 2 = 0),
pairs AS (
  SELECT DISTINCT n.doc_id AS doc_new, r.doc_id AS doc_ref
  FROM banded n JOIN cref r
    ON n.band = r.band
   AND (r.band_n <= {_LSH_BAND_CAP} OR r.doc_id = r.band_keeper)
  WHERE n.doc_id % 2 = 1 AND ({eqs}) / {float(_MINHASH_K)} >= 0.5),
v AS (SELECT doc_new, CAST(COUNT(*) AS BIGINT) AS n_dup_refs,
             MIN(doc_ref) AS min_ref
      FROM pairs GROUP BY doc_new)
SELECT d.doc_id,
       COALESCE(v.n_dup_refs, 0) AS n_dup_refs,
       v.min_ref AS min_ref,
       v.n_dup_refs IS NULL AS is_novel
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN v ON d.doc_id = v.doc_new
"""


SQL_INCREMENTAL_DEDUP = _sql_incremental_dedup()


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard over near-dup candidates — the verify stage of the
    two-stage dedup pipeline: MinHash-LSH proposes candidate pairs (bounded,
    never all-pairs), then TRUE Jaccard over distinct token-3-gram sets rebinds
    the estimate. Output: pairs with exact Jaccard ≥ 0.35.

    Scale shape: only docs that appear in a candidate pair need trigram sets,
    so the corpus is pre-filtered with a broadcast SEMI-JOIN on the candidate
    ids (guide §3.2 — reduce the big side before heavy work; an inner join on
    doc_a/doc_b keeps exactly those rows anyway, so this is pure plan
    algebra), after the _spread parallelism floor so trigram construction
    never serializes on a dimension-scale scan split. r6 (guide §4.2): the
    distinct-trigram arrays come from ONE Arrow kernel that re-slices the
    batch byte buffer (a word-3-gram joined on single spaces is a contiguous
    byte span) and dedupes with one lexsort — replacing ~50 per-doc
    try_element_at+concat evaluations plus array_distinct; array order
    differs (sorted vs first-occurrence) but only the set CARDINALITIES
    feed the jaccard, so values are identical."""
    from .kernels.shingle import ngram_distinct_array_batches

    cands = lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text")).join(
        F.broadcast(ids), "doc_id", "left_semi"
    )
    tg = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lower(F.col("text")).alias("t"),
    ).mapInArrow(
        ngram_distinct_array_batches(3), "doc_id long, tg array<string>"
    )
    a = tg.select(F.col("doc_id").alias("doc_a"), F.col("tg").alias("tga"))
    b = tg.select(F.col("doc_id").alias("doc_b"), F.col("tg").alias("tgb"))
    inter = F.size(F.array_intersect("tga", "tgb"))
    union = F.size(F.array_union("tga", "tgb"))
    return (
        F.broadcast(cands).join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b", F.round(inter / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.35)
    )


SQL_NGRAM_JACCARD = f"""
WITH cand AS ({_sql_lsh_pairs()}),
tok AS (SELECT doc_id, string_split(LOWER(text), ' ') AS ws FROM documents),
tg AS (
  SELECT doc_id,
         list_distinct(list_filter(
           list_transform(range(1, GREATEST(LEN(ws) - 2, 1) + 1),
                          i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] || ' ' || ws[CAST(i AS INT) + 2]),
           x -> x IS NOT NULL)) AS tg
  FROM tok)
SELECT doc_a, doc_b,
       ROUND(LEN(list_intersect(a.tg, b.tg)) / LEN(list_distinct(a.tg || b.tg)), 4) AS jaccard
FROM cand JOIN tg a ON cand.doc_a = a.doc_id
          JOIN tg b ON cand.doc_b = b.doc_id
WHERE ROUND(LEN(list_intersect(a.tg, b.tg)) / LEN(list_distinct(a.tg || b.tg)), 4) >= 0.35
"""

def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 64, stats: dict | None = None
) -> DataFrame:
    """Distributed connected components: min-label propagation accelerated by
    POINTER DOUBLING (label := label-of-label each round — the hash-to-min
    contraction of Rastogi et al. and the star-step idea of Kiveris et al.,
    "Connected Components in MapReduce and Beyond"), so convergence is
    O(log diameter) rounds instead of O(diameter). Every round the label table
    is localCheckpoint'ed (eager): the logical plan stays constant-size across
    iterations instead of growing by one join per round (r2 VERDICT #4 —
    planning cost and eviction-recompute no longer walk the whole chain).

    nodes: (doc_id); edges: (doc_a, doc_b), symmetrized here.
    Returns (doc_id, label), label = min doc_id of the component.

    Input contract (not checked here, since a check would cost a shuffle or an
    action): ``nodes.doc_id`` must be unique and non-null. The propagate step
    groups by doc_id, so duplicate node rows collapse to one output row, and
    NULL ids group together and can pick up a label from NULL edge endpoints.
    Edge endpoints absent from ``nodes`` are dropped.

    Fixpoint argument: labels decrease monotonically and always name a node in
    the same component; doubling only accelerates (label2 ≤ label). If a full
    round changes nothing then the propagation step alone was at fixpoint, which
    is exactly 'every label ≤ min of neighbor labels' ⇒ component minima."""
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=True)
    labels = (
        nodes.select("doc_id", F.col("doc_id").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # carry the round-start label through as `prev` (r6): the convergence
        # check then counts on the already-materialized round output instead
        # of joining back against the previous labels — one join and one
        # shuffle fewer per round, identical `changed` value.
        # r6 continuation: the propagate step is ONE union + groupBy instead
        # of groupBy(nbr_min) + left-join-back — min over {own label} ∪
        # {neighbor labels} IS least(label, min(nbr)), and `prev` comes back
        # as the min over the flagged self row (unique per doc). Same values,
        # one shuffle and one join fewer per round.
        self_rows = labels.select(
            "doc_id", F.col("label").alias("cand"), F.lit(True).alias("own")
        )
        nbr_rows = (
            sym.join(labels, sym["doc_a"] == labels["doc_id"])
            .select(
                F.col("doc_b").alias("doc_id"),
                F.col("label").alias("cand"),
                F.lit(False).alias("own"),
            )
        )
        stepped = (
            self_rows.unionByName(nbr_rows)
            .groupBy("doc_id")
            .agg(
                F.min("cand").alias("label"),
                F.min(F.when(F.col("own"), F.col("cand"))).alias("prev"),
            )
            # an edge endpoint absent from `nodes` has no self row (prev NULL);
            # drop it so the node set stays exactly `nodes`, as the old
            # left-join-back formulation guaranteed
            .filter(F.col("prev").isNotNull())
            .select("doc_id", "prev", "label")
        )
        lut = stepped.select(F.col("doc_id").alias("label"), F.col("label").alias("label2"))
        doubled = (
            stepped.join(lut, "label", "left")
            .select("doc_id", "prev", F.coalesce("label2", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = doubled.filter(F.col("label") != F.col("prev")).count()
        labels = doubled.select("doc_id", "label")
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
        if changed == 0:
            break
    return labels


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER RESOLUTION: LSH candidate pairs (est Jaccard ≥ 0.5) are
    edges; connected components (pointer-doubling min-label propagation, see
    connected_components) resolve clusters; each cluster keeps its min doc_id —
    the decision table a dedup pipeline actually applies (keep iff
    doc_id == keeper)."""
    pairs = lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    nodes = _t(spark, sf_dir, "documents").select("doc_id")
    labels = connected_components(nodes, pairs)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        "doc_id",
        F.col("label").alias("keeper_doc_id"),
        "cluster_size",
        (F.col("doc_id") == F.col("label")).alias("is_keeper"),
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE cand AS (SELECT doc_a, doc_b FROM ({_sql_lsh_pairs()})),
edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
          UNION SELECT doc_b, doc_a FROM cand),
cc(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a),
resolved AS (SELECT node AS doc_id, MIN(label) AS keeper_doc_id FROM cc GROUP BY node),
sized AS (SELECT keeper_doc_id AS k, COUNT(*) AS cluster_size FROM resolved GROUP BY 1)
SELECT doc_id, keeper_doc_id, cluster_size, doc_id = keeper_doc_id AS is_keeper
FROM resolved JOIN sized ON resolved.keeper_doc_id = sized.k
"""


_WINNOW_W = 8


def q_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS algorithm):
    the min k-gram hash of every sliding window of 8 positions, deduped — the
    density-guaranteed refinement of 0-mod-p selection (at least one fingerprint
    per window).

    r6 form (guide §4.2): lowering stays in Catalyst; ONE Arrow kernel both
    hashes the 5-gram shingles (kernels.md5np batch MD5 — bit-identical
    values) and computes the O(n) block prefix/suffix window mins, replacing
    the r5 split of JVM per-shingle md5 + a second Arrow hop that shipped the
    full hash array across the Python boundary. The final set hash returns to
    Catalyst (per-doc, cheap). Conditional _spread parallelism floor ahead of
    the compute."""
    from .kernels.shingle import winnow_batches

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lower(F.col("text")).alias("t"),
    )
    fp = src.mapInArrow(winnow_batches(_WINNOW_W), "doc_id long, fp array<long>")
    return fp.select(
        "doc_id",
        F.size("fp").alias("n_fingerprints"),
        _h56(F.concat_ws(",", "fp")).alias("fingerprint_hash"),
    )


SQL_WINNOW = f"""
SELECT doc_id,
       LEN(fp) AS n_fingerprints,
       {_h56_sql("COALESCE(array_to_string(fp, ','), '')")} AS fingerprint_hash
FROM (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
           range(1, GREATEST(LEN(hs) - {_WINNOW_W} + 1, 1) + 1),
           i -> list_min(hs[CAST(i AS INT) : CAST(i AS INT) + {_WINNOW_W} - 1])))) AS fp
  FROM (
    SELECT doc_id,
           list_transform(
             range(1, GREATEST(LENGTH(text) - 4, 1) + 1),
             i -> CAST('0x' || SUBSTR(md5(SUBSTR(LOWER(text), CAST(i AS INT), 5)), 1, 8) AS BIGINT)
           ) AS hs
    FROM documents))
"""


# mod-p fingerprint selection (Manber's "0 mod p" scheme — the public rolling-
# hash document-fingerprinting baseline; winnowing above is the windowed,
# density-guaranteed refinement)
_FP_MOD = 32


def q_fingerprint_modp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via rolling k-gram hashes: every char-5-gram is
    hashed (same hash-once pipeline as MinHash), and the hashes ≡ 0 (mod 32) are
    the document's fingerprint set. Pure map (plus the conditional _spread
    parallelism floor); fingerprints of near-identical docs overlap heavily
    (the MOSS/Manber property). r6 form (guide §4.2): the per-shingle
    md5+hex-conv chain moved into the vectorized Arrow kernel (bit-identical
    values); the per-doc set hash returns to Catalyst."""
    from .kernels.shingle import modp_batches

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lower(F.col("text")).alias("t"),
    )
    fp = src.mapInArrow(modp_batches(_FP_MOD), "doc_id long, fp array<long>")
    return fp.select(
        "doc_id",
        F.size("fp").alias("n_fingerprints"),
        _h56(F.concat_ws(",", "fp")).alias("fingerprint_hash"),
    )


SQL_FINGERPRINT = f"""
SELECT doc_id,
       LEN(fp) AS n_fingerprints,
       -- COALESCE: DuckDB array_to_string([]) is NULL where Spark concat_ws is ''
       {_h56_sql("COALESCE(array_to_string(fp, ','), '')")} AS fingerprint_hash
FROM (
  SELECT doc_id,
         list_sort(list_distinct(list_filter(hs, h -> h % {_FP_MOD} = 0))) AS fp
  FROM (
    SELECT doc_id,
           list_transform(
             range(1, GREATEST(LENGTH(text) - 4, 1) + 1),
             i -> CAST('0x' || SUBSTR(md5(SUBSTR(LOWER(text), CAST(i AS INT), 5)), 1, 8) AS BIGINT)
           ) AS hs
    FROM documents))
"""


# exact-substring duplicate pairs (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better": cross-document EXACT substring overlap
# is a distinct dedup modality from near-dup Jaccard — a doc quoting another
# verbatim shares substrings without being a near-duplicate of it)
_SUB_GRAM = 8         # word-level shingle width (long enough to be discriminative)
_SUB_MOD = 8          # 0-mod-p sampling: ~1/8 of shingle positions fingerprint
_SUB_HOT_CAP = 64     # fingerprints present in more docs are boilerplate: drop
_SUB_MIN_SHARED = 3   # pairs must share >= this many sampled fingerprints


def q_substring_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT-substring overlap: word-8-gram shingles (the
    Lee-et-al substring unit scaled to word granularity — char-5-grams carry
    too little entropy to discriminate on a shared-vocabulary corpus) are
    hashed once JVM-side, 0-mod-p sampled (~1/_SUB_MOD of positions),
    exploded, fingerprints appearing in more than _SUB_HOT_CAP docs are
    dropped as boilerplate (the ubiquitous-shingle analogue of the LSH
    hot-band guard — a shingle shared by 10k docs would otherwise create a
    quadratic bucket), and the survivors self-join on the fingerprint to
    count shared sampled substrings per pair.

    100 TB form: never all-pairs — the join key is the fingerprint hash, so
    work is proportional to actual overlap; the hot cap bounds every bucket at
    _SUB_HOT_CAP² pairs; the pair count partial-aggregates map-side. The
    window count and the self-join hash-partition on the SAME key (h), so
    AQE reuses one Exchange for both. The exploded table is persisted for the
    duration of the self-join only and released after materialization (house
    cache-lifecycle contract).

    r6 form (guide §4.2): gram construction, per-gram md5 and the 0-mod-p
    sample + per-doc distinct run as ONE vectorized Arrow kernel emitting the
    (doc_id, h) fingerprint rows directly (bit-identical md5-derived values
    via kernels.md5np) — replacing a per-gram array_join + md5+hex-conv
    expression chain and the explode of the full hash array."""
    from .kernels.shingle import substring_fp_batches

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lower(F.col("text")).alias("t"),
    )
    fp = src.mapInArrow(
        substring_fp_batches(_SUB_GRAM, _SUB_MOD), "doc_id long, h long"
    )
    cold = (
        fp.withColumn("nd", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("nd") <= _SUB_HOT_CAP)
        .persist()
    )
    a = cold.select(F.col("doc_id").alias("doc_a"), "h")
    b = cold.select(F.col("doc_id").alias("doc_b"), "h")
    out = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _SUB_MIN_SHARED)
        .localCheckpoint(eager=True)
    )
    cold.unpersist()
    return out


SQL_SUBSTRING_PAIRS = f"""
WITH fp AS (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id, unnest(list_filter(hs, h -> h % {_SUB_MOD} = 0)) AS h
    FROM (
      SELECT doc_id,
             list_transform(
               range(1, GREATEST(LEN(ws) - {_SUB_GRAM - 1}, 1) + 1),
               i -> CAST('0x' || SUBSTR(md5(array_to_string(
                      ws[CAST(i AS INT) : CAST(i AS INT) + {_SUB_GRAM - 1}], ' ')), 1, 8) AS BIGINT)
             ) AS hs
      FROM (SELECT doc_id, string_split(LOWER(text), ' ') AS ws FROM documents)))),
cold AS (
  SELECT * FROM (
    SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS nd FROM fp)
  WHERE nd <= {_SUB_HOT_CAP})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {_SUB_MIN_SHARED}
"""

_SIMHASH_BITS = 16


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprint (16-bit) over whitespace tokens.

    r6 form (guide §4.2): ONE vectorized Arrow kernel hashes every token
    (the same 56-bit md5 value _h56 yields, via kernels.md5np) and folds the
    per-bit ±1 votes per doc — replacing explode → per-token JVM md5 →
    16-way conditional aggregation + its doc_id exchange. Bit-identical
    values; zero shuffle."""
    from .kernels.shingle import simhash_batches

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lower(F.col("text")).alias("t"),
    )
    return src.mapInArrow(simhash_batches(_SIMHASH_BITS), "doc_id long, simhash long")


def _sql_simhash() -> str:
    th = _h56_sql("tok")
    sums = ",\n    ".join(
        f"SUM(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SIMHASH_BITS)
    )
    bits = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(_SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {th} AS th
  FROM (SELECT doc_id, UNNEST(string_split(LOWER(text), ' ')) AS tok FROM documents)),
sums AS (SELECT doc_id, {sums} FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM sums
"""


SQL_SIMHASH = _sql_simhash()


# ---------------------------------------------------------------------------------
# similarity search over `embeddings`
# ---------------------------------------------------------------------------------


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 5 — the exact
    baseline; LSH/IVF variants bucket first, then run this within buckets.

    Scale shape: the CANDIDATE side (the whole table) streams and the 5-row
    query side broadcasts (the r5 shape streamed the 5 queries and broadcast
    the corpus — every pairwise dot then ran inside ONE task); per-row norms
    are hoisted out of the pair loop (identical expressions over the same
    arrays ⇒ identical doubles, computed n times instead of n·q times)."""
    emb = _spread(_t(spark, sf_dir, "embeddings").select("vec_id", "embedding")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    norm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), norm.alias("nq")
    )
    cand = emb.select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), norm.alias("nc")
    )
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    sims = (
        cand.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id",
                F.round(dot / (F.col("nq") * F.col("nc")), 6).alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


SQL_TOPK = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
sims AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         ROUND(list_dot_product(q.v, c.v) /
               (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))), 6)
           AS cosine
  FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id != c.vec_id)
SELECT q_id, c_id, cosine, rank FROM (
  SELECT q_id, c_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
  FROM sims) WHERE rank <= 5
"""


# random-hyperplane LSH over embeddings — the 10^12-scale ANN path: bucket first,
# brute-force only within buckets. 32 planes banded 4×8 bits: a vector lands in 4
# buckets of an 8-bit space each (recall from banding, selectivity from 8 bits;
# the round-1 single-band 256-bucket space went quadratic inside buckets at
# ~10^12 vectors). Signature math is INTEGER-EXACT (quantize to 1e-3 half-away-
# from-zero, integer hyperplane weights) so the numpy matmul on the Spark side
# and list_dot_product on the DuckDB side agree bit-for-bit.
_LSH_PLANES = 32
_LSH_BANDS = 4
_LSH_BAND_BITS = _LSH_PLANES // _LSH_BANDS
_LSH_DIM = 64
# skip degenerate buckets outright for ANN (stop-hash dropping); dedup instead
# degrades hot buckets to keeper-representative pairs (linear)
_ANN_BUCKET_CAP = 4096


def _lsh_weights(i: int) -> list[int]:
    return [
        ((1103515245 * (i * _LSH_DIM + j) + 12345) % 2001) - 1000 for j in range(_LSH_DIM)
    ]


def _lsh_sig_udf():
    """Vectorized 32-plane signature: ONE numpy int64 matmul per Arrow batch
    ((n,64) @ (64,32)), replacing 32 chained Catalyst array-aggregate lambdas.
    Integer math end-to-end ⇒ bit-identical to the SQL oracle's per-plane
    list_dot_product sign tests. ArrowEvalPython node — not per-row Python."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    w = np.array([_lsh_weights(i) for i in range(_LSH_PLANES)], dtype=np.int64).T
    pow2 = np.int64(1) << np.arange(_LSH_PLANES, dtype=np.int64)

    @pandas_udf(LongType())
    def sig(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy()).astype(np.float64) * 1000.0
        # half-away-from-zero, matching DuckDB ROUND / Spark round (HALF_UP)
        q = np.copysign(np.floor(np.abs(m) + 0.5), m).astype(np.int64)
        bits = (q @ w) >= 0  # exact: |dot| ≤ 64·10^4·10^3 ≪ 2^63
        return pd.Series((bits * pow2).sum(axis=1))

    return sig


def _emb_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → (vec_id, v double[], band) with one row per (vector, band):
    band key = band_index·2^8 + that band's 8 signature bits.

    No _spread here (r6, measured): the signature is ONE vectorized numpy
    matmul per Arrow batch — cheap enough that a parallelism-floor exchange
    of the vector payload costs more than it saves (ann_lsh 1.06 s vs 1.80 s
    at sf1.0); the downstream band shuffle parallelizes the pair work."""
    sig = _lsh_sig_udf()
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        sig("embedding").alias("sig"),
    )
    bands = F.array(
        *[
            (
                F.lit(i * (1 << _LSH_BAND_BITS))
                + F.shiftright("sig", i * _LSH_BAND_BITS).bitwiseAND(
                    F.lit((1 << _LSH_BAND_BITS) - 1)
                )
            ).cast("long")
            for i in range(_LSH_BANDS)
        ]
    )
    return emb.select("vec_id", "v", F.explode(bands).alias("band"))


def _sql_emb_banded() -> str:
    sig_terms = " + ".join(
        "(CASE WHEN list_dot_product(qv, [{w}]) >= 0 THEN {p} ELSE 0 END)".format(
            w=", ".join(str(v) for v in _lsh_weights(i)), p=1 << i
        )
        for i in range(_LSH_PLANES)
    )
    band_selects = "\n    UNION ALL\n".join(
        f"    SELECT vec_id, v, {i * (1 << _LSH_BAND_BITS)} + ((sig >> {i * _LSH_BAND_BITS}) & {(1 << _LSH_BAND_BITS) - 1}) AS band FROM s"
        for i in range(_LSH_BANDS)
    )
    return f"""
  e AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
           list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
    FROM embeddings),
  s AS (SELECT vec_id, v, {sig_terms} AS sig FROM e),
  banded AS (
{band_selects}),
  counted AS (
    SELECT *, COUNT(*) OVER (PARTITION BY band) AS band_n,
              MIN(vec_id) OVER (PARTITION BY band) AS band_keeper
    FROM banded)
"""


def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via banded random-hyperplane LSH: every vector lands in 4 of 4×256
    buckets; queries (vec_id < 5) compare ONLY against candidates sharing ≥1
    bucket — never all-pairs — then exact cosine top-3. Degenerate buckets
    (> _ANN_BUCKET_CAP members) are dropped from candidate generation (standard
    stop-hash handling: an uninformative bucket costs quadratic work for noise
    neighbors). The signature is one numpy matmul per Arrow batch."""
    banded = _emb_banded(spark, sf_dir)
    wb = Window.partitionBy("band")
    counted = banded.withColumn("band_n", F.count("*").over(wb)).filter(
        F.col("band_n") <= _ANN_BUCKET_CAP
    )
    # per-row norms hoisted out of the pair loop (identical expression over
    # the same array ⇒ identical double). The join stays a band-keyed
    # self-join: both sides reuse ONE window exchange (ReusedExchange);
    # broadcasting the query side was measured WORSE (the broadcast job
    # re-computed the signature+window subtree a second time).
    norm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    q = counted.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), "band",
        norm.alias("nq"),
    )
    cand = counted.select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), "band",
        norm.alias("nc"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    sims = (
        q.join(cand, (q["band"] == cand["band"]) & (F.col("q_id") != F.col("c_id")))
        .select("q_id", "c_id",
                F.round(dot / (F.col("nq") * F.col("nc")), 6).alias("cosine"))
        .distinct()
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3)


SQL_ANN_LSH = f"""
WITH {_sql_emb_banded()},
sims AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id,
         ROUND(list_dot_product(q.v, c.v) /
               (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))), 6)
           AS cosine
  FROM counted q JOIN counted c ON q.band = c.band AND q.vec_id < 5 AND q.vec_id != c.vec_id
  WHERE q.band_n <= {_ANN_BUCKET_CAP} AND c.band_n <= {_ANN_BUCKET_CAP})
SELECT q_id, c_id, cosine, rank FROM (
  SELECT q_id, c_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
  FROM sims) WHERE rank <= 3
"""

# IVF-Flat ANN: coarse quantizer = the first K embeddings (deterministic stand-in
# for k-means training — the partition/probe mechanics are identical), cells via
# exact integer argmin distance, queries probe the nprobe nearest cells and
# brute-force only inside them. The complementary bucketing family to LSH:
# data-dependent cells vs data-oblivious hyperplanes.
_IVF_K = 16
_IVF_NPROBE = 2


def _ivf_quantize(m):
    import numpy as np

    t = m.astype(np.float64) * 1000.0
    return np.copysign(np.floor(np.abs(t) + 0.5), t).astype(np.int64)


def q_ann_ivf_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF-Flat: every vector is assigned to its nearest of K=16 centroid
    cells (exact integer-quantized L2 argmin, ties to the lower cell id); each
    query (vec_id < 5) probes its NPROBE=2 nearest cells and computes exact
    cosine top-3 within them only. Assignment is one numpy matmul per Arrow
    batch against the broadcast centroid matrix (the coarse quantizer is tiny by
    design — collecting K rows to the driver is the IVF pattern, not a
    collect() anti-pattern)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = (
        emb.filter(F.col("vec_id") < _IVF_K).orderBy("vec_id").select("embedding").collect()
    )
    cents = _ivf_quantize(np.array([r["embedding"] for r in cent_rows]))  # (K, 64)
    cnorm = (cents * cents).sum(axis=1)  # (K,)

    @pandas_udf(ArrayType(LongType()))
    def probe_cells(e: pd.Series) -> pd.Series:
        q = _ivf_quantize(np.stack(e.to_numpy()))  # (n, 64)
        # d2 = |q|^2 - 2 q·c + |c|^2 ; |q|^2 constant per row — drop it, the
        # argmin order is unchanged and everything stays exact int64
        d2 = cnorm[None, :] - 2 * (q @ cents.T)
        order = np.argsort(d2, axis=1, kind="stable")[:, :_IVF_NPROBE]
        return pd.Series(list(order.astype(np.int64)))

    # no _spread (r6, measured: the assignment is one vectorized matmul per
    # batch — the floor exchange cost more than it saved, 1.00 s vs 1.73 s);
    # per-row norms hoisted out of the pair loop; the ≤10-row probe side
    # broadcasts so the candidate side streams without a shuffle
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        probe_cells("embedding").alias("cells"),
    )
    norm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    cand = base.select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"),
        F.col("cells")[0].alias("cell"), norm.alias("nc"),
    )
    q = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.explode("cells").alias("cell"), norm.alias("nq"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    sims = (
        cand.join(F.broadcast(q), ["cell"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id",
                F.round(dot / (F.col("nq") * F.col("nc")), 6).alias("cosine"))
        .distinct()
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3)


SQL_ANN_IVF = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings),
cent AS (SELECT vec_id AS c_k, qv AS cq FROM e WHERE vec_id < {_IVF_K}),
dist AS (
  SELECT e.vec_id, e.v, cent.c_k,
         CAST(list_dot_product(cent.cq, cent.cq) - 2 * list_dot_product(e.qv, cent.cq) AS BIGINT) AS d2
  FROM e CROSS JOIN cent),
ranked AS (
  SELECT vec_id, v, c_k,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_k) AS rnk
  FROM dist),
cand AS (SELECT vec_id AS c_id, v AS cv, c_k AS cell FROM ranked WHERE rnk = 1),
q AS (SELECT vec_id AS q_id, v AS qv, c_k AS cell FROM ranked
      WHERE vec_id < 5 AND rnk <= {_IVF_NPROBE}),
sims AS (
  SELECT DISTINCT q.q_id, cand.c_id,
         ROUND(list_dot_product(q.qv, cand.cv) /
               (SQRT(list_dot_product(q.qv, q.qv)) * SQRT(list_dot_product(cand.cv, cand.cv))), 6)
           AS cosine
  FROM q JOIN cand ON q.cell = cand.cell AND q.q_id != cand.c_id)
SELECT q_id, c_id, cosine, rank FROM (
  SELECT q_id, c_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
  FROM sims) WHERE rank <= 3
"""

_EMB_DEDUP_CAP = 4096


def q_dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, bucket_cap: int = _EMB_DEDUP_CAP
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-band-bounded: only pairs sharing
    ≥1 of the 4×256 band buckets are compared; emit pairs with cosine ≥ 0.9.
    Buckets over `bucket_cap` degrade to keeper-representative pairing (linear),
    mirroring the MinHash hot-band guard — no bucket can go quadratic.

    r6 form (guide §4.2 + §2.4): ONE hash exchange groups each band into a
    pandas group; the within-band pairwise dots and norms run as vectorized
    numpy with the SAME left-fold accumulation order as the previous per-pair
    Catalyst aggregate lambdas (bit-identical IEEE doubles), the hot-band
    keeper guard applies inside the group, and the ROUND + threshold stay in
    Catalyst so round() semantics never leave the JVM. Replaces the r5 shape
    — window-count exchange + band self-join + ~25 µs/pair interpreted HOF
    fold (the one superlinear-wall query: 1.0 s at sf0.1 but 16.9 s at sf1.0
    as within-bucket pair counts grow quadratically) — with a single shuffle
    of the vector payload and BLAS-speed pair math. No cache needed: the
    banded table is consumed exactly once."""
    banded = _emb_banded(spark, sf_dir)

    def pair_fn(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "raw": pd.Series(dtype="float64")}
        )
        if n < 2:
            return empty
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        m = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64, copy=False)
        # left-fold accumulation in dimension order — the exact sequence of
        # IEEE adds the previous zip_with/aggregate lambdas performed. r6:
        # accumulate the full Gram matrix by per-dimension OUTER products
        # instead of gathering two (n_pairs, 64) matrices — G[i,j] receives
        # the same adds in the same order, but the working set is the n×n
        # cache-resident G rather than ~16 bytes × 64 dims of gather traffic
        # per pair (2.4 µs/pair → ~0.15 µs/pair on a saturated bus).
        nrm = np.zeros(n, dtype=np.float64)
        if n > bucket_cap:  # hot band: keeper (min id) pairs with the rest
            i0 = np.zeros(n - 1, dtype=np.int64)
            i1 = np.arange(1, n, dtype=np.int64)
            dot = np.zeros(n - 1, dtype=np.float64)
            k = m[0]
            for d in range(m.shape[1]):
                dot += k[d] * m[1:, d]
                nrm += m[:, d] * m[:, d]
        else:
            i0, i1 = np.triu_indices(n, 1)
            g = np.zeros((n, n), dtype=np.float64)
            for d in range(m.shape[1]):
                c = m[:, d]
                g += c[:, None] * c[None, :]
            dot = g[i0, i1]
            nrm = g.diagonal().copy()
        nrm = np.sqrt(nrm)
        return pd.DataFrame(
            {"id_a": ids[i0], "id_b": ids[i1], "raw": dot / (nrm[i0] * nrm[i1])}
        )

    return (
        banded.groupBy("band")
        .applyInPandas(pair_fn, "id_a long, id_b long, raw double")
        .select("id_a", "id_b", F.round("raw", 6).alias("cosine"))
        .filter(F.col("cosine") >= 0.9)
        .distinct()
        .localCheckpoint(eager=True)
    )


def _sql_dedup_emb(bucket_cap: int = _EMB_DEDUP_CAP) -> str:
    return f"""
WITH {_sql_emb_banded()}
SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
       ROUND(list_dot_product(a.v, c.v) /
             (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(c.v, c.v))), 6)
         AS cosine
FROM counted a JOIN counted c
  ON a.band = c.band AND a.vec_id < c.vec_id
 AND (a.band_n <= {bucket_cap} OR a.vec_id = a.band_keeper)
WHERE ROUND(list_dot_product(a.v, c.v) /
            (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(c.v, c.v))), 6) >= 0.9
"""


SQL_DEDUP_EMB = _sql_dedup_emb()


# ---------------------------------------------------------------------------------
# multimodal plumbing (binary columns; decode itself stubbed — see
# functions/multimodal.py)
# ---------------------------------------------------------------------------------


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    blob = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.octet_length(blob).alias("n_bytes"),
        F.lower(F.hex(F.substring(blob, 1, 4))).alias("magic_hex"),
        _h56(F.col("text")).alias("payload_hash"),
    )


SQL_MEDIA_META = f"""
SELECT doc_id,
       OCTET_LENGTH(encode(text))                    AS n_bytes,
       -- slice the first 4 BYTES of the utf-8 encoding (matching Spark's
       -- substring-on-binary), not the first 4 characters-then-encode: they
       -- differ whenever the first 4 chars include non-ASCII
       LOWER(SUBSTR(hex(encode(text)), 1, 8))        AS magic_hex,
       {_h56_sql("text")}                            AS payload_hash
FROM documents
"""


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-codec certification under the driver's oracle: per doc_id a
    16x16 grayscale image of four FLAT 8x8 blocks (levels derived from the id)
    is encoded to baseline JPEG and decoded back with the pure-numpy T.81
    codec (functions/jpeg.py) INSIDE mapInArrow; the reported pixel stats come
    from the DECODED array. Flat blocks have a DC-only spectrum and the flat
    q=8 table divides 8*(v-128) exactly, so reconstruction is bit-exact and
    the oracle can state the expected stats in closed form — any defect in
    segment writing, Huffman tables, entropy coding, dequant, or the IDCT
    shows up as a value-hash mismatch.

    100 TB form: pure map over Arrow batches (the declared binary-codec
    boundary, same seam as PDF decode) — no shuffle, no driver collect;
    the _spread parallelism floor keys the partition count to the per-blob
    codec COMPUTE rather than the 8-bytes-per-row input."""
    import pyarrow as pa

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"))

    def codec(batches):
        import numpy as np

        from pdf_extract_sys_spark.functions.jpeg import (
            decode_baseline_jpeg,
            encode_baseline_jpeg,
        )

        # Per-TASK memo of the pure encode→decode roundtrip, keyed on the
        # only input it depends on (doc_id % 256): blobs with identical bytes
        # decode identically, so repeated inputs are common-subexpression
        # folds, not skipped work (guide §4.5 heavyweight-state amortization
        # applied to a pure function). Scoped to the task — nothing persists
        # across runs; every distinct image still round-trips the REAL codec.
        memo: dict[int, tuple] = {}

        for batch in batches:
            if not batch.num_rows:
                continue
            ids = batch.column("doc_id").to_pylist()
            means, mins, maxs, ws, hs = [], [], [], [], []
            for d in ids:
                key = d % 256
                got = memo.get(key)
                if got is None:
                    v = [(key * _JPEG_MULT + k * _JPEG_STEP) % 256
                         for k in range(4)]
                    img = np.empty((16, 16), np.uint8)
                    img[:8, :8], img[:8, 8:], img[8:, :8], img[8:, 8:] = v
                    px = decode_baseline_jpeg(encode_baseline_jpeg(img))
                    if px is None:
                        raise ValueError("baseline JPEG roundtrip failed")
                    got = (px.shape[1], px.shape[0], round(float(px.mean()), 4),
                           int(px.min()), int(px.max()))
                    memo[key] = got
                ws.append(got[0])
                hs.append(got[1])
                means.append(got[2])
                mins.append(got[3])
                maxs.append(got[4])
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pa.array(ws, pa.int32()),
                    pa.array(hs, pa.int32()),
                    pa.array(means, pa.float64()),
                    pa.array(mins, pa.int32()),
                    pa.array(maxs, pa.int32()),
                ],
                names=["doc_id", "width", "height", "px_mean", "px_min", "px_max"],
            )

    return docs.mapInArrow(
        codec,
        "doc_id long, width int, height int, px_mean double, px_min int, px_max int",
    )


_JPEG_MULT = 37
_JPEG_STEP = 59

# the oracle predicts the DECODED stats arithmetically — valid only because
# flat blocks under the flat q=8 table reconstruct exactly (see q_jpeg_decode)
_JPEG_VS = [
    f"(((doc_id % 256) * {_JPEG_MULT} + {k * _JPEG_STEP}) % 256)" for k in range(4)
]
SQL_JPEG_DECODE = f"""
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(16 AS INT) AS height,
       ROUND(({" + ".join(_JPEG_VS)}) / 4.0, 4) AS px_mean,
       CAST(LEAST({", ".join(_JPEG_VS)}) AS INT) AS px_min,
       CAST(GREATEST({", ".join(_JPEG_VS)}) AS INT) AS px_max
FROM documents
"""


# ---------------------------------------------------------------------------------
# flagship: the REAL extraction pipeline, oracled in SQL
# ---------------------------------------------------------------------------------

_SENT_WORDS = 10  # words per synthetic sentence
_MIN_CHARS = 60  # stay above the searchable threshold deterministically

# Corpus sanitization (identical on both sides): the blind N-word SQL grouping is
# only equivalent to the real kernel's segmentation when no token can trigger a
# kernel break/exception rule AND tokenization is unambiguous. Three steps make
# that equivalence structural instead of an assumption about the testdata
# generator: (1) every char outside [A-Za-z ] (enders, newlines, digits) → 'q';
# (2) any case-insensitive 'www' run (the url-dot exception looks for a 'www.'
# tail) → 'qqq'; (3) runs of spaces collapsed + edges trimmed, so split(' ')
# can never produce empty tokens (which regex word-grouping and string_split
# would otherwise count differently).
_SANITIZE_SPARK = lambda c: F.trim(  # noqa: E731
    F.regexp_replace(
        F.regexp_replace(F.regexp_replace(c, "[^A-Za-z ]", "q"), "(?i)www", "qqq"),
        " +",
        " ",
    )
)
_SANITIZE_SQL = (
    "TRIM(regexp_replace(regexp_replace(regexp_replace(text,"
    " '[^A-Za-z ]', 'q', 'g'), 'www', 'qqq', 'gi'), ' +', ' ', 'g'))"
)


def _sanitize_arrow(arr):
    """The sanitize chain as pyarrow compute (RE2) INSIDE the synthesis
    kernels — r6: the Catalyst regexp_replace chain cost ~1.5 ms/doc of Java
    regex (2.3 s/query at sf1.0 across every synthesis query); RE2 runs the
    same three passes ~20x cheaper and the DuckDB oracle's regexp_replace IS
    RE2, so this matches the oracle's own engine semantics exactly (simple
    character classes, a case-insensitive literal, and a greedy ' +' — no
    alternation-order or backtracking divergence surface). Output is pure
    ASCII [A-Za-z ] by construction."""
    import pyarrow.compute as pc

    s = pc.replace_substring_regex(arr, pattern="[^A-Za-z ]", replacement="q")
    s = pc.replace_substring_regex(s, pattern="(?i)www", replacement="qqq")
    s = pc.replace_substring_regex(s, pattern=" +", replacement=" ")
    return pc.utf8_trim(s, " ")


def _sentence_dots_arrow(sanitized):
    """'.' after every complete 10-word group plus a final '.' when the tail
    group is partial — the pyarrow/RE2 form of the Catalyst group-pat
    replacement used by the PDF serializers (identical values: verified
    element-wise against the Catalyst chain and pinned by the extract
    oracles)."""
    import numpy as np
    import pyarrow.compute as pc

    group_pat = r"((?:[A-Za-z]+ ){%d}[A-Za-z]+)" % (_SENT_WORDS - 1)
    sent = pc.replace_substring_regex(
        sanitized, pattern=group_pat, replacement=r"\1."
    )
    n_words = pc.count_substring(sanitized, " ").to_numpy(zero_copy_only=False) + 1
    partial = n_words % _SENT_WORDS != 0
    import pyarrow as pa

    return pc.if_else(
        pa.array(partial), pc.binary_join_element_wise(sent, ".", ""), sent
    )


def documents_to_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a pdf_chars corpus from `documents` deterministically: sanitize,
    group each text's words into 10-word sentences terminated by '.', lay out as
    char events (kernels encode), one page per doc. Runs distributed inside
    mapInArrow; the synthesis is fully vectorized (regex dot insertion + one
    utf-32 decode + numpy layout per batch — no per-doc Python beyond two
    O(n_docs) joins)."""
    import numpy as np
    import pyarrow as pa

    from .schema import CORPUS_ARROW

    # r6: the sanitize chain + sentence-dot grouping moved INSIDE the Arrow
    # kernel as RE2 (pyarrow compute) — the Catalyst Java-regex chain cost
    # ~1.5 ms/doc (2.3 s/query at sf1.0); RE2 is the oracle's own engine.
    docs = _extractable_docs(spark, sf_dir)

    def encode(batches):
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0:
                continue
            # sanitize + '.' after every complete 10-word group (+ final '.'
            # for a partial tail group), all in RE2/C++
            sent_arr = _sentence_dots_arrow(_sanitize_arrow(batch.column(1)))
            if isinstance(sent_arr, pa.ChunkedArray):
                sent_arr = sent_arr.combine_chunks()
            # char layout for the WHOLE batch in one pass. Sanitized text is
            # pure ASCII by construction, so codepoints are the utf-8 bytes
            # straight off the Arrow buffer (no utf-32 round-trip); the
            # general decode path remains as a guard.
            from .kernels.shingle import _string_parts

            sbuf, soffs = _string_parts(sent_arr)
            if len(soffs) and (soffs[0] != 0 or soffs[-1] != len(sbuf)):
                sbuf = sbuf[soffs[0] : soffs[-1]]
                soffs = soffs - soffs[0]
            lens = np.diff(soffs)
            if len(sbuf) and sbuf.max() >= 0x80:  # non-ASCII guard (unreachable
                # for sanitized input): exact utf-32 fallback
                cps = np.frombuffer(
                    "".join(sent_arr.to_pylist()).encode("utf-32-le"), dtype="<u4"
                )
                lens = np.fromiter(
                    (len(s) for s in sent_arr.to_pylist()), dtype=np.int64,
                    count=len(sent_arr),
                )
            else:
                cps = sbuf.astype(np.uint32)
            bounds = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=bounds[1:])
            within = np.arange(len(cps), dtype=np.int64) - np.repeat(bounds[:-1], lens)
            # 8-digit hex per char without numpy '<U8' round-trips: the hex of
            # the big-endian uint32 view IS the concatenation of all 8-char
            # reps — wrap it as a StringArray with stride-8 offsets
            hx = np.frombuffer(
                cps.astype(">u4").tobytes().hex().encode("ascii"), dtype=np.uint8
            )
            hex_arr = pa.Array.from_buffers(
                pa.string(), len(cps),
                [None,
                 pa.py_buffer(np.arange(0, 8 * (len(cps) + 1), 8,
                                        dtype=np.int32).tobytes()),
                 pa.py_buffer(hx.tobytes())],
            )
            lines = pc.binary_join_element_wise(
                hex_arr,
                pc.cast(pa.array(10 + 6 * within), pa.string()),
                "760",
                pc.cast(pa.array(16 + 6 * within), pa.string()),
                "772",
                "\t",
            )
            per_doc = pc.binary_join(
                pa.ListArray.from_arrays(pa.array(bounds, type=pa.int64()).cast(pa.int32()), lines),
                "\n",
            )
            payloads = pc.binary_join_element_wise("PAGE\t612\t792", per_doc, "\n")
            n = batch.num_rows
            struct = pa.StructArray.from_arrays(
                [
                    pa.array(["pdf_chars"] * n),
                    payloads,
                    pa.array([None] * n, type=pa.string()),
                    pa.array([0] * n, type=pa.int32()),
                ],
                fields=list(CORPUS_ARROW.field("spans").type.value_type),
            )
            spans = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32)), struct
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), spans], schema=CORPUS_ARROW
            )

    return docs.mapInArrow(encode, "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")


def q_extract_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END extraction through the real kernels (mapInArrow), oracled by a SQL
    re-derivation of the expected sentence spans. r6: one single-pass plan —
    the synthesized corpus emits exactly ONE span per doc by construction, so
    extract_corpus(max_spans=1) plans the normal path alone (value-identical)
    and the corpus is consumed exactly once: no persist round-trip of ~6
    KB/doc of char events, no second branch scan (guide §2.4). The result
    stays eagerly localCheckpoint'ed."""
    from .pipeline import extract_corpus

    return (
        extract_corpus(documents_to_corpus(spark, sf_dir), max_spans=1)
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("s.offset").alias("span_offset"),
            F.col("s.text").alias("span_text"),
        )
        .localCheckpoint(eager=True)
    )


SQL_EXTRACT = f"""
WITH w AS (
  SELECT doc_id, string_split({_SANITIZE_SQL}, ' ') AS ws,
         UNNEST(range(1, CAST(CEIL(LEN(string_split({_SANITIZE_SQL}, ' ')) / {float(_SENT_WORDS)}) AS BIGINT) + 1)) AS i
  FROM documents WHERE LENGTH(text) >= {_MIN_CHARS})
SELECT doc_id, CAST(i AS INT) - 1 AS span_offset,
       array_to_string(ws[(i-1)*{_SENT_WORDS}+1 : i*{_SENT_WORDS}], ' ') || '.' AS span_text
FROM w
"""

# q_extract_pdf_bytes: the sentence re-derivation PLUS the variant-9 docs'
# interleaved media span — one NULL-text row at out_offset = n_sentences (the
# figure paints after the text, so reading order places it last on the page)
SQL_EXTRACT_PDF = f"""
SELECT * FROM ({SQL_EXTRACT})
UNION ALL
SELECT doc_id,
       CAST(CEIL(LEN(string_split({_SANITIZE_SQL}, ' ')) / {float(_SENT_WORDS)}) AS INT) AS span_offset,
       NULL AS span_text
FROM documents
WHERE LENGTH(text) >= {_MIN_CHARS} AND doc_id % 10 = 9
"""


def _png_up_encode(data: bytes, columns: int) -> bytes:
    """PNG 'Up' row-filter encoding (filter byte 2 per row) — the inverse of
    the reader's /Predictor ≥ 10 reversal."""
    out = bytearray()
    prev = bytes(columns)
    for i in range(0, len(data), columns):
        row = data[i : i + columns]
        out.append(2)
        out += bytes((row[j] - prev[j]) & 0xFF for j in range(columns))
        prev = row
    return bytes(out)


def _pdf_assemble_classic(
    objs: dict[int, bytes], header: bytes, trailer_extra: bytes = b""
) -> bytes:
    """Objects + spec-correct classic xref table + trailer + startxref."""
    out = bytearray(header)
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_off = len(out)
    maxnum = max(objs)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (maxnum + 1)
    for num in range(1, maxnum + 1):
        if num in offsets:
            out += b"%010d 00000 n \n" % offsets[num]
        else:
            out += b"0000000000 65535 f \n"
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R" % (maxnum + 1)
        + trailer_extra
        + b" >>\nstartxref\n%d\n%%%%EOF" % xref_off
    )
    return bytes(out)


def _pdf_assemble_xref_stream(
    objs: dict[int, bytes], header: bytes, in_stream: dict[int, tuple[int, int]]
) -> bytes:
    """Objects + a /Type /XRef cross-reference STREAM (W [1 4 2], Flate +
    PNG-Up predictor — the realistic post-2005 writer shape). ``in_stream``
    maps objnum -> (ObjStm objnum, index) for type-2 (compressed) entries."""
    import zlib

    out = bytearray(header)
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_off = len(out)
    xref_num = max(max(objs), max(in_stream, default=0)) + 1
    size = xref_num + 1
    rows: list[tuple[int, int, int]] = [(0, 0, 65535)]
    for num in range(1, xref_num):
        if num in offsets:
            rows.append((1, offsets[num], 0))
        elif num in in_stream:
            rows.append((2, in_stream[num][0], in_stream[num][1]))
        else:
            rows.append((0, 0, 65535))
    rows.append((1, xref_off, 0))  # the xref stream itself
    raw = b"".join(
        bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
        for t, f2, f3 in rows
    )
    data = zlib.compress(_png_up_encode(raw, 7))
    out += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R"
        b" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 7 >>"
        b" /Length %d >>\nstream\n" % (xref_num, size, len(data))
        + data
        + b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF" % xref_off
    )
    return bytes(out)


# /W widths for the Type0 variant: the same public Helvetica AFM table the
# interpreter's built-in metric uses, so every variant yields identical
# char-box geometry (and therefore identical downstream sentence spans)
def _helv_w_array() -> bytes:
    from .sources.pdf_bytes import _AFM_ASCII

    return b"32 [" + b" ".join(
        b"%d" % w for w in _AFM_ASCII[b"Helvetica"]
    ) + b"]"


def _reencoded_font_dict() -> bytes:
    """Variant-8 font: printable ASCII re-mapped to codes 160-254 via a full
    /Differences array of AGL names (letters self-named), with explicit
    /Widths carrying the SAME Helvetica AFM values at the shifted codes — the
    subsetted-pdftex custom-encoding shape, byte-identical geometry."""
    from .sources.pdf_bytes import _AFM_ASCII, _GLYPH_NAMES

    by_cp = {cp: n for n, cp in _GLYPH_NAMES.items()}
    names = [
        bytes([cp]) if (0x41 <= cp <= 0x5A or 0x61 <= cp <= 0x7A) else by_cp[cp]
        for cp in range(0x20, 0x7F)
    ]
    return (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /FirstChar 160 /Widths ["
        + b" ".join(b"%d" % w for w in _AFM_ASCII[b"Helvetica"])
        + b"] /Encoding << /Differences [160 "
        + b" ".join(b"/" + n for n in names)
        + b"] >> >>"
    )


def _rc4_encrypt_objects(
    objs: dict[int, bytes], aes: bool = False
) -> tuple[dict[int, bytes], bytes, bytes]:
    """Standard-security-handler WRITER for the empty user+owner password
    (public Algorithms 2/3/4/5 — the mirror of the reader in
    sources/pdf_bytes.py): encrypts every stream payload in ``objs`` and
    returns (encrypted objs incl. the /Encrypt dict, trailer extras, file id).
    aes=False writes RC4 V2/R3; aes=True writes V4/R4 with /CFM /AESV2
    (AES-128-CBC, per-object sAlT key, deterministic IV, /Length rewritten to
    the ciphertext length). Test-input generation only — never on the decode
    path."""
    import hashlib
    import re

    from .sources.pdf_bytes import _PW_PAD, _rc4

    if aes:
        from .sources._aes import cbc_encrypt

    r, v, n = (4, 4, 16) if aes else (3, 2, 16)
    id0 = hashlib.md5(b"spark-graft-variant-6").digest()
    p = -44
    okey = hashlib.md5(_PW_PAD).digest()
    for _ in range(50):
        okey = hashlib.md5(okey[:n]).digest()
    okey = okey[:n]
    o = _rc4(okey, _PW_PAD)
    for i in range(1, 20):
        o = _rc4(bytes(b ^ i for b in okey), o)
    key = hashlib.md5(
        _PW_PAD + o + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0
    ).digest()[:n]
    for _ in range(50):
        key = hashlib.md5(key[:n]).digest()[:n]
    u = _rc4(key, hashlib.md5(_PW_PAD + id0).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    u += b"\x00" * 16
    out: dict[int, bytes] = {}
    for num, body in objs.items():
        m = body.find(b"stream\n")
        if m < 0:
            out[num] = body
            continue
        s = m + len(b"stream\n")
        e = body.rfind(b"\nendstream")
        salt = b"sAlT" if aes else b""
        ok = hashlib.md5(
            key + num.to_bytes(3, "little") + (0).to_bytes(2, "little") + salt
        ).digest()[: min(n + 5, 16)]
        if aes:
            iv = hashlib.md5(b"iv%d" % num).digest()
            ct = cbc_encrypt(ok, iv, body[s:e])
            head = re.sub(
                rb"/Length\s+\d+", b"/Length %d" % len(ct), body[:s], count=1
            )
            out[num] = head + ct + body[e:]
        else:
            out[num] = body[:s] + _rc4(ok, body[s:e]) + body[e:]
    encnum = max(objs) + 1
    cf = (
        b"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> "
        b"/StmF /StdCF /StrF /StdCF " if aes else b""
    )
    out[encnum] = (
        b"<< /Filter /Standard /V %d /R %d /Length %d " % (v, r, n * 8)
        + cf + b"/O <" + o[:32].hex().encode() + b"> /U <"
        + u[:32].hex().encode() + b"> /P %d >>" % p
    )
    trailer_extra = (
        b" /Encrypt %d 0 R /ID [<" % encnum + id0.hex().encode()
        + b"> <" + id0.hex().encode() + b">]"
    )
    return out, trailer_extra, id0


N_PDF_VARIANTS = 10


def _serialize_variant_pdf(doc_id: int, text: str) -> bytes:
    """One REAL single-page PDF for ``text``, its SERIALIZATION deterministically
    varied by doc_id mod 10 (r4 VERDICT #6) — so the driver's q_extract_pdf_bytes
    oracle certifies the full round-3/4/5 interpreter surface, not just the
    simplest PDF 1.4 shape. All ten variants must extract to IDENTICAL text
    spans (variant 9 additionally appends one interleaved media span):

      0: uncompressed content stream, classic xref table + trailer
      1: FlateDecode content, classic xref
      2: Flate + PNG-Up /DecodeParms predictor content, /Type /XRef stream
         (itself Flate+predictor-encoded)
      3: catalog/pages/page/font dicts packed in a Flate /Type /ObjStm,
         located via an xref STREAM with type-2 entries (PDF 1.5 layout)
      4: Type0/Identity-H font — hex show string (2-byte CIDs), /W width
         array (same Helvetica AFM numbers), /ToUnicode identity bfrange
      5: /Rotate 90 page with the text placed through a rotated Tm, so the
         DISPLAY-space char boxes (and the extracted spans) match variant 0
      6: RC4-ENCRYPTED (standard security handler R3, empty user password)
         with Flate content — drives the decryption path through the oracle
      7: AES-128-ENCRYPTED (V4/R4 crypt filter /AESV2, empty user password)
         with Flate content — drives the AES path (IV prefix, CBC padding,
         /Length rewrite) through the oracle
      8: custom-RE-ENCODED simple font (the subsetted-pdftex shape): every
         text byte shifted +0x80, decoded back through a full /Differences
         array of AGL glyph names, with /FirstChar 160 /Widths carrying the
         same Helvetica AFM values so geometry is byte-identical
      9: MIXED text+figure page: the same text Tj plus an image XObject
         painted after it (q cm /Im1 Do Q) — the extracted spans are the
         variant-0 sentences PLUS one kind='media' span 'img:0:0:Im1' at the
         end of the page's reading order (the interleaved text+media
         contract under the driver's oracle)
    """
    import zlib

    v = doc_id % N_PDF_VARIANTS
    esc = text.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
    if v == 8:
        # literal string of shifted bytes (all >= 0xA0: no delimiters/escapes)
        shifted = bytes(c + 0x80 for c in text.encode("ascii"))
        content = b"BT /F1 12 Tf 10 760 Td (" + shifted + b") Tj ET"
    elif v == 4:
        content = (
            b"BT /F1 12 Tf 10 760 Td <"
            + text.encode("utf-16-be").hex().encode() + b"> Tj ET"
        )
    elif v == 5:
        # Tm = [0 1 -1 0 52 10]: text-space (u, v) -> media (52 - v, u + 10);
        # the /Rotate 90 display map (x, y) -> (y, w - x) then lands each char
        # at display x = u + 10, y in [560, 572] — a normal reading-order row
        content = b"BT /F1 12 Tf 0 1 -1 0 52 10 Tm (" + esc.encode() + b") Tj ET"
    elif v == 9:
        content = (
            b"BT /F1 12 Tf 10 760 Td (" + esc.encode() + b") Tj ET\n"
            b"q 100 0 0 50 400 300 cm /Im1 Do Q"
        )
    else:
        content = b"BT /F1 12 Tf 10 760 Td (" + esc.encode() + b") Tj ET"

    if v in (1, 6, 7):
        data = zlib.compress(content)
        cobj = (b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(data)
                + data + b"\nendstream")
    elif v == 2:
        cols = 24
        padded = content.ljust((len(content) + cols - 1) // cols * cols, b" ")
        data = zlib.compress(_png_up_encode(padded, cols))
        cobj = (
            b"<< /Length %d /Filter /FlateDecode"
            b" /DecodeParms << /Predictor 12 /Columns 24 >> >>\nstream\n"
            % len(data) + data + b"\nendstream"
        )
    else:
        cobj = b"<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream"

    page_extra = b" /Rotate 90" if v == 5 else b""
    xobj_extra = b" /XObject << /Im1 6 0 R >>" if v == 9 else b""
    dicts = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
            + page_extra
            + b" /Resources << /Font << /F1 5 0 R >>" + xobj_extra + b" >> >>"),
        5: (_reencoded_font_dict() if v == 8
            else b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    }
    objs: dict[int, bytes] = {4: cobj}
    if v == 9:
        objs[6] = (
            b"<< /Subtype /Image /Width 1 /Height 1 /BitsPerComponent 8"
            b" /ColorSpace /DeviceGray /Length 1 >>\nstream\n\x7f\nendstream"
        )
    if v == 4:
        touni = (b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
                 b"1 beginbfrange\n<0020> <007e> <0020>\nendbfrange")
        dicts[5] = (b"<< /Type /Font /Subtype /Type0 /BaseFont /Helvetica"
                    b" /Encoding /Identity-H /DescendantFonts [6 0 R]"
                    b" /ToUnicode 7 0 R >>")
        dicts[6] = (b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Helvetica"
                    b" /DW 500 /W [" + _helv_w_array() + b"] >>")
        objs[7] = (b"<< /Length %d >>\nstream\n" % len(touni)
                   + touni + b"\nendstream")

    if v == 3:
        # pack the dict objects into a Flate ObjStm; xref stream locates them
        # via type-2 entries (streams themselves stay top-level, per spec)
        nums = sorted(dicts)
        offs, pos = [], 0
        for n in nums:
            offs.append(pos)
            pos += len(dicts[n]) + 1
        hdr = b" ".join(b"%d %d" % (n, o) for n, o in zip(nums, offs)) + b"\n"
        payload = hdr + b"\n".join(dicts[n] for n in nums) + b"\n"
        sdata = zlib.compress(payload)
        objs[8] = (
            b"<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode"
            b" >>\nstream\n" % (len(nums), len(hdr), len(sdata))
            + sdata + b"\nendstream"
        )
        in_stream = {n: (8, i) for i, n in enumerate(nums)}
        return _pdf_assemble_xref_stream(objs, b"%PDF-1.5\n", in_stream)
    objs.update(dicts)
    if v == 2:
        return _pdf_assemble_xref_stream(objs, b"%PDF-1.5\n", {})
    if v in (6, 7):
        objs, trailer_extra, _id0 = _rc4_encrypt_objects(objs, aes=(v == 7))
        return _pdf_assemble_classic(objs, b"%PDF-1.4\n", trailer_extra)
    return _pdf_assemble_classic(objs, b"%PDF-1.4\n")


def documents_to_pdf_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive REAL PDF bytes per document: Catalyst sanitizes the text and
    terminates each 10-word group with '.' (identical derivation to
    documents_to_corpus, so the same SQL oracle applies); an Arrow-batched
    serializer then writes a complete PDF file whose on-disk SERIALIZATION
    varies deterministically per doc_id (mod 10 — uncompressed / Flate /
    Flate+predictor+xref-stream / ObjStm / Type0+ToUnicode / Rotate 90 /
    RC4-encrypted / AES-encrypted / Differences+AGL-re-encoded font /
    mixed text+figure page, see
    _serialize_variant_pdf) — the input shape a user holding actual PDFs has,
    covering the modern interpreter surface under the driver's oracle
    (r4 VERDICT #6). Binary serialization is per-blob Python inside mapInArrow
    — the declared binary boundary, same as the decode side. r6: the sanitize
    + sentence-dot chain runs as RE2 inside the kernel (see _sanitize_arrow)
    instead of ~1.5 ms/doc of Catalyst Java regex."""
    docs = _extractable_docs(spark, sf_dir)

    def serialize(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column("doc_id").to_pylist()
            sents = _sentence_dots_arrow(
                _sanitize_arrow(batch.column(1))
            ).to_pylist()
            pdfs = [
                _serialize_variant_pdf(int(d), s) for d, s in zip(ids, sents)
            ]
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(pdfs, type=pa.binary())],
                names=["doc_id", "pdf"],
            )

    return docs.mapInArrow(serialize, "doc_id string, pdf binary")


_WORKLIST_JPEG_CACHE: bytes | None = None


def _worklist_jpeg() -> bytes:
    """The worklist PDFs' image payload: a DETERMINISTIC 8x8 flat-gray
    baseline JPEG from the pure-numpy encoder — so the /DCTDecode image
    XObject carries a REAL codec bitstream whose byte length, container
    format and dimensions the DuckDB oracle can pin as constants."""
    global _WORKLIST_JPEG_CACHE
    if _WORKLIST_JPEG_CACHE is None:
        import numpy as np

        from .functions.jpeg import encode_baseline_jpeg

        _WORKLIST_JPEG_CACHE = encode_baseline_jpeg(
            np.full((8, 8), 127, dtype=np.uint8)
        )
    return _WORKLIST_JPEG_CACHE


def _serialize_worklist_pdf(doc_id: int, text: str) -> bytes:
    """A multi-page PDF: page 0 shows ``text``; then (deterministically per
    doc_id) 0, 1, or 2 IMAGE-ONLY pages — each paints an image XObject and
    shows no text, so the interpreter emits the needs-OCR signal for it
    (doc_id % 3 == 0 → one image page; % 9 == 0 → two). The image is a real
    /Subtype /Image /Filter /DCTDecode XObject carrying a deterministic
    baseline-JPEG bitstream: Do counts it without decoding (the raster/OCR
    boundary of the reference, main.py:570-632), while pdf_binary_to_media
    extracts the JPEG payload pdfimages-style."""
    esc = text.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
    n_img_pages = 2 if doc_id % 9 == 0 else (1 if doc_id % 3 == 0 else 0)
    content = b"BT /F1 12 Tf 10 760 Td (" + esc.encode() + b") Tj ET"
    kids = [3] + [6 + 2 * i for i in range(n_img_pages)]
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [" + b" ".join(b"%d 0 R" % k for k in kids)
            + b"] /Count %d /MediaBox [0 0 612 792] >>" % len(kids)),
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
            b" /Resources << /Font << /F1 5 0 R >> >> >>"),
        4: (b"<< /Length %d >>\nstream\n" % len(content) + content
            + b"\nendstream"),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    if n_img_pages:
        img_content = b"q 612 0 0 792 0 0 cm /Im1 Do Q"
        imobj = 6 + 2 * n_img_pages
        for i in range(n_img_pages):
            objs[6 + 2 * i] = (
                b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R"
                b" /Resources << /XObject << /Im1 %d 0 R >> >> >>"
                % (7 + 2 * i, imobj)
            )
            objs[7 + 2 * i] = (
                b"<< /Length %d >>\nstream\n" % len(img_content)
                + img_content + b"\nendstream"
            )
        jp = _worklist_jpeg()
        objs[imobj] = (
            b"<< /Subtype /Image /Width 8 /Height 8 /BitsPerComponent 8"
            b" /ColorSpace /DeviceGray /Filter /DCTDecode /Length %d"
            b" >>\nstream\n" % len(jp) + jp + b"\nendstream"
        )
    return _pdf_assemble_classic(objs, b"%PDF-1.4\n")


def documents_to_worklist_pdf_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pdf) frame of multi-page PDFs with deterministic image-only
    pages — the input for the needs-OCR work-list query. r6: sanitize runs as
    RE2 inside the kernel (see _sanitize_arrow), not Catalyst Java regex."""
    docs = _extractable_docs(spark, sf_dir)

    def serialize(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column("doc_id").to_pylist()
            sents = _sanitize_arrow(batch.column(1)).to_pylist()
            pdfs = [
                _serialize_worklist_pdf(int(d), s) for d, s in zip(ids, sents)
            ]
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(pdfs, type=pa.binary())],
                names=["doc_id", "pdf"],
            )

    return docs.mapInArrow(serialize, "doc_id string, pdf binary")


def q_needs_ocr_worklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OCR WORK-LIST as a first-class query (r4 VERDICT #8): real PDF
    bytes with image-only pages → pdf_binary_to_corpus marks them
    kind='needs_ocr' → extraction passes the marker through → `WHERE kind =
    'needs_ocr'` aggregated per doc (count + page list). This is the contract
    a downstream raster/OCR stage consumes — verified against the driver's
    DuckDB oracle, not just pytest shapes. r6: single-pass — worklist PDFs
    carry ≤ 3 pages (≤ 5 spans with needs_ocr/media), so extract_corpus(
    max_spans=5) plans the normal path alone (value-identical) and the corpus
    is consumed once, with no persist round-trip."""
    from .pipeline import extract_corpus
    from .sources.pdf_bytes import pdf_binary_to_corpus

    out = (
        extract_corpus(
            pdf_binary_to_corpus(documents_to_worklist_pdf_binary(spark, sf_dir)),
            max_spans=5,
        )
        .select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == F.lit("needs_ocr"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_needs_ocr"),
            F.array_join(F.array_sort(F.collect_list("s.media_ref")), ",").alias(
                "pages"
            ),
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"), "n_needs_ocr", "pages"
        )
        .localCheckpoint(eager=True)
    )
    return out


SQL_NEEDS_OCR = f"""
SELECT doc_id,
       CAST(CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_needs_ocr,
       CASE WHEN doc_id % 9 = 0 THEN 'page:1,page:2' ELSE 'page:1' END AS pages
FROM documents
WHERE LENGTH(text) >= {_MIN_CHARS} AND doc_id % 3 = 0
"""


def q_media_figures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved FIGURE references from real PDF bytes: every image the
    interpreter sees painted (XObject Do / inline image) becomes a
    kind='media' span with media_ref='img:<page>:<paint_seq>:<name>', placed
    in reading order after its page's text — the north rule's 'text runs +
    media_refs for embedded images/figures' contract, now under the driver's
    oracle. `offs` pins the reading-ORDER positions, not just presence: each
    doc's page 0 shows its text (one sentence span, out_offset 0), so the
    image pages' work-list + figure spans land at deterministic output
    offsets (needs_ocr at 1 / figure at 2; second image page at 3 / 4).
    r6: single-pass via extract_corpus with ``max_spans=5`` (≤ 3-page
    corpus, mega branch structurally empty) — no persist round-trip."""
    from .pipeline import extract_corpus
    from .sources.pdf_bytes import pdf_binary_to_corpus

    ex = (
        extract_corpus(
            pdf_binary_to_corpus(documents_to_worklist_pdf_binary(spark, sf_dir)),
            max_spans=5,
        )
        .select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == F.lit("media"))
    )
    # sort ONCE on the numeric offset (struct array_sort orders by the first
    # field numerically) and derive both strings from it — lexicographic
    # string sorting would misorder two-digit offsets ('10' before '2')
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("s.offset").alias("o"), F.col("s.media_ref").alias("m")))
    )
    out = (
        ex.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_figures"),
            F.array_join(
                F.transform(ordered, lambda x: x["m"]), ","
            ).alias("figs"),
            F.array_join(
                F.transform(ordered, lambda x: x["o"].cast("string")), ","
            ).alias("offs"),
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_figures",
            "figs",
            "offs",
        )
        .localCheckpoint(eager=True)
    )
    return out


SQL_MEDIA_FIGURES = f"""
SELECT doc_id,
       CAST(CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_figures,
       CASE WHEN doc_id % 9 = 0 THEN 'img:1:0:Im1,img:2:0:Im1'
            ELSE 'img:1:0:Im1' END AS figs,
       CASE WHEN doc_id % 9 = 0 THEN '2,4' ELSE '2' END AS offs
FROM documents
WHERE LENGTH(text) >= {_MIN_CHARS} AND doc_id % 3 = 0
"""


def q_media_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Figure PAYLOAD resolution from real PDF bytes: pdf_binary_to_media
    walks the same interpreter paint order as the media spans and emits one
    row per painted image with its decoded payload — transport filters
    applied, trailing codec filter stripped pdfimages-style, so the
    /DCTDecode worklist figures arrive as their actual JPEG bitstreams and
    sniff_media types them from the container header. The oracle pins the
    byte length, codec, container format and dimensions of the deterministic
    encoder output — certifying the whole chain (serializer → xref discovery
    → stream slicing → filter handling → payload → sniff) as constants."""
    from .sources.pdf_bytes import pdf_binary_to_media

    return (
        pdf_binary_to_media(
            documents_to_worklist_pdf_binary(spark, sf_dir),
            # metadata-only consumer: the figure bytes never cross Arrow
            include_payload=False,
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "media_ref", "n_bytes", "codec", "fmt", "width", "height",
        )
        .localCheckpoint(eager=True)
    )


def _sql_media_payloads() -> str:
    # built LAZILY (registry resolves callables at oracle_sql() time): the
    # byte-length constant needs the numpy JPEG encoder, which should not run
    # — nor become an import-time dependency — for the 38 queries that never
    # touch media
    n = len(_worklist_jpeg())
    return f"""
SELECT doc_id,
       'img:' || pg || ':0:Im1' AS media_ref,
       CAST({n} AS INT) AS n_bytes,
       'DCTDecode' AS codec,
       'jpeg' AS fmt,
       CAST(8 AS INT) AS width,
       CAST(8 AS INT) AS height
FROM documents, (VALUES (1), (2)) pages(pg)
WHERE LENGTH(text) >= {_MIN_CHARS} AND doc_id % 3 = 0
  AND (pg = 1 OR doc_id % 9 = 0)
"""


def q_extract_pdf_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL bytes→spans chain under the driver's oracle (r3 VERDICT #9):
    real PDF FILES (binary column, Catalyst-serialized from `documents`) →
    pdf_binary_to_corpus (the scan-based PDF parser + Type0/encoding/filter
    front-end, mapInPandas) → the unchanged mapInArrow extraction kernels →
    sentence spans. Oracled by the same SQL re-derivation as
    q_extract_sentences — proving the binary front-end reproduces the
    documented pdf_chars semantics end-to-end, not just in pytest. r6:
    single-pass via extract_corpus with ``max_spans=2`` (the serialized
    variants are single-page PDFs → 1-2 spans/doc, mega branch structurally
    empty) — no persist round-trip of the decoded corpus."""
    from .pipeline import extract_corpus
    from .sources.pdf_bytes import pdf_binary_to_corpus

    return (
        extract_corpus(
            pdf_binary_to_corpus(documents_to_pdf_binary(spark, sf_dir)), max_spans=2
        )
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("s.offset").alias("span_offset"),
            F.col("s.text").alias("span_text"),
        )
        .localCheckpoint(eager=True)
    )


def q_extract_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual training-data-pipeline COMPOSITION (r2 VERDICT #9): run the
    REAL extraction pipeline (mapInArrow kernels) and then MinHash-LSH near-dup
    detection over the EXTRACTED span text — extract → dedup end-to-end in one
    plan, not dedup over the raw `documents` table. Per-doc text = the doc's
    span texts in reading order; signatures/banding/guards are the shared
    hash-once machinery. Oracled by the same SQL chain over the re-derived
    corpus. r6: single-pass via extract_corpus with ``max_spans=1``
    (synthesized corpus = one span per doc, mega branch structurally empty)
    — no persist round-trip."""
    from .pipeline import extract_corpus

    texts = extract_corpus(documents_to_corpus(spark, sf_dir), max_spans=1).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.array_join(F.transform("spans", lambda s: s["text"]), " ").alias("text"),
    )
    return _lsh_pairs_materialized(_minhash_sigs(texts), _LSH_BAND_CAP)


SQL_EXTRACT_DEDUP = f"""
WITH corpus AS (
  SELECT doc_id, STRING_AGG(span_text, ' ' ORDER BY span_offset) AS text
  FROM ({SQL_EXTRACT}) GROUP BY doc_id)
SELECT * FROM (
{_sql_lsh_pairs(src="corpus")}
)
"""


def q_extract_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END html extraction through the real boilerplate-stripping kernel:
    each document is wrapped (pure Catalyst string concat, no UDF) into an html
    page with link-dense nav boilerplate, a short footer, the text as main
    content, and an embedded <img>. The kernel must drop both boilerplate lines
    (nav: link density 1 > 0.34; footer: < 25 visible chars), keep the content
    line, and emit the image as an interleaved media span — the north rule's
    'DOM text-density boilerplate strip' evidenced at the query level.
    r6: single-pass via extract_corpus with ``max_spans=1`` (one html span
    per doc by construction, mega branch structurally empty — the corpus is
    read once instead of once per branch filter), and the sanitize + html wrap run as
    RE2/C++ string kernels inside one mapInArrow instead of Catalyst Java
    regex (~1.5 ms/doc) + per-row concat."""
    import numpy as np
    import pyarrow as pa

    from .pipeline import extract_corpus
    from .schema import CORPUS_ARROW

    docs = _extractable_docs(spark, sf_dir)

    def wrap(batches):
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0:
                continue
            html = pc.binary_join_element_wise(
                "<html><head><title>Doc</title><style>p{margin:0}</style></head><body>"
                "<nav><a href='#'>Home</a> <a href='#'>About</a> <a href='#'>Contact</a></nav>"
                "<p>",
                _sanitize_arrow(batch.column(1)),
                '</p><img src="fig-',
                batch.column(0),
                '"><footer>Copyright qsite</footer></body></html>',
                "",
            )
            n = batch.num_rows
            struct = pa.StructArray.from_arrays(
                [
                    pa.array(["html"] * n),
                    html,
                    pa.array([None] * n, type=pa.string()),
                    pa.array([0] * n, type=pa.int32()),
                ],
                fields=list(CORPUS_ARROW.field("spans").type.value_type),
            )
            spans = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32)), struct
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), spans], schema=CORPUS_ARROW
            )

    corpus = docs.mapInArrow(
        wrap,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = extract_corpus(corpus, max_spans=1)
    return out.select("doc_id", F.explode("spans").alias("s")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("s.offset").alias("span_offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("span_text"),
        F.col("s.media_ref").alias("media_ref"),
    )


SQL_EXTRACT_HTML = f"""
WITH d AS (
  SELECT doc_id, {_SANITIZE_SQL} AS t
  FROM documents WHERE LENGTH(text) >= {_MIN_CHARS})
SELECT doc_id, 0 AS span_offset, 'text' AS kind, t AS span_text,
       CAST(NULL AS VARCHAR) AS media_ref
FROM d
UNION ALL
SELECT doc_id, 1 AS span_offset, 'media' AS kind, CAST(NULL AS VARCHAR) AS span_text,
       'fig-' || doc_id AS media_ref
FROM d
"""


# ---------------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------------

# SQL entries may be a string OR a zero-arg callable returning the string
# (lazy oracles whose text needs import-time-expensive constants); resolve
# with resolve_sql().
REGISTRY: dict[
    str,
    tuple[Callable[[SparkSession, str], DataFrame], str | Callable[[], str] | None],
] = {
    "q_pricing_summary": (q_pricing_summary, SQL_PRICING),
    "q_broadcast_join_topn": (q_broadcast_join_topn, SQL_TOPN),
    "q_anti_join_resume": (q_anti_join_resume, SQL_ANTI),
    "q_sessionize_events": (q_sessionize_events, SQL_SESSIONIZE),
    "q_reading_order": (q_reading_order, SQL_READING_ORDER),
    "q_doc_stats": (q_doc_stats, SQL_DOC_STATS),
    "q_quality_score": (q_quality_score, SQL_QUALITY),
    "q_lang_stopwords": (q_lang_stopwords, SQL_LANG),
    "q_lang_bigrams": (q_lang_bigrams, SQL_LANG_BIGRAMS),
    "q_token_count_bpe": (q_token_count_bpe, SQL_TOKENS),
    "q_vocab_top_tokens": (q_vocab_top_tokens, SQL_VOCAB),
    "q_repetition_filter": (q_repetition_filter, SQL_REPETITION),
    "q_decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "q_pii_redact": (q_pii_redact, SQL_PII),
    "q_pack_sequences": (q_pack_sequences, SQL_PACK),
    "q_stratified_sample": (q_stratified_sample, SQL_STRATIFIED),
    "q_dsir_select": (q_dsir_select, SQL_DSIR),
    "q_dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "q_minhash_signatures": (q_minhash_signatures, SQL_MINHASH),
    "q_minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_LSH_PAIRS),
    "q_incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    "q_ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD),
    "q_dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "q_fingerprint_modp": (q_fingerprint_modp, SQL_FINGERPRINT),
    "q_fingerprint_winnow": (q_fingerprint_winnow, SQL_WINNOW),
    "q_substring_dup_pairs": (q_substring_dup_pairs, SQL_SUBSTRING_PAIRS),
    "q_simhash": (q_simhash, SQL_SIMHASH),
    "q_embedding_topk": (q_embedding_topk, SQL_TOPK),
    "q_ann_lsh_bucketed": (q_ann_lsh_bucketed, SQL_ANN_LSH),
    "q_ann_ivf_flat": (q_ann_ivf_flat, SQL_ANN_IVF),
    "q_dedup_embedding_cosine": (q_dedup_embedding_cosine, SQL_DEDUP_EMB),
    "q_media_meta": (q_media_meta, SQL_MEDIA_META),
    "q_jpeg_decode": (q_jpeg_decode, SQL_JPEG_DECODE),
    "q_extract_sentences": (q_extract_sentences, SQL_EXTRACT),
    "q_extract_pdf_bytes": (q_extract_pdf_bytes, SQL_EXTRACT_PDF),
    "q_needs_ocr_worklist": (q_needs_ocr_worklist, SQL_NEEDS_OCR),
    "q_media_figures": (q_media_figures, SQL_MEDIA_FIGURES),
    "q_media_payloads": (q_media_payloads, _sql_media_payloads),
    "q_extract_html": (q_extract_html, SQL_EXTRACT_HTML),
    "q_extract_dedup": (q_extract_dedup, SQL_EXTRACT_DEDUP),
}


def resolve_sql(sql: "str | Callable[[], str] | None") -> str | None:
    """Resolve a REGISTRY oracle entry: lazy callables are evaluated here, at
    oracle-consumption time, never at module import."""
    return sql() if callable(sql) else sql
