"""Text-analysis operators over the `documents` table (M5):
quality stats, language-ID heuristic, token counting, fingerprinting.

All plans are single-pass narrow transforms (per-row expressions — no
shuffle, no UDF): at 100 TB these run at scan speed inside whole-stage
codegen with the text column the only wide read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import local_frame, table
from hive_clone_spark.pipeline.common import (
    MOD,
    SQL_WORDS,
    portable_hash,
    spread,
    sql_portable_hash,
    words_col,
)
from hive_clone_spark.registry import register

_STOPWORDS = "(the|and|of|a|to|in|is|it|for|on)"


# ---------------------------------------------------------------------------
# quality stats: length/word/punctuation/stopword ratios + a CASE score
# ---------------------------------------------------------------------------
@register(
    "p_text_stats",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, n_chars,
             {SQL_WORDS.format(expr="text")} AS words,
             len(regexp_extract_all(text, '[[:punct:]]')) AS n_punct,
             len(regexp_extract_all(lower(text), '\\b{_STOPWORDS}\\b')) AS n_stop
      FROM documents)
    SELECT doc_id, lang,
      CAST(len(words) AS BIGINT) AS n_words,
      ROUND(CASE WHEN len(words) = 0 THEN 0.0
            ELSE CAST(n_chars AS DOUBLE) / len(words) END, 6) AS chars_per_word,
      ROUND(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6) AS punct_ratio,
      ROUND(CAST(n_stop AS DOUBLE) / greatest(len(words), 1), 6) AS stopword_ratio,
      CASE WHEN len(words) >= 50 AND
                CAST(n_stop AS DOUBLE) / greatest(len(words), 1) > 0.02 THEN 'high'
           WHEN len(words) >= 20 THEN 'medium'
           ELSE 'low' END AS quality
    FROM w ORDER BY doc_id
    """,
)
def p_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = words_col(F.col("text"))
    n_words = F.size(words)
    n_punct = F.size(F.expr("regexp_extract_all(text, '\\\\p{Punct}', 0)"))
    n_stop = F.size(
        F.expr(f"regexp_extract_all(lower(text), '\\\\b{_STOPWORDS}\\\\b', 0)")
    )
    stop_ratio = n_stop.cast("double") / F.greatest(n_words, F.lit(1))
    return (
        d.select(
            "doc_id",
            "lang",
            n_words.cast("bigint").alias("n_words"),
            F.round(
                F.when(n_words == 0, 0.0).otherwise(
                    F.col("n_chars").cast("double") / n_words
                ),
                6,
            ).alias("chars_per_word"),
            F.round(
                n_punct.cast("double") / F.greatest(F.col("n_chars"), F.lit(1)), 6
            ).alias("punct_ratio"),
            F.round(stop_ratio, 6).alias("stopword_ratio"),
            F.when((n_words >= 50) & (stop_ratio > 0.02), "high")
            .when(n_words >= 20, "medium")
            .otherwise("low")
            .alias("quality"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# language-ID: tiny stopword-lexicon hit counts + argmax CASE (n-gram
# heuristic; ties broken in fixed lexicon order)
# ---------------------------------------------------------------------------
_LEXICONS = [
    ("en", r"\b(the|and|of|to|in)\b"),
    ("de", r"\b(der|die|und|das|ist)\b"),
    ("fr", r"\b(le|la|et|les|des)\b"),
    ("es", r"\b(el|los|las|y|una)\b"),
    ("zh", r"[\x{4e00}-\x{9fff}]"),
]


@register(
    "p_lang_id",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, lang,
        {", ".join(f"len(regexp_extract_all(lower(text), '{pat}')) AS c_{lg}" for lg, pat in _LEXICONS)}
      FROM documents)
    SELECT doc_id, lang AS true_lang,
      CASE
        WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_zh THEN 'en'
        WHEN c_de >= c_fr AND c_de >= c_es AND c_de >= c_zh THEN 'de'
        WHEN c_fr >= c_es AND c_fr >= c_zh THEN 'fr'
        WHEN c_es >= c_zh THEN 'es'
        ELSE 'zh' END AS pred_lang
    FROM c ORDER BY doc_id
    """,
)
def p_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    counts = {
        lg: F.size(
            F.expr(
                "regexp_extract_all(lower(text), '"
                + pat.replace("\\", "\\\\")
                + "', 0)"
            )
        )
        for lg, pat in _LEXICONS
    }
    c = d.select("doc_id", "lang", *[v.alias(f"c_{k}") for k, v in counts.items()])
    en, de, fr, es, zh = (F.col(f"c_{k}") for k in ("en", "de", "fr", "es", "zh"))
    pred = (
        F.when((en >= de) & (en >= fr) & (en >= es) & (en >= zh), "en")
        .when((de >= fr) & (de >= es) & (de >= zh), "de")
        .when((fr >= es) & (fr >= zh), "fr")
        .when(es >= zh, "es")
        .otherwise("zh")
    )
    return c.select(
        "doc_id", F.col("lang").alias("true_lang"), pred.alias("pred_lang")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# token counting: whitespace tokens + a BPE-ish regex tokenizer
# (letters / digits / single other-symbols)
# ---------------------------------------------------------------------------
_BPEISH = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


@register(
    "p_token_count",
    oracle=f"""
    SELECT doc_id,
      CAST(len({SQL_WORDS.format(expr="text")}) AS BIGINT) AS ws_tokens,
      CAST(len(regexp_extract_all(lower(text), '{_BPEISH}')) AS BIGINT) AS bpeish_tokens
    FROM documents ORDER BY doc_id
    """,
)
def p_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.size(words_col(F.col("text"))).cast("bigint").alias("ws_tokens"),
            F.size(
                F.expr(
                    "regexp_extract_all(lower(text), '"
                    + _BPEISH.replace("\\", "\\\\")
                    + "', 0)"
                )
            )
            .cast("bigint")
            .alias("bpeish_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# document fingerprinting: md5 of whitespace-normalized text + a rolling
# polynomial hash over word hashes (sequential fold — order-sensitive by
# design, identical fold in both engines)
# ---------------------------------------------------------------------------
@register(
    "p_doc_fingerprint",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS norm_md5,
             list_transform({SQL_WORDS.format(expr="text")},
                            t -> {sql_portable_hash("t")} % {MOD}) AS hs
      FROM documents)
    SELECT doc_id, norm_md5,
           list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                       (acc, x) -> (acc * 31 + x) % {MOD}) AS rolling_hash
    FROM w ORDER BY doc_id
    """,
)
def p_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    norm = F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))))
    hashes = F.transform(words_col(F.col("text")), lambda t: portable_hash(t) % MOD)
    rolling = F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % MOD,
    )
    return d.select(
        "doc_id", norm.alias("norm_md5"), rolling.alias("rolling_hash")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# top-k words per language (the canonical corpus word count, stopwords
# removed): explode → filter → count → windowed top-k. One shuffle on
# (lang, word) with map-side partial counts; the top-k is per-group
# TakeOrdered, never a global sort.
# ---------------------------------------------------------------------------
@register(
    "p_top_words",
    oracle=f"""
    WITH w AS (
      SELECT lang, lower(w) AS word
      FROM (SELECT lang, unnest({SQL_WORDS.format(expr="text")}) AS w FROM documents)
      WHERE NOT regexp_matches(lower(w), '^{_STOPWORDS}$')),
    counts AS (
      SELECT lang, word, COUNT(*) AS n FROM w GROUP BY lang, word)
    SELECT lang, word, n, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY n DESC, word) AS rnk
      FROM counts)
    WHERE rnk <= 10
    ORDER BY lang, rnk
    """,
)
def p_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    w = (
        d.select("lang", F.explode(words_col(F.col("text"))).alias("w"))
        .select("lang", F.lower("w").alias("word"))
        .where(~F.col("word").rlike(f"^{_STOPWORDS}$"))
    )
    counts = w.groupBy("lang", "word").agg(F.count("*").alias("n"))
    win = Window.partitionBy("lang").orderBy(F.desc("n"), "word")
    return (
        counts.withColumn("rnk", F.row_number().over(win).cast("int"))
        .where(F.col("rnk") <= 10)
        .orderBy("lang", "rnk")
    )


# ---------------------------------------------------------------------------
# vocabulary building: global word counts → top-1000 vocab with dense
# ids (frequency rank, ties broken lexically) — the tokenizer-training
# step of a text pipeline.
#
# Scale design: the count is one shuffle on word with map-side partial
# counts; top-N is orderBy().limit() → TakeOrdered (per-partition
# heaps, driver merge of N·P rows — never a global sort of the
# vocabulary space). The row_number window then runs over only the N
# surviving rows, so its single-partition layout is harmless by
# construction.
# ---------------------------------------------------------------------------
_VOCAB_N = 1000


@register(
    "p_vocab_build",
    oracle=f"""
    WITH counts AS (
      SELECT lower(w) AS word, COUNT(*) AS n
      FROM (SELECT unnest({SQL_WORDS.format(expr="text")}) AS w FROM documents)
      GROUP BY lower(w)),
    top AS (
      SELECT word, n FROM counts ORDER BY n DESC, word LIMIT {_VOCAB_N})
    SELECT word, n,
      CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) - 1 AS INT) AS vocab_id
    FROM top ORDER BY vocab_id
    """,
)
def p_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(words_col(F.col("text"))).alias("w"))
        .select(F.lower("w").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), "word").limit(_VOCAB_N)
    w = Window.orderBy(F.desc("n"), "word")
    return (
        top.withColumn("vocab_id", (F.row_number().over(w) - 1).cast("int"))
        .orderBy("vocab_id")
    )


# ---------------------------------------------------------------------------
# bigram language model: per-language bigram counts with add-one
# smoothed conditional probabilities P(w2|w1) — the count table an
# n-gram LM (or a data-selection perplexity filter) trains from.
#
# Scale design: bigrams come from zipping each words array with its
# own tail (arrays_zip of two slices — JVM-side, no self-join, no
# UDF); the only shuffles are the groupBys on (lang, w1, w2) /
# (lang, w1), both with map-side partial aggregation, plus one
# per-lang distinct for the smoothing vocabulary. Top-15 per lang is
# a per-group window, never a global sort.
# ---------------------------------------------------------------------------
_LM_TOP = 15


@register(
    "p_ngram_lm",
    oracle=f"""
    WITH t AS (
      SELECT lang, {SQL_WORDS.format(expr="lower(text)")} AS ws FROM documents),
    bg AS (
      SELECT lang,
        unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                              i -> ws[i] || ' ' || ws[i + 1])) AS bgm
      FROM t),
    b2 AS (
      SELECT lang, split_part(bgm, ' ', 1) AS w1, split_part(bgm, ' ', 2) AS w2
      FROM bg),
    c12 AS (SELECT lang, w1, w2, COUNT(*) AS n FROM b2 GROUP BY lang, w1, w2),
    c1 AS (SELECT lang, w1, COUNT(*) AS n1 FROM b2 GROUP BY lang, w1),
    v AS (SELECT lang, COUNT(DISTINCT w2) AS v FROM b2 GROUP BY lang)
    SELECT lang, w1, w2, n,
      ROUND(CAST(n + 1 AS DOUBLE) / (n1 + v), 6) AS prob,
      CAST(rnk AS INT) AS rnk
    FROM (
      SELECT c12.lang, w1, w2, n, n1, v.v,
        ROW_NUMBER() OVER (PARTITION BY c12.lang
                           ORDER BY n DESC, w1, w2) AS rnk
      FROM c12 JOIN c1 USING (lang, w1) JOIN v USING (lang))
    WHERE rnk <= {_LM_TOP}
    ORDER BY lang, rnk
    """,
)
def p_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    t = d.select("lang", words_col(F.lower(F.col("text"))).alias("ws"))
    tail_len = F.greatest(F.size("ws") - 1, F.lit(0))
    bg = t.select(
        "lang",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("ws"), 1, tail_len).alias("w1"),
                F.slice(F.col("ws"), 2, tail_len).alias("w2"),
            )
        ).alias("b"),
    ).select("lang", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c12 = bg.groupBy("lang", "w1", "w2").agg(F.count("*").alias("n"))
    c1 = bg.groupBy("lang", "w1").agg(F.count("*").alias("n1"))
    v = bg.groupBy("lang").agg(F.countDistinct("w2").alias("v"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "w1", "w2")
    return (
        c12.join(c1, ["lang", "w1"])
        .join(v, "lang")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= _LM_TOP)
        .select(
            "lang",
            "w1",
            "w2",
            "n",
            F.round((F.col("n") + 1).cast("double") / (F.col("n1") + F.col("v")), 6)
            .alias("prob"),
            "rnk",
        )
        .orderBy("lang", "rnk")
    )


# ---------------------------------------------------------------------------
# quality-filter admission dashboard: the decision feed a corpus
# curation pipeline publishes — per (lang, source), how many documents
# pass the standing quality gate and how many tokens survive.
# Reuses p_text_stats' metric definitions so the gate and the stats
# view can never drift apart.
#
# Scale design: one scan computing all per-doc metrics as narrow
# codegen expressions, one groupBy (lang, source) with conditional
# aggregates — counts-only output, nothing wide leaves the executors.
# ---------------------------------------------------------------------------
@register(
    "p_quality_filter",
    oracle=f"""
    WITH m AS (
      SELECT lang, source,
        CAST(len({SQL_WORDS.format(expr="text")}) AS BIGINT) AS n_words,
        CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE)
          / greatest(n_chars, 1) AS punct_ratio,
        CAST(len(regexp_extract_all(lower(text), '\\b{_STOPWORDS}\\b')) AS DOUBLE)
          / greatest(len({SQL_WORDS.format(expr="text")}), 1) AS stop_ratio
      FROM documents),
    g AS (
      SELECT lang, source, n_words,
        (n_words BETWEEN 30 AND 5000
         AND punct_ratio <= 0.15 AND stop_ratio >= 0.01) AS pass
      FROM m)
    SELECT lang, source,
      COUNT(*) AS n_docs,
      CAST(COUNT(*) FILTER (WHERE pass) AS BIGINT) AS n_pass,
      ROUND(CAST(COUNT(*) FILTER (WHERE pass) AS DOUBLE) / COUNT(*), 6)
        AS pass_rate,
      CAST(COALESCE(SUM(n_words) FILTER (WHERE pass), 0) AS BIGINT)
        AS kept_tokens
    FROM g GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def p_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = words_col(F.col("text"))
    n_words = F.size(words).cast("bigint")
    n_punct = F.size(F.expr("regexp_extract_all(text, '\\\\p{Punct}', 0)"))
    n_stop = F.size(
        F.expr(f"regexp_extract_all(lower(text), '\\\\b{_STOPWORDS}\\\\b', 0)")
    )
    punct_ratio = n_punct.cast("double") / F.greatest(F.col("n_chars"), F.lit(1))
    stop_ratio = n_stop.cast("double") / F.greatest(F.size(words), F.lit(1))
    g = d.select(
        "lang",
        "source",
        n_words.alias("n_words"),
        (
            n_words.between(30, 5000)
            & (punct_ratio <= 0.15)
            & (stop_ratio >= 0.01)
        ).alias("pass"),
    )
    return (
        g.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if("pass").cast("bigint").alias("n_pass"),
            F.round(F.count_if("pass").cast("double") / F.count("*"), 6).alias(
                "pass_rate"
            ),
            F.coalesce(F.sum(F.when(F.col("pass"), F.col("n_words"))), F.lit(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# inverted index: word -> document-frequency + head of the posting
# list. The IR/dedup-support structure (contamination checks, keyword
# routing) in its buildable-at-scale form.
#
# Scale design: the naive collect_list-per-word holds a hot word's
# ENTIRE posting list in one aggregation buffer — unbounded for
# stopwords at 100 TB. So the posting head is bounded BEFORE
# collection: one window pass on the (word, doc_id) pairs computes df
# and ranks doc_ids per word, only rank<=20 rows reach the
# collect_list. The window and the groupBy share the same shuffle key
# (word), so this is one exchange total.
# ---------------------------------------------------------------------------
_POSTINGS_HEAD = 20
_INDEX_TOP = 50


@register(
    "p_inverted_index",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT doc_id, lower(w) AS word
      FROM (SELECT doc_id, unnest({SQL_WORDS.format(expr="text")}) AS w
            FROM documents)),
    r AS (
      SELECT word, doc_id,
        COUNT(*) OVER (PARTITION BY word) AS df,
        ROW_NUMBER() OVER (PARTITION BY word ORDER BY doc_id) AS rn
      FROM pairs)
    SELECT word, CAST(df AS BIGINT) AS df,
      array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',')
        AS postings_head
    FROM r WHERE rn <= {_POSTINGS_HEAD}
    GROUP BY word, df
    ORDER BY df DESC, word LIMIT {_INDEX_TOP}
    """,
)
def p_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    pairs = (
        d.select("doc_id", F.explode(words_col(F.col("text"))).alias("w"))
        .select("doc_id", F.lower("w").alias("word"))
        .distinct()
    )
    wdf = Window.partitionBy("word")
    wrn = Window.partitionBy("word").orderBy("doc_id")
    r = pairs.select(
        "word",
        "doc_id",
        F.count("*").over(wdf).alias("df"),
        F.row_number().over(wrn).alias("rn"),
    ).where(F.col("rn") <= _POSTINGS_HEAD)
    return (
        r.groupBy("word", "df")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head")
        )
        .orderBy(F.desc("df"), "word")
        .limit(_INDEX_TOP)
    )


# ---------------------------------------------------------------------------
# tokenizer APPLICATION: encode every document against the top-N vocab
# p_vocab_build trains — per-token vocab ids (OOV = -1), the per-doc
# OOV rate a coverage dashboard watches, and an order-sensitive
# id-sequence checksum (position-weighted exact sum) that pins the
# EXACT encoded sequence, so two runs provably tokenize identically.
#
# Scale design: the vocabulary is top-N by construction, so it
# broadcasts; encoding is explode → broadcast left join → per-doc
# aggregate (shuffle keyed by doc_id, uniform). The checksum terms are
# decimal-cast before the sum — exact, order-independent, overflow-
# free — the same trick as p_shard_assign's position checksum.
# ---------------------------------------------------------------------------
_CK_MOD = 2147483647


@register(
    "p_tokenize_apply",
    oracle=f"""
    WITH counts AS (
      SELECT lower(w) AS word, COUNT(*) AS n
      FROM (SELECT unnest({SQL_WORDS.format(expr="text")}) AS w FROM documents)
      GROUP BY lower(w)),
    top AS (
      SELECT word, n FROM counts ORDER BY n DESC, word LIMIT 1000),
    vocab AS (
      SELECT word,
        CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) - 1 AS INT) AS vocab_id
      FROM top),
    toks AS (
      SELECT doc_id, u.pos AS pos, u.word AS word FROM (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(ws)),
                                i -> {{'pos': i, 'word': lower(ws[i])}})) AS u
        FROM (SELECT doc_id, {SQL_WORDS.format(expr="text")} AS ws
              FROM documents))),
    ids AS (
      SELECT toks.doc_id, toks.pos,
             COALESCE(v.vocab_id, -1) AS tok_id
      FROM toks LEFT JOIN vocab v ON toks.word = v.word)
    SELECT doc_id,
      COUNT(*) AS n_tokens,
      CAST(COUNT(*) FILTER (WHERE tok_id = -1) AS BIGINT) AS n_oov,
      ROUND(CAST(COUNT(*) FILTER (WHERE tok_id = -1) AS DOUBLE) / COUNT(*), 6)
        AS oov_rate,
      CAST(SUM(CAST((pos * 31 + tok_id + 1) % {_CK_MOD} AS DECIMAL(38,0)))
           % {_CK_MOD} AS BIGINT) AS ids_checksum
    FROM ids GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def p_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(words_col(F.col("text"))).alias("w"))
        .select(F.lower("w").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql.window import Window

    vocab = (
        counts.orderBy(F.desc("n"), "word")
        .limit(1000)
        .withColumn(
            "vocab_id",
            (F.row_number().over(Window.orderBy(F.desc("n"), "word")) - 1).cast("int"),
        )
        .select("word", "vocab_id")
    )
    toks = (
        d.select("doc_id", words_col(F.col("text")).alias("ws"))
        .select("doc_id", F.posexplode("ws").alias("pos0", "w"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), F.lower("w").alias("word"))
    )
    ids = toks.join(F.broadcast(vocab), "word", "left").select(
        "doc_id", "pos", F.coalesce("vocab_id", F.lit(-1)).alias("tok_id")
    )
    oov = F.sum(F.when(F.col("tok_id") == -1, 1).otherwise(0))
    return (
        ids.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            oov.cast("bigint").alias("n_oov"),
            F.round(oov.cast("double") / F.count("*"), 6).alias("oov_rate"),
            (
                F.sum(
                    ((F.col("pos") * 31 + F.col("tok_id") + 1) % _CK_MOD).cast(
                        "decimal(38,0)"
                    )
                )
                % _CK_MOD
            )
            .cast("bigint")
            .alias("ids_checksum"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# TF-IDF document keyword extraction: per-document term frequency ×
# smoothed inverse document frequency (sklearn's ln((N+1)/(df+1)) + 1),
# top-3 keywords per document — the classic relevance-weighting step a
# corpus-curation pipeline runs before topic/domain tagging.
#
# Scale design: tf is one shuffle on (doc_id, word) with map-side
# partial counts; df re-aggregates the ALREADY-collapsed (doc, word)
# pairs (one row per posting, never per occurrence); the corpus size N
# is a 1-row aggregate broadcast into the vocab-sized df table (q44's
# 1-row-build nested-loop pattern — plan-audit allowlisted); the idf
# table (one row per distinct word) then broadcast-joins back onto the
# postings, so the corpus-sized side never shuffles twice. The top-3
# window is bounded per doc_id.
#
# Determinism: idf's ln runs on identical (N, df) integers in both
# engines (same-libm doubles — the p_lm_score precedent); tfidf is a
# single per-row multiply rounded at 6 dp before ranking, ties broken
# by word.
# ---------------------------------------------------------------------------
@register(
    "p_tfidf",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, lower(w) AS word, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest({SQL_WORDS.format(expr="text")}) AS w
            FROM documents)
      GROUP BY doc_id, lower(w)),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    idf AS (
      SELECT word, COUNT(*) AS df,
             ln((n.n_docs + 1.0) / (COUNT(*) + 1.0)) + 1.0 AS idf
      FROM tf, n GROUP BY word, n.n_docs),
    scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, idf.df,
             ROUND(tf.tf * idf.idf, 6) AS tfidf
      FROM tf JOIN idf ON tf.word = idf.word)
    SELECT doc_id, word, tf, df, tfidf, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rnk
      FROM scored)
    WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
)
def p_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(words_col(F.col("text"))).alias("w"))
        .select("doc_id", F.lower("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    idf = (
        tf.groupBy("word")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "word",
            "df",
            (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0).alias("idf"),
        )
    )
    scored = tf.join(F.broadcast(idf), "word").select(
        "doc_id", "word", "tf", "df", F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 3)
        .orderBy("doc_id", "rnk")
    )


# ---------------------------------------------------------------------------
# PII scrubbing: the redaction pass every public-corpus pipeline runs
# before training — emails, phone numbers, and IPv4 addresses replaced
# with typed placeholder tokens, with per-document redaction counts
# for the audit trail. The synthetic corpus carries no PII, so the
# entry plants it deterministically first (the codec modules'
# synth-rule pattern: the oracle reproduces the planting AND the
# scrubbing independently, so a missed or over-eager redaction fails
# the value hash).
#
# Scale design: single scan-stage projection — regexp_extract_all
# counts + chained regexp_replace, all JVM-side codegen, zero
# shuffles. Patterns are RE2-safe (no backrefs/lookarounds) so the
# same text compiles identically in both engines.
# ---------------------------------------------------------------------------
_PII_EMAIL = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+"
_PII_PHONE = "[0-9]{3}-[0-9]{4}"
_PII_IP = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"


@register(
    "p_pii_scrub",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
        text || CASE doc_id % 4
          WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
          WHEN 1 THEN ' call 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' today'
          WHEN 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                      || CAST(doc_id % 100 AS VARCHAR) || ' logged'
          ELSE '' END AS text
      FROM documents),
    scrubbed AS (
      SELECT doc_id, text,
        regexp_replace(regexp_replace(regexp_replace(text,
          '{_PII_EMAIL}', '<EMAIL>', 'g'),
          '{_PII_PHONE}', '<PHONE>', 'g'),
          '{_PII_IP}', '<IP>', 'g') AS clean
      FROM planted)
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_emails,
      CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT) AS n_phones,
      CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS INT) AS n_ips,
      CAST(len(text) AS INT) AS orig_len,
      CAST(len(clean) AS INT) AS clean_len,
      md5(clean) AS clean_md5
    FROM scrubbed ORDER BY doc_id
    """,
)
def p_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    plant = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(" call 555-"),
                (1000 + F.col("doc_id") % 9000).cast("string"),
                F.lit(" today"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 100).cast("string"),
                F.lit(" logged"),
            ),
        )
        .otherwise(F.lit("")),
    )
    planted = d.select("doc_id", plant.alias("text"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return planted.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{_PII_EMAIL}', 0)"))
        .cast("int")
        .alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(text, '{_PII_PHONE}', 0)"))
        .cast("int")
        .alias("n_phones"),
        F.size(F.expr(f"regexp_extract_all(text, '{_PII_IP}', 0)"))
        .cast("int")
        .alias("n_ips"),
        F.length("text").cast("int").alias("orig_len"),
        F.length(clean).cast("int").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE-style tokenizer training: the iterative pair-merge loop at the
# heart of every modern tokenizer (Sennrich et al.) — count adjacent
# symbol pairs across the weighted vocabulary, merge the most
# frequent pair everywhere, repeat. Four merge rounds here; a real
# run changes the iteration count, not the plumbing. Output is the
# merge table itself (the artifact a tokenizer ships) plus the symbol
# inventory size after each merge.
#
# Words travel as delimiter-encoded symbol strings ("|a|b|c|") so the
# merge is two literal replace() passes — both engines share the
# exact non-overlapping left-to-right replace semantics (verified:
# '|a|a|a|a|' -> '|aa|a|a|' -> '|aa|aa|'), so parity holds by
# construction. The greedy two-pass merge is documented as the
# operator's semantics.
#
# Scale design (round-6 rewrite — DELTA pair-count maintenance): the
# corpus collapses to the weighted VOCABULARY once (one row per
# distinct word); after that, each merge round touches only the words
# CONTAINING the merged pair. The pair-count table is maintained
# incrementally — counts_new = counts − pairs(touched_before) +
# pairs(touched_after) — instead of re-exploding every word's pairs
# every round (the round-5 shape, which made a 32k-merge train 32k
# full-vocab pair shuffles). The symbol census is maintained the same
# way (a symbols-occurrence table of alphabet+merges size, hundreds of
# rows), so each round runs exactly ONE Spark action: a combined
# collect of (post-merge symbol count × next argmax pair) that
# materializes the round's three lazy localCheckpoints (new vocab, new
# pair counts, new symbol counts) in a single job. The only full-vocab
# work per round is the contains-filter + replace scan — no shuffle —
# which any BPE trainer must do to apply the merge. Exactness of the
# delta (counts table == full recount after every merge) is pinned by
# a 64-merge property test (tests/test_bpe.py).
# ---------------------------------------------------------------------------
_BPE_ITERS = 4


def _sql_bpe_chars(src: str) -> str:
    return f"list_filter(string_split({src}, '|'), x -> x <> '')"


def _sql_bpe_iter(i: int) -> str:
    """One unrolled merge round: pair counts → 1-row argmax → two-pass
    literal replace → post-merge symbol census."""
    prev = f"w{i - 1}"
    return f"""
    p{i} AS (
      SELECT struct_extract(u, 'a') AS a, struct_extract(u, 'b') AS b,
             SUM(n) AS cnt
      FROM (
        SELECT unnest(list_transform(generate_series(1, len(cs) - 1),
                 k -> {{'a': cs[k], 'b': cs[k+1]}})) AS u, n
        FROM (SELECT {_sql_bpe_chars("syms")} AS cs, n FROM {prev}))
      GROUP BY a, b),
    b{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
    w{i} AS (
      SELECT replace(replace(w.syms,
               '|' || b.a || '|' || b.b || '|', '|' || b.a || b.b || '|'),
               '|' || b.a || '|' || b.b || '|', '|' || b.a || b.b || '|')
             AS syms, w.n
      FROM {prev} w, b{i} b),
    s{i} AS (
      SELECT COUNT(DISTINCT s) AS ns FROM (
        SELECT unnest({_sql_bpe_chars("syms")}) AS s FROM w{i}))"""


def _bpe_chars():
    return F.filter(F.split("syms", r"\|"), lambda x: x != F.lit(""))


def _bpe_pair_rows(df: DataFrame, sign: int) -> DataFrame:
    """(syms, n) → signed adjacent-pair count rows (a, b, cnt=sign·n
    per occurrence) — the delta unit of the incremental pair table."""
    cs = df.select(_bpe_chars().alias("cs"), "n")
    return cs.select(
        F.explode(
            F.when(
                F.size("cs") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("cs") - 1),
                    lambda k: F.struct(
                        F.element_at(F.col("cs"), k).alias("a"),
                        F.element_at(F.col("cs"), k + 1).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("u"),
        "n",
    ).select("u.a", "u.b", (F.lit(sign) * F.col("n")).cast("long").alias("cnt"))


def _bpe_sym_rows(df: DataFrame, sign: int) -> DataFrame:
    """(syms, n) → signed symbol-occurrence rows; the census table
    (alphabet + one row per merge) tracks which symbols still occur."""
    return df.select(F.explode(_bpe_chars()).alias("s")).select(
        "s", F.lit(sign).cast("long").alias("cnt")
    )


def bpe_train_merges(spark: SparkSession, vocab: DataFrame, n_merges: int):
    """Run `n_merges` BPE merge rounds over a weighted vocabulary
    (word, n) with DELTA pair-count maintenance: one Spark action per
    round. Returns [(iter, left, right, pair_count, n_symbols), ...]
    (stops early if no pair remains). Split out of the registered
    entry so the 64-merge property test can drive it directly."""
    w = vocab.select(
        F.concat(
            F.lit("|"), F.array_join(F.split("word", ""), "|"), F.lit("|")
        ).alias("syms"),
        "n",
    ).localCheckpoint(eager=True)
    # The per-round vocab update below is untouched ∪ touched_new — a
    # UNION, which concatenates partitions. Without re-bounding, the
    # checkpointed vocab DOUBLES its partition count every round
    # (2^r growth: the 64-merge property test hit stages with 257k
    # tasks before this coalesce). A narrow coalesce back to the
    # original count keeps every round at P0 tasks with no shuffle.
    p0 = max(w.rdd.getNumPartitions(), 1)
    counts = (
        _bpe_pair_rows(w, 1)
        .groupBy("a", "b")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    syms = (
        _bpe_sym_rows(w, 1)
        .groupBy("s")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    first = counts.orderBy(F.desc("cnt"), "a", "b").limit(1).collect()
    if not first:
        return []
    best = first[0]
    out_rows = []
    for it in range(1, n_merges + 1):
        pat = f"|{best['a']}|{best['b']}|"
        rep = f"|{best['a']}{best['b']}|"
        touched = w.where(F.col("syms").contains(pat))
        touched_new = touched.select(
            F.replace(
                F.replace(F.col("syms"), F.lit(pat), F.lit(rep)),
                F.lit(pat),
                F.lit(rep),
            ).alias("syms"),
            "n",
        )
        w_new = (
            w.where(~F.col("syms").contains(pat))
            .unionByName(touched_new)
            .coalesce(p0)
        ).localCheckpoint(eager=False)
        # delta maintenance: only pairs/symbols of touched words change
        counts_new = (
            counts.unionByName(_bpe_pair_rows(touched, -1))
            .unionByName(_bpe_pair_rows(touched_new, 1))
            .groupBy("a", "b")
            .agg(F.sum("cnt").alias("cnt"))
            .where(F.col("cnt") > 0)
        ).localCheckpoint(eager=False)
        syms_new = (
            syms.unionByName(_bpe_sym_rows(touched, -1))
            .unionByName(_bpe_sym_rows(touched_new, 1))
            .groupBy("s")
            .agg(F.sum("cnt").alias("cnt"))
            .where(F.col("cnt") > 0)
        ).localCheckpoint(eager=False)
        # ONE action per round: census of this merge × argmax for the
        # next, materializing all three lazy checkpoints in one job
        census = syms_new.agg(F.count("*").alias("ns"))
        nxt = (
            counts_new.orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .select(
                F.col("a").alias("na"),
                F.col("b").alias("nb"),
                F.col("cnt").alias("ncnt"),
            )
        )
        row = census.join(nxt, F.lit(True), "left").collect()[0]
        out_rows.append((it, best["a"], best["b"], int(best["cnt"]), int(row["ns"])))
        w, counts, syms = w_new, counts_new, syms_new
        if row["na"] is None:  # no pair left anywhere — vocab exhausted
            break
        best = {"a": row["na"], "b": row["nb"], "cnt": row["ncnt"]}
    return out_rows


# The learned merge list is a pure function of (sf_dir, n_merges) over
# the immutable testdata, and the trainer is driver-sequenced (one job
# per merge) — so p_bpe_train and p_bpe_apply sharing a run should not
# pay for two runs. Plain-Python rows keyed like q67's bucket cache;
# safe across SparkSessions because nothing Spark-owned is retained.
_MERGE_CACHE: dict[tuple[str, int], list] = {}


def _corpus_merges(
    spark: SparkSession, sf_dir: str, n_merges: int, force: bool = False
) -> list:
    """``force=True`` always retrains (and refreshes the cache):
    p_bpe_train IS the trainer, so its benchmark must measure real
    training, never a cache hit; p_bpe_apply is the artifact CONSUMER
    and legitimately reuses the freshest learned merges."""
    # keyed by the RESOLVED path (ADVICE r7): two corpora whose dirs
    # share a leaf name (/a/sf0.1 vs /b/sf0.1) must not collide — a
    # basename key could silently serve merges trained elsewhere
    key = (os.path.realpath(sf_dir), n_merges)
    if force or key not in _MERGE_CACHE:
        d = table(spark, sf_dir, "documents")
        vocab = (
            d.select(F.explode(words_col(F.col("text"))).alias("w"))
            .select(F.lower("w").alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("n"))
        )
        _MERGE_CACHE[key] = bpe_train_merges(spark, vocab, n_merges)
    return _MERGE_CACHE[key]


@register(
    "p_bpe_train",
    oracle=f"""
    WITH vocab AS (
      SELECT lower(w) AS word, COUNT(*) AS n
      FROM (SELECT unnest({SQL_WORDS.format(expr="text")}) AS w FROM documents)
      GROUP BY lower(w)),
    w0 AS (
      SELECT '|' || array_to_string(regexp_split_to_array(word, ''), '|')
             || '|' AS syms, n
      FROM vocab),
    {",".join(_sql_bpe_iter(i) for i in range(1, _BPE_ITERS + 1))}
    {" UNION ALL ".join(
        f"SELECT {i} AS iter, a AS left_sym, b AS right_sym, "
        f"CAST(cnt AS BIGINT) AS pair_count, "
        f"(SELECT CAST(ns AS BIGINT) FROM s{i}) AS n_symbols FROM b{i}"
        for i in range(1, _BPE_ITERS + 1)
    )}
    ORDER BY iter
    """,
)
def p_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_rows = _corpus_merges(spark, sf_dir, _BPE_ITERS, force=True)
    return local_frame(
        spark,
        out_rows,
        "iter INT, left_sym STRING, right_sym STRING, "
        "pair_count BIGINT, n_symbols BIGINT",
    ).orderBy("iter")


# ---------------------------------------------------------------------------
# BPE tokenizer APPLICATION: the other half of the train->apply loop.
# The 4 learned merges (the artifact p_bpe_train ships) are applied to
# every document — each merge is the same greedy two-pass literal
# replace the trainer used — and the per-document token count drops
# accordingly. The merge table is tiny (driver-side literals baked into
# the column expression), so application is a PURE SCAN-STAGE transform:
# no Python, no shuffle except the final doc_id aggregate.
#
# At 100 TB: this is the shape of production tokenization — broadcast
# the merge rules, encode each partition independently, aggregate
# counts. A real 32k-merge tokenizer replaces the replace-chain with a
# trie/regex pass inside mapInPandas (p_tokenize_apply shows that
# path); the 4-merge chain keeps this entry's whole pipeline (train on
# the corpus, then encode the corpus) under one exact SQL oracle.
# ---------------------------------------------------------------------------
def _sql_bpe_apply_merges(expr: str) -> str:
    """Nested two-pass replace() of the b1..b4 merge scalars."""
    s = expr
    for i in range(1, _BPE_ITERS + 1):
        pat = f"'|' || b{i}.a || '|' || b{i}.b || '|'"
        rep = f"'|' || b{i}.a || b{i}.b || '|'"
        s = f"replace(replace({s}, {pat}, {rep}), {pat}, {rep})"
    return s


@register(
    "p_bpe_apply",
    oracle=f"""
    WITH vocab AS (
      SELECT lower(w) AS word, COUNT(*) AS n
      FROM (SELECT unnest({SQL_WORDS.format(expr="text")}) AS w FROM documents)
      GROUP BY lower(w)),
    w0 AS (
      SELECT '|' || array_to_string(regexp_split_to_array(word, ''), '|')
             || '|' AS syms, n
      FROM vocab),
    {",".join(_sql_bpe_iter(i) for i in range(1, _BPE_ITERS + 1))},
    dw AS (
      SELECT doc_id, lower(w) AS word
      FROM (SELECT doc_id, unnest({SQL_WORDS.format(expr="text")}) AS w
            FROM documents)),
    enc AS (
      SELECT doc_id, word,
        {_sql_bpe_apply_merges(
            "'|' || array_to_string(regexp_split_to_array(word, ''), '|') || '|'"
        )} AS s
      FROM dw, b1, b2, b3, b4)
    SELECT doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_words,
      CAST(SUM(length(word)) AS BIGINT) AS n_chars,
      CAST(SUM(len(list_filter(string_split(s, '|'), x -> x <> '')))
           AS BIGINT) AS n_tokens
    FROM enc GROUP BY doc_id ORDER BY doc_id
    """,
)
def p_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    merges = _corpus_merges(spark, sf_dir, _BPE_ITERS)
    # spread: the 1-split testdata scan would otherwise run the whole
    # explode + replace-chain on one core (see common.spread)
    dw = spread(d).select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("w")
    ).select("doc_id", F.lower("w").alias("word"))
    s = F.concat(
        F.lit("|"), F.array_join(F.split("word", ""), "|"), F.lit("|")
    )
    for _it, a, b, _cnt, _ns in merges:
        pat, rep = F.lit(f"|{a}|{b}|"), F.lit(f"|{a}{b}|")
        s = F.replace(F.replace(s, pat, rep), pat, rep)
    enc = dw.select(
        "doc_id",
        F.length("word").cast("long").alias("n_chars"),
        F.size(F.filter(F.split(s, r"\|"), lambda x: x != F.lit("")))
        .cast("long")
        .alias("n_tok"),
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p_unicode_nfc — Unicode normalization, the first cleaning pass of
# every multilingual corpus pipeline (NFC makes byte-identical what is
# canonically identical: 'e' + COMBINING ACUTE and precomposed U+00E9
# are the same text but different bytes, so every downstream exact /
# MinHash dedup and token count disagrees until normalization).
#
# The corpus fixture text is pure ASCII, so the entry DECORATES it
# deterministically first (odd doc_ids: every 'e' becomes the
# decomposed pair e+U+0301) — both engines build the identical
# decorated string, then normalize independently: Spark with Python
# unicodedata.normalize('NFC') inside an Arrow mapInPandas batch,
# DuckDB with its native nfc_normalize. The value hash covers the
# normalized string itself (JVM-side portable md5), so the two
# engines' normalizers must agree codepoint-for-codepoint, and the
# char counts pin the composition actually happening (decorated
# length > NFC length on every odd row).
#
# Scale notes (100 TB): decoration is scan-stage JVM replace; the
# normalize pass is the one unavoidable Python boundary (the JVM has
# no NFC builtin) — Arrow-batched, no shuffle, ~memory-bandwidth
# throughput; everything after (length, hash, ordering) is JVM again.
# ---------------------------------------------------------------------------
_NFC_COMBINING = "́"  # COMBINING ACUTE ACCENT


@register(
    "p_unicode_nfc",
    oracle=f"""
    WITH dec AS (
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 1
             THEN replace(text, 'e', 'e' || chr(769))
             ELSE text END AS t
      FROM documents)
    SELECT doc_id,
      CAST(length(t) AS BIGINT) AS n_chars_decorated,
      CAST(length(nfc_normalize(t)) AS BIGINT) AS n_chars_nfc,
      (length(t) <> length(nfc_normalize(t))) AS changed,
      {sql_portable_hash("nfc_normalize(t)")} AS nfc_hash
    FROM dec ORDER BY doc_id
    """,
)
def p_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import unicodedata

    import pandas as pd

    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    decorated = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 1,
            F.replace(F.col("text"), F.lit("e"), F.lit("e" + _NFC_COMBINING)),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )

    def normalize_batches(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_chars_decorated": [len(s) for s in pdf["t"]],
                    "nfc": [
                        unicodedata.normalize("NFC", s) for s in pdf["t"]
                    ],
                }
            )

    out = decorated.mapInPandas(
        normalize_batches, "doc_id BIGINT, n_chars_decorated BIGINT, nfc STRING"
    )
    return out.select(
        "doc_id",
        "n_chars_decorated",
        F.length("nfc").cast("long").alias("n_chars_nfc"),
        (F.col("n_chars_decorated") != F.length("nfc")).alias("changed"),
        portable_hash(F.col("nfc")).alias("nfc_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Code-vs-prose detection: training mixes weight code and natural
# language differently, so a pretraining pipeline needs a cheap,
# corpus-scale signal for "this document is source code" BEFORE any
# model-based classifier. Three classic features, all computable at
# the scan: indentation structure (lines starting with a 4-space
# block), symbol density ((){}=:* per char), and reserved-word hits —
# combined into one per-100-chars score with fixed integer weights.
#
# Fixture: for doc_id % 7 == 0 the text is replaced by a deterministic
# Python-shaped snippet (3 repeated 5-line functions parameterized by
# doc_id), so both classes exist at every SF and the oracle can mirror
# the construction exactly (newlines built via chr(10) in SQL — DuckDB
# string literals do NOT interpret backslash escapes).
#
# Scale design: zero Python, zero shuffle before the 2-row label
# aggregate — every feature is a regexp_count/filter at the scan
# inside whole-stage codegen; the per-doc score never materializes
# anywhere except as an aggregate input.
# ---------------------------------------------------------------------------
_CODE_KW = r"\b(def|return|if|for|while|import|class)\b"
_CODE_SYM = "[(){}=:*]"
_CODE_THRESHOLD = 5.0


@register(
    "p_code_detect",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 THEN
          repeat('def fn_' || doc_id || '(x):' || chr(10)
            || '    y = x * ' || (doc_id % 9) || chr(10)
            || '    if y > 10:' || chr(10)
            || '        return y' || chr(10)
            || '    return x' || chr(10), 3)
        ELSE text END AS text
      FROM documents),
    feats AS (
      SELECT doc_id,
        len(list_filter(str_split(text, chr(10)), l -> l LIKE '    %'))
          AS indent_lines,
        len(regexp_extract_all(text, '{_CODE_SYM}')) AS symbols,
        len(regexp_extract_all(text, '{_CODE_KW}')) AS keywords,
        length(text) AS n_chars
      FROM corpus),
    scored AS (
      SELECT doc_id,
        ROUND((3 * keywords + 2 * indent_lines + symbols) * 100.0
              / n_chars, 6) AS score
      FROM feats)
    SELECT (score >= {_CODE_THRESHOLD}) AS is_code,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      ROUND(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
            / COUNT(*), 6) AS avg_score,
      CAST(MAX(score) AS DOUBLE) AS max_score
    FROM scored GROUP BY is_code ORDER BY is_code
    """,
)
def p_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    nl = F.lit("\n")
    snippet = F.concat(
        F.lit("def fn_"), F.col("doc_id").cast("string"), F.lit("(x):"), nl,
        F.lit("    y = x * "), (F.col("doc_id") % 9).cast("string"), nl,
        F.lit("    if y > 10:"), nl,
        F.lit("        return y"), nl,
        F.lit("    return x"), nl,
    )
    corpus = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.repeat(snippet, 3))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scored = corpus.select(
        "doc_id",
        F.round(
            (
                3 * F.regexp_count("text", F.lit(_CODE_KW))
                + 2
                * F.size(
                    F.filter(
                        F.split("text", "\n"),
                        lambda l: l.startswith("    "),
                    )
                )
                + F.regexp_count("text", F.lit(_CODE_SYM))
            )
            * 100.0
            / F.length("text"),
            6,
        ).alias("score"),
    )
    return (
        scored.groupBy(
            (F.col("score") >= _CODE_THRESHOLD).alias("is_code")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_score"),
            F.max("score").cast("double").alias("max_score"),
        )
        .orderBy("is_code")
    )


# ---------------------------------------------------------------------------
# Collocation mining (PMI-family): which word PAIRS co-occur far more
# often than their margins predict — the classic first step of phrase
# detection / tokenizer-vocabulary seeding (word2vec's phrase pass,
# Mikolov et al. 2013). Score = lift = n_xy * N / (n_x* * n_*y) over
# adjacent bigrams, a strictly monotone transform of PMI computed in
# EXACT integer products and ONE final double division — no logarithms,
# so there is no libm-ulp exposure anywhere (the p_lm_score lesson,
# applied by eliminating ln instead of rounding it).
#
# Scale design: bigrams never leave the scan as strings larger than
# "x y"; counts, margins, and total are three map-side-combinable
# aggregates over the same exploded frame; the final top-20 is a
# TakeOrderedAndProject (never a global sort). The margin joins are
# keyed on the word — vocabulary-sized, not corpus-sized.
# ---------------------------------------------------------------------------
_COLL_MIN_COUNT = 5


@register(
    "p_collocations",
    oracle=f"""
    WITH docs AS (
      SELECT list_transform({SQL_WORDS.format(expr="text")},
                            w -> lower(w)) AS ws
      FROM documents),
    big AS (
      SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i + 1])) AS bg
      FROM docs WHERE len(ws) >= 2),
    counts AS (SELECT bg, COUNT(*) AS n_xy FROM big GROUP BY bg),
    firsts AS (
      SELECT split_part(bg, ' ', 1) AS x, SUM(n_xy) AS nx
      FROM counts GROUP BY x),
    seconds AS (
      SELECT split_part(bg, ' ', 2) AS y, SUM(n_xy) AS ny
      FROM counts GROUP BY y),
    tot AS (SELECT SUM(n_xy) AS nb FROM counts)
    SELECT bg AS bigram, CAST(n_xy AS BIGINT) AS n_pair,
      ROUND(CAST(n_xy AS DOUBLE) * nb / (nx * ny), 6) AS lift
    FROM counts
    JOIN firsts ON split_part(bg, ' ', 1) = x
    JOIN seconds ON split_part(bg, ' ', 2) = y
    CROSS JOIN tot
    WHERE n_xy >= {_COLL_MIN_COUNT}
    ORDER BY lift DESC, bigram LIMIT 20
    """,
)
def p_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        F.transform(
            words_col(F.col("text")), lambda w: F.lower(w)
        ).alias("ws")
    ).where(F.size("ws") >= 2)
    big = d.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("ws"), i),
                    F.element_at(F.col("ws"), i + 1),
                ),
            )
        ).alias("bg")
    )
    counts = big.groupBy("bg").agg(F.count("*").alias("n_xy"))
    x_of = F.substring_index(F.col("bg"), " ", 1)
    y_of = F.substring_index(F.col("bg"), " ", -1)
    firsts = counts.groupBy(x_of.alias("x")).agg(F.sum("n_xy").alias("nx"))
    seconds = counts.groupBy(y_of.alias("y")).agg(F.sum("n_xy").alias("ny"))
    tot = counts.agg(F.sum("n_xy").alias("nb"))
    return (
        counts.where(F.col("n_xy") >= _COLL_MIN_COUNT)
        .join(firsts, x_of == F.col("x"))
        .join(seconds, y_of == F.col("y"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("bg").alias("bigram"),
            F.col("n_xy").cast("long").alias("n_pair"),
            F.round(
                F.col("n_xy").cast("double")
                * F.col("nb")
                / (F.col("nx") * F.col("ny")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "bigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Suffix-stripping stemmer (S-stemmer + ing/ed rules — the first stage
# of Porter 1980, the public standard): search/index pipelines
# normalize surface forms so "scans", "scanning", "scan" count as one
# term. The corpus vocabulary is morphologically flat by construction,
# so the fixture DECORATES it first (for doc_id % 4 == 0, each word
# gains 's'/'ing' by its portable hash — the planted-PII pattern) and
# the stemmer must fold decorated and plain forms back together:
# every decorated stem must report exactly 2 surface forms.
#
# Rules are FIRST-MATCH, guarded by length minima (the 'as'-stays-'as'
# class is kept, mirroring real S-stemmer behavior on short words):
#   sses->ss | ies->i | ss (keep) | s-> (len>3) | ing-> (len>5)
#   | ed-> (len>4)
#
# Scale design: decoration, stemming, and counting are all scan-stage
# HOF/CASE expressions; one shuffle on the stem, top-20 via
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------
def _stem_case_sql(w: str) -> str:
    return f"""CASE
      WHEN ends_with({w}, 'sses') THEN left({w}, length({w}) - 4) || 'ss'
      WHEN ends_with({w}, 'ies') AND length({w}) > 4
        THEN left({w}, length({w}) - 3) || 'i'
      WHEN ends_with({w}, 'ss') THEN {w}
      WHEN ends_with({w}, 's') AND length({w}) > 3
        THEN left({w}, length({w}) - 1)
      WHEN ends_with({w}, 'ing') AND length({w}) > 5
        THEN left({w}, length({w}) - 3)
      WHEN ends_with({w}, 'ed') AND length({w}) > 4
        THEN left({w}, length({w}) - 2)
      ELSE {w} END"""


@register(
    "p_stem_tokens",
    oracle=f"""
    WITH decorated AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0 THEN
          list_transform({SQL_WORDS.format(expr="lower(text)")}, w ->
            CASE {sql_portable_hash("w")} % 3
              WHEN 0 THEN w || 's'
              WHEN 1 THEN w || 'ing'
              ELSE w END)
        ELSE {SQL_WORDS.format(expr="lower(text)")} END AS ws
      FROM documents),
    tok AS (SELECT unnest(ws) AS w FROM decorated),
    stemmed AS (SELECT w, {_stem_case_sql("w")} AS stem FROM tok)
    SELECT stem, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      CAST(COUNT(DISTINCT w) AS BIGINT) AS n_forms
    FROM stemmed GROUP BY stem
    ORDER BY n_tokens DESC, stem LIMIT 20
    """,
)
def p_stem_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.pipeline.common import portable_hash as _ph

    def stem(w):
        ln = F.length(w)
        return (
            F.when(w.endswith("sses"), F.concat(F.substring(w, 1, ln - 4), F.lit("ss")))
            .when(
                w.endswith("ies") & (ln > 4),
                F.concat(F.substring(w, 1, ln - 3), F.lit("i")),
            )
            .when(w.endswith("ss"), w)
            .when(w.endswith("s") & (ln > 3), F.substring(w, 1, ln - 1))
            .when(w.endswith("ing") & (ln > 5), F.substring(w, 1, ln - 3))
            .when(w.endswith("ed") & (ln > 4), F.substring(w, 1, ln - 2))
            .otherwise(w)
        )

    def decorate(w):
        return (
            F.when(_ph(w) % 3 == 0, F.concat(w, F.lit("s")))
            .when(_ph(w) % 3 == 1, F.concat(w, F.lit("ing")))
            .otherwise(w)
        )

    d = table(spark, sf_dir, "documents").select(
        "doc_id", words_col(F.lower(F.col("text"))).alias("ws")
    )
    decorated = d.select(
        F.when(
            F.col("doc_id") % 4 == 0, F.transform(F.col("ws"), decorate)
        )
        .otherwise(F.col("ws"))
        .alias("ws")
    )
    tok = decorated.select(F.explode("ws").alias("w"))
    stemmed = tok.select("w", stem(F.col("w")).alias("stem"))
    return (
        stemmed.groupBy("stem")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.countDistinct("w").cast("long").alias("n_forms"),
        )
        .orderBy(F.desc("n_tokens"), "stem")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval: the scoring function real search backends
# (Lucene/Elasticsearch) run over an inverted index — p_tfidf's
# term-weighting upgraded with document-length normalization and
# saturating term frequency. Query terms ['spark','join','window'],
# Robertson parameters k1=1.2, b=0.75:
#
#   idf(t)     = ln(1 + (N - df + 0.5)/(df + 0.5))
#   score(d,t) = idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
#   bm25(d)    = sum over matched query terms
#
# Float discipline (the invariant that keeps ln-bearing scores under
# the value hash): per-term scores are computed with IDENTICAL
# expression shapes in both engines, rounded to 6 dp, cast
# DECIMAL(18,6), and summed EXACTLY — never raw doubles across rows.
#
# Scale design (100 TB): the exploded token stream is filtered to the
# query terms AT THE SCAN (three-element IN — the inverted-index
# access path collapsed into a predicate), so the aggregate shuffles
# only matching postings; df and corpus stats are one-row broadcasts;
# the final top-k is a rank over the (tiny) matched-doc set. This is
# exactly query-time BM25 over a posting-list slice, not a corpus
# scan per query.
# ---------------------------------------------------------------------------
_BM25_TERMS = ("spark", "join", "window")
_BM25_TOPK = 10


@register(
    "p_bm25_rank",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, lower(w) AS word, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest({{words}}) AS w FROM documents)
      WHERE lower(w) IN ('spark', 'join', 'window')
      GROUP BY doc_id, lower(w)),
    dl AS (SELECT doc_id, len({{words}}) AS dl FROM documents),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len({{words}})) AS BIGINT) AS total_words
          FROM documents),
    idf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word),
    scored AS (
      SELECT tf.doc_id,
        ROUND(
          ln(1.0 + (n.n_docs - idf.df + 0.5) / (idf.df + 0.5))
          * (tf.tf * 2.2)
          / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
               / (CAST(n.total_words AS DOUBLE) / n.n_docs))), 6) AS s
      FROM tf
      JOIN idf ON tf.word = idf.word
      JOIN dl ON dl.doc_id = tf.doc_id, n),
    ranked AS (
      SELECT doc_id,
        CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS bm25,
        CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM scored GROUP BY doc_id)
    SELECT doc_id, bm25, n_terms, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
          FROM ranked)
    WHERE rnk <= {_BM25_TOPK}
    ORDER BY rnk
    """.format(words=SQL_WORDS.format(expr="text")),
)
def p_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = spread(table(spark, sf_dir, "documents"))
    words = words_col(F.col("text"))
    tf = (
        d.select("doc_id", F.explode(words).alias("w"))
        .select("doc_id", F.lower("w").alias("word"))
        .where(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    dl = d.select("doc_id", F.size(words).alias("dl"))
    n = d.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(words)).cast("bigint").alias("total_words"),
    )
    idf = tf.groupBy("word").agg(F.count("*").cast("bigint").alias("df"))
    scored = (
        tf.join(F.broadcast(idf), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2
                    * (
                        F.lit(0.25)
                        + 0.75
                        * F.col("dl")
                        / (
                            F.col("total_words").cast("double")
                            / F.col("n_docs")
                        )
                    )
                ),
                6,
            ).alias("s"),
        )
    )
    ranked = scored.groupBy("doc_id").agg(
        F.sum(F.col("s").cast("decimal(18,6)")).cast("double").alias("bm25"),
        F.count("*").cast("bigint").alias("n_terms"),
    )
    # top-k FIRST (TakeOrderedAndProject — no global shuffle-sort),
    # then rank the k survivors (p_vocab_build's bounded-window shape)
    top = ranked.orderBy(F.desc("bm25"), "doc_id").limit(_BM25_TOPK)
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return top.withColumn(
        "rnk", F.row_number().over(w).cast("int")
    ).orderBy("rnk")


# ---------------------------------------------------------------------------
# Language-ID quality measurement: the confusion matrix + per-language
# precision/recall/F1 of the p_lang_id classifier against the corpus's
# labeled `lang` column — the "measure, don't guess" loop for the
# langid gate (p_knn_recall and p_minhash_recall are the same loop for
# ANN and LSH). A pipeline that filters by predicted language needs to
# KNOW its per-language error rates, because langid errors are the
# dominant contamination path for low-resource languages.
#
# All three scores are single integer divisions rendered in double
# with identical shapes (F1 uses the algebraic 2tp/(2tp+fp+fn) form —
# no intermediate precision*recall float product), so the measurement
# itself is hash-exact.
# ---------------------------------------------------------------------------
@register(
    "p_langid_confusion",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, lang,
        {", ".join(f"len(regexp_extract_all(lower(text), '{pat}')) AS c_{lg}" for lg, pat in _LEXICONS)}
      FROM documents),
    preds AS (
      SELECT lang AS t,
        CASE
          WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es
               AND c_en >= c_zh THEN 'en'
          WHEN c_de >= c_fr AND c_de >= c_es AND c_de >= c_zh THEN 'de'
          WHEN c_fr >= c_es AND c_fr >= c_zh THEN 'fr'
          WHEN c_es >= c_zh THEN 'es'
          ELSE 'zh' END AS p
      FROM c),
    conf AS (SELECT t, p, COUNT(*) AS n FROM preds GROUP BY t, p),
    per AS (
      {" UNION ALL ".join(f'''
      SELECT '{lg}' AS lang,
        CAST(COALESCE(SUM(CASE WHEN t = '{lg}' AND p = '{lg}'
                               THEN n END), 0) AS BIGINT) AS tp,
        CAST(COALESCE(SUM(CASE WHEN t <> '{lg}' AND p = '{lg}'
                               THEN n END), 0) AS BIGINT) AS fp,
        CAST(COALESCE(SUM(CASE WHEN t = '{lg}' AND p <> '{lg}'
                               THEN n END), 0) AS BIGINT) AS fn
      FROM conf''' for lg, _ in _LEXICONS)})
    SELECT lang, tp, fp, fn,
      ROUND(CAST(tp AS DOUBLE) / greatest(tp + fp, 1), 6) AS precision_,
      ROUND(CAST(tp AS DOUBLE) / greatest(tp + fn, 1), 6) AS recall_,
      ROUND(CAST(2 * tp AS DOUBLE) / greatest(2 * tp + fp + fn, 1), 6)
        AS f1
    FROM per ORDER BY lang
    """,
)
def p_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    counts = {
        lg: F.size(
            F.expr(
                "regexp_extract_all(lower(text), '"
                + pat.replace("\\", "\\\\")
                + "', 0)"
            )
        )
        for lg, pat in _LEXICONS
    }
    c = d.select(
        "lang", *[v.alias(f"c_{k}") for k, v in counts.items()]
    )
    en, de, fr, es, zh = (F.col(f"c_{k}") for k in ("en", "de", "fr", "es", "zh"))
    pred = (
        F.when((en >= de) & (en >= fr) & (en >= es) & (en >= zh), "en")
        .when((de >= fr) & (de >= es) & (de >= zh), "de")
        .when((fr >= es) & (fr >= zh), "fr")
        .when(es >= zh, "es")
        .otherwise("zh")
    )
    preds = c.select(F.col("lang").alias("t"), pred.alias("p"))
    # ONE corpus-scale aggregation to the <=25-cell confusion matrix;
    # per-language tp/fp/fn are metadata-size arithmetic over it
    conf = preds.groupBy("t", "p").agg(F.count("*").alias("n")).cache()
    legs = []
    for lg, _pat in _LEXICONS:
        legs.append(
            conf.agg(
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("t") == lg) & (F.col("p") == lg),
                            F.col("n"),
                        )
                    ),
                    F.lit(0),
                ).cast("bigint").alias("tp"),
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("t") != lg) & (F.col("p") == lg),
                            F.col("n"),
                        )
                    ),
                    F.lit(0),
                ).cast("bigint").alias("fp"),
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("t") == lg) & (F.col("p") != lg),
                            F.col("n"),
                        )
                    ),
                    F.lit(0),
                ).cast("bigint").alias("fn"),
            ).select(F.lit(lg).alias("lang"), "tp", "fp", "fn")
        )
    per = legs[0]
    for leg in legs[1:]:
        per = per.unionAll(leg)
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return per.select(
        "lang", "tp", "fp", "fn",
        F.round(tp.cast("double") / F.greatest(tp + fp, F.lit(1)), 6)
        .alias("precision_"),
        F.round(tp.cast("double") / F.greatest(tp + fn, F.lit(1)), 6)
        .alias("recall_"),
        F.round(
            (2 * tp).cast("double")
            / F.greatest(2 * tp + fp + fn, F.lit(1)),
            6,
        ).alias("f1"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# p_zipf_fit — rank-frequency (Zipf) profile: the corpus-health
# diagnostic every tokenizer/dedup decision leans on — natural text
# follows freq ~ 1/rank, so per-OCTAVE-of-rank total frequency is
# roughly constant; a corpus whose octave totals collapse is
# template spam, one whose totals explode is shredded tokenization.
# Buckets are powers of two of rank (octave = bit length of rank —
# integer, no logs anywhere), totals are exact counts, and the
# octave-to-octave decay ratio is one integer division per bucket:
# the whole fit is under the value hash.
#
# Scale design: the word count is the map-side-combinable shuffle of
# |vocab| rows; ranking then runs over the orderBy().limit(K=1023)
# SURVIVORS only (TakeOrderedAndProject — the p_vocab_build shape,
# never a vocab-sized global window), and everything beyond K is
# accounted as one exact tail row from the global aggregate (no
# silent cap). The octave table itself is <= 11 rows by construction.
# ---------------------------------------------------------------------------
_ZIPF_K = 1023  # ranks 1..1023 = octaves 1..10


@register(
    "p_zipf_fit",
    oracle=f"""
    WITH w AS (
      SELECT lower(w) AS word
      FROM (SELECT unnest({SQL_WORDS.format(expr="text")}) AS w
            FROM documents)),
    counts AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
    ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rnk
      FROM counts),
    oct AS (
      SELECT 'o' || CAST(length(bin(rnk)) AS VARCHAR) AS bucket,
        CAST(MIN(rnk) AS BIGINT) AS min_rank,
        CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(n) AS BIGINT) AS total_freq
      FROM ranked WHERE rnk <= {_ZIPF_K} GROUP BY bucket),
    tail AS (
      SELECT 'tail' AS bucket, CAST({_ZIPF_K} + 1 AS BIGINT) AS min_rank,
        CAST(GREATEST((SELECT COUNT(*) FROM counts) - {_ZIPF_K}, 0)
          AS BIGINT) AS n_words,
        CAST((SELECT SUM(n) FROM counts)
          - (SELECT SUM(total_freq) FROM oct) AS BIGINT) AS total_freq),
    allb AS (SELECT * FROM oct UNION ALL SELECT * FROM tail)
    SELECT bucket, min_rank, n_words, total_freq,
      LAG(total_freq) OVER (ORDER BY min_rank) * 1000 // 
        CASE WHEN total_freq = 0 THEN 1 ELSE total_freq END AS decay_millis
    FROM allb ORDER BY min_rank
    """,
)
def p_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(words_col(F.col("text"))).alias("w"))
        .select(F.lower("w").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    # TakeOrdered: only the K survivors are ever ranked
    top = counts.orderBy(F.desc("n"), "word").limit(_ZIPF_K)
    ranked = top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("n"), "word"))
    )
    oct_ = ranked.groupBy(
        F.concat(F.lit("o"), F.length(F.expr("bin(rnk)")).cast("string"))
        .alias("bucket")
    ).agg(
        F.min("rnk").cast("long").alias("min_rank"),
        F.count("*").alias("n_words"),
        F.sum("n").alias("total_freq"),
    )
    totals = counts.agg(
        F.count("*").alias("vocab"), F.sum("n").alias("freq")
    )
    top_totals = oct_.agg(
        F.sum("total_freq").alias("top_freq")
    )
    tail = (
        totals.crossJoin(top_totals)
        .select(
            F.lit("tail").alias("bucket"),
            F.lit(_ZIPF_K + 1).cast("long").alias("min_rank"),
            F.greatest(F.col("vocab") - _ZIPF_K, F.lit(0))
            .cast("long")
            .alias("n_words"),
            (F.col("freq") - F.col("top_freq")).alias("total_freq"),
        )
    )
    allb = oct_.unionByName(tail)
    # <= 11 rows by construction: octave table, never data
    return allb.select(
        "bucket",
        "min_rank",
        "n_words",
        "total_freq",
        F.expr(
            "lag(total_freq) over (order by min_rank) * 1000 div "
            "(case when total_freq = 0 then 1 else total_freq end)"
        ).alias("decay_millis"),
    ).orderBy("min_rank")


# ---------------------------------------------------------------------------
# p_sentence_split — sentence segmentation + readability ledger: the
# text-side unit everything from chunking to quality scoring wants is
# the SENTENCE, not the line. Segmentation is a terminator-run split
# ([.!?]+ followed by whitespace or end) done entirely with one
# regexp at the scan; per doc the ledger carries sentence count, word
# totals, the longest sentence, and the long-sentence fraction in
# integer permille — the skeleton of every readability score
# (Flesch-ish) without a single float.
#
# Scale design: zero Python — split + transform HOFs at the scan,
# one map-side-combinable per-doc reduction, bounded output (a row
# per doc with six ints). The corpus-level rollup any quality gate
# thresholds on is one further tiny aggregate.
# ---------------------------------------------------------------------------
_SENT_SPLIT = r"[.!?]+(\s+|$)"
_SENT_SPLIT_SQL = "[.!?]+(\\s+|$)"
_LONG_WORDS = 12  # "long sentence" threshold


@register(
    "p_sentence_split",
    oracle=f"""
    WITH sents AS (
      SELECT doc_id,
        list_filter(
          list_transform(
            regexp_split_to_array(text, '{_SENT_SPLIT_SQL}'),
            s -> trim(s)),
          s -> s <> '') AS ss
      FROM documents),
    per AS (
      SELECT doc_id,
        list_transform(ss,
          s -> len(list_filter(str_split_regex(s, '\\s+'),
                               w -> w <> ''))) AS wc
      FROM sents)
    SELECT doc_id,
      CAST(len(wc) AS BIGINT) AS n_sentences,
      CAST(list_sum(wc) AS BIGINT) AS n_words,
      CAST(list_max(wc) AS BIGINT) AS max_sentence_words,
      CAST(len(list_filter(wc, c -> c >= {_LONG_WORDS})) AS BIGINT)
        AS n_long,
      CAST(len(list_filter(wc, c -> c >= {_LONG_WORDS})) * 1000
           // GREATEST(len(wc), 1) AS BIGINT) AS long_permille
    FROM per ORDER BY doc_id
    """,
)
def p_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ss = F.filter(
        F.transform(
            F.split(F.col("text"), _SENT_SPLIT), lambda s: F.trim(s)
        ),
        lambda s: s != F.lit(""),
    )
    wc = F.transform(
        ss, lambda s: F.size(F.filter(F.split(s, r"\s+"), lambda w: w != F.lit("")))
    )
    n_long = F.size(F.filter(F.col("wc"), lambda c: c >= F.lit(_LONG_WORDS)))
    return (
        docs.select("doc_id", wc.alias("wc"))
        .select(
            "doc_id",
            F.size("wc").cast("long").alias("n_sentences"),
            F.aggregate(
                "wc", F.lit(0).cast("long"), lambda acc, c: acc + c
            ).alias("n_words"),
            F.array_max("wc").cast("long").alias("max_sentence_words"),
            n_long.cast("long").alias("n_long"),
            F.expr(
                f"size(filter(wc, c -> c >= {_LONG_WORDS})) * 1000 "
                "div greatest(size(wc), 1)"
            ).alias("long_permille"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# word dispersion / burstiness: for each vocabulary word, is it spread
# evenly across the corpus or does it clump into few documents? The
# statistic is the Fano factor (variance-to-mean ratio) of the word's
# per-document count, INCLUDING the zero counts of documents that
# never use it: F = (N*SS - S^2) / (N*S) for S = total occurrences,
# SS = sum of squared per-doc counts, N = corpus size. F ~ 1 is
# Poisson (even spread), larger is burstier. Emitted integer-exact as
# permille via cross-multiplication — no float accumulates anywhere,
# and Cauchy-Schwarz guarantees N*SS >= S^2 so the numerator never
# goes negative (no truncation-vs-floor divergence).
#
# Scale design: one explode + a map-side-combinable (doc, word) count,
# then a per-word aggregate of three integer moments — the same
# two-pass moment shape as q149's OLS. The zero-count documents enter
# through N (a 1-row broadcast), never through materialized zero rows.
# Top-20 with full tie ordering.
# ---------------------------------------------------------------------------
@register(
    "p_word_dispersion",
    oracle=f"""
    WITH w AS (
      SELECT d.doc_id, t.w AS word
      FROM documents d, unnest({SQL_WORDS.format(expr="d.text")}) AS t(w)),
    per AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM w GROUP BY doc_id, word),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    mom AS (
      SELECT word,
        CAST(COUNT(*) AS BIGINT) AS df,
        CAST(SUM(c) AS BIGINT) AS s,
        CAST(SUM(c * c) AS BIGINT) AS ss
      FROM per GROUP BY word)
    SELECT word, df, s AS total,
      (nd * ss - s * s) * 1000 // (nd * s) AS burst_permille
    FROM mom CROSS JOIN n
    ORDER BY burst_permille DESC, word LIMIT 20
    """,
)
def p_word_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    per = (
        d.select("doc_id", F.explode(words_col(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    n = d.agg(F.count("*").alias("nd"))
    mom = per.groupBy("word").agg(
        F.count("*").alias("df"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    return (
        mom.crossJoin(F.broadcast(n))
        .select(
            "word",
            "df",
            F.col("s").alias("total"),
            F.expr("(nd * ss - s * s) * 1000 div (nd * s)").alias(
                "burst_permille"
            ),
        )
        .orderBy(F.desc("burst_permille"), "word")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# ROUGE-1/2 recall (summarization-style eval): pair doc 2k (reference)
# with doc 2k+1 (candidate) and score the candidate's CLIPPED n-gram
# recall against the reference — per gram, credit is
# min(count_ref, count_cand), the clipping that stops a candidate from
# farming credit by repeating one overlapping word. Integer permille
# everywhere; the eval-metrics companion to p_langid_confusion on the
# text-generation axis.
#
# Scale design: gram counting is a map-side-combinable (pair, gram)
# aggregate per side; the overlap is a LEFT join from reference grams
# only (candidate-only grams can't contribute to recall, so they are
# never shuffled into the join); unigrams and bigrams share one scan
# each. Pairs are independent — the whole metric shards by pair id.
# ---------------------------------------------------------------------------
@register(
    "p_rouge_pairs",
    oracle=f"""
    WITH w AS (
      SELECT doc_id // 2 AS pid, doc_id % 2 AS side, t.w AS g
      FROM documents d, unnest({SQL_WORDS.format(expr="d.text")}) AS t(w)),
    bi AS (
      SELECT doc_id // 2 AS pid, doc_id % 2 AS side,
        ws[i] || ' ' || ws[i + 1] AS g
      FROM (SELECT doc_id, {SQL_WORDS.format(expr="text")} AS ws
            FROM documents) d,
        unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS t(i)),
    ok_pid AS (
      SELECT pid FROM (SELECT doc_id // 2 AS pid, COUNT(DISTINCT doc_id % 2) ns
                       FROM documents GROUP BY 1) WHERE ns = 2),
    uni AS (
      SELECT r.pid,
        CAST(SUM(r.n) AS BIGINT) AS n_ref,
        CAST(SUM(LEAST(r.n, COALESCE(c.n, 0))) AS BIGINT) AS n_hit
      FROM (SELECT pid, g, COUNT(*) AS n FROM w WHERE side = 0
            GROUP BY pid, g) r
      LEFT JOIN (SELECT pid, g, COUNT(*) AS n FROM w WHERE side = 1
                 GROUP BY pid, g) c ON c.pid = r.pid AND c.g = r.g
      GROUP BY r.pid),
    big AS (
      SELECT r.pid,
        CAST(SUM(r.n) AS BIGINT) AS n_ref,
        CAST(SUM(LEAST(r.n, COALESCE(c.n, 0))) AS BIGINT) AS n_hit
      FROM (SELECT pid, g, COUNT(*) AS n FROM bi WHERE side = 0
            GROUP BY pid, g) r
      LEFT JOIN (SELECT pid, g, COUNT(*) AS n FROM bi WHERE side = 1
                 GROUP BY pid, g) c ON c.pid = r.pid AND c.g = r.g
      GROUP BY r.pid)
    SELECT u.pid, u.n_ref AS n_ref_uni, u.n_hit AS n_hit_uni,
      u.n_hit * 1000 // u.n_ref AS rouge1_permille,
      b.n_ref AS n_ref_bi, b.n_hit AS n_hit_bi,
      b.n_hit * 1000 // b.n_ref AS rouge2_permille
    FROM uni u
    JOIN big b ON b.pid = u.pid
    JOIN ok_pid ON ok_pid.pid = u.pid
    ORDER BY u.pid
    """,
)
def p_rouge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    ws = words_col(F.col("text"))
    base = d.select(
        (F.col("doc_id") / 2).cast("long").alias("pid"),
        (F.col("doc_id") % 2).alias("side"),
        ws.alias("ws"),
    )
    ok_pid = (
        base.groupBy("pid")
        .agg(F.countDistinct("side").alias("ns"))
        .where(F.col("ns") == 2)
        .select("pid")
    )
    uni_g = base.select("pid", "side", F.explode("ws").alias("g"))
    bi_arr = F.expr(
        "transform(sequence(1, greatest(size(ws) - 1, 0)), "
        "i -> concat(ws[i - 1], ' ', ws[i]))"
    )
    bi_g = base.select("pid", "side", F.explode(bi_arr).alias("g"))

    def recall(g):
        r = (
            g.where(F.col("side") == 0)
            .groupBy("pid", "g")
            .agg(F.count("*").alias("nr"))
        )
        c = (
            g.where(F.col("side") == 1)
            .groupBy("pid", "g")
            .agg(F.count("*").alias("nc"))
        )
        return (
            r.join(c, ["pid", "g"], "left")
            .groupBy("pid")
            .agg(
                F.sum("nr").alias("n_ref"),
                F.sum(
                    F.least(F.col("nr"), F.coalesce("nc", F.lit(0)))
                ).alias("n_hit"),
            )
        )

    uni = recall(uni_g).select(
        "pid",
        F.col("n_ref").alias("n_ref_uni"),
        F.col("n_hit").alias("n_hit_uni"),
    )
    big = recall(bi_g).select(
        "pid",
        F.col("n_ref").alias("n_ref_bi"),
        F.col("n_hit").alias("n_hit_bi"),
    )
    return (
        uni.join(big, "pid")
        .join(ok_pid, "pid")
        .select(
            "pid",
            "n_ref_uni",
            "n_hit_uni",
            F.expr("n_hit_uni * 1000 div n_ref_uni").alias(
                "rouge1_permille"
            ),
            "n_ref_bi",
            "n_hit_bi",
            F.expr("n_hit_bi * 1000 div n_ref_bi").alias(
                "rouge2_permille"
            ),
        )
        .orderBy("pid")
    )


# ---------------------------------------------------------------------------
# delta+varint posting-list compression: the index layout every search
# engine ships — per word, sort the doc ids, delta-encode the gaps,
# LEB128-varint-pack them into ONE binary blob, then decode the blob
# back and prove losslessness. Unlike the LZ4/DEFLATE entries (whose
# compressed sizes are encoder-defined), varint sizes are a pure
# function of the data — bytes(gap) = ceil(bits(gap)/7) — so the
# ORACLE predicts the exact packed byte count per word arithmetically
# (length(bin(gap)) has no leading zeros on either engine) while the
# Spark side earns the same number by actually packing bytes. A size
# mismatch means a real encoder bug; a decoded-checksum mismatch
# means a real decoder bug.
#
# Scale design: gaps and their sizes are computed by a partitioned
# lag window (one shuffle on word); the physical pack/unpack runs in
# one Arrow pass over per-word sorted id lists (collect_list bounded
# by df, the same cap discipline as p_inverted_index). Delta+varint
# is WHY posting lists fit in memory at web scale — ids of 8 bytes
# become 1-2 byte gaps.
# ---------------------------------------------------------------------------
@register(
    "p_postings_varint",
    oracle=f"""
    WITH w AS (
      SELECT DISTINCT d.doc_id, t.w AS word
      FROM documents d, unnest({SQL_WORDS.format(expr="d.text")}) AS t(w)),
    gaps AS (
      SELECT word, doc_id,
        doc_id - COALESCE(LAG(doc_id) OVER (PARTITION BY word
          ORDER BY doc_id), -1) AS gap
      FROM w),
    sz AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS df,
        CAST(SUM((length(bin(gap)) + 6) // 7) AS BIGINT) AS packed_bytes,
        CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
        CAST(SUM(doc_id) AS BIGINT) AS id_checksum
      FROM gaps GROUP BY word)
    SELECT word, df, raw_bytes, packed_bytes,
      packed_bytes * 1000 // raw_bytes AS ratio_permille,
      id_checksum, TRUE AS roundtrip_ok
    FROM sz ORDER BY word
    """,
)
def p_postings_varint(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = table(spark, sf_dir, "documents")
    w = (
        d.select("doc_id", F.explode(words_col(F.col("text"))).alias("word"))
        .distinct()
    )
    lists = w.groupBy("word").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )

    def pack_batches(batches):
        def varint(n: int) -> bytes:
            out = bytearray()
            while True:
                b = n & 0x7F
                n >>= 7
                if n:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    return bytes(out)

        def unpack(blob: bytes) -> list:
            vals, cur, shift, prev = [], 0, 0, -1
            for byte in blob:
                cur |= (byte & 0x7F) << shift
                if byte & 0x80:
                    shift += 7
                else:
                    prev = prev + cur
                    vals.append(prev)
                    cur, shift = 0, 0
            return vals

        for pdf in batches:
            rows = []
            for word, ids in zip(pdf["word"], pdf["ids"]):
                ids = [int(x) for x in ids]
                blob = b"".join(
                    varint(b - a) for a, b in zip([-1] + ids, ids)
                )
                back = unpack(blob)
                rows.append(
                    (
                        word,
                        len(ids),
                        8 * len(ids),
                        len(blob),
                        sum(ids),
                        back == ids,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "word",
                    "df",
                    "raw_bytes",
                    "packed_bytes",
                    "id_checksum",
                    "roundtrip_ok",
                ],
            )

    packed = lists.mapInPandas(
        pack_batches,
        "word STRING, df BIGINT, raw_bytes BIGINT, packed_bytes BIGINT, "
        "id_checksum BIGINT, roundtrip_ok BOOLEAN",
    )
    return packed.select(
        "word",
        "df",
        "raw_bytes",
        "packed_bytes",
        F.expr("packed_bytes * 1000 div raw_bytes").alias("ratio_permille"),
        "id_checksum",
        "roundtrip_ok",
    ).orderBy("word")

# ---------------------------------------------------------------------------
# phrase search over a POSITIONAL index: exact multi-word phrase
# matching — the query class a bag-of-words index (p_inverted_index)
# cannot answer, and the reason production IR systems keep token
# positions in their postings. The engine builds (doc_id, pos, word)
# postings with posexplode and intersects adjacent positions (w1 at p
# joining w2 at p+1 within the doc) — the classical positional-
# intersection algorithm — then equi-joins the candidates against the
# broadcast phrase dim on BOTH words.
#
# Scale design: the position explode is scan-stage and immediately
# filtered to words that start or end some query phrase (tiny literal
# IN-lists), so only relevant postings ever shuffle; the pos+1
# self-intersection shuffles on doc_id — the partitioning a sharded
# index already has; phrase aggregation output is bounded by the
# query list. A right join from the phrase dim keeps phrases with no
# hits in the result (the 0-row arm 'data quality' exercises it).
# The oracle reproduces the counts from word bigrams — positional
# adjacency IS bigram equality — one list_transform in DuckDB.
# ---------------------------------------------------------------------------
_PHRASES = [
    ("fast", "table"),
    ("table", "table"),
    ("scan", "slow"),
    ("data", "quality"),  # absent pair: exercises the no-hit arm
]
_SQL_PHRASE_VALUES = ", ".join(f"('{a}', '{b}')" for a, b in _PHRASES)
_SQL_BIGRAMS = (
    "list_transform(generate_series(1, greatest(len(ws) - 1, 0)), "
    "i -> ws[i] || ' ' || ws[i + 1])"
)


@register(
    "p_phrase_search",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, unnest({_SQL_BIGRAMS}) AS g
      FROM (SELECT doc_id, {SQL_WORDS.format(expr="lower(text)")} AS ws
            FROM documents) t),
    phrases(w1, w2) AS (VALUES {_SQL_PHRASE_VALUES}),
    hits AS (
      SELECT p.w1, p.w2, g.doc_id
      FROM phrases p LEFT JOIN grams g ON g.g = p.w1 || ' ' || p.w2)
    SELECT w1 || ' ' || w2 AS phrase,
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      CAST(COUNT(doc_id) AS BIGINT) AS n_occurrences,
      MIN(doc_id) AS first_doc
    FROM hits GROUP BY w1, w2 ORDER BY phrase
    """,
)
def p_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    starts = sorted({a for a, _ in _PHRASES})
    ends = sorted({b for _, b in _PHRASES})
    toks = d.select(
        "doc_id",
        F.posexplode(words_col(F.lower(F.col("text")))).alias("pos", "word"),
    )
    a = toks.where(F.col("word").isin(starts)).select(
        "doc_id", F.col("pos").alias("p1"), F.col("word").alias("w1")
    )
    b = toks.where(F.col("word").isin(ends)).select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("p2"),
        F.col("word").alias("w2"),
    )
    cand = a.join(
        b,
        (a.doc_id == b.doc_b) & (b.p2 == a.p1 + 1),
    ).select("doc_id", "w1", "w2")
    phrases = local_frame(d.sparkSession, _PHRASES, "w1 STRING, w2 STRING")
    hits = F.broadcast(phrases).join(cand, ["w1", "w2"], "left")
    return (
        hits.groupBy("w1", "w2")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("doc_id").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .select(
            F.concat_ws(" ", "w1", "w2").alias("phrase"),
            "n_docs",
            "n_occurrences",
            "first_doc",
        )
        .orderBy("phrase")
    )


# ---------------------------------------------------------------------------
# n-gram novelty decay: for each cohort of documents (in doc_id
# ingestion order), what fraction of their distinct bigrams has never
# appeared in ANY earlier document? The curve data-curation pipelines
# watch while crawling: novelty falling toward zero means the corpus
# stopped teaching the model new n-grams and further ingestion from
# the source is near-duplicate mass (the dedup families measure
# pairwise sameness; this measures marginal NEW information).
#
# Exact, not sketched: a bigram's first occurrence is min(doc_id)
# over its carriers — one window by bigram on the distinct (doc,
# bigram) pairs; a doc's bigram is novel iff the doc IS that minimum.
# Scale design: one shuffle keyed by bigram (the window), one
# map-side-combinable rollup to the bounded cohort grain; nothing
# pairwise, nothing iterative — novelty at 100 TB costs one pass over
# the shingle stream. Ratios leave integer space only as permille.
# ---------------------------------------------------------------------------
_NOVELTY_BUCKET = 50


@register(
    "p_ngram_novelty",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT doc_id, g
      FROM (SELECT doc_id, unnest({_SQL_BIGRAMS}) AS g
            FROM (SELECT doc_id, {SQL_WORDS.format(expr="lower(text)")} AS ws
                  FROM documents) t) u),
    flagged AS (
      SELECT doc_id, g,
        CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY g)
             THEN 1 ELSE 0 END AS novel
      FROM pairs)
    SELECT CAST(doc_id // {_NOVELTY_BUCKET} AS BIGINT) AS cohort,
      CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      CAST(SUM(novel) AS BIGINT) AS n_novel,
      CAST(SUM(novel) * 1000 // COUNT(*) AS BIGINT) AS novelty_permille
    FROM flagged GROUP BY 1 ORDER BY cohort
    """,
)
def p_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    from hive_clone_spark.pipeline.common import shingles_col

    d = spread(table(spark, sf_dir, "documents"))
    pairs = d.select(
        "doc_id",
        F.explode(shingles_col(words_col(F.lower(F.col("text"))), 2)).alias("g"),
    ).distinct()
    w = Window.partitionBy("g")
    flagged = pairs.select(
        "doc_id",
        F.when(F.col("doc_id") == F.min("doc_id").over(w), 1)
        .otherwise(0)
        .alias("novel"),
    )
    return (
        flagged.groupBy(
            F.expr(f"doc_id div {_NOVELTY_BUCKET}").alias("cohort")
        )
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("novel").cast("long").alias("n_novel"),
        )
        .select(
            "cohort",
            "n_bigrams",
            "n_novel",
            F.expr("n_novel * 1000 div n_bigrams").alias("novelty_permille"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# p_eval_exact_f1 — the eval-harness scoring pass (SQuAD-style exact
# match + token F1): model predictions land as a table next to the
# references; scoring them is a data-pipeline job, not a notebook —
# at fleet scale the eval set is millions of rows scored after every
# checkpoint. Predictions here are DETERMINISTIC perturbations of the
# reference (one class identical, one truncated, one with a
# substituted token), so every F1 value has a closed-form truth while
# the engine still computes the real multiset-overlap metric:
# overlap = sum over distinct tokens of min(count_ref, count_pred) —
# the tagged-union + conditional-aggregate shape (one shuffle keyed
# by (doc, token), no join), then F1 = 2*overlap/(n_pred + n_ref) as
# an exact integer permille.
#
# Scale design: reference and prediction tokens unify into ONE
# exploded stream (side tag), so the per-(doc,token) min needs no
# full-outer join; both reductions (token-level, then doc-level)
# are map-side combinable; the class rollup is 3 rows.
# ---------------------------------------------------------------------------
_EVAL_REF_WORDS = 10


@register(
    "p_eval_exact_f1",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, doc_id % 3 AS cls,
        list_slice(list_filter(str_split_regex(text, '\\s+'),
                               w -> w <> ''), 1, {_EVAL_REF_WORDS}) AS ref
      FROM documents),
    pred AS (
      SELECT doc_id, cls, ref,
        CASE cls
          WHEN 0 THEN ref
          WHEN 1 THEN list_slice(ref, 1, len(ref) - 2)
          ELSE list_concat(LIST_VALUE('foo'), list_slice(ref, 2, len(ref)))
        END AS pr
      FROM base),
    toks AS (
      SELECT doc_id, cls, word, side, COUNT(*) AS c
      FROM (
        SELECT doc_id, cls, unnest(ref) AS word, 'r' AS side FROM pred
        UNION ALL
        SELECT doc_id, cls, unnest(pr), 'p' FROM pred)
      GROUP BY ALL),
    per_tok AS (
      SELECT doc_id, cls, word,
        LEAST(COALESCE(SUM(CASE WHEN side = 'r' THEN c END), 0),
              COALESCE(SUM(CASE WHEN side = 'p' THEN c END), 0)) AS ov
      FROM toks GROUP BY doc_id, cls, word),
    per_doc AS (
      SELECT p.doc_id, p.cls,
        len(p.ref) AS nr, len(p.pr) AS np,
        array_to_string(p.pr, ' ') = array_to_string(p.ref, ' ') AS exact,
        COALESCE((SELECT SUM(ov) FROM per_tok t
                  WHERE t.doc_id = p.doc_id), 0) AS overlap
      FROM pred p)
    SELECT CAST(cls AS BIGINT) AS cls,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      CAST(SUM(2000 * overlap // (np + nr)) AS BIGINT) AS sum_f1_permille,
      CAST(SUM(2000 * overlap // (np + nr)) // COUNT(*) AS BIGINT)
        AS mean_f1_permille
    FROM per_doc GROUP BY cls ORDER BY cls
    """,
)
def p_eval_exact_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    ref = F.slice(words_col(F.col("text")), 1, _EVAL_REF_WORDS)
    base = d.select(
        "doc_id", (F.col("doc_id") % 3).alias("cls"), ref.alias("ref")
    )
    pred = base.select(
        "doc_id",
        "cls",
        "ref",
        F.when(F.col("cls") == 0, F.col("ref"))
        .when(
            F.col("cls") == 1,
            F.slice("ref", F.lit(1), F.greatest(F.size("ref") - 2, F.lit(0))),
        )
        .otherwise(
            F.concat(
                F.array(F.lit("foo")),
                F.slice(
                    "ref", F.lit(2), F.greatest(F.size("ref") - 1, F.lit(0))
                ),
            )
        )
        .alias("pr"),
    )
    toks = (
        pred.select(
            "doc_id", "cls", F.explode("ref").alias("word"), F.lit("r").alias("side")
        )
        .unionAll(
            pred.select(
                "doc_id", "cls", F.explode("pr").alias("word"), F.lit("p")
            )
        )
        .groupBy("doc_id", "cls", "word", "side")
        .agg(F.count("*").alias("c"))
    )
    per_tok = toks.groupBy("doc_id", "cls", "word").agg(
        F.least(
            F.coalesce(F.sum(F.when(F.col("side") == "r", F.col("c"))), F.lit(0)),
            F.coalesce(F.sum(F.when(F.col("side") == "p", F.col("c"))), F.lit(0)),
        ).alias("ov")
    )
    overlaps = per_tok.groupBy("doc_id").agg(F.sum("ov").alias("overlap"))
    per_doc = pred.join(overlaps, "doc_id", "left").select(
        "cls",
        F.size("ref").alias("nr"),
        F.size("pr").alias("np"),
        (F.array_join("pr", " ") == F.array_join("ref", " ")).alias("exact"),
        F.coalesce("overlap", F.lit(0)).alias("overlap"),
    )
    f1 = F.expr("2000 * overlap div (np + nr)")
    return (
        per_doc.groupBy(F.col("cls").cast("long").alias("cls"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("exact"), 1).otherwise(0))
            .cast("long")
            .alias("n_exact"),
            F.sum(f1).cast("long").alias("sum_f1_permille"),
        )
        .select(
            "cls",
            "n_docs",
            "n_exact",
            "sum_f1_permille",
            F.expr("sum_f1_permille div n_docs").alias("mean_f1_permille"),
        )
        .orderBy("cls")
    )


# ---------------------------------------------------------------------------
# p_cloze_pairs — synthetic QA generation by cloze deletion: from
# each document, mask a deterministically-chosen token and emit
# (question-with-blank, answer) — the self-supervised pair
# construction behind cloze pretraining evals and weak-label QA
# bootstrapping. The mask index derives from the portable hash of
# doc_id (never from RNG — the p_stratified_sample reproducibility
# rule: a pair set nobody can regenerate is not a dataset), pinned
# inside the middle third of the token stream so both context sides
# are non-empty.
#
# Scale design: pure scan-stage array ops (split, index arithmetic,
# slice, concat) — zero Python, zero shuffle before the ordered
# output; generation at 100 TB is one codegen'd pass. The md5 of the
# rendered question pins the exact serialization.
# ---------------------------------------------------------------------------
@register(
    "p_cloze_pairs",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id,
        list_filter(str_split_regex(text, '\\s+'), w -> w <> '') AS w,
        {sql_portable_hash("'cloze' || CAST(doc_id AS VARCHAR)")} AS h
      FROM documents),
    pick AS (
      SELECT doc_id, w, len(w) AS n,
        CAST(len(w) // 3 + h % greatest(len(w) // 3, 1) + 1 AS BIGINT)
          AS k
      FROM ws WHERE len(w) >= 6),
    pair AS (
      SELECT doc_id, n, k,
        w[k] AS answer,
        array_to_string(list_slice(w, 1, k - 1), ' ')
          || ' ___ ' || array_to_string(list_slice(w, k + 1, n), ' ')
          AS question
      FROM pick)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, k AS mask_pos, answer,
      CAST(strlen(question) AS BIGINT) AS question_len,
      md5(question) AS question_md5
    FROM pair ORDER BY doc_id
    """,
)
def p_cloze_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = words_col(F.col("text"))
    ws = d.select(
        "doc_id",
        w.alias("w"),
        portable_hash(
            F.concat(F.lit("cloze"), F.col("doc_id").cast("string"))
        ).alias("h"),
    ).where(F.size("w") >= 6)
    n = F.size("w")
    k = (
        (n / 3).cast("long")
        + F.col("h") % F.greatest((n / 3).cast("long"), F.lit(1))
        + 1
    )
    pick = ws.select("doc_id", "w", n.alias("n"), k.alias("k"))
    question = F.concat(
        F.array_join(
            F.slice("w", F.lit(1), (F.col("k") - 1).cast("int")), " "
        ),
        F.lit(" ___ "),
        F.array_join(
            F.slice(
                "w",
                (F.col("k") + 1).cast("int"),
                F.greatest(F.col("n") - F.col("k"), F.lit(0)).cast("int"),
            ),
            " ",
        ),
    )
    return pick.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("k").alias("mask_pos"),
        F.element_at("w", F.col("k").cast("int")).alias("answer"),
        F.octet_length(question).cast("long").alias("question_len"),
        F.md5(question.cast("binary")).alias("question_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p_span_corruption — T5-style span-corruption pretraining pairs: the
# seq2seq complement of p_cloze_pairs. Three 2-token spans (one per
# document third, offsets hash-derived — disjoint BY CONSTRUCTION,
# no overlap resolution pass needed) are replaced by sentinels
# <X>/<Y>/<Z> in the encoder input; the decoder target is the
# sentinel-delimited sequence of the removed spans — exactly the
# objective construction of the public T5 paper, reproducible
# because every offset is a pure function of (doc_id, n_tokens).
#
# Both renderings are built as TOKEN ARRAYS concatenated before one
# final join (never string-gluing slices with literal spaces — empty
# boundary slices would double separators and break the md5).
#
# Scale design: scan-stage HOFs only — zero Python, zero shuffle
# before the ordered output; the objective transform at 100 TB is
# one codegen'd pass over the token stream, like p_fim_transform.
# ---------------------------------------------------------------------------
_SPAN_LEN = 2


@register(
    "p_span_corruption",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id,
        list_filter(str_split_regex(text, '\\s+'), w -> w <> '') AS w,
        {sql_portable_hash("'span' || CAST(doc_id AS VARCHAR)")} AS h
      FROM documents),
    dims AS (
      SELECT doc_id, w, len(w) AS n, len(w) // 3 AS z, h
      FROM ws WHERE len(w) >= 12),
    starts AS (
      SELECT doc_id, w, n,
        CAST(0 * z + 1 + (h // 1) % (z - 2) AS BIGINT) AS a0,
        CAST(1 * z + 1 + (h // 2) % (z - 2) AS BIGINT) AS a1,
        CAST(2 * z + 1 + (h // 4) % (z - 2) AS BIGINT) AS a2
      FROM dims),
    built AS (
      SELECT doc_id, n, a0, a1, a2,
        list_slice(w, 1, a0 - 1) || LIST_VALUE('<X>')
          || list_slice(w, a0 + {_SPAN_LEN}, a1 - 1) || LIST_VALUE('<Y>')
          || list_slice(w, a1 + {_SPAN_LEN}, a2 - 1) || LIST_VALUE('<Z>')
          || list_slice(w, a2 + {_SPAN_LEN}, n) AS input_toks,
        LIST_VALUE('<X>') || list_slice(w, a0, a0 + {_SPAN_LEN - 1})
          || LIST_VALUE('<Y>') || list_slice(w, a1, a1 + {_SPAN_LEN - 1})
          || LIST_VALUE('<Z>') || list_slice(w, a2, a2 + {_SPAN_LEN - 1})
          AS target_toks
      FROM starts)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
      CAST(len(input_toks) AS BIGINT) AS n_input_tokens,
      md5(array_to_string(input_toks, ' ')) AS input_md5,
      array_to_string(target_toks, ' ') AS target
    FROM built ORDER BY doc_id
    """,
)
def p_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    ws = d.select(
        "doc_id",
        words_col(F.col("text")).alias("w"),
        portable_hash(
            F.concat(F.lit("span"), F.col("doc_id").cast("string"))
        ).alias("h"),
    ).where(F.size("w") >= 12)
    n = F.size("w")
    z = F.expr("size(w) div 3")
    starts = ws.select(
        "doc_id",
        "w",
        n.alias("n"),
        (F.lit(1) + F.expr("h div 1") % (z - 2)).alias("a0"),
        (z + 1 + F.expr("h div 2") % (z - 2)).alias("a1"),
        (z * 2 + 1 + F.expr("h div 4") % (z - 2)).alias("a2"),
    )

    def sl(a, b):  # tokens w[a..b] inclusive, 1-indexed; empty when b < a
        length = F.greatest(b - a + 1, F.lit(0))
        return F.slice("w", a.cast("int"), length.cast("int"))

    a0, a1, a2 = F.col("a0"), F.col("a1"), F.col("a2")
    nn = F.col("n")
    input_toks = F.concat(
        sl(F.lit(1), a0 - 1),
        F.array(F.lit("<X>")),
        sl(a0 + _SPAN_LEN, a1 - 1),
        F.array(F.lit("<Y>")),
        sl(a1 + _SPAN_LEN, a2 - 1),
        F.array(F.lit("<Z>")),
        sl(a2 + _SPAN_LEN, nn),
    )
    target_toks = F.concat(
        F.array(F.lit("<X>")),
        sl(a0, a0 + (_SPAN_LEN - 1)),
        F.array(F.lit("<Y>")),
        sl(a1, a1 + (_SPAN_LEN - 1)),
        F.array(F.lit("<Z>")),
        sl(a2, a2 + (_SPAN_LEN - 1)),
    )
    return starts.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.size(input_toks).cast("long").alias("n_input_tokens"),
        F.md5(F.array_join(input_toks, " ").cast("binary")).alias("input_md5"),
        F.array_join(target_toks, " ").alias("target"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p_table_linearize — structured-to-text serialization: relational
# rows rendered as natural-language records ("order 42 by customer 7:
# status O, priority 1-URGENT, total $123.45, placed 1995-03-15") —
# the dataset construction behind tabular-QA and table-grounded
# training sets, where the serialization must be STABLE (a format
# drift invalidates every cached tokenization downstream). Money is
# rendered from integer cents (dollars || '.' || zero-padded
# remainder) — never by formatting a float, whose shortest-repr
# rules differ across engines.
#
# The per-year checksum is the SUM of each rendered row's portable
# hash — order-independent, so it pins every byte of every rendered
# record without a corpus-wide sort or string_agg. Scale: rendering
# is scan-stage string concat; the rollup is map-side combinable.
# ---------------------------------------------------------------------------
@register(
    "p_table_linearize",
    oracle=f"""
    WITH r AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
        'order ' || CAST(o_orderkey AS VARCHAR)
          || ' by customer ' || CAST(o_custkey AS VARCHAR)
          || ': status ' || o_orderstatus
          || ', priority ' || o_orderpriority
          || ', total $'
          || CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100
                  AS VARCHAR)
          || '.'
          || lpad(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % 100
                       AS VARCHAR), 2, '0')
          || ', placed ' || strftime(o_orderdate, '%Y-%m-%d')
          AS rendered
      FROM orders)
    SELECT y AS order_year,
      CAST(COUNT(*) AS BIGINT) AS n_records,
      CAST(SUM(strlen(rendered)) AS BIGINT) AS total_chars,
      CAST(SUM({sql_portable_hash("rendered")} % 1000000007) AS BIGINT)
        AS corpus_checksum
    FROM r GROUP BY y ORDER BY order_year
    """,
)
def p_table_linearize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    rendered = F.concat(
        F.lit("order "), F.col("o_orderkey").cast("string"),
        F.lit(" by customer "), F.col("o_custkey").cast("string"),
        F.lit(": status "), F.col("o_orderstatus"),
        F.lit(", priority "), F.col("o_orderpriority"),
        F.lit(", total $"),
        F.expr(
            "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) div 100 "
            "AS STRING)"
        ),
        F.lit("."),
        F.lpad((cents % 100).cast("string"), 2, "0"),
        F.lit(", placed "), F.date_format("o_orderdate", "yyyy-MM-dd"),
    )
    r = o.select(
        F.year("o_orderdate").cast("long").alias("order_year"),
        rendered.alias("rendered"),
    )
    return (
        r.groupBy("order_year")
        .agg(
            F.count("*").alias("n_records"),
            F.sum(F.octet_length("rendered")).cast("long").alias("total_chars"),
            F.sum(portable_hash(F.col("rendered")) % 1000000007)
            .cast("long")
            .alias("corpus_checksum"),
        )
        .orderBy("order_year")
    )


# ---------------------------------------------------------------------------
# p_prefix_cache — shared-prefix mass analysis (KV-cache planning):
# inference servers batch requests whose token streams share a
# prefix so the transformer KV cache is computed once per prefix;
# choosing WHICH prefixes to pin needs exactly this query — group
# the corpus by its leading-k tokens, count members, and price the
# recomputation saved if each group's prefix were cached once:
# saved = (n_docs - 1) * k tokens per group. Top groups by saving
# are the pin set.
#
# Scale design: the prefix key is a scan-stage slice+join (no
# tokenizer round trip needed for planning); one map-side-combinable
# groupBy; top-N via TakeOrdered. At fleet scale this runs over
# request logs instead of documents with the same plan.
# ---------------------------------------------------------------------------
_PFX_K = 4
_PFX_TOP = 15


@register(
    "p_prefix_cache",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
        array_to_string(list_slice(list_filter(
          str_split_regex(text, '\\s+'), w -> w <> ''), 1, {_PFX_K}), ' ')
          AS prefix,
        len(list_filter(str_split_regex(text, '\\s+'), w -> w <> ''))
          AS n_toks
      FROM documents),
    g AS (
      SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
        CAST((COUNT(*) - 1) * {_PFX_K} AS BIGINT) AS tokens_saved
      FROM p GROUP BY prefix)
    SELECT prefix, n_docs, total_tokens, tokens_saved
    FROM g WHERE n_docs > 1
    ORDER BY tokens_saved DESC, prefix LIMIT {_PFX_TOP}
    """,
)
def p_prefix_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = words_col(F.col("text"))
    p = d.select(
        "doc_id",
        F.array_join(F.slice(w, 1, _PFX_K), " ").alias("prefix"),
        F.size(w).alias("n_toks"),
    )
    g = p.groupBy("prefix").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        ((F.count("*") - 1) * _PFX_K).cast("long").alias("tokens_saved"),
    )
    return (
        g.where(F.col("n_docs") > 1)
        .orderBy(F.desc("tokens_saved"), "prefix")
        .limit(_PFX_TOP)
    )


# ---------------------------------------------------------------------------
# p_readability — Flesch-Kincaid grade / Flesch reading-ease, the
# classic length-free quality features (a corpus-filter staple next to
# p_text_stats' ratios). Syllables are the standard heuristic: vowel
# GROUPS ([aeiouy]+) per word, min 1; sentences are [.!?]+ runs, min 1
# (the fixture corpus is sentence-less word soup — every doc is one
# "sentence", which the min-1 guard makes explicit rather than
# divide-by-zero).
#
# Determinism: both formulas are evaluated over the common denominator
# S*W as ONE integer polynomial divided once in double and floored —
# identical IEEE expression shapes both engines (the q149 OLS rule),
# no per-term rounding drift, exact integers up to 2^53 in the
# numerator.
#
# 100 TB: pure scan-stage HOFs (split, per-word regexp counts,
# aggregate) — zero shuffle, zero Python, whole-stage codegen.
# ---------------------------------------------------------------------------
@register(
    "p_readability",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
        CAST(len({SQL_WORDS.format(expr="text")}) AS BIGINT) AS nw,
        CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
          AS ns,
        CAST(list_sum(list_transform({SQL_WORDS.format(expr="lower(text)")},
          x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1)))
          AS BIGINT) AS syl
      FROM documents),
    f AS (
      SELECT doc_id, nw, ns, syl,
        CAST(floor((39 * nw * nw + 1180 * syl * ns - 1559 * ns * nw) * 10.0
                   / (ns * nw)) AS BIGINT) AS fk_grade_milli,
        CAST(floor((206835 * ns * nw - 1015 * nw * nw - 84600 * syl * ns)
                   * 1.0 / (ns * nw)) AS BIGINT) AS ease_milli
      FROM w WHERE nw > 0)
    SELECT doc_id, nw AS n_words, ns AS n_sentences, syl AS n_syllables,
      fk_grade_milli, ease_milli,
      CASE WHEN ease_milli >= 90000 THEN 'very_easy'
           WHEN ease_milli >= 60000 THEN 'standard'
           WHEN ease_milli >= 30000 THEN 'difficult'
           ELSE 'very_difficult' END AS band
    FROM f ORDER BY doc_id
    """,
)
def p_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    nw = F.size(words_col(F.col("text"))).cast("bigint")
    ns = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    ).cast("bigint")
    syl = F.aggregate(
        F.transform(
            words_col(F.lower(F.col("text"))),
            lambda x: F.greatest(
                F.size(F.regexp_extract_all(x, F.lit("[aeiouy]+"), F.lit(0))),
                F.lit(1),
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    base = d.select(
        "doc_id", nw.alias("nw"), ns.alias("ns"), syl.alias("syl")
    ).where(F.col("nw") > 0)
    fk = F.floor(
        (
            39 * F.col("nw") * F.col("nw")
            + 1180 * F.col("syl") * F.col("ns")
            - 1559 * F.col("ns") * F.col("nw")
        )
        * F.lit(10.0)
        / (F.col("ns") * F.col("nw"))
    ).cast("bigint")
    ease = F.floor(
        (
            206835 * F.col("ns") * F.col("nw")
            - 1015 * F.col("nw") * F.col("nw")
            - 84600 * F.col("syl") * F.col("ns")
        )
        * F.lit(1.0)
        / (F.col("ns") * F.col("nw"))
    ).cast("bigint")
    return (
        base.select(
            "doc_id",
            F.col("nw").alias("n_words"),
            F.col("ns").alias("n_sentences"),
            F.col("syl").alias("n_syllables"),
            fk.alias("fk_grade_milli"),
            ease.alias("ease_milli"),
        )
        .withColumn(
            "band",
            F.when(F.col("ease_milli") >= 90000, "very_easy")
            .when(F.col("ease_milli") >= 60000, "standard")
            .when(F.col("ease_milli") >= 30000, "difficult")
            .otherwise("very_difficult"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p_script_detect — Unicode-script census: the writing-system
# classifier that runs BEFORE n-gram language-ID (p_lang_id can only
# separate languages within a script; Cyrillic vs Greek vs CJK is a
# codepoint-range question, and a cheap scan-stage one). The ASCII
# fixture corpus is decorated deterministically (p_unicode_nfc's
# pattern): doc_id%4==1 transliterates vowels to Cyrillic lookalikes,
# %4==2 to Greek, %4==3 maps 's'/'t' to CJK ideographs — both engines
# build the identical decorated string with translate(), then census
# independently with codepoint-class regexes.
#
# 100 TB: translate + four regexp_extract_all counts are per-row
# whole-stage-codegen expressions; zero shuffle, zero Python.
# ---------------------------------------------------------------------------
_CYR = "аеіоу"
_GRK = "αειου"
_CJK = "数据"


@register(
    "p_script_detect",
    oracle=f"""
    WITH dec AS (
      SELECT doc_id,
        CASE doc_id % 4
          WHEN 1 THEN translate(text, 'aeiou', '{_CYR}')
          WHEN 2 THEN translate(text, 'aeiou', '{_GRK}')
          WHEN 3 THEN translate(text, 'st', '{_CJK}')
          ELSE text END AS t
      FROM documents),
    c AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '[a-z]')) AS BIGINT) AS n_latin,
        CAST(len(regexp_extract_all(t, '[а-яі]')) AS BIGINT) AS n_cyrillic,
        CAST(len(regexp_extract_all(t, '[α-ω]')) AS BIGINT) AS n_greek,
        CAST(len(regexp_extract_all(t, '[数据]')) AS BIGINT) AS n_cjk
      FROM dec)
    SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk,
      CAST(n_latin * 1000 // greatest(n_latin + n_cyrillic + n_greek + n_cjk, 1)
           AS BIGINT) AS latin_permille,
      CASE WHEN n_cyrillic > 0 AND doc_id % 4 = 1 THEN 'cyrillic_mixed'
           WHEN n_greek > 0 THEN 'greek_mixed'
           WHEN n_cjk > 0 THEN 'cjk_mixed'
           WHEN n_cyrillic > 0 THEN 'cyrillic_mixed'
           ELSE 'latin' END AS script_class
    FROM c ORDER BY doc_id
    """,
)
def p_script_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    dec = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 1, F.translate("text", "aeiou", _CYR))
        .when(F.col("doc_id") % 4 == 2, F.translate("text", "aeiou", _GRK))
        .when(F.col("doc_id") % 4 == 3, F.translate("text", "st", _CJK))
        .otherwise(F.col("text"))
        .alias("t"),
    )

    def census(cls: str) -> F.Column:
        return F.size(
            F.regexp_extract_all(F.col("t"), F.lit(cls), F.lit(0))
        ).cast("bigint")

    c = dec.select(
        "doc_id",
        census("[a-z]").alias("n_latin"),
        census("[а-яі]").alias("n_cyrillic"),
        census("[α-ω]").alias("n_greek"),
        census("[数据]").alias("n_cjk"),
    )
    total = F.greatest(
        F.col("n_latin") + F.col("n_cyrillic") + F.col("n_greek") + F.col("n_cjk"),
        F.lit(1),
    )
    return c.select(
        "*",
        F.expr(
            "CAST(n_latin * 1000 DIV "
            "greatest(n_latin + n_cyrillic + n_greek + n_cjk, 1) AS BIGINT)"
        ).alias("latin_permille"),
        F.when((F.col("n_cyrillic") > 0) & (F.col("doc_id") % 4 == 1), "cyrillic_mixed")
        .when(F.col("n_greek") > 0, "greek_mixed")
        .when(F.col("n_cjk") > 0, "cjk_mixed")
        .when(F.col("n_cyrillic") > 0, "cyrillic_mixed")
        .otherwise("latin")
        .alias("script_class"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p_rake_keywords — RAKE (Rapid Automatic Keyword Extraction, Rose et
# al. 2010): split each document into candidate phrases at stopword
# boundaries, score every word by degree/frequency (degree = summed
# length of the phrase occurrences containing it — words that travel
# in long phrases outrank words that appear alone), score a phrase as
# the sum of its words' scores, keep the top 3 phrases per document.
#
# Determinism: word score is floored to integer permille BEFORE the
# phrase sum (per-term floor → order-independent integer sums — the
# documented deviation from RAKE's real-valued scores); ties broken
# by phrase text. Phrases capped at 4 words (RAKE convention; also
# bounds the token explosion at ≤ text length).
#
# 100 TB: phrase extraction is scan-stage HOFs; the only shuffles are
# two bounded aggregations keyed by (doc, word) and (doc, phrase) —
# cardinality ≤ token count — and the per-doc top-3 window is
# doc-partitioned, never global.
# ---------------------------------------------------------------------------
_RAKE_STOPS = r"\b(the|and|of|a|to|in|is|it|for|on)\b"


@register(
    "p_rake_keywords",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
        regexp_replace(lower(text), '{_RAKE_STOPS}', '|', 'g') AS t
      FROM documents),
    ph AS (
      SELECT doc_id,
        list_filter(
          list_transform(str_split(t, '|'),
            s -> list_filter(str_split_regex(trim(s), '\\s+'),
                             w -> w <> '')),
          a -> len(a) BETWEEN 1 AND 4) AS phs
      FROM d),
    occ AS (SELECT doc_id, unnest(phs) AS words FROM ph),
    tok AS (
      SELECT doc_id, array_to_string(words, ' ') AS phrase,
        len(words) AS plen, unnest(words) AS w
      FROM occ),
    ws AS (
      SELECT doc_id, w,
        (1000 * CAST(SUM(plen) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
          AS milli
      FROM tok GROUP BY doc_id, w),
    dph AS (SELECT DISTINCT doc_id, phrase FROM tok),
    dtok AS (
      SELECT doc_id, phrase, unnest(str_split(phrase, ' ')) AS w FROM dph),
    scored AS (
      SELECT t.doc_id, t.phrase,
        CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(s.milli) AS BIGINT) AS score_milli
      FROM dtok t JOIN ws s ON s.doc_id = t.doc_id AND s.w = t.w
      GROUP BY t.doc_id, t.phrase)
    SELECT doc_id, CAST(rk AS INT) AS rank, phrase, n_words, score_milli
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        ORDER BY score_milli DESC, phrase) AS rk
      FROM scored) z
    WHERE rk <= 3
    ORDER BY doc_id, rank
    """,
)
def p_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.lower(F.col("text")), _RAKE_STOPS, "|").alias("t"),
    )
    phrases = d.select(
        "doc_id",
        F.filter(
            F.transform(
                F.split(F.col("t"), r"\|"),
                lambda s: F.filter(
                    F.split(F.trim(s), r"\s+"), lambda w: w != ""
                ),
            ),
            lambda a: (F.size(a) >= 1) & (F.size(a) <= 4),
        ).alias("phs"),
    )
    occ = phrases.select("doc_id", F.explode("phs").alias("words"))
    tok = occ.select(
        "doc_id",
        F.array_join("words", " ").alias("phrase"),
        F.size("words").alias("plen"),
        F.explode("words").alias("w"),
    )
    ws = tok.groupBy("doc_id", "w").agg(
        F.expr("(1000 * CAST(SUM(plen) AS BIGINT)) DIV COUNT(*)").alias(
            "milli"
        )
    )
    dph = tok.select("doc_id", "phrase").distinct()
    dtok = dph.select(
        "doc_id", "phrase", F.explode(F.split("phrase", " ")).alias("w")
    )
    scored = (
        dtok.join(ws, ["doc_id", "w"])
        .groupBy("doc_id", "phrase")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("milli").cast("bigint").alias("score_milli"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_milli"), F.asc("phrase")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "phrase", "n_words", "score_milli")
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# p_license_detect — license-header detection, the compliance filter
# every code/web pretraining corpus runs (keep permissive, drop
# copyleft, quarantine unknown). The ASCII fixture is decorated
# deterministically (p_script_detect's discipline): doc_id%6 selects
# an injected header — MIT / Apache-2.0 / GPL-3.0 / BSD phrasing, a
# generic copyright line, or nothing — and both engines then detect
# INDEPENDENTLY with the same phrase regexes over the decorated text.
# Output: per-doc verdict + corpus census with the keep/drop policy
# applied (permissive kept, copyleft dropped, unknown-copyright
# quarantined).
#
# 100 TB: decoration is fixture-only; detection is scan-stage regex
# (whole-stage codegen), census is one bounded groupBy — the filter
# adds no shuffle to an ingest pipeline.
# ---------------------------------------------------------------------------
_LIC_HDRS = {
    1: "Permission is hereby granted, free of charge (MIT License). ",
    2: "Licensed under the Apache License, Version 2.0. ",
    3: "GNU General Public License as published by the Free Software "
       "Foundation. ",
    4: "Redistribution and use in source and binary forms (BSD). ",
    5: "Copyright (c) 2024 Example Corp. All rights reserved. ",
}


def _lic_case_sql() -> str:
    whens = " ".join(
        f"WHEN doc_id % 6 = {k} THEN '{v}' || text" for k, v in _LIC_HDRS.items()
    )
    return f"CASE {whens} ELSE text END"


@register(
    "p_license_detect",
    oracle=f"""
    WITH dec AS (
      SELECT doc_id, {_lic_case_sql()} AS t FROM documents),
    det AS (
      SELECT doc_id,
        CASE
          WHEN t LIKE '%Permission is hereby granted, free of charge%'
            THEN 'mit'
          WHEN t LIKE '%Apache License, Version 2.0%' THEN 'apache-2.0'
          WHEN t LIKE '%GNU General Public License%' THEN 'gpl'
          WHEN t LIKE '%Redistribution and use in source and binary forms%'
            THEN 'bsd'
          WHEN regexp_matches(t, 'Copyright \\(c\\) [0-9]{{4}}')
            THEN 'unknown-copyright'
          ELSE 'none' END AS license
      FROM dec),
    pol AS (
      SELECT doc_id, license,
        CASE WHEN license IN ('mit', 'apache-2.0', 'bsd', 'none')
             THEN 'keep'
             WHEN license = 'gpl' THEN 'drop'
             ELSE 'quarantine' END AS action
      FROM det)
    SELECT license, action,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM pol GROUP BY license, action ORDER BY license
    """,
)
def p_license_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    dec = F.col("text")
    for k, v in _LIC_HDRS.items():
        dec = F.when(F.col("doc_id") % 6 == k, F.concat(F.lit(v), F.col("text"))).otherwise(dec)
    t = d.select("doc_id", dec.alias("t"))
    lic = (
        F.when(
            F.col("t").contains("Permission is hereby granted, free of charge"),
            "mit",
        )
        .when(F.col("t").contains("Apache License, Version 2.0"), "apache-2.0")
        .when(F.col("t").contains("GNU General Public License"), "gpl")
        .when(
            F.col("t").contains(
                "Redistribution and use in source and binary forms"
            ),
            "bsd",
        )
        .when(
            F.col("t").rlike(r"Copyright \(c\) [0-9]{4}"), "unknown-copyright"
        )
        .otherwise("none")
    )
    pol = t.select(
        "doc_id",
        lic.alias("license"),
    ).withColumn(
        "action",
        F.when(
            F.col("license").isin("mit", "apache-2.0", "bsd", "none"), "keep"
        )
        .when(F.col("license") == "gpl", "drop")
        .otherwise("quarantine"),
    )
    return (
        pol.groupBy("license", "action")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("license")
    )
