"""Deterministic sampling and dataset splitting over `documents` (M5
extension): the reproducibility primitives every training-data
pipeline needs — stratified downsampling by language and a stable
train/val/test split, both keyed on a content-independent hash of the
doc id so membership never changes across runs, partitionings, or
cluster sizes.

The reference (a C++ Hive-board-game clone, SURVEY.md §0) has no
sampling; this comes from the driver contract's LLM-pipeline surface
(BASELINE.json north_star).

Scale design (100 TB): hash-gating is a narrow per-row predicate — no
shuffle, no global count, no `sample()` nondeterminism — so it pushes
into the scan stage and composes with partition pruning. Rates are a
broadcast-able CASE over the stratum column. Contrast with
`df.sample()`, whose output depends on partition layout and seed
plumbing — unusable as a reproducible dataset definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import local_frame, table
from hive_clone_spark.pipeline.common import portable_hash, sql_portable_hash
from hive_clone_spark.registry import register

# per-language keep rates (percent): downsample the head language,
# keep the tail — the canonical language-rebalancing move
_RATES = {"en": 40, "zh": 80, "es": 80, "de": 80, "fr": 80}
_DEFAULT_RATE = 100


@register(
    "p_stratified_sample",
    oracle=f"""
    WITH gated AS (
      SELECT doc_id, lang,
        {sql_portable_hash("'sample:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
        {sql_portable_hash("'split:' || CAST(doc_id AS VARCHAR)")} % 10 AS split_bucket
      FROM documents)
    SELECT doc_id, lang,
      CASE WHEN split_bucket = 0 THEN 'test'
           WHEN split_bucket = 1 THEN 'val'
           ELSE 'train' END AS split
    FROM gated
    WHERE bucket < CASE lang {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _RATES.items())}
                   ELSE {_DEFAULT_RATE} END
    ORDER BY doc_id
    """,
)
def p_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    bucket = (
        portable_hash(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))) % 100
    )
    split_bucket = (
        portable_hash(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 10
    )
    rate = F.col("lang")
    expr = F.lit(_DEFAULT_RATE)
    for k, v in reversed(_RATES.items()):
        expr = F.when(rate == k, F.lit(v)).otherwise(expr)
    return (
        d.select(
            "doc_id",
            "lang",
            bucket.alias("bucket"),
            F.when(split_bucket == 0, "test")
            .when(split_bucket == 1, "val")
            .otherwise("train")
            .alias("split"),
        )
        .where(F.col("bucket") < expr)
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Sequence packing: assign documents (in stable doc_id order, per
# language) to contiguous fixed-token-budget packs — the batching step
# before training, where a pack is one context-window's worth of
# documents. pack_id = full budgets consumed before this doc starts,
# from a running token sum; integer arithmetic end-to-end so both
# engines agree exactly.
#
# Scale design: one exchange on lang + in-partition sort by doc_id —
# the same shape as any windowed cumsum. At 100 TB the partition key
# becomes (lang, shard) with per-shard budgets so no single language
# serializes through one task; the pack ids then offset by shard.
# ---------------------------------------------------------------------------
_PACK_BUDGET = 512


@register(
    "p_sequence_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(str_split_regex(text, '\\s+'), w -> w <> '')) AS BIGINT)
          AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, lang, n_tokens,
        SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT doc_id, lang, n_tokens,
      CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id
    FROM c ORDER BY doc_id
    """,
)
def p_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from hive_clone_spark.pipeline.common import words_col

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.size(words_col(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr(f"CAST((cum - n_tokens) DIV {_PACK_BUDGET} AS BIGINT)").alias("pack_id"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# End-to-end training-data pipeline (the flagship composition): quality
# filter -> exact dedup (survivor = min doc_id per content hash) ->
# stratified hash sample + train/val/test split -> token-budget
# sequence packing within (lang, split). One DAG, one oracle — the
# whole corpus-to-batches path a pre-training run needs, expressed as
# a single Catalyst plan.
#
# Scale design: stage order is chosen for data reduction — the cheap
# row-local quality predicate runs at the scan, dedup's one shuffle
# (on the content hash) sees only survivors, sampling is again
# row-local, and the packing window shuffles the (smallest) sampled
# set. Every stage's key differs, so AQE coalesces between them; no
# stage re-shuffles on a key a later stage could have reused.
# ---------------------------------------------------------------------------
@register(
    "p_pipeline_e2e",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, text,
        CAST(len(list_filter(str_split_regex(text, '\\s+'), w -> w <> '')) AS BIGINT)
          AS n_tokens
      FROM documents),
    q AS (SELECT * FROM t WHERE n_tokens >= 20),
    d AS (
      SELECT doc_id, lang, n_tokens FROM (
        SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
        FROM q)
      WHERE keep),
    s AS (
      SELECT doc_id, lang, n_tokens,
        CASE WHEN {sql_portable_hash("'split:' || CAST(doc_id AS VARCHAR)")} % 10 = 0
               THEN 'test'
             WHEN {sql_portable_hash("'split:' || CAST(doc_id AS VARCHAR)")} % 10 = 1
               THEN 'val'
             ELSE 'train' END AS split
      FROM d
      WHERE {sql_portable_hash("'sample:' || CAST(doc_id AS VARCHAR)")} % 100
            < CASE lang {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _RATES.items())}
              ELSE {_DEFAULT_RATE} END),
    c AS (
      SELECT *, SUM(n_tokens) OVER (PARTITION BY lang, split ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
      FROM s)
    SELECT doc_id, lang, n_tokens, split,
      CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id
    FROM c ORDER BY doc_id
    """,
)
def p_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from hive_clone_spark.pipeline.common import words_col

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        "text",
        F.size(words_col(F.col("text"))).cast("bigint").alias("n_tokens"),
    ).where(F.col("n_tokens") >= 20)

    dw = Window.partitionBy(F.md5("text"))
    deduped = (
        t.withColumn("keep", F.col("doc_id") == F.min("doc_id").over(dw))
        .where("keep")
        .select("doc_id", "lang", "n_tokens")
    )

    bucket = (
        portable_hash(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))) % 100
    )
    split_bucket = (
        portable_hash(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 10
    )
    rate = F.lit(_DEFAULT_RATE)
    for k, v in reversed(_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    sampled = deduped.where(bucket < rate).withColumn(
        "split",
        F.when(split_bucket == 0, "test").when(split_bucket == 1, "val").otherwise("train"),
    )

    pw = (
        Window.partitionBy("lang", "split")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sampled.withColumn("cum", F.sum("n_tokens").over(pw))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "split",
            F.expr(f"CAST((cum - n_tokens) DIV {_PACK_BUDGET} AS BIGINT)").alias("pack_id"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Weighted (probability-proportional-to-size) sampling: training-data
# pipelines routinely sample "by importance" — take documents with
# probability proportional to a quality/weight column, not uniformly.
# The production-scalable mechanism is HASH-GATED Poisson/PPS
# sampling: row i is included iff
#
#     u_i < k * w_i / W      with  u_i = hash(key) / M  in [0, 1)
#
# — a single stateless predicate per row (BigQuery TABLESAMPLE /
# Spark's Bernoulli sampling generalized to weights), no sorting, no
# reservoir state, reproducible across reruns and engines because u_i
# comes from the portable md5 hash, not an RNG. The comparison is
# kept INTEGER-EXACT by cross-multiplying in DECIMAL(38,0):
# u * W < k * w * M — no float threshold anywhere, so the sampled set
# is bit-identical in both engines at any scale factor.
#
# Scale design (100 TB): one broadcast of the 1-row total weight, one
# scan-stage predicate — the sample materializes in the same pass
# that reads the corpus; expected size k is a constant independent of
# corpus size (min(1, k*w/W) saturates only for outlier weights).
# ---------------------------------------------------------------------------
_WS_K = 500  # target expected sample size
_WS_M = 1_048_576  # hash resolution (2^20 buckets)


@register(
    "p_weighted_sample",
    oracle=f"""
    WITH w AS (
      SELECT o_orderkey, o_orderpriority,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS wc,
        {sql_portable_hash("'ws:' || CAST(o_orderkey AS VARCHAR)")}
          % {_WS_M} AS u
      FROM orders),
    tot AS (SELECT SUM(CAST(wc AS DECIMAL(38,0))) AS tw FROM w),
    s AS (
      SELECT o_orderpriority, wc FROM w, tot
      WHERE CAST(u AS DECIMAL(38,0)) * tw
            < CAST({_WS_K} AS DECIMAL(38,0)) * wc * {_WS_M})
    SELECT w.o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_total,
      CAST((SELECT COUNT(*) FROM s
            WHERE s.o_orderpriority = w.o_orderpriority) AS BIGINT)
        AS n_sampled,
      CAST((SELECT COALESCE(SUM(CAST(wc AS DECIMAL(38,0))),
                            CAST(0 AS DECIMAL(38,0))) FROM s
            WHERE s.o_orderpriority = w.o_orderpriority) AS DOUBLE)
        AS sampled_weight_cents
    FROM w GROUP BY w.o_orderpriority
    ORDER BY w.o_orderpriority
    """,
)
def p_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.catalog import table

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("wc"),
    )
    w = o.withColumn(
        "u",
        portable_hash(
            F.concat(F.lit("ws:"), F.col("o_orderkey").cast("string"))
        )
        % _WS_M,
    )
    tot = w.agg(F.sum(F.col("wc").cast("decimal(38,0)")).alias("tw"))
    gated = w.crossJoin(F.broadcast(tot))
    sampled = gated.where(
        F.col("u").cast("decimal(38,0)") * F.col("tw")
        < F.lit(_WS_K).cast("decimal(38,0)") * F.col("wc") * _WS_M
    )
    per_total = w.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_total")
    )
    per_sample = sampled.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_sampled"),
        F.sum(F.col("wc").cast("decimal(38,0)"))
        .cast("double")
        .alias("sampled_weight_cents"),
    )
    return (
        per_total.join(per_sample, "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            "n_total",
            F.coalesce("n_sampled", F.lit(0).cast("bigint")).alias(
                "n_sampled"
            ),
            F.coalesce(
                "sampled_weight_cents", F.lit(0.0)
            ).alias("sampled_weight_cents"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# p_fim_transform — fill-in-the-middle restructuring (the PSM format
# from the public FIM literature: the document splits into
# prefix/middle/suffix and serializes as <PRE> prefix <SUF> suffix
# <MID> middle, teaching an autoregressive model to infill): pivots
# are DETERMINISTIC word-count fractions (40% / 70%), so the exact
# rendered string — and therefore its md5 — is a pure function of
# the text, which is what makes a 100 TB transform auditable: any
# nondeterministic splitter (random pivots, unseeded RNG per task)
# produces an unreproducible dataset no two reruns agree on.
#
# Scale design: pure scan-stage string work (split/slice/concat HOFs,
# zero Python, zero shuffle before the ordered output); at scale this
# runs inside whole-stage codegen next to the parquet reader.
# ---------------------------------------------------------------------------
_FIM_PRE = b"<PRE>"  # documented sentinels (bytes only for clarity)


@register(
    "p_fim_transform",
    oracle="""
    WITH ws AS (
      SELECT doc_id,
        list_filter(str_split_regex(text, '\\s+'), w -> w <> '') AS w
      FROM documents),
    cut AS (
      SELECT doc_id, w, len(w) AS n,
        len(w) * 40 // 100 AS m0,
        len(w) * 70 // 100 AS m1
      FROM ws),
    fim AS (
      SELECT doc_id, n, m0, m1,
        '<PRE>' || array_to_string(list_slice(w, 1, m0), ' ')
          || '<SUF>' || array_to_string(list_slice(w, m1 + 1, n), ' ')
          || '<MID>' || array_to_string(list_slice(w, m0 + 1, m1), ' ')
          AS rendered
      FROM cut)
    SELECT doc_id, CAST(n AS BIGINT) AS n_words,
      CAST(m0 AS BIGINT) AS prefix_words,
      CAST(m1 - m0 AS BIGINT) AS middle_words,
      CAST(n - m1 AS BIGINT) AS suffix_words,
      CAST(strlen(rendered) AS BIGINT) AS rendered_len,
      md5(rendered) AS rendered_md5
    FROM fim ORDER BY doc_id
    """,
)
def p_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = F.filter(F.split("text", r"\s+"), lambda x: x != F.lit(""))
    base = d.select(
        "doc_id",
        w.alias("w"),
        F.size(w).alias("n"),
        (F.size(w) * 40 / 100).cast("int").alias("m0"),
        (F.size(w) * 70 / 100).cast("int").alias("m1"),
    )
    rendered = F.concat(
        F.lit("<PRE>"),
        F.array_join(F.slice("w", F.lit(1), F.col("m0")), " "),
        F.lit("<SUF>"),
        F.array_join(
            F.slice("w", F.col("m1") + 1, F.greatest(F.col("n") - F.col("m1"), F.lit(0))),
            " ",
        ),
        F.lit("<MID>"),
        F.array_join(
            F.slice("w", F.col("m0") + 1, F.col("m1") - F.col("m0")), " "
        ),
    )
    return base.select(
        "doc_id",
        F.col("n").cast("long").alias("n_words"),
        F.col("m0").cast("long").alias("prefix_words"),
        (F.col("m1") - F.col("m0")).cast("long").alias("middle_words"),
        (F.col("n") - F.col("m1")).cast("long").alias("suffix_words"),
        F.octet_length(rendered).cast("long").alias("rendered_len"),
        F.md5(rendered.cast("binary")).alias("rendered_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p_chat_template — conversation rendering with loss masks: each
# user's first 6 events (event-time order) become alternating
# user/assistant turns; the template serializes them as
# <|role|>event_type:value_cents segments, and the entry reports the
# characters attributable to ASSISTANT turns — the span an SFT loss
# mask keeps (loss is computed on assistant tokens only; masking the
# wrong spans silently trains on user text, an error only an exact
# per-example accounting like this surfaces).
#
# Scale design: one shuffle keyed by user_id (rank + the ordered
# collect share it); the per-user turn list is capped at 6 BEFORE
# collect_list, so aggregation state is bounded (the p_inverted_index
# cap discipline); rendering is a scan-stage concat over the capped
# array. Value cents are exact integers — no float ever reaches a
# string.
# ---------------------------------------------------------------------------
_CHAT_TURNS = 6


@register(
    "p_chat_template",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type,
        CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS rn
      FROM events),
    capped AS (
      SELECT user_id, rn,
        CASE WHEN rn % 2 = 1 THEN 'user' ELSE 'assistant' END AS role,
        event_type, cents
      FROM ranked WHERE rn <= {_CHAT_TURNS}),
    seg AS (
      SELECT user_id, rn, role,
        '<|' || role || '|>' || event_type || ':'
          || CAST(cents AS VARCHAR) AS s
      FROM capped),
    doc AS (
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_turns,
        array_to_string(list(s ORDER BY rn), '') AS rendered,
        CAST(SUM(CASE WHEN role = 'assistant' THEN strlen(s)
                 ELSE 0 END) AS BIGINT) AS assistant_chars
      FROM seg GROUP BY user_id)
    SELECT user_id, n_turns,
      CAST(strlen(rendered) AS BIGINT) AS total_chars,
      assistant_chars, md5(rendered) AS rendered_md5
    FROM doc ORDER BY user_id
    """,
)
def p_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.select(
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= _CHAT_TURNS)
    seg = ranked.select(
        "user_id",
        "rn",
        F.when(F.col("rn") % 2 == 1, "user").otherwise("assistant").alias(
            "role"
        ),
        F.concat(
            F.lit("<|"),
            F.when(F.col("rn") % 2 == 1, "user").otherwise("assistant"),
            F.lit("|>"),
            F.col("event_type"),
            F.lit(":"),
            F.col("cents").cast("string"),
        ).alias("s"),
    )
    doc = seg.groupBy("user_id").agg(
        F.count("*").alias("n_turns"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "s"))
                ),
                lambda x: x["s"],
            ),
            "",
        ).alias("rendered"),
        F.sum(
            F.when(F.col("role") == "assistant", F.octet_length("s")).otherwise(0)
        )
        .cast("long")
        .alias("assistant_chars"),
    )
    return doc.select(
        "user_id",
        "n_turns",
        F.octet_length("rendered").cast("long").alias("total_chars"),
        "assistant_chars",
        F.md5(F.col("rendered").cast("binary")).alias("rendered_md5"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# p_curriculum_order — curriculum data ordering WITHOUT a global
# sort: training wants easy-to-hard example order (difficulty here =
# document length band), but a total order over 100 TB via one
# ORDER BY funnels everything through a single-partition sort. The
# distributed construction: (1) per-band counts -> exclusive prefix
# offsets (5 rows of driver arithmetic); (2) rank WITHIN each band
# (a band-partitioned window — every partition sorts only its own
# slice); (3) global_pos = band_offset + within_rank - 1. The entry
# proves the result IS a total order (per band: contiguous position
# ranges, max-min+1 == count) and pins the exact assignment with a
# position-weighted checksum. Within a band the order is hash-
# scrambled (portable md5) so the curriculum is shuffled WITHIN
# difficulty — deterministic epoch shuffling, the p_stratified_sample
# reproducibility rule applied to ordering.
#
# The oracle affords the single global ROW_NUMBER at test scale —
# verifying that offset-composition and the global sort agree is
# exactly the point.
# ---------------------------------------------------------------------------
_CURR_BANDS_SQL = (
    "CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 280 THEN 1 "
    "WHEN n_chars < 400 THEN 2 WHEN n_chars < 500 THEN 3 ELSE 4 END"
)


@register(
    "p_curriculum_order",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, {_CURR_BANDS_SQL} AS band,
        {sql_portable_hash("'curr' || CAST(doc_id AS VARCHAR)")} AS h
      FROM documents),
    ordered AS (
      SELECT doc_id, band,
        ROW_NUMBER() OVER (ORDER BY band, h, doc_id) - 1 AS pos
      FROM scored)
    SELECT CAST(band AS BIGINT) AS band,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(MIN(pos) AS BIGINT) AS first_pos,
      CAST(MAX(pos) AS BIGINT) AS last_pos,
      CAST(MAX(pos) - MIN(pos) + 1 = COUNT(*) AS BOOLEAN) AS contiguous,
      CAST(SUM(pos * doc_id) AS BIGINT) AS order_checksum
    FROM ordered GROUP BY band ORDER BY band
    """,
)
def p_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.expr(_CURR_BANDS_SQL).alias("band"),
        portable_hash(
            F.concat(F.lit("curr"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    # (1) band counts -> exclusive offsets: 5 rows, driver arithmetic
    counts = {
        r["band"]: r["n"]
        for r in scored.groupBy("band").agg(F.count("*").alias("n")).collect()
    }
    offset, offsets = 0, {}
    for b in sorted(counts):
        offsets[b] = offset
        offset += counts[b]
    off_df = F.broadcast(
        local_frame(
            spark,
            [(b, offsets[b]) for b in sorted(offsets)], "band INT, off BIGINT"
        )
    )
    # (2) band-partitioned rank; (3) offset composition
    w = Window.partitionBy("band").orderBy("h", "doc_id")
    pos = (
        scored.join(off_df, "band")
        .select(
            "doc_id",
            "band",
            (F.col("off") + F.row_number().over(w) - 1).alias("pos"),
        )
    )
    return (
        pos.groupBy(F.col("band").cast("long").alias("band"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
            (F.max("pos") - F.min("pos") + 1 == F.count("*")).alias(
                "contiguous"
            ),
            F.sum(F.col("pos") * F.col("doc_id"))
            .cast("long")
            .alias("order_checksum"),
        )
        .orderBy("band")
    )
