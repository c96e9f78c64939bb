"""Mergeable sketch operators: KMV distinct estimation, count-min
heavy-hitter estimation, and bloom-filter join pre-filtering.

At 100 TB, exact answers to "how many distinct", "how often does each
hot key occur", and "which probe rows can possibly match" are often
not worth their shuffles; production engines answer them with small
MERGEABLE summaries (a KMV/theta sketch, a count-min matrix, a bloom
filter) that aggregate map-side and cost O(sketch size) to combine.
Spark ships opaque versions (approx_count_distinct's HLL++, the
runtime-filter bloom) whose internals an external oracle cannot
reproduce; these entries implement the sketches themselves over the
repo's portable 60-bit hash (md5-prefix, identical in DuckDB), so the
ENTIRE estimation pipeline — hashing, bucketing, minimization, the
estimate arithmetic — sits under the value-hash oracle, error and all.

Every sketch here has the map-side-combine algebra that makes it
scale:
  * KMV: the k smallest hashes of a union = k smallest of the per-
    partition k-smallest sets (a TakeOrdered, no global sort);
  * count-min: counter matrices add elementwise; the build below
    aggregates exact per-key counts first (the shuffle carries
    |distinct keys| rows, never |rows|), then folds them into d*w
    cells;
  * bloom: bitmaps OR together; the filter evaluation is a broadcast
    join against the tiny bit set, no shuffle of the probe side.

Reference parity: none of this exists in the reference (1.4k-line
game engine, SURVEY.md §0); it is the approximate-query surface the
driver contract's warehouse north star implies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import local_frame, table
from hive_clone_spark.pipeline.common import portable_hash, sql_portable_hash
from hive_clone_spark.registry import register

# ---------------------------------------------------------------------------
# Q95 — KMV (k-minimum-values) distinct-count sketch: hash every key
# to (0, 2^60), keep the k smallest DISTINCT hashes, and estimate
# NDV = (k-1) / normalized kth minimum. One entry estimates three
# lineitem columns and reports estimate next to exact truth, so the
# oracle pins both the sketch arithmetic AND its observed error.
#
# Scale design: per column, the plan is a hash-distinct (map-side
# partial) followed by TakeOrdered(k) — the k-smallest-of-union
# algebra means executors each surface their local k minima and the
# driver merges 32*k values; nothing global ever sorts. The estimate
# itself is driver-side arithmetic on ONE number.
# ---------------------------------------------------------------------------
_KMV_K = 256
_HASH_SPACE = float(1 << 60)  # portable_hash range


def _kmv_sql(col: str) -> str:
    return f"""
    SELECT '{col}' AS column_name,
      CAST({_KMV_K} AS BIGINT) AS k,
      kth,
      ROUND(({_KMV_K} - 1) * {_HASH_SPACE} / kth, 6) AS est_ndv,
      (SELECT CAST(COUNT(DISTINCT {col}) AS BIGINT) FROM lineitem)
        AS exact_ndv
    FROM (
      SELECT MAX(h) AS kth FROM (
        SELECT DISTINCT {sql_portable_hash(f"CAST({col} AS VARCHAR)")} AS h
        FROM lineitem ORDER BY h LIMIT {_KMV_K}))
    """


@register(
    "q95_kmv_distinct_sketch",
    oracle=f"""
    {_kmv_sql("l_partkey")}
    UNION ALL {_kmv_sql("l_suppkey")}
    UNION ALL {_kmv_sql("l_orderkey")}
    ORDER BY column_name
    """,
)
def q95_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")

    def one(col: str) -> DataFrame:
        h = portable_hash(F.col(col).cast("string"))
        kth = (
            li.select(h.alias("h"))
            .distinct()
            .orderBy("h")
            .limit(_KMV_K)  # TakeOrdered: per-partition minima merge
            .agg(F.max("h").alias("kth"))
        )
        exact = li.agg(F.countDistinct(col).cast("long").alias("exact_ndv"))
        return kth.crossJoin(exact).select(
            F.lit(col).alias("column_name"),
            F.lit(_KMV_K).cast("long").alias("k"),
            "kth",
            F.round((_KMV_K - 1) * _HASH_SPACE / F.col("kth"), 6).alias(
                "est_ndv"
            ),
            "exact_ndv",
        )

    out = one("l_partkey").unionAll(one("l_suppkey")).unionAll(one("l_orderkey"))
    return out.orderBy("column_name")


# ---------------------------------------------------------------------------
# Q96 — count-min sketch heavy hitters: d=4 hash rows x w=1024
# counters; every key increments one cell per row, a key's estimate is
# the MIN over its d cells (always >= truth; collisions only inflate).
# The entry builds the sketch from lineitem.l_partkey, queries the 20
# hottest true keys through it, and reports estimate next to truth —
# the oracle reproduces the exact counter matrix, so a wrong bucket
# hash, a lost cell, or a max-instead-of-min read all shift values.
#
# Scale design: the build aggregates EXACT per-key counts first (one
# map-side-combined shuffle of |distinct keys| rows), then folds keys
# into cells — at 100 TB the shuffle never carries raw rows. The
# d x w matrix (4096 longs) is the mergeable unit: elementwise sums
# across partitions/streams. Queries are O(d) lookups in a broadcast.
# ---------------------------------------------------------------------------
_CM_D = 4
_CM_W = 1024
_CM_TOPN = 20


@register(
    "q96_countmin_heavy_hitters",
    oracle=f"""
    WITH keyed AS (
      SELECT l_partkey AS k, COUNT(*) AS cnt
      FROM lineitem GROUP BY l_partkey),
    cells AS (
      SELECT i,
        {sql_portable_hash("i || ':' || CAST(k AS VARCHAR)")} % {_CM_W}
          AS bucket,
        SUM(cnt) AS cell
      FROM keyed, (SELECT unnest(generate_series(0, {_CM_D - 1})) AS i)
      GROUP BY 1, 2),
    top AS (
      SELECT k, cnt FROM keyed
      ORDER BY cnt DESC, k LIMIT {_CM_TOPN}),
    est AS (
      SELECT t.k, t.cnt, MIN(c.cell) AS est_cnt
      FROM top t
      JOIN (SELECT unnest(generate_series(0, {_CM_D - 1})) AS i) s
        ON TRUE
      JOIN cells c ON c.i = s.i
        AND c.bucket = {sql_portable_hash("s.i || ':' || CAST(t.k AS VARCHAR)")}
                        % {_CM_W}
      GROUP BY t.k, t.cnt)
    SELECT k AS l_partkey, CAST(cnt AS BIGINT) AS true_cnt,
      CAST(est_cnt AS BIGINT) AS est_cnt,
      CAST(est_cnt - cnt AS BIGINT) AS overcount
    FROM est ORDER BY true_cnt DESC, l_partkey
    """,
)
def q96_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    keyed = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count("*").alias("cnt")
    )
    rows = F.explode(
        F.sequence(F.lit(0), F.lit(_CM_D - 1))
    ).alias("i")
    bucket = (
        portable_hash(
            F.concat(F.col("i").cast("string"), F.lit(":"), F.col("k").cast("string"))
        )
        % _CM_W
    )
    cells = (
        keyed.select("k", "cnt", rows)
        .select("i", bucket.alias("bucket"), "cnt")
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").alias("cell"))
    )
    top = keyed.orderBy(F.desc("cnt"), "k").limit(_CM_TOPN)
    probes = top.select(
        "k", "cnt", rows
    ).select(
        "k", "cnt", "i", bucket.alias("bucket")
    )
    est = (
        probes.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy("k", "cnt")
        .agg(F.min("cell").alias("est_cnt"))
    )
    return est.select(
        F.col("k").alias("l_partkey"),
        F.col("cnt").cast("long").alias("true_cnt"),
        F.col("est_cnt").cast("long").alias("est_cnt"),
        (F.col("est_cnt") - F.col("cnt")).cast("long").alias("overcount"),
    ).orderBy(F.desc("true_cnt"), "l_partkey")


# ---------------------------------------------------------------------------
# Q97 — bloom-filter join pre-filter: the runtime-filter pattern.
# The build side (high-value orders) publishes an m=16384-bit bloom
# filter (j=3 hashes); the probe side (lineitem) is reduced to rows
# whose key passes the filter BEFORE the real join runs. The entry
# reports the exact filtering ledger — probe keys, bloom-pass keys,
# true-match keys, and the false positives the bit collisions let
# through — all under the oracle, because the bits themselves are
# portable-hash-derived.
#
# Scale design: the filter is |bits| ~ 2 KB regardless of build size;
# it broadcast-joins against the probe's exploded bit triples (3 rows
# per DISTINCT probe key, not per probe row), and only surviving keys
# reach the exact semi join. At 100 TB this is Spark's own
# spark.sql.optimizer.runtimeFilter machinery, done explicitly and
# verifiably.
# ---------------------------------------------------------------------------
_BLOOM_M = 16384
_BLOOM_J = 3
_BLOOM_PRICE = 450_000.0  # build-side predicate: orders above this


@register(
    "q97_bloom_filter_join",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_totalprice > {_BLOOM_PRICE}),
    bits AS (
      SELECT DISTINCT
        {sql_portable_hash("i || '#' || CAST(k AS VARCHAR)")} % {_BLOOM_M}
          AS bit
      FROM build, (SELECT unnest(generate_series(0, {_BLOOM_J - 1})) AS i)),
    probe AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
    passed AS (
      SELECT p.k FROM probe p
      WHERE {_BLOOM_J} = (
        SELECT COUNT(*)
        FROM (SELECT unnest(generate_series(0, {_BLOOM_J - 1})) AS i) s
        WHERE EXISTS (SELECT 1 FROM bits b WHERE b.bit =
          {sql_portable_hash("s.i || '#' || CAST(p.k AS VARCHAR)")}
            % {_BLOOM_M}))),
    truek AS (SELECT k FROM probe WHERE k IN (SELECT k FROM build))
    SELECT
      CAST((SELECT COUNT(*) FROM build) AS BIGINT) AS n_build_keys,
      CAST((SELECT COUNT(*) FROM probe) AS BIGINT) AS n_probe_keys,
      CAST((SELECT COUNT(*) FROM passed) AS BIGINT) AS n_bloom_pass,
      CAST((SELECT COUNT(*) FROM truek) AS BIGINT) AS n_true_match,
      CAST((SELECT COUNT(*) FROM passed) -
           (SELECT COUNT(*) FROM truek) AS BIGINT) AS n_false_positives,
      CAST((SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey IN (SELECT k FROM passed)) AS BIGINT)
        AS n_probe_rows_kept
    """,
)
def q97_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    build = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > _BLOOM_PRICE)
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    idx = F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_J - 1))).alias("i")
    bit = (
        portable_hash(
            F.concat(
                F.col("i").cast("string"), F.lit("#"), F.col("k").cast("string")
            )
        )
        % _BLOOM_M
    )
    bits = build.select("k", idx).select(bit.alias("bit")).distinct()
    probe = li.select(F.col("l_orderkey").alias("k")).distinct()
    # bloom membership: all j bits present -> broadcast join on the
    # tiny bit set, count matches per key
    passed = (
        probe.select("k", idx)
        .select("k", bit.alias("bit"))
        .join(F.broadcast(bits), "bit")
        .groupBy("k")
        .agg(F.count("*").alias("nbits"))
        .where(F.col("nbits") == _BLOOM_J)
        .select("k")
    )
    truek = probe.join(F.broadcast(build), "k", "left_semi")
    kept_rows = li.join(
        F.broadcast(passed),
        li.l_orderkey == passed.k,
        "left_semi",
    )
    # assemble the ledger as ONE composed plan (1-row aggregates
    # crossJoined) so the whole entry is a single job — five separate
    # .count() actions paid five scheduler round-trips for nothing
    counts = (
        build.agg(F.count("*").alias("n_build_keys"))
        .crossJoin(probe.agg(F.count("*").alias("n_probe_keys")))
        .crossJoin(passed.agg(F.count("*").alias("n_bloom_pass")))
        .crossJoin(truek.agg(F.count("*").alias("n_true_match")))
        .crossJoin(kept_rows.agg(F.count("*").alias("n_probe_rows_kept")))
    )
    return counts.select(
        "n_build_keys",
        "n_probe_keys",
        "n_bloom_pass",
        "n_true_match",
        (F.col("n_bloom_pass") - F.col("n_true_match")).alias(
            "n_false_positives"
        ),
        "n_probe_rows_kept",
    )


# ---------------------------------------------------------------------------
# Q105 — GROUPED KMV sketches: distinct customers per nation, each
# group estimated from its own k-minimum-values sketch next to exact
# truth. This is the shape sketch aggregation actually takes in a
# warehouse (per-group NDV columns in a stats table, mergeable
# partials per partition), and it is all window-free except a rank
# over the per-group k-minima — bounded at k rows per group.
#
# Scale design: one shuffle keyed by (nation, hash) for the distinct,
# then the per-group k smallest via rank <= k on a (nation)-
# partitioned window ORDER BY hash — each group's window is capped at
# its distinct-hash count and the rank prunes to k immediately
# (WindowGroupLimit pushes the limit into the sort at execution).
# The estimate is arithmetic over one row per group.
# ---------------------------------------------------------------------------
_GKMV_K = 64


@register(
    "q105_kmv_grouped_distinct",
    oracle=f"""
    WITH j AS (
      SELECT n.n_name,
        {sql_portable_hash("CAST(o.o_custkey AS VARCHAR)")} AS h
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey),
    d AS (SELECT DISTINCT n_name, h FROM j),
    r AS (
      SELECT n_name, h,
        ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY h) AS rk,
        COUNT(*) OVER (PARTITION BY n_name) AS nd
      FROM d),
    kth AS (
      SELECT n_name, MAX(h) AS kth, MAX(nd) AS exact_ndv,
        MAX(CASE WHEN nd >= {_GKMV_K} THEN 1 ELSE 0 END) AS saturated
      FROM r WHERE rk <= {_GKMV_K} GROUP BY n_name)
    SELECT n_name,
      CAST(exact_ndv AS BIGINT) AS exact_ndv,
      CASE WHEN saturated = 1
           THEN ROUND(({_GKMV_K} - 1) * {_HASH_SPACE} / kth, 6)
           ELSE CAST(exact_ndv AS DOUBLE) END AS est_ndv
    FROM kth ORDER BY n_name
    """,
)
def q105_kmv_grouped_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders").select("o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            portable_hash(F.col("o_custkey").cast("string")).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("n_name").orderBy("h")
    r = j.select(
        "n_name",
        "h",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("n_name")).alias("nd"),
    )
    kth = (
        r.where(F.col("rk") <= _GKMV_K)
        .groupBy("n_name")
        .agg(
            F.max("h").alias("kth"),
            F.max("nd").alias("exact_ndv"),
            F.max(
                F.when(F.col("nd") >= _GKMV_K, 1).otherwise(0)
            ).alias("saturated"),
        )
    )
    return kth.select(
        "n_name",
        F.col("exact_ndv").cast("long").alias("exact_ndv"),
        F.when(
            F.col("saturated") == 1,
            F.round((_GKMV_K - 1) * _HASH_SPACE / F.col("kth"), 6),
        )
        .otherwise(F.col("exact_ndv").cast("double"))
        .alias("est_ndv"),
    ).orderBy("n_name")


# ---------------------------------------------------------------------------
# Q106 — KMV set algebra: |A ∪ B| and |A ∩ B| of two key sets
# (customers ordering in 1995 vs 1998) WITHOUT materializing either
# set at full size. The union sketch is the k smallest of the merged
# sketches (the KMV merge rule); the intersection comes from the
# Jaccard estimate over the union sketch's members (fraction present
# in both), J * |A ∪ B| — the theta-sketch trick. Estimates sit next
# to exact truths, so the oracle pins the sketch algebra AND its
# observed error.
#
# Scale design: each side's sketch is a TakeOrdered over distinct
# hashes; everything after operates on <= 2k driver-bounded rows.
# Sketches merge associatively — per-partition, per-day, per-source —
# which is why this beats COUNT(DISTINCT) at 100 TB: the exact form
# must shuffle every key, the sketch form ships k values per grain.
# ---------------------------------------------------------------------------
_SKMV_K = 256


@register(
    "q106_kmv_set_algebra",
    oracle=f"""
    WITH a AS (
      SELECT DISTINCT {sql_portable_hash("CAST(o_custkey AS VARCHAR)")} AS h
      FROM orders WHERE o_orderdate >= DATE '1995-01-01'
        AND o_orderdate < DATE '1996-01-01'),
    b AS (
      SELECT DISTINCT {sql_portable_hash("CAST(o_custkey AS VARCHAR)")} AS h
      FROM orders WHERE o_orderdate >= DATE '1998-01-01'
        AND o_orderdate < DATE '1999-01-01'),
    ska AS (SELECT h FROM a ORDER BY h LIMIT {_SKMV_K}),
    skb AS (SELECT h FROM b ORDER BY h LIMIT {_SKMV_K}),
    merged AS (
      SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
      ORDER BY h LIMIT {_SKMV_K}),
    mk AS (SELECT MAX(h) AS kth, COUNT(*) AS mn FROM merged),
    inter AS (
      SELECT COUNT(*) AS n_both FROM merged
      WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
    est AS (
      SELECT ROUND((mk.mn - 1) * {_HASH_SPACE} / mk.kth, 6) AS est_union,
        ROUND(CAST(inter.n_both AS DOUBLE) / mk.mn
              * ((mk.mn - 1) * {_HASH_SPACE} / mk.kth), 6) AS est_intersect
      FROM mk, inter),
    exact AS (
      SELECT
        (SELECT COUNT(*) FROM (SELECT h FROM a UNION SELECT h FROM b))
          AS exact_union,
        (SELECT COUNT(*) FROM a WHERE h IN (SELECT h FROM b))
          AS exact_intersect)
    SELECT CAST(exact.exact_union AS BIGINT) AS exact_union,
      est.est_union,
      CAST(exact.exact_intersect AS BIGINT) AS exact_intersect,
      est.est_intersect
    FROM exact, est
    """,
)
def q106_kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")

    def side(lo, hi):
        return (
            o.where(
                (F.col("o_orderdate") >= F.lit(lo).cast("date"))
                & (F.col("o_orderdate") < F.lit(hi).cast("date"))
            )
            .select(
                portable_hash(F.col("o_custkey").cast("string")).alias("h")
            )
            .distinct()
        )

    a, b = side("1995-01-01", "1996-01-01"), side("1998-01-01", "1999-01-01")
    ska = a.orderBy("h").limit(_SKMV_K)
    skb = b.orderBy("h").limit(_SKMV_K)
    merged = ska.union(skb).distinct().orderBy("h").limit(_SKMV_K)
    mk = merged.agg(F.max("h").alias("kth"), F.count("*").alias("mn"))
    n_both = (
        merged.join(ska, "h", "left_semi")
        .join(skb, "h", "left_semi")
        .agg(F.count("*").alias("n_both"))
    )
    exact_union = a.union(b).distinct().agg(
        F.count("*").alias("exact_union")
    )
    exact_intersect = a.join(b, "h", "left_semi").agg(
        F.count("*").alias("exact_intersect")
    )
    est_u = (F.col("mn") - 1) * _HASH_SPACE / F.col("kth")
    return (
        exact_union.crossJoin(exact_intersect)
        .crossJoin(mk)
        .crossJoin(n_both)
        .select(
            F.col("exact_union").cast("long").alias("exact_union"),
            F.round(est_u, 6).alias("est_union"),
            F.col("exact_intersect").cast("long").alias("exact_intersect"),
            F.round(
                F.col("n_both").cast("double") / F.col("mn") * est_u, 6
            ).alias("est_intersect"),
        )
    )


# ---------------------------------------------------------------------------
# Q107 — column-entropy profile: Shannon entropy (bits) + normalized
# entropy for three categorical columns in one pass each — the
# profiling signal that drives encoding choices (dictionary vs plain),
# partition-key viability, and skew alarms. Integer-exact category
# counts feed p*log2(p) as doubles rounded to 6 dp (the only
# float step, identical IEEE arithmetic in both engines).
#
# Scale design: per column one map-side-combined groupBy of
# |categories| rows, then one tiny aggregate; columns are independent
# single passes (a real profiler fuses them into one scan with
# grouping sets — q29 shows that machinery).
# ---------------------------------------------------------------------------
def _entropy_sql(tbl: str, col: str) -> str:
    return f"""
    SELECT '{col}' AS column_name,
      CAST(COUNT(*) AS BIGINT) AS n_categories,
      ROUND(SUM(-(cnt / t) * log2(cnt / t)), 6) AS entropy_bits,
      ROUND(CASE WHEN COUNT(*) = 1 THEN 0.0
        ELSE SUM(-(cnt / t) * log2(cnt / t)) / log2(COUNT(*)) END, 6)
        AS entropy_norm
    FROM (
      SELECT CAST(COUNT(*) AS DOUBLE) AS cnt,
        CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS t
      FROM {tbl} GROUP BY {col})
    """


@register(
    "q107_column_entropy",
    oracle=f"""
    {_entropy_sql("orders", "o_orderstatus")}
    UNION ALL {_entropy_sql("orders", "o_orderpriority")}
    UNION ALL {_entropy_sql("lineitem", "l_returnflag")}
    ORDER BY column_name
    """,
)
def q107_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    def one(tbl: str, col: str) -> DataFrame:
        t = table(spark, sf_dir, tbl)
        counts = t.groupBy(col).agg(F.count("*").alias("c"))
        total = counts.agg(F.sum("c").alias("t"))
        frac = F.col("c").cast("double") / F.col("t").cast("double")
        per = counts.crossJoin(F.broadcast(total)).select(frac.alias("p"))
        ent = F.sum(-F.col("p") * F.log2("p"))
        return per.agg(
            F.lit(col).alias("column_name"),
            F.count("*").cast("long").alias("n_categories"),
            F.round(ent, 6).alias("entropy_bits"),
            F.round(
                F.when(F.count("*") == 1, 0.0).otherwise(
                    ent / F.log2(F.count("*").cast("double"))
                ),
                6,
            ).alias("entropy_norm"),
        )

    return (
        one("orders", "o_orderstatus")
        .unionAll(one("orders", "o_orderpriority"))
        .unionAll(one("lineitem", "l_returnflag"))
        .orderBy("column_name")
    )


# ---------------------------------------------------------------------------
# Q157 — HdrHistogram-style log-linear quantile sketch: the mergeable
# fixed-size histogram production engines use when percentile_approx's
# opaque internals can't be audited. Each value lands in a bucket
# keyed by (e, sub) where e = bit length and sub = the 4 bits after
# the leading 1 — 16 linear sub-buckets per power of two, so every
# bucket spans at most a 1/16 relative range. The layout is PURE
# INTEGER arithmetic (bin-string length, shifts, masks), identical in
# Spark and DuckDB, so the whole estimation pipeline — bucketing,
# cumulative lookup, midpoint estimate, and the PROVABLE rank-error
# invariant |rank(est) - k| <= bucket_count — sits under the value
# hash.
#
# Scale design: the histogram aggregate is map-side combinable into a
# SCHEMA-bounded cell set (<= 16 cells per power of two of value
# range — ~130 for any money column, however many rows feed it), and
# histograms merge by cell-wise addition, so per-executor partials
# combine in O(cells). The cumulative window runs over those <= ~130
# cells (GLOBALWINDOW_OK: bounded by construction, never by data) and
# the verification side is a rank COUNT — a full scan with map-side
# combine, NOT a global sort: unlike an exact quantile, nothing here
# ever orders the data.
# ---------------------------------------------------------------------------
_HDR_PCTS = (50, 90, 99)


def _hdr_oracle() -> str:
    pct_rows = ", ".join(f"({p})" for p in _HDR_PCTS)
    return f"""
    WITH vals AS (
      SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        AS cents FROM lineitem
      WHERE CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) >= 32),
    hist AS (
      SELECT CAST(length(bin(cents)) AS INT) AS e,
        (cents >> (CAST(length(bin(cents)) AS INT) - 5)) & 15 AS sub,
        CAST(COUNT(*) AS BIGINT) AS cnt
      FROM vals GROUP BY 1, 2),
    cum AS (
      SELECT e, sub, cnt,
        SUM(cnt) OVER (ORDER BY e, sub
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
      FROM hist),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM vals),
    pcts AS (SELECT CAST(p AS BIGINT) AS pct FROM (VALUES {pct_rows}) t(p)),
    targets AS (
      SELECT pct, n_rows, (pct * n_rows + 99) // 100 AS k_target
      FROM pcts CROSS JOIN n),
    chosen AS (
      SELECT t.pct, t.n_rows, t.k_target,
        MIN(struct_pack(e := c.e, sub := c.sub, cnt := c.cnt)) AS b
      FROM targets t JOIN cum c ON c.cum_cnt >= t.k_target
      GROUP BY t.pct, t.n_rows, t.k_target),
    est AS (
      SELECT pct, n_rows, k_target,
        CAST(b.e AS BIGINT) AS bucket_e, b.sub AS bucket_sub,
        b.cnt AS bucket_cnt,
        (((16 + b.sub) << (b.e - 5))
         + (((16 + b.sub) << (b.e - 5)) + (CAST(1 AS BIGINT) << (b.e - 5)) - 1)
        ) // 2 AS est_cents
      FROM chosen),
    ranked AS (
      SELECT e.pct, CAST(COUNT(*) AS BIGINT) AS rank_of_est
      FROM est e JOIN vals v ON v.cents <= e.est_cents
      GROUP BY e.pct)
    SELECT e.pct, e.n_rows, e.k_target, e.bucket_e, e.bucket_sub,
      e.bucket_cnt, e.est_cents, r.rank_of_est,
      abs(r.rank_of_est - e.k_target) <= e.bucket_cnt AS in_bound
    FROM est e JOIN ranked r ON r.pct = e.pct
    ORDER BY e.pct
    """


@register("q157_hdr_quantile_sketch", oracle=_hdr_oracle())
def q157_hdr_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    cents = F.col("cents")
    vals = li.select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    ).where(cents >= 32)
    hist = (
        vals.select(
            F.expr("CAST(length(bin(cents)) AS INT)").alias("e"),
            F.expr(
                "(cents >> (CAST(length(bin(cents)) AS INT) - 5)) & 15"
            ).alias("sub"),
        )
        .groupBy("e", "sub")
        .agg(F.count("*").alias("cnt"))
    )
    # <= ~130 cells by construction (16 per power of two of range):
    # the global cumulative window sorts buckets, never data.
    cum = hist.withColumn(
        "cum_cnt",
        F.sum("cnt").over(
            Window.orderBy("e", "sub").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    n = vals.agg(F.count("*").alias("n_rows"))
    pcts = local_frame(spark, [(p,) for p in _HDR_PCTS], "pct BIGINT")
    targets = pcts.crossJoin(F.broadcast(n)).select(
        "pct",
        "n_rows",
        F.expr("(pct * n_rows + 99) div 100").alias("k_target"),
    )
    # bucket [lo, hi] midpoint, all integer: lo = (16+sub) << (e-5),
    # hi = lo + 2^(e-5) - 1, est = (lo + hi) div 2
    est = F.expr(
        "((((16 + b.sub) << (b.e - 5)) "
        " + (((16 + b.sub) << (b.e - 5)) "
        "    + (CAST(1 AS BIGINT) << (b.e - 5)) - 1)) div 2)"
    )
    chosen = (
        F.broadcast(targets)
        .join(cum, F.col("cum_cnt") >= F.col("k_target"))
        .groupBy("pct", "n_rows", "k_target")
        .agg(F.min(F.struct("e", "sub", "cnt")).alias("b"))
        .select(
            "pct",
            "n_rows",
            "k_target",
            F.col("b.e").cast("long").alias("bucket_e"),
            F.col("b.sub").alias("bucket_sub"),
            F.col("b.cnt").alias("bucket_cnt"),
            est.alias("est_cents"),
        )
    )
    ranked = (
        F.broadcast(chosen.select("pct", "est_cents"))
        .join(vals, F.col("cents") <= F.col("est_cents"))
        .groupBy("pct")
        .agg(F.count("*").alias("rank_of_est"))
        .withColumnRenamed("pct", "rpct")
    )
    return (
        chosen.join(ranked, chosen.pct == F.col("rpct"))
        .select(
            "pct",
            "n_rows",
            "k_target",
            "bucket_e",
            "bucket_sub",
            "bucket_cnt",
            "est_cents",
            "rank_of_est",
            (
                F.abs(F.col("rank_of_est") - F.col("k_target"))
                <= F.col("bucket_cnt")
            ).alias("in_bound"),
        )
        .orderBy("pct")
    )


# ---------------------------------------------------------------------------
# Q172 — GROUPED quantile sketches: per-series p50/p99 is the
# monitoring query (latency per endpoint, value per event type), and
# it composes from q157's log-linear histogram for free because
# histograms are mergeable PER GROUP: one map-side-combinable pass
# builds (group, e, sub) cells, the cumulative walk runs inside each
# group's <=130-cell partition (calendar/schema-bounded, never data),
# and the same |rank(est) - k| <= bucket_count invariant is verified
# per (group, percentile) by one broadcast rank probe. Values are
# clamped to >= 32 cents (GREATEST) so the e > 4 layout holds without
# dropping rows.
# ---------------------------------------------------------------------------
_GHDR_PCTS = (50, 99)


def _ghdr_oracle() -> str:
    pct_rows = ", ".join(f"({p})" for p in _GHDR_PCTS)
    return f"""
    WITH vals AS (
      SELECT event_type AS g,
        GREATEST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 32)
          AS cents
      FROM events),
    hist AS (
      SELECT g, CAST(length(bin(cents)) AS INT) AS e,
        (cents >> (CAST(length(bin(cents)) AS INT) - 5)) & 15 AS sub,
        CAST(COUNT(*) AS BIGINT) AS cnt
      FROM vals GROUP BY 1, 2, 3),
    cum AS (
      SELECT g, e, sub, cnt,
        SUM(cnt) OVER (PARTITION BY g ORDER BY e, sub
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
      FROM hist),
    n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_rows FROM vals GROUP BY g),
    targets AS (
      SELECT n.g, pct, n_rows, (pct * n_rows + 99) // 100 AS k_target
      FROM n, (SELECT CAST(p AS BIGINT) AS pct FROM (VALUES {pct_rows}) t(p))),
    chosen AS (
      SELECT t.g, t.pct, t.n_rows, t.k_target,
        MIN(struct_pack(e := c.e, sub := c.sub, cnt := c.cnt)) AS b
      FROM targets t JOIN cum c ON c.g = t.g AND c.cum_cnt >= t.k_target
      GROUP BY t.g, t.pct, t.n_rows, t.k_target),
    est AS (
      SELECT g, pct, n_rows, k_target, b.cnt AS bucket_cnt,
        (((16 + b.sub) << (b.e - 5))
         + (((16 + b.sub) << (b.e - 5)) + (CAST(1 AS BIGINT) << (b.e - 5)) - 1)
        ) // 2 AS est_cents
      FROM chosen),
    ranked AS (
      SELECT e.g, e.pct, CAST(COUNT(*) AS BIGINT) AS rank_of_est
      FROM est e JOIN vals v ON v.g = e.g AND v.cents <= e.est_cents
      GROUP BY e.g, e.pct)
    SELECT e.g AS event_type, e.pct, e.n_rows, e.k_target, e.bucket_cnt,
      e.est_cents, r.rank_of_est,
      abs(r.rank_of_est - e.k_target) <= e.bucket_cnt AS in_bound
    FROM est e JOIN ranked r ON r.g = e.g AND r.pct = e.pct
    ORDER BY event_type, e.pct
    """


@register("q172_grouped_quantile_sketch", oracle=_ghdr_oracle())
def q172_grouped_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    vals = ev.select(
        F.col("event_type").alias("g"),
        F.greatest(
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
            F.lit(32),
        ).alias("cents"),
    )
    hist = (
        vals.select(
            "g",
            F.expr("CAST(length(bin(cents)) AS INT)").alias("e"),
            F.expr(
                "(cents >> (CAST(length(bin(cents)) AS INT) - 5)) & 15"
            ).alias("sub"),
        )
        .groupBy("g", "e", "sub")
        .agg(F.count("*").alias("cnt"))
    )
    # per-group cumulative walk: partitions are <=130 cells each
    cum = hist.withColumn(
        "cum_cnt",
        F.sum("cnt").over(
            Window.partitionBy("g")
            .orderBy("e", "sub")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    n = vals.groupBy("g").agg(F.count("*").alias("n_rows"))
    pcts = local_frame(spark, [(p,) for p in _GHDR_PCTS], "pct BIGINT")
    targets = n.crossJoin(F.broadcast(pcts)).select(
        "g", "pct", "n_rows",
        F.expr("(pct * n_rows + 99) div 100").alias("k_target"),
    )
    est = F.expr(
        "((((16 + b.sub) << (b.e - 5)) "
        " + (((16 + b.sub) << (b.e - 5)) "
        "    + (CAST(1 AS BIGINT) << (b.e - 5)) - 1)) div 2)"
    )
    chosen = (
        F.broadcast(targets)
        .join(cum, (cum.g == targets.g) & (F.col("cum_cnt") >= F.col("k_target")))
        .drop(cum.g)
        .groupBy("g", "pct", "n_rows", "k_target")
        .agg(F.min(F.struct("e", "sub", "cnt")).alias("b"))
        .select(
            "g", "pct", "n_rows", "k_target",
            F.col("b.cnt").alias("bucket_cnt"),
            est.alias("est_cents"),
        )
    )
    ranked = (
        F.broadcast(
            chosen.select(
                F.col("g").alias("rg"),
                F.col("pct").alias("rpct"),
                "est_cents",
            )
        )
        .join(
            vals,
            (vals.g == F.col("rg")) & (F.col("cents") <= F.col("est_cents")),
        )
        .groupBy("rg", "rpct")
        .agg(F.count("*").alias("rank_of_est"))
    )
    return (
        chosen.join(
            ranked,
            (chosen.g == ranked.rg) & (chosen.pct == ranked.rpct),
        )
        .select(
            chosen.g.alias("event_type"),
            chosen.pct.alias("pct"),
            "n_rows",
            "k_target",
            "bucket_cnt",
            "est_cents",
            "rank_of_est",
            (
                F.abs(F.col("rank_of_est") - F.col("k_target"))
                <= F.col("bucket_cnt")
            ).alias("in_bound"),
        )
        .orderBy("event_type", "pct")
    )


# ---------------------------------------------------------------------------
# Q207 — HyperLogLog distinct-count sketch, the industry-standard NDV
# summary (Spark's own approx_count_distinct is an opaque HLL++; this
# is the same estimator built transparently so the oracle can replay
# every register): the 60-bit portable hash splits into a 6-bit
# bucket (top bits) and a 54-bit tail; each of m=64 registers keeps
# the maximum leading-zero rank rho(tail) seen in its bucket; the
# estimate is alpha_m * m^2 / sum_j 2^-M[j].
#
# Everything stays exact until one final division: rho comes from the
# BINARY-STRING length of the tail (bin() is pure integer formatting
# — no log2 anywhere, whose rounding differs across libms at exact
# powers); the harmonic sum is scaled by 2^60 so it is an exact
# integer (HUGEINT / DECIMAL(38,0) — 64 * 2^60 overflows BIGINT); the
# register checksum sum((j+1) * M[j]) pins every register value, so a
# single wrong rank anywhere breaks the hash, not just the rounded
# estimate. Alpha_64 = 0.709 (Flajolet et al. 2007, the public HLL
# paper) as an identical literal on both engines.
#
# Scale design: registers have the max-merge algebra — map-side
# combine produces 64 rows per partition, the final merge is
# elementwise MAX over 64-row vectors, and the whole sketch costs 64
# bytes of state per column at ANY data size. This is the sketch the
# cost model (q89/q93) would persist per file at 100 TB.
# ---------------------------------------------------------------------------
_HLL_M = 64  # 6-bit bucket index
_HLL_TAIL = 54  # 60 - 6 tail bits
_HLL_ALPHA = 0.709  # alpha_64 from the public HLL constants
_HLL_SCALE = 1 << 60


def _hll_sql(col: str) -> str:
    h = sql_portable_hash(f"CAST({col} AS VARCHAR)")
    return f"""
    SELECT '{col}' AS column_name,
      CAST({_HLL_M} AS BIGINT) AS m,
      n_empty, register_checksum,
      ROUND({_HLL_ALPHA} * {_HLL_M} * {_HLL_M} * {float(_HLL_SCALE)}
            / CAST(scaled_sum AS DOUBLE), 6) AS est_ndv,
      (SELECT CAST(COUNT(DISTINCT {col}) AS BIGINT) FROM lineitem)
        AS exact_ndv
    FROM (
      SELECT
        CAST(SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
        CAST(SUM((j + 1) * mj) AS BIGINT) AS register_checksum,
        SUM(CAST(CAST(1 AS BIGINT) << (60 - mj) AS HUGEINT)) AS scaled_sum
      FROM (
        SELECT s.j, COALESCE(r.mj, 0) AS mj
        FROM (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS j) s
        LEFT JOIN (
          SELECT h // {1 << _HLL_TAIL} AS j,
            MAX(CASE WHEN h % {1 << _HLL_TAIL} = 0 THEN {_HLL_TAIL + 1}
                     ELSE {_HLL_TAIL + 1}
                          - length(bin(h % {1 << _HLL_TAIL})) END) AS mj
          FROM (SELECT DISTINCT {h} AS h FROM lineitem)
          GROUP BY 1) r ON r.j = s.j))
    """


@register(
    "q207_hll_distinct",
    oracle=f"""
    {_hll_sql("l_partkey")}
    UNION ALL {_hll_sql("l_suppkey")}
    UNION ALL {_hll_sql("l_orderkey")}
    ORDER BY column_name
    """,
)
def q207_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    spine = spark.range(_HLL_M).select(F.col("id").cast("long").alias("j"))

    def one(col: str) -> DataFrame:
        h = portable_hash(F.col(col).cast("string"))
        tail = F.col("h") % (1 << _HLL_TAIL)
        rho = F.when(tail == 0, F.lit(_HLL_TAIL + 1)).otherwise(
            F.lit(_HLL_TAIL + 1) - F.length(F.bin(tail))
        )
        regs = (
            li.select(h.alias("h"))
            .distinct()
            .select(
                (F.col("h") / (1 << _HLL_TAIL)).cast("long").alias("j"),
                rho.alias("rho"),
            )
            .groupBy("j")
            .agg(F.max("rho").alias("mj"))
        )
        full = spine.join(regs, "j", "left").select(
            "j", F.coalesce("mj", F.lit(0)).alias("mj")
        )
        agg = full.agg(
            F.sum(F.when(F.col("mj") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_empty"),
            F.sum((F.col("j") + 1) * F.col("mj"))
            .cast("long")
            .alias("register_checksum"),
            F.sum(
                F.expr(
                    "CAST(shiftleft(CAST(1 AS BIGINT), 60 - mj) "
                    "AS DECIMAL(38,0))"
                )
            ).alias("scaled_sum"),
        )
        exact = li.agg(F.countDistinct(col).cast("long").alias("exact_ndv"))
        return agg.crossJoin(exact).select(
            F.lit(col).alias("column_name"),
            F.lit(_HLL_M).cast("long").alias("m"),
            "n_empty",
            "register_checksum",
            F.round(
                F.lit(_HLL_ALPHA)
                * _HLL_M
                * _HLL_M
                * F.lit(float(_HLL_SCALE))
                / F.col("scaled_sum").cast("double"),
                6,
            ).alias("est_ndv"),
            "exact_ndv",
        )

    out = one("l_partkey").unionAll(one("l_suppkey")).unionAll(one("l_orderkey"))
    return out.orderBy("column_name")


# ---------------------------------------------------------------------------
# Q219 — HLL register MERGE (the algebra q207 claims, executed): the
# per-partition sketches a 1000-executor cluster would produce are
# simulated as per-year sketches of orders.o_custkey; merging them is
# elementwise register MAX — and the merged sketch must equal the
# single-pass sketch EXACTLY (same registers, same checksum, same
# estimate), because max-folds are associative/commutative over any
# partitioning. That identity is the whole reason HLL state can
# map-side combine, union across streams, and accumulate across days
# without re-reading history; this entry makes it an oracle-checked
# invariant instead of a docstring claim.
#
# Per-year rows additionally carry each shard's own estimate (what a
# per-day NDV dashboard reads) next to its exact truth.
# ---------------------------------------------------------------------------
@register(
    "q219_hll_merge",
    oracle=f"""
    WITH keyed AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
        {sql_portable_hash("CAST(o_custkey AS VARCHAR)")} AS h,
        o_custkey
      FROM orders),
    regs AS (
      SELECT y, h // {1 << _HLL_TAIL} AS j,
        MAX(CASE WHEN h % {1 << _HLL_TAIL} = 0 THEN {_HLL_TAIL + 1}
                 ELSE {_HLL_TAIL + 1} - length(bin(h % {1 << _HLL_TAIL}))
            END) AS mj
      FROM (SELECT DISTINCT y, h FROM keyed) GROUP BY y, j),
    per_year AS (
      SELECT y,
        CAST(SUM((j + 1) * mj) AS BIGINT) AS register_checksum,
        SUM(CAST(CAST(1 AS BIGINT) << (60 - mj) AS HUGEINT))
          + ({_HLL_M} - COUNT(*)) * CAST(CAST(1 AS BIGINT) << 60 AS HUGEINT)
          AS scaled
      FROM regs GROUP BY y),
    truth AS (
      SELECT y, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_ndv
      FROM keyed GROUP BY y),
    merged AS (
      SELECT 'merged' AS source,
        CAST(SUM((j + 1) * mj) AS BIGINT) AS register_checksum,
        SUM(CAST(CAST(1 AS BIGINT) << (60 - mj) AS HUGEINT))
          + ({_HLL_M} - COUNT(*)) * CAST(CAST(1 AS BIGINT) << 60 AS HUGEINT)
          AS scaled,
        (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM keyed)
          AS exact_ndv
      FROM (SELECT j, MAX(mj) AS mj FROM regs GROUP BY j))
    SELECT 'year-' || CAST(p.y AS VARCHAR) AS source,
      p.register_checksum,
      ROUND({_HLL_ALPHA} * {_HLL_M} * {_HLL_M} * {float(_HLL_SCALE)}
            / CAST(p.scaled AS DOUBLE), 6) AS est_ndv,
      t.exact_ndv, TRUE AS merge_consistent
    FROM per_year p JOIN truth t ON t.y = p.y
    UNION ALL
    SELECT source, register_checksum,
      ROUND({_HLL_ALPHA} * {_HLL_M} * {_HLL_M} * {float(_HLL_SCALE)}
            / CAST(scaled AS DOUBLE), 6),
      exact_ndv, TRUE
    FROM merged
    ORDER BY source
    """,
)
def q219_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    h = portable_hash(F.col("o_custkey").cast("string"))
    keyed = o.select(
        F.year("o_orderdate").cast("int").alias("y"),
        h.alias("h"),
        "o_custkey",
    )
    tail = F.col("h") % (1 << _HLL_TAIL)
    rho = F.when(tail == 0, F.lit(_HLL_TAIL + 1)).otherwise(
        F.lit(_HLL_TAIL + 1) - F.length(F.bin(tail))
    )
    regs = (
        keyed.select("y", "h")
        .distinct()
        .select(
            "y",
            (F.col("h") / (1 << _HLL_TAIL)).cast("long").alias("j"),
            rho.alias("rho"),
        )
        .groupBy("y", "j")
        .agg(F.max("rho").alias("mj"))
        .localCheckpoint(eager=True)  # shards reused by both fold orders
    )
    scaled_term = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), 60 - mj) AS DECIMAL(38,0))"
    )
    empty_fill = (
        F.lit(_HLL_M) - F.count("*")
    ).cast("decimal(38,0)") * F.lit(1 << 60).cast("decimal(38,0)")

    def census(df, src_col):
        return df.agg(
            src_col.alias("source"),
            F.sum((F.col("j") + 1) * F.col("mj"))
            .cast("long")
            .alias("register_checksum"),
            (F.sum(scaled_term) + empty_fill).alias("scaled"),
        )

    per_year_regs = regs.groupBy("y").agg(
        F.sum((F.col("j") + 1) * F.col("mj"))
        .cast("long")
        .alias("register_checksum"),
        (F.sum(scaled_term) + empty_fill).alias("scaled"),
    )
    truth = keyed.groupBy("y").agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_ndv")
    )
    est = lambda c: F.round(  # noqa: E731
        F.lit(_HLL_ALPHA)
        * _HLL_M
        * _HLL_M
        * F.lit(float(_HLL_SCALE))
        / c.cast("double"),
        6,
    )
    years = per_year_regs.join(truth, "y").select(
        F.concat(F.lit("year-"), F.col("y").cast("string")).alias("source"),
        "register_checksum",
        est(F.col("scaled")).alias("est_ndv"),
        "exact_ndv",
        F.lit(True).alias("merge_consistent"),
    )
    # merge = elementwise MAX across shards; must equal the direct pass
    merged_regs = regs.groupBy("j").agg(F.max("mj").alias("mj"))
    direct_regs = (
        keyed.select("h")
        .distinct()
        .select(
            (F.col("h") / (1 << _HLL_TAIL)).cast("long").alias("j"),
            rho.alias("rho"),
        )
        .groupBy("j")
        .agg(F.max("rho").alias("mj"))
    )
    m_row = census(merged_regs, F.lit("merged")).collect()[0]
    d_row = census(direct_regs, F.lit("direct")).collect()[0]
    consistent = (
        m_row["register_checksum"] == d_row["register_checksum"]
        and m_row["scaled"] == d_row["scaled"]
    )
    total_ndv = keyed.agg(F.countDistinct("o_custkey")).collect()[0][0]
    merged_row = local_frame(
        spark,
        [
            (
                "merged",
                int(m_row["register_checksum"]),
                float(
                    round(
                        _HLL_ALPHA
                        * _HLL_M
                        * _HLL_M
                        * float(_HLL_SCALE)
                        / float(m_row["scaled"]),
                        6,
                    )
                ),
                int(total_ndv),
                bool(consistent),
            )
        ],
        "source STRING, register_checksum BIGINT, est_ndv DOUBLE, "
        "exact_ndv BIGINT, merge_consistent BOOLEAN",
    )
    return years.unionByName(merged_row).orderBy("source")


# ---------------------------------------------------------------------------
# Q230 — join-size estimation via count-min inner product (AMS-style):
# |A ⋈_k B| = Σ_k f_A(k)·f_B(k), and the inner product of two
# count-min rows built with the SAME hash row over-estimates it by
# exactly the collision cross-terms — so est_j = Σ_b cmA[j][b]·cmB[j][b]
# per hash row j, and EST = min_j est_j ≥ TRUTH always. This is the
# pre-join cardinality probe a planner runs before committing to a
# fact×fact join (the CBO loop's q93/q160 use row counts; this is the
# sketch that answers the same question without scanning either side
# twice): events.user_id ⋈ orders.o_custkey, a genuinely multi×multi
# pair (every user has many events AND many orders).
#
# Scale design: each side reduces to exact per-key counts first (the
# shuffle carries |distinct keys| rows), folds into a d×w counter
# matrix (d·w = 4096 cells — broadcastable), and the estimate is a
# 4096-row join; the EXACT arm (for the oracle's error pin) is the
# keyed join the sketch exists to avoid, affordable here and the
# point of the "measure, don't guess" discipline. The two matrices
# merge elementwise, so at 100 TB each side's matrix builds map-side
# and ships once.
# ---------------------------------------------------------------------------
def _cm_cells_sql(src: str) -> str:
    """DuckDB: fold a (k, cnt) relation into d*w count-min cells."""
    return f"""
      SELECT i,
        {sql_portable_hash("i || ':' || CAST(k AS VARCHAR)")} % {_CM_W}
          AS bucket,
        SUM(cnt) AS cell
      FROM {src}, (SELECT unnest(generate_series(0, {_CM_D - 1})) AS i)
      GROUP BY 1, 2"""


@register(
    "q230_cm_join_size",
    oracle=f"""
    WITH ka AS (SELECT user_id AS k, COUNT(*) AS cnt
                FROM events GROUP BY user_id),
    kb AS (SELECT o_custkey AS k, COUNT(*) AS cnt
           FROM orders GROUP BY o_custkey),
    ca AS ({_cm_cells_sql("ka")}),
    cb AS ({_cm_cells_sql("kb")}),
    per_row AS (
      SELECT ca.i, SUM(ca.cell * cb.cell) AS est
      FROM ca JOIN cb ON ca.i = cb.i AND ca.bucket = cb.bucket
      GROUP BY ca.i),
    est AS (SELECT MIN(est) AS est_size FROM per_row),
    exact AS (
      SELECT SUM(ka.cnt * kb.cnt) AS exact_size
      FROM ka JOIN kb ON ka.k = kb.k)
    SELECT CAST(exact_size AS BIGINT) AS exact_size,
      CAST(est_size AS BIGINT) AS est_size,
      CAST(est_size - exact_size AS BIGINT) AS overcount,
      CAST((est_size - exact_size) * 1000 // exact_size AS BIGINT)
        AS err_permille
    FROM est, exact
    """,
)
def q230_cm_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    ka = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count("*").alias("cnt"))
    )
    kb = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("cnt"))
    )

    def cells(keyed: DataFrame) -> DataFrame:
        rows = F.explode(F.sequence(F.lit(0), F.lit(_CM_D - 1))).alias("i")
        bucket = (
            portable_hash(
                F.concat(
                    F.col("i").cast("string"), F.lit(":"), F.col("k").cast("string")
                )
            )
            % _CM_W
        )
        return (
            keyed.select("k", "cnt", rows)
            .select("i", bucket.alias("bucket"), "cnt")
            .groupBy("i", "bucket")
            .agg(F.sum("cnt").alias("cell"))
        )

    ca, cb = cells(ka), cells(kb)
    est = (
        ca.join(
            cb.withColumnRenamed("cell", "cell_b"), ["i", "bucket"]
        )
        .groupBy("i")
        .agg(F.sum(F.col("cell") * F.col("cell_b")).alias("est"))
        .agg(F.min("est").alias("est_size"))
    )
    exact = (
        ka.join(kb.withColumnRenamed("cnt", "cnt_b"), "k")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("exact_size"))
    )
    return exact.crossJoin(est).select(
        "exact_size",
        "est_size",
        (F.col("est_size") - F.col("exact_size")).alias("overcount"),
        F.expr("(est_size - exact_size) * 1000 DIV exact_size").alias(
            "err_permille"
        ),
    )
