"""Cost-based join planning: the consumer side of q89's ANALYZE stats.

q89_analyze_stats (operators/extended.py) produces the statistics a
cost-based optimizer keeps; this module CLOSES that loop — it collects
the same class of stats (row count + estimated in-memory width) for a
join's build side, picks the physical strategy from them (broadcast
hash join under the size threshold, sort-merge above it — the exact
decision `spark.sql.autoBroadcastJoinThreshold` encodes), executes the
join under the chosen hint, and reports the decision next to the join
result so the oracle verifies BOTH.

Width estimation is deliberately integer-exact and engine-portable:
fixed per-type widths (8 bytes for BIGINT/DOUBLE/TIMESTAMP, 4 for INT)
plus actual string lengths with a 4-byte overhead — the same shape
Spark's SizeEstimator / Catalyst statistics use, reduced to arithmetic
DuckDB reproduces bit-for-bit, so the STRATEGY CHOICE itself is under
the value hash (an engine whose stats pass over- or under-counts flips
the strategy column and fails).

Scale notes (100 TB): the stats pass is one map-side-combined
aggregate over the build side only — the probe side (the 100 TB fact
table) is never scanned for planning. The decision is made once on the
driver from a 1-row result, exactly like a real CBO reading catalog
stats; the threshold is configurable and the demo pins it at 256 KiB
so BOTH branches are exercised on the test data (supplier broadcasts,
an orders-derived build side sort-merges from sf0.01 up). The plan
audit (tests/test_cbo_plan.py) asserts the flip is physically real:
BroadcastHashJoin in one plan, SortMergeJoin in the other.

Reference parity: no optimizer exists in the reference (1.4k-line
game engine, SURVEY.md §0); this is warehouse surface mandated by the
driver contract's north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import local_frame, table
from hive_clone_spark.registry import register

# Demo threshold: 256 KiB (production: spark.sql.autoBroadcastJoinThreshold,
# default 10 MiB). Chosen so the testdata exercises both branches.
_CBO_THRESHOLD = 256 * 1024

_TYPE_WIDTH = {
    "bigint": 8,
    "double": 8,
    "timestamp": 8,
    "timestamp_ntz": 8,
    "date": 4,
    "int": 4,
    "integer": 4,
    "smallint": 2,
    "tinyint": 1,
    "boolean": 1,
    "float": 4,
}
_VARCHAR_OVERHEAD = 4


def estimate_build_side(build: DataFrame) -> tuple[int, int]:
    """One aggregate over the build side -> (n_rows, est_bytes).

    Fixed widths per numeric/temporal column, length + overhead per
    string column — integer arithmetic throughout so an external
    engine predicts the estimate exactly."""
    exprs = [F.count(F.lit(1)).alias("n")]
    fixed = 0
    for f in build.schema.fields:
        t = f.dataType.simpleString()
        if t == "string":
            exprs.append(
                F.coalesce(F.sum(F.length(f.name)), F.lit(0)).alias(f"len_{f.name}")
            )
            fixed += _VARCHAR_OVERHEAD
        elif t.startswith("decimal"):
            fixed += 16  # Spark's unscaled-long/Int128 layout upper bound
        elif t in _TYPE_WIDTH:
            fixed += _TYPE_WIDTH[t]
        else:
            raise ValueError(
                f"cbo: no width estimate for column {f.name!r} of type {t!r}"
            )
    row = build.agg(*exprs).collect()[0]
    n = int(row["n"])
    est = n * fixed + sum(int(v) for k, v in row.asDict().items() if k != "n")
    return n, est


def stats_driven_join(
    probe: DataFrame, build: DataFrame, on, threshold: int = _CBO_THRESHOLD
) -> tuple[DataFrame, str, int, int]:
    """Plan probe JOIN build by estimated build size: broadcast hash
    join under the threshold, sort-merge join above it. Returns
    (joined, strategy, build_rows, est_bytes)."""
    n, est = estimate_build_side(build)
    if est < threshold:
        return probe.join(F.broadcast(build), on), "broadcast", n, est
    return probe.join(build.hint("merge"), on), "sort_merge", n, est


@register(
    "q93_stats_driven_join",
    oracle=f"""
    WITH s_stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS build_rows,
        CAST(COUNT(*) * (8 + 4 + 4) + SUM(length(s_name)) AS BIGINT)
          AS est_bytes
      FROM supplier),
    j1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_join_rows,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_metric
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
    o_stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS build_rows,
        CAST(COUNT(*) * (8 + 8 + 8) AS BIGINT) AS est_bytes
      FROM orders),
    j2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_join_rows,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_metric
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT 'orders_fact' AS join_name, o_stats.build_rows, o_stats.est_bytes,
      CASE WHEN o_stats.est_bytes < {_CBO_THRESHOLD}
           THEN 'broadcast' ELSE 'sort_merge' END AS strategy,
      j2.n_join_rows, j2.sum_metric
    FROM o_stats, j2
    UNION ALL
    SELECT 'supplier_dim', s_stats.build_rows, s_stats.est_bytes,
      CASE WHEN s_stats.est_bytes < {_CBO_THRESHOLD}
           THEN 'broadcast' ELSE 'sort_merge' END,
      j1.n_join_rows, j1.sum_metric
    FROM s_stats, j1
    ORDER BY join_name
    """,
)
def q93_stats_driven_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CBO loop, end to end: estimate each build side from a stats
    pass, choose broadcast vs sort-merge from the estimate, run the
    join under that strategy, and emit (decision, estimate, result)
    together — all under the oracle. q89 produces this class of stats;
    this entry is the plan decision that CONSUMES them."""
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    ords = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def one(join_name, probe, build, probe_key, build_key, metric):
        joined, strategy, n, est = stats_driven_join(
            probe, build, probe[probe_key] == build[build_key]
        )
        return joined.agg(
            F.count(F.lit(1)).alias("n_join_rows"),
            F.sum(F.col(metric).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_metric"),
        ).select(
            F.lit(join_name).alias("join_name"),
            F.lit(n).cast("long").alias("build_rows"),
            F.lit(est).cast("long").alias("est_bytes"),
            F.lit(strategy).alias("strategy"),
            "n_join_rows",
            "sum_metric",
        )

    a = one("supplier_dim", li, supp, "l_suppkey", "s_suppkey", "l_quantity")
    b = one("orders_fact", li, ords, "l_orderkey", "o_orderkey", "l_extendedprice")
    return a.unionAll(b).orderBy("join_name")


# ---------------------------------------------------------------------------
# Q160 — Selinger-style dynamic-programming join ordering (System R,
# Selinger et al. 1979): the planning step q93's binary
# broadcast-vs-shuffle decision doesn't cover — GIVEN a multi-way
# join, in which ORDER should the joins run? The entry plans the
# 4-table chain region(ASIA) - nation - customer - orders:
#
#   * one tiny stats pass per table (COUNT + join-key NDVs — the
#     catalog numbers a real CBO reads; the orders fact table is
#     scanned for stats ONLY, never materialized for planning);
#   * estimated cardinality of adding table T through link L:
#     |S ⋈ T| = |S| * |T| div max(ndv_left(L), ndv_right(L)) — the
#     textbook independence/containment assumption, INTEGER div so
#     DuckDB reproduces every intermediate estimate bit-for-bit;
#   * cost of a left-deep order = sum of its intermediate
#     cardinalities; the DP minimizes over connected subsets, and the
#     oracle EXHAUSTIVELY enumerates all 2^(n-1) = 8 connected
#     left-deep orders of the chain — the DP's chosen optimum must
#     coincide with the enumeration's argmin (a wrong memo table or a
#     missed subset surfaces as a flipped `chosen` flag);
#   * the chosen order then actually EXECUTES (small dims broadcast)
#     and the ledger carries actual_final next to every estimate.
#
# Scale design: planning cost is O(stats scans) + a driver DP over
# schema-bounded subsets (2^4), independent of data volume — the
# shape of every production optimizer. The estimates being integer
# and under the value hash makes the PLANNER itself a tested
# component, not a heuristic.
# ---------------------------------------------------------------------------
_JO_FILTER_REGION = "ASIA"
# chain links: (left table, right table, left key col, right key col)
_JO_LINKS = (
    ("region", "nation", "r_regionkey", "n_regionkey"),
    ("nation", "customer", "n_nationkey", "c_nationkey"),
    ("customer", "orders", "c_custkey", "o_custkey"),
)
_JO_TABLES = ("region", "nation", "customer", "orders")


def _jo_orders() -> list[tuple[str, ...]]:
    """All join orders of the chain whose every prefix is connected
    (contiguous intervals of a path graph: 2^(n-1) = 8 of them)."""
    import itertools

    adj: dict[str, set[str]] = {t: set() for t in _JO_TABLES}
    for lt, rt, _, _ in _JO_LINKS:
        adj[lt].add(rt)
        adj[rt].add(lt)
    out = []
    for perm in itertools.permutations(_JO_TABLES):
        ok = all(
            any(t in perm[:i] for t in adj[perm[i]])
            for i in range(1, len(perm))
        )
        if ok:
            out.append(perm)
    return out


def _jo_link_for(new: str, prefix: tuple[str, ...]):
    for lt, rt, lk, rk in _JO_LINKS:
        if new == rt and lt in prefix:
            return lt, rt, lk, rk
        if new == lt and rt in prefix:
            return lt, rt, lk, rk
    raise ValueError(f"no link joins {new} to {prefix}")


def _jo_stats_sql() -> dict[str, str]:
    """Named scalar stats subqueries, shared shape with the Spark pass."""
    f = f"WHERE r_name = '{_JO_FILTER_REGION}'"
    return {
        "c_region": f"(SELECT COUNT(*) FROM region {f})",
        "c_nation": "(SELECT COUNT(*) FROM nation)",
        "c_customer": "(SELECT COUNT(*) FROM customer)",
        "c_orders": "(SELECT COUNT(*) FROM orders)",
        "v_region_r_regionkey":
            f"(SELECT COUNT(DISTINCT r_regionkey) FROM region {f})",
        "v_nation_n_regionkey":
            "(SELECT COUNT(DISTINCT n_regionkey) FROM nation)",
        "v_nation_n_nationkey":
            "(SELECT COUNT(DISTINCT n_nationkey) FROM nation)",
        "v_customer_c_nationkey":
            "(SELECT COUNT(DISTINCT c_nationkey) FROM customer)",
        "v_customer_c_custkey":
            "(SELECT COUNT(DISTINCT c_custkey) FROM customer)",
        "v_orders_o_custkey":
            "(SELECT COUNT(DISTINCT o_custkey) FROM orders)",
    }


def _jo_cost_exprs(order: tuple[str, ...]) -> list[str]:
    """SQL expressions for the running estimate after each join, in
    terms of the stats CTE's columns — the arithmetic both engines run."""
    est = f"c_{order[0]}"
    steps = []
    for i in range(1, len(order)):
        lt, rt, lk, rk = _jo_link_for(order[i], order[:i])
        vmax = f"GREATEST(v_{lt}_{lk}, v_{rt}_{rk})"
        est = f"(({est}) * c_{order[i]} // {vmax})"
        steps.append(est)
    return steps


def _jo_oracle() -> str:
    stats = ", ".join(f"{sql} AS {name}" for name, sql in _jo_stats_sql().items())
    cands = []
    for order in _jo_orders():
        s2, s3, s4 = _jo_cost_exprs(order)
        nm = ">".join(order)
        cands.append(
            f"SELECT '{nm}' AS join_order, {s2} AS est_after2, "
            f"{s3} AS est_after3, {s4} AS est_final, "
            f"{s2} + {s3} + {s4} AS est_cost FROM st"
        )
    union = " UNION ALL ".join(cands)
    return f"""
    WITH st AS (SELECT {stats}),
    cands AS ({union}),
    actual AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS actual_final
      FROM region
      JOIN nation ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
      WHERE r_name = '{_JO_FILTER_REGION}')
    SELECT join_order,
      CAST(est_after2 AS BIGINT) AS est_after2,
      CAST(est_after3 AS BIGINT) AS est_after3,
      CAST(est_final AS BIGINT) AS est_final,
      CAST(est_cost AS BIGINT) AS est_cost,
      ROW_NUMBER() OVER (ORDER BY est_cost, join_order) = 1 AS chosen,
      actual_final
    FROM cands CROSS JOIN actual
    ORDER BY join_order
    """


@register("q160_dp_join_ordering", oracle=_jo_oracle())
def q160_dp_join_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").where(
        F.col("r_name") == _JO_FILTER_REGION
    )
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    dfs = {"region": r, "nation": n, "customer": c, "orders": o}

    # stats pass: COUNT + join-key NDVs per table (one tiny aggregate
    # each; the orders fact is scanned for stats only)
    key_cols = {t: [] for t in _JO_TABLES}
    for lt, rt, lk, rk in _JO_LINKS:
        key_cols[lt].append(lk)
        key_cols[rt].append(rk)
    stats: dict[str, int] = {}
    for t, df in dfs.items():
        aggs = [F.count(F.lit(1)).alias("c")] + [
            F.countDistinct(k).alias(k) for k in key_cols[t]
        ]
        row = df.agg(*aggs).collect()[0]
        stats[f"c_{t}"] = int(row["c"])
        for k in key_cols[t]:
            stats[f"v_{t}_{k}"] = int(row[k])

    def est_steps(order: tuple[str, ...]) -> list[int]:
        est = stats[f"c_{order[0]}"]
        out = []
        for i in range(1, len(order)):
            lt, rt, lk, rk = _jo_link_for(order[i], order[:i])
            vmax = max(stats[f"v_{lt}_{lk}"], stats[f"v_{rt}_{rk}"])
            est = est * stats[f"c_{order[i]}"] // vmax
            out.append(est)
        return out

    # Selinger DP over connected subsets (left-deep): memo maps a
    # frozenset to (best cost, best order). Schema-bounded: 2^4 states.
    memo: dict[frozenset, tuple[int, tuple[str, ...]]] = {
        frozenset([t]): (0, (t,)) for t in _JO_TABLES
    }
    for size in range(2, len(_JO_TABLES) + 1):
        import itertools

        for sub in itertools.combinations(_JO_TABLES, size):
            best = None
            for t in sub:
                rest = frozenset(sub) - {t}
                if rest not in memo:
                    continue
                prev_cost, prev_order = memo[rest]
                try:
                    _jo_link_for(t, prev_order)
                except ValueError:
                    continue
                steps = est_steps(prev_order + (t,))
                cost = sum(steps)
                cand = (cost, prev_order + (t,))
                if best is None or cand < best:
                    best = cand
            if best is not None:
                memo[frozenset(sub)] = best
    dp_cost, dp_order = memo[frozenset(_JO_TABLES)]

    ledger = []
    for order in _jo_orders():
        s2, s3, s4 = est_steps(order)
        ledger.append((">".join(order), s2, s3, s4, s2 + s3 + s4))
    chosen_name = min(ledger, key=lambda r: (r[4], r[0]))[0]
    if dp_order and sum(est_steps(dp_order)) != dp_cost:
        raise RuntimeError("dp memo inconsistent with its own estimates")
    if dp_cost != min(r[4] for r in ledger):
        raise RuntimeError(
            f"DP optimum {dp_cost} != enumeration optimum "
            f"{min(r[4] for r in ledger)}"
        )

    # execute the chosen physical order: dims broadcast, fact probes
    actual = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .count()
    )
    out = local_frame(
        spark,
        [
            (nm, s2, s3, s4, cost, nm == chosen_name, actual)
            for nm, s2, s3, s4, cost in ledger
        ],
        "join_order STRING, est_after2 BIGINT, est_after3 BIGINT, "
        "est_final BIGINT, est_cost BIGINT, chosen BOOLEAN, "
        "actual_final BIGINT",
    )
    return out.orderBy("join_order")


# ---------------------------------------------------------------------------
# Q214 — equi-height histogram statistics + selectivity estimation:
# the ANALYZE artifact min/max/NDV stats (q89/q93/q160) cannot
# provide — range-predicate selectivity on a SKEWED column. Bucket
# boundaries sit at exact count deciles with equal values kept
# together (the same rule Spark's ANALYZE ... FOR COLUMNS histogram
# applies); estimating rows in [lo, hi) counts fully-covered buckets
# exactly and linearly interpolates the boundary buckets — integer
# arithmetic until the interpolation fractions, each rounded to
# micros BEFORE the final sum (a raw double sum over the bucket
# contributions is order-dependent — caught live at sf0.01).
#
# Scale design: the heavy pass is ONE map-side-combinable rollup to
# the distinct-value grain (|values| << |rows|); the cumulative
# window then runs over that reduced table, never over raw rows (the
# first draft ranked every row through a single-partition sort — the
# p_dedup_chunk defect class; this rewrite is the fix). At true 100
# TB scale production engines sample boundaries instead — the
# distinct-grain exact form is the strongest construction that
# remains oracle-checkable.
# ---------------------------------------------------------------------------
_EH_BUCKETS = 10
_EH_LO_CENTS = 15_000_00  # probe predicate: price in [15k, 40k)
_EH_HI_CENTS = 40_000_00


@register(
    "q214_equiheight_histogram",
    oracle=f"""
    WITH v AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    vals AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY cents),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vals),
    cum AS (
      SELECT cents, c,
        SUM(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) - c
          AS before_
      FROM vals),
    bucketed AS (
      SELECT cents, c,
        CAST(before_ * {_EH_BUCKETS} // t.n AS BIGINT) AS b
      FROM cum, tot t),
    hist AS (
      SELECT b, CAST(MIN(cents) AS BIGINT) AS lo,
        CAST(MAX(cents) AS BIGINT) AS hi,
        CAST(SUM(c) AS BIGINT) AS height
      FROM bucketed GROUP BY b),
    est AS (
      SELECT CAST(SUM(CAST(floor(
        CASE
          WHEN lo >= {_EH_HI_CENTS} OR hi < {_EH_LO_CENTS} THEN 0.0
          WHEN lo >= {_EH_LO_CENTS} AND hi < {_EH_HI_CENTS}
            THEN CAST(height AS DOUBLE)
          ELSE CAST(height AS DOUBLE)
            * (CAST(least(hi, {_EH_HI_CENTS - 1}) AS DOUBLE)
               - CAST(greatest(lo, {_EH_LO_CENTS}) AS DOUBLE) + 1.0)
            / (CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE) + 1.0)
        END * 1000000 + 0.5) AS BIGINT)) // 1000000 AS BIGINT) AS est_rows
      FROM hist),
    act AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows FROM v
      WHERE cents >= {_EH_LO_CENTS} AND cents < {_EH_HI_CENTS})
    SELECT CAST(h.b AS BIGINT) AS bucket, h.lo, h.hi, h.height,
      e.est_rows, a.actual_rows
    FROM hist h, est e, act a
    ORDER BY bucket
    """,
)
def q214_equiheight_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents")
    )
    vals = v.groupBy("cents").agg(F.count("*").alias("c"))
    tot = vals.agg(F.sum("c").cast("long").alias("n"))
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vals.select(
        "cents", "c", (F.sum("c").over(w) - F.col("c")).alias("before_")
    )
    bucketed = cum.crossJoin(F.broadcast(tot)).select(
        "cents",
        "c",
        F.expr(f"before_ * {_EH_BUCKETS} div n").alias("b"),
    )
    hist = (
        bucketed.groupBy("b")
        .agg(
            F.min("cents").alias("lo"),
            F.max("cents").alias("hi"),
            F.sum("c").cast("long").alias("height"),
        )
        .localCheckpoint(eager=True)  # metadata artifact: reused twice
    )
    lo_c, hi_c = _EH_LO_CENTS, _EH_HI_CENTS
    contrib = (
        F.when(
            (F.col("lo") >= hi_c) | (F.col("hi") < lo_c), F.lit(0.0)
        )
        .when(
            (F.col("lo") >= lo_c) & (F.col("hi") < hi_c),
            F.col("height").cast("double"),
        )
        .otherwise(
            F.col("height").cast("double")
            * (
                F.least(F.col("hi"), F.lit(hi_c - 1)).cast("double")
                - F.greatest(F.col("lo"), F.lit(lo_c)).cast("double")
                + 1.0
            )
            / (F.col("hi").cast("double") - F.col("lo").cast("double") + 1.0)
        )
    )
    # per-bucket integer micros BEFORE the sum (order-independence)
    est = hist.select(contrib.alias("__c")).agg(
        F.expr(
            "CAST(sum(CAST(floor(__c * 1000000 + 0.5) AS BIGINT)) "
            "div 1000000 AS BIGINT)"
        ).alias("est_rows")
    )
    act = v.where(
        (F.col("cents") >= lo_c) & (F.col("cents") < hi_c)
    ).agg(F.count("*").alias("actual_rows"))
    return (
        hist.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(act))
        .select(
            F.col("b").cast("long").alias("bucket"),
            "lo",
            "hi",
            "height",
            "est_rows",
            "actual_rows",
        )
        .orderBy("bucket")
    )
