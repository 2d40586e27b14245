"""The query catalog — every operator from SURVEY.md §2 as a named query
over the synthetic tables, each with its DuckDB oracle SQL twin.

This is the single source of truth behind ``__spark_entry__.queries()`` /
``oracle_sql()``. Conventions that keep the driver's order-insensitive
value-hash comparison exact:

- every computed column is aliased identically in Spark and SQL;
- doubles that aggregate across rows are ``round()``-ed the same on both
  sides (2 dp for money, 4 dp for stats, 6 dp for ratios/scores) so
  float summation order can't flip the hash;
- rankings order by the *rounded* score with a unique id tiebreak;
- the session timezone is pinned UTC (session.py) so timestamps agree.

Queries whose semantics SQL cannot express (stateful cursor alignment,
LSH candidate generation, approx sketches) have ``oracle=None`` → the
driver records the weaker rows-only check, as the contract allows.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import alignment, asof, intervals, sessionize, upsert
from ..sources.readers import load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False


CATALOG: dict[str, QuerySpec] = {}


def _register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable:
    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        CATALOG[name] = QuerySpec(name, fn, oracle, tags, bench)
        return fn

    return deco


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: s.spark for n, s in CATALOG.items()}


def oracle_map() -> dict[str, str]:
    return {n: s.oracle for n, s in CATALOG.items() if s.oracle is not None}


def bench_queries() -> dict[str, QuerySpec]:
    return {n: s for n, s in CATALOG.items() if s.bench}


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ===========================================================================
# Core relational slice (SURVEY.md §2.2 P*, §2.4 A1–A6, §2.6 O*)
# ===========================================================================

@_register(
    "pricing_summary",
    # sum_qty / sum_base_price / avg_qty stay float aggregates: quantity
    # is integer-valued (double sums are EXACT below 2^53, any order) and
    # extendedprice is a 2dp grid whose sum lands ON the cent grid —
    # 0.005 away from every round boundary, beyond reach of float error.
    # disc_price is a 4dp grid (2dp × 2dp): its exact sum CAN sit on (or
    # within float-sum error of) an x.xx5 boundary, and discount means
    # divide a 2dp grid — both go through exact integer grids instead.
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                AS sum_qty,
       round(sum(l_extendedprice), 2)                           AS sum_base_price,
       CAST((sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                      AS BIGINT)) + 50) // 100 AS BIGINT) / 100.0
                                                                AS sum_disc_price,
       round(avg(l_quantity), 4)                                AS avg_qty,
       round(CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 / count(*), 6)                             AS avg_disc,
       count(*)                                                 AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("A1", "A2", "A3", "A4", "A5", "P3"),
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped partial+final aggregation with a pushed
    scan predicate (reference A1–A5, `fixed_hebrew_aligner.py:698-720`)."""
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-12-31 00:00:00").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        (
            F.expr(
                "CAST((sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000"
                " + 0.5) AS BIGINT)) + 50) DIV 100 AS DOUBLE)"
            )
            / F.lit(100.0)
        ).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(
            F.sum(F.floor(F.col("l_discount") * 100 + F.lit(0.5))).cast("double")
            / F.lit(100.0)
            / F.count("*"),
            6,
        ).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@_register(
    "region_revenue",
    oracle="""
SELECT r_name,
       round(sum(o_totalprice), 2) AS revenue,
       count(*)                    AS n_orders,
       count(DISTINCT c_custkey)   AS n_customers
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    tags=("J1", "A5"),
    bench=True,
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: snowflake dimension lookup — nation/region are broadcast-hash
    joined (the reference's 39-entry book map, `fixed_hebrew_aligner.py:36-94`)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


@_register(
    "customers_quiet_1995",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00')
""",
    tags=("J3",),
)
def customers_quiet_1995(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 anti join: customers with no 1995 orders (the reference's
    missing-mapping audit shape, `debug_book_codes.py:45-59`)."""
    c = T(spark, sf_dir, "customer")
    o95 = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    return c.join(o95, c["c_custkey"] == o95["o_custkey"], "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@_register(
    "suppliers_shipping_1995h1",
    oracle="""
SELECT s_suppkey, s_name
FROM supplier s
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_suppkey = s.s_suppkey
      AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1995-07-01 00:00:00')
""",
    tags=("J4",),
)
def suppliers_shipping_1995h1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 semi join (`fixed_hebrew_aligner.py:735`)."""
    s = T(spark, sf_dir, "supplier")
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-07-01 00:00:00").cast("timestamp"))
    )
    return s.join(li, s["s_suppkey"] == li["l_suppkey"], "left_semi").select(
        "s_suppkey", "s_name"
    )


@_register(
    "rollup_region_nation",
    oracle="""
SELECT r_name, n_name,
       count(*)                  AS n_customers,
       round(sum(c_acctbal), 2)  AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    tags=("A6",),
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: grouped results + grand totals in one pass — the reference
    computes book-level and overall summaries separately
    (`fixed_hebrew_aligner.py:744-773`); rollup is the engine-native form."""
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@_register(
    "top10_orders",
    oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
""",
    tags=("O1", "O2", "O3"),
)
def top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 global top-k → Spark's TakeOrderedAndProject (no full sort at
    scale). Unique-key tiebreak keeps it deterministic."""
    return (
        T(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


def _part_types_shipped(spark: SparkSession, sf_dir: str, lo: str, hi: str) -> DataFrame:
    """p_type of parts shipped in [lo, hi) — the shared side of the E1/E2
    set-operation entries (one definition, so the two can't drift)."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_type")
    )


@_register(
    "except_types_week1_week2",
    oracle="""
SELECT p_type FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1995-01-08 00:00:00'
EXCEPT
SELECT p_type FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-01-08 00:00:00' AND l_shipdate < TIMESTAMP '1995-01-15 00:00:00'
""",
    tags=("E1",),
)
def except_types_week1_week2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 set difference (`debug_book_codes.py:45-55`)."""
    w = lambda lo, hi: _part_types_shipped(spark, sf_dir, lo, hi)  # noqa: E731
    return w("1995-01-01 00:00:00", "1995-01-08 00:00:00").subtract(
        w("1995-01-08 00:00:00", "1995-01-15 00:00:00")
    )


@_register(
    "intersect_types_week1_week2",
    oracle="""
SELECT p_type FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1995-01-08 00:00:00'
INTERSECT
SELECT p_type FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-01-08 00:00:00' AND l_shipdate < TIMESTAMP '1995-01-15 00:00:00'
""",
    tags=("E2",),
)
def intersect_types_week1_week2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 intersect (`debug_book_codes.py:62-63`)."""
    w = lambda lo, hi: _part_types_shipped(spark, sf_dir, lo, hi)  # noqa: E731
    return w("1995-01-01 00:00:00", "1995-01-08 00:00:00").intersect(
        w("1995-01-08 00:00:00", "1995-01-15 00:00:00")
    )


@_register(
    "union_click_purchase_daily",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS n
FROM (
    SELECT ts, event_type FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT ts, event_type FROM events WHERE event_type = 'purchase'
) u
GROUP BY 1, 2
""",
    tags=("E3",),
)
def union_click_purchase_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 unionByName accumulation (`fixed_hebrew_aligner.py:744-763`)."""
    e = T(spark, sf_dir, "events")
    u = e.filter(F.col("event_type") == "click").select("ts", "event_type").unionByName(
        e.filter(F.col("event_type") == "purchase").select("ts", "event_type")
    )
    return u.groupBy(
        F.to_date(F.col("ts")).alias("day"), F.col("event_type")
    ).agg(F.count("*").alias("n"))


@_register(
    "distinct_dimensions",
    oracle="""
SELECT (SELECT count(DISTINCT c_mktsegment) FROM customer) AS n_segments,
       (SELECT count(DISTINCT o_orderpriority) FROM orders) AS n_priorities,
       (SELECT count(DISTINCT p_brand) FROM part) AS n_brands
""",
    tags=("A10",),
)
def distinct_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 distinct-set aggregation (`debug_book_codes.py:45-47`).
    (Cross join of three one-row aggregates — each side is a 1-row agg,
    so the 'cross join' is three scans + a trivial combine.)"""
    c = T(spark, sf_dir, "customer").agg(
        F.countDistinct("c_mktsegment").alias("n_segments")
    )
    o = T(spark, sf_dir, "orders").agg(
        F.countDistinct("o_orderpriority").alias("n_priorities")
    )
    p = T(spark, sf_dir, "part").agg(F.countDistinct("p_brand").alias("n_brands"))
    return c.crossJoin(o).crossJoin(p)


@_register(
    "missing_order_days",
    oracle="""
SELECT CAST(g.day AS DATE) AS day
FROM generate_series(TIMESTAMP '1995-01-01 00:00:00',
                     TIMESTAMP '2001-08-01 00:00:00', INTERVAL 1 DAY) g(day)
WHERE CAST(g.day AS DATE) NOT IN (SELECT CAST(o_orderdate AS DATE) FROM orders)
""",
    tags=("J9", "F19", "S3"),
)
def missing_order_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 existence audit: expected grid (sequence+explode) anti-joined
    against actual data — the missing-audio report
    (`fixed_hebrew_aligner.py:176-192`)."""
    grid = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-08-01").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    actual = T(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day")
    ).distinct()
    return grid.join(actual, "day", "left_anti").select(F.col("day").cast("date"))


@_register(
    "chapter_filenames",
    oracle="""
SELECT n_nationkey, chapter,
       CASE WHEN n_nationkey >= 20
            THEN printf('%02d-%s_%03d.mp3', n_nationkey, substr(n_name, 1, 3), chapter)
            ELSE printf('%02d-%s_%02d.mp3', n_nationkey, substr(n_name, 1, 3), chapter)
       END AS filename
FROM nation, generate_series(1, 3) g(chapter)
""",
    tags=("F6", "F7", "S3", "F19"),
)
def chapter_filenames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/F6: computed-path derivation incl. the irregular 3-digit branch
    (Psalms analog, `scripts/hebrew_alignment_corrected.py:124-131`)."""
    n = T(spark, sf_dir, "nation")
    grid = n.select(
        "n_nationkey",
        F.substring("n_name", 1, 3).alias("abbr"),
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("chapter"),
    )
    return grid.select(
        "n_nationkey",
        "chapter",
        F.when(
            F.col("n_nationkey") >= 20,
            F.format_string("%02d-%s_%03d.mp3", F.col("n_nationkey"), F.col("abbr"), F.col("chapter")),
        )
        .otherwise(
            F.format_string("%02d-%s_%02d.mp3", F.col("n_nationkey"), F.col("abbr"), F.col("chapter"))
        )
        .alias("filename"),
    )


# ===========================================================================
# Windows / ordering-dependent analytics (SURVEY.md §2.5)
# ===========================================================================

@_register(
    "alloc_order_value",
    oracle="""
WITH j AS (
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, o_totalprice
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), d AS (
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           l_quantity / sum(l_quantity) OVER (PARTITION BY l_orderkey) * o_totalprice AS dur
    FROM j
)
SELECT l_orderkey, l_linenumber,
       round(coalesce(sum(dur) OVER (PARTITION BY l_orderkey
                      ORDER BY l_linenumber, l_partkey, l_suppkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 0.0000001, 2) AS start,
       round(sum(dur) OVER (PARTITION BY l_orderkey
                      ORDER BY l_linenumber, l_partkey, l_suppkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             + 0.0000001, 2) AS "end"
FROM d
""",
    tags=("W2", "W3", "A4"),
    bench=True,
)
def alloc_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — THE flagship: cumulative proportional allocation, the exact
    shape of the shipped estimation-only alignment
    (`hebrew_alignment_optimized.py:494-554`): each order's total price
    is allocated over its lineitems ∝ quantity, start = running share."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).drop("o_orderkey")
    out = alignment.allocate_proportional(
        j,
        group_cols=["l_orderkey"],
        # l_linenumber repeats within orders in the synthetic data →
        # deterministic tiebreaks keep the running sum engine-stable
        order_col=["l_linenumber", "l_partkey", "l_suppkey"],
        weight_col="l_quantity",
        total_col="o_totalprice",
    )
    return out.select("l_orderkey", "l_linenumber", "start", "end")


@_register(
    "first_event_over_threshold",
    oracle="""
SELECT user_id,
       min(CASE WHEN value > 100 THEN ts END) AS first_high_ts
FROM events
GROUP BY user_id
""",
    tags=("W1", "P5"),
)
def first_event_over_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: first-over-threshold without an ordered scan — min(when(cond))
    (`scripts/hebrew_audio_trimmer.py:132-140`)."""
    return (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("value") > 100, F.col("ts"))).alias("first_high_ts")
        )
    )


@_register(
    "top5_recent_events_per_user",
    oracle="""
SELECT user_id, event_id, ts, rank FROM (
    SELECT user_id, event_id, ts,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rank
    FROM events WHERE user_id < 10
) WHERE rank <= 5
""",
    tags=("W4", "O3"),
)
def top5_recent_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: ranking + top-k recency (`scripts/hebrew_audio_trimmer.py:530-538`)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("user_id", "event_id", "ts", "rank")
    )


@_register(
    "avg_after_skip2",
    # per-row value quantized to INTEGER micro-units so the mean rides
    # an exact BIGINT sum — round(avg(float8),4) flipped 1 ulp at sf0.1
    # (cross-engine float-summation order). The 6-dp rounding of the
    # mean is ALSO integer arithmetic: (2·sum + n) div (2·n) is the
    # half-up-rounded micro-unit mean, so the emitted double is the
    # same integer/1e6 on both engines. round(double, 6) on the float
    # quotient is NOT safe: group sizes like n=64 make the true mean
    # land EXACTLY on the x.xxxxxx5 decimal boundary, where Spark's
    # BigDecimal(double) HALF_UP and DuckDB's double round() disagree —
    # 12 of 150k groups flipped at sf10 (r13 sf10 spot sweep).
    oracle="""
SELECT user_id,
       CAST((2 * sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) + count(*))
            // (2 * count(*)) AS DOUBLE) / 1000000.0 AS avg_value,
       count(*) AS n
FROM (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
) WHERE rn > 2
GROUP BY user_id
""",
    tags=("A8",),
)
def avg_after_skip2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: offset-skipping filtered average — the trimmer's threshold
    baseline skips the first 2 segments (`scripts/hebrew_audio_trimmer.py:127-130`)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return (
        T(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 2)
        .withColumn("vm", F.floor(F.col("value") * F.lit(1000000) + F.lit(0.5)))
        .groupBy("user_id")
        .agg(F.sum("vm").alias("s_micro"), F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            (
                F.expr("(2 * s_micro + n) div (2 * n)").cast("double")
                / F.lit(1000000.0)
            ).alias("avg_value"),
            "n",
        )
    )


@_register(
    "tumbling_hour_stats",
    # value and value² quantized per row to INTEGER micro-units: the
    # RMS/mean ride exact BIGINT sums (order-independent), and sqrt of
    # the identical derived double is identical IEEE on both engines —
    # round(avg(float8),4) flipped 1 ulp at sf0.1
    oracle="""
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n,
       round(sqrt(CAST(sum(CAST(floor(value * value * 1000000 + 0.5) AS BIGINT))
                       AS DOUBLE) / 1000000.0 / count(*)), 6) AS rms_value,
       CAST((2 * sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) + count(*))
            // (2 * count(*)) AS DOUBLE) / 1000000.0 AS avg_value
FROM events
GROUP BY 1, 2
""",
    tags=("A7", "T2"),
    bench=True,
)
def tumbling_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/T2: tumbling-window RMS aggregate — the 2-second energy windows
    (`scripts/hebrew_audio_trimmer.py:113-124`) on the events table; the
    identical plan runs under Structured Streaming (streaming.windows)."""
    sq = F.col("value") * F.col("value")
    return (
        T(spark, sf_dir, "events")
        .withColumn("vm", F.floor(F.col("value") * F.lit(1000000) + F.lit(0.5)))
        .withColumn("sm", F.floor(sq * F.lit(1000000) + F.lit(0.5)))
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sqrt(
                    F.sum("sm").cast("double") / F.lit(1000000.0) / F.count("*")
                ),
                6,
            ).alias("rms_value"),
            F.sum("vm").alias("s_micro"),
        )
        # avg_value rides exact integer half-up division like
        # avg_after_skip2 (the round-of-float-quotient boundary class
        # found at sf10); rms_value keeps round(double, 6): sqrt output
        # is irrational, so it cannot land exactly on a decimal .5
        # boundary and both engines round the identical IEEE double.
        .select(
            "hour",
            "event_type",
            "n",
            "rms_value",
            (
                F.expr("(2 * s_micro + n) div (2 * n)").cast("double")
                / F.lit(1000000.0)
            ).alias("avg_value"),
        )
    )


@_register(
    "streaming_tumbling_hour_stats",
    # Twin of the streaming aggregation: with the whole table replayed
    # through the availableNow trigger, the watermark never expires a
    # window before the final complete-mode batch, so the streaming
    # result equals the batch group-by exactly.
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value,
       CAST((2 * CAST(floor(round(sum(value), 4) * 10000 + 0.5) AS BIGINT) * 100
             + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000.0 AS avg_value
FROM events
GROUP BY 1, 2, 3
""",
    tags=("T1", "T2", "T4", "A7"),
    bench=True,
)
def streaming_tumbling_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2/T4 executed UNDER Structured Streaming, not merely shaped
    for it: a file-source ``readStream`` over the events parquet →
    watermark + tumbling-window aggregate (streaming.windows, the T2
    operator) → ``foreachBatch`` writing each complete-mode batch to a
    parquet sink via idempotent overwrite → the committed sink read back
    as the result frame. Mirrors the reference's polling loop feeding
    its progress aggregator (`hebrew_alignment_tool.py:230-231`,
    `scripts/hebrew_audio_trimmer.py:113-124`) as a streaming pipeline.

    Scale posture: the harness uses complete-mode because the sink must
    be a deterministic value-hashable frame and the per-run state is
    only (#hours × #event_types) rows; the unbounded-production shape —
    append mode, watermark-evicted state, idempotent per-window sink —
    is the same plan with outputMode("append") and is exercised by
    tests/test_streaming.py. ts normalization matches load_table's
    policy (nanos→micros or NTZ→LTZ) so stream and batch share one time
    domain.
    """
    from ..streaming.sources import events_parquet_stream, run_available_now_to_parquet
    from ..streaming.windows import tumbling_window_stats

    # avg_value already derives from the 4dp-agreed sum INSIDE
    # tumbling_window_stats (the module-wide policy): round(avg,6) as a
    # second float aggregation flipped 1 ulp across engines at sf0.1.
    agg = tumbling_window_stats(
        events_parquet_stream(spark, sf_dir),
        ts_col="ts",
        window_duration="1 hour",
        watermark_delay="10 minutes",
        key_cols=("event_type",),
        value_col="value",
    )
    return run_available_now_to_parquet(
        agg,
        output_mode="complete",
        query_name="tumbling_hour_stats_stream",
    )


@_register(
    "streaming_dedup_events",
    # With the table replayed through availableNow, every re-delivery of
    # a key lands within the 10-minute watermark of its original (same
    # truncated minute ⇒ event times ≤1 min apart), so the streaming
    # dedup keeps exactly one row per key — the batch DISTINCT.
    oracle="""
SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS minute
FROM events
""",
    tags=("T1", "T4", "dedup"),
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup executed UNDER Structured Streaming:
    file-source readStream over events → ``dropDuplicatesWithinWatermark``
    on (user_id, event_type, minute) → append-mode foreachBatch parquet
    sink, read back after completion. The reference's `processed_files`
    resume skip-set (`fixed_hebrew_aligner.py`) as a stream with BOUNDED
    state: keys are remembered only for the 10-minute watermark delay,
    so state is (arrival rate × delay) on an unbounded ingest, not
    every-key-ever. Output projects the key alone — the one frame shape
    whose value hash is independent of intra-batch arrival order."""
    from ..streaming.dedup import dedup_within_watermark
    from ..streaming.sources import events_parquet_stream, run_available_now_to_parquet

    stream = events_parquet_stream(spark, sf_dir)
    keyed = stream.select(
        "user_id",
        "event_type",
        F.date_trunc("minute", F.col("ts")).alias("minute"),
    ).withColumn("ts", F.col("minute"))
    deduped = dedup_within_watermark(
        keyed, ["user_id", "event_type", "minute"], ts_col="ts", delay="10 minutes"
    ).select("user_id", "event_type", "minute")
    return run_available_now_to_parquet(
        deduped,
        output_mode="append",
        query_name="dedup_events_stream",
    )


@_register(
    "streaming_static_enrichment",
    # Stream-STATIC join — the remaining streaming join class (the
    # interval entry covers stream-stream): an unbounded event stream
    # enriched against a bounded dimension needs no state at all on the
    # static side — Spark re-plans the static relation per micro-batch
    # and the join is a broadcast hash join inside each batch. With the
    # whole table replayed through availableNow, the complete-mode
    # aggregate equals the batch join + group-by exactly.
    oracle="""
SELECT c.c_mktsegment AS mktsegment, e.event_type,
       count(*) AS n_events,
       round(sum(e.value), 4) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
    tags=("T1", "J1", "streaming", "stream-static"),
)
def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment executed UNDER Structured Streaming:
    file-source readStream over events, broadcast-joined per micro-batch
    to the static customer dimension (the reference's config/lookup
    joins against a live stream), then a complete-mode segment × type
    aggregate through the idempotent foreachBatch parquet sink.

    Scale posture: the static side is dimension-sized and broadcasts —
    the stream side never shuffles to join, state is only the
    (#segments × #types) aggregate rows, and an unbounded deployment
    keeps the identical plan in append mode with a watermark. The sum
    is rounded at 4 dp (streaming state accumulates in arrival order;
    the rounded sum is the cross-engine-stable surface)."""
    from ..streaming.sources import events_parquet_stream, run_available_now_to_parquet

    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    stream = events_parquet_stream(spark, sf_dir)
    agg = (
        stream.join(F.broadcast(cust), stream["user_id"] == cust["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("mktsegment"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    return run_available_now_to_parquet(
        agg,
        output_mode="complete",
        query_name="static_enrichment_stream",
    )


@_register(
    "streaming_terminal_job_status",
    # With the whole table replayed in one availableNow batch, each
    # key's updates arrive ts-sorted inside the stateful function:
    # final_status is the latest-ts terminal update, n_updates counts
    # every update the key ever saw. (user_id, ts) is unique in the
    # synthetic events at every SF, so the replay is deterministic.
    oracle="""
WITH s AS (
  SELECT CAST(user_id AS VARCHAR) AS job_id,
         CASE event_type WHEN 'error' THEN 'Failed'
                         WHEN 'purchase' THEN 'Succeeded'
                         ELSE 'Running' END AS status,
         ts
  FROM events),
n AS (SELECT job_id, count(*) AS n_updates FROM s GROUP BY 1),
t AS (
  SELECT job_id, max_by(status, ts) AS final_status
  FROM s WHERE status IN ('Succeeded', 'Failed', 'Cancelled')
  GROUP BY 1)
SELECT t.job_id, t.final_status, n.n_updates
FROM t JOIN n USING (job_id)
""",
    tags=("T3", "T1", "U6"),
)
def streaming_terminal_job_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 — the CUSTOM STATEFUL operator surface
    (``applyInPandasWithState``) executed under a real stream inside the
    catalog: the events table replayed as a job-status stream (user →
    job, event_type mapped onto the reference's transcription-job states,
    `fixed_hebrew_aligner.py:369-403`), per-key state tracking latest
    status + update count, one row emitted when a job reaches a terminal
    state, state dropped on emit. Completes the driver-visible streaming
    trio: windowed aggregation (complete mode), watermark dedup
    (append), and now arbitrary per-key state.

    Scale posture: state is one (status, count) tuple per LIVE key,
    dropped at terminal emit and bounded by the processing-time timeout
    for abandoned keys — the unbounded-stream memory model the reference
    approximates with its 60-attempt poll cap."""
    from ..streaming.polling import terminal_jobs
    from ..streaming.sources import events_parquet_stream, run_available_now_to_parquet

    updates = events_parquet_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("job_id"),
        F.when(F.col("event_type") == "error", "Failed")
        .when(F.col("event_type") == "purchase", "Succeeded")
        .otherwise("Running")
        .alias("status"),
        "ts",
    )
    out = terminal_jobs(updates, job_col="job_id", status_col="status", ts_col="ts")
    return run_available_now_to_parquet(
        out,
        output_mode="append",
        query_name="terminal_job_status_stream",
    )


@_register(
    "streaming_progress_metrics",
    # availableNow over a single parquet file commits exactly ONE
    # data-bearing micro-batch, so every listener-derived number is
    # deterministic: batch count, engine-reported input rows, and the
    # observe() counters (count + 4dp-rounded sum, the cross-engine
    # float policy the other streaming aggregates use).
    oracle="""
SELECT CAST(1 AS INTEGER) AS n_data_batches,
       count(*) AS total_input_rows,
       count(*) AS rows_seen,
       round(sum(value), 4) AS sum_value
FROM events
""",
    tags=("T5", "T1", "S14"),
)
def streaming_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 under the driver gate: ``observe()`` metrics attached to a
    real readStream plan and harvested by a ``StreamingQueryListener``
    — the engine-level replacement for the reference's hand-rolled
    every-10-chapters progress counters (`fixed_hebrew_aligner.py:756-759`).
    The returned frame is built from what the LISTENER saw (batch
    count, engine-reported numInputRows, observed rows/sum), so the
    value hash pins the whole observability path: plan-attached
    aggregates → per-batch QueryProgressEvent → listener collection.

    Scale posture: observe() metrics are computed inside the running
    plan (no second pass over the data) and only one tiny metrics map
    per micro-batch reaches the driver — progress cost is independent
    of corpus width, exactly what a 100 TB stream needs."""
    from ..streaming.progress import ProgressListener, with_observed_metrics
    from ..streaming.sources import events_parquet_stream, run_available_now_to_parquet

    listener = ProgressListener()
    spark.streams.addListener(listener)
    try:
        observed = with_observed_metrics(
            events_parquet_stream(spark, sf_dir).select("event_id", "value"),
            "progress",
        ).observe("totals", F.round(F.sum("value"), 4).alias("sum_value"))
        run_available_now_to_parquet(
            observed.select("event_id"),
            output_mode="append",
            query_name="progress_metrics_stream",
        )
        # progress events reach the listener through the listener bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    # filter by query NAME, not just row count: the listener bus is
    # session-wide and a concurrent stream's data batches would
    # otherwise inflate these metrics
    data = [
        p
        for p in listener.progress
        if p["numInputRows"] > 0 and p["name"] == "progress_metrics_stream"
    ]
    obs = [p["observedMetrics"] for p in data]
    return spark.createDataFrame(
        [
            (
                len(data),
                sum(p["numInputRows"] for p in data),
                sum(m.get("progress", {}).get("rows_seen", 0) for m in obs),
                round(sum(m.get("totals", {}).get("sum_value", 0.0) for m in obs), 4),
            )
        ],
        "n_data_batches int, total_input_rows bigint, rows_seen bigint, sum_value double",
    )


@_register(
    "streaming_sliding_quarter_stats",
    # A 1h window sliding every 15min assigns each event to exactly 4
    # windows whose starts are the event's 15-min grid point minus
    # k*15min (k = 0..3) — Spark aligns slide grids to the epoch, so
    # integer epoch-second arithmetic replays the assignment exactly.
    # avg derives from the 4dp-agreed sum (streaming-state float policy).
    oracle="""
WITH w AS (
    -- epoch() yields a DOUBLE with fractional seconds and // on doubles
    -- does NOT floor in DuckDB — floor explicitly, then integer grid math
    SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 900) AS BIGINT) * 900
                        - k.k * 900) AS TIMESTAMP) AS window_start,
           value
    FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value,
       CAST((2 * CAST(floor(round(sum(value), 4) * 10000 + 0.5) AS BIGINT) * 100
             + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000.0 AS avg_value
FROM w GROUP BY 1
""",
    tags=("T1", "T2", "T4", "A7"),
)
def streaming_sliding_quarter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation executed UNDER Structured Streaming —
    the stretch-tier window shape beyond the reference's tumbling
    surface (SURVEY §2.10): readStream over events → watermark +
    1-hour window sliding every 15 minutes → complete-mode foreachBatch
    parquet sink read back. Each event updates 4 overlapping windows;
    state per window is one (count, sum) pair, watermark-evicted in the
    unbounded append-mode deployment (tests/test_streaming.py).

    Scale posture: the multi-window fan-out happens INSIDE the
    aggregation operator (no 4× row explosion crosses an exchange) and
    state is (#windows × #slides) aggregates, independent of event
    width — the same bounded-state story as the tumbling entry, times
    the overlap factor."""
    from ..streaming.sources import events_parquet_stream, run_available_now_to_parquet
    from ..streaming.windows import sliding_window_stats

    agg = sliding_window_stats(
        events_parquet_stream(spark, sf_dir),
        ts_col="ts",
        window_duration="1 hour",
        slide_duration="15 minutes",
        watermark_delay="10 minutes",
        value_col="value",
    )
    return run_available_now_to_parquet(
        agg,
        output_mode="complete",
        query_name="sliding_quarter_stats_stream",
    )


@_register(
    "streaming_session_windows",
    # Spark's session_window chains events whose gaps are < the 30-min
    # gap ("within the gap" merges; an event exactly AT the gap boundary
    # starts a NEW session) and ends each session at last_event + gap.
    # The batch replay is the classic lag/break/cumsum sessionizer —
    # the same SQL shape as the batch user_sessions_30min entry.
    oracle="""
WITH s AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS brk
    FROM events
),
g AS (
    SELECT user_id, ts,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
    FROM s
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM g GROUP BY user_id, sid
""",
    tags=("T1", "T2", "T4"),
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based SESSION windows executed UNDER Structured Streaming —
    the second stretch-tier window shape (SURVEY §2.10): readStream →
    watermark + ``session_window(ts, '30 minutes')`` per user →
    complete-mode sink read back. The streaming twin of the batch
    sessionizer (operators.sessionize): dynamic-length windows that
    merge as events arrive, closed by the watermark in the unbounded
    deployment.

    Scale posture: session state is one (start, end, count) per OPEN
    session per user, merged in-operator and watermark-evicted once no
    event can extend the session — arrival-rate-bounded, never
    history-bounded — and runs on the RocksDB state store like every
    stream this runner starts."""
    from ..streaming.sources import events_parquet_stream, run_available_now_to_parquet
    from ..streaming.windows import session_window_stats

    agg = session_window_stats(
        events_parquet_stream(spark, sf_dir),
        ts_col="ts",
        gap="30 minutes",
        watermark_delay="10 minutes",
        key_cols=("user_id",),
    )
    return run_available_now_to_parquet(
        agg,
        output_mode="complete",
        query_name="session_windows_stream",
    )


@_register(
    "streaming_clicks_in_purchase_windows",
    # Same ground truth as the batch clicks_in_purchase_windows entry:
    # the stream-stream join's full-replay output must equal the batch
    # range join's pair set.
    oracle="""
SELECT c.event_id AS click_id, p.event_id AS purchase_id
FROM events c
JOIN events p
  ON c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""",
    tags=("T1", "T4", "J7"),
)
def streaming_clicks_in_purchase_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join executed under Structured Streaming —
    the unbounded twin of the batch J7 pair join, closing the last
    stretch-streaming shape: two readStreams over the events table
    (clicks / purchases), joined on the fixed-width time-bin equi key +
    event-time bounds (streaming.joins.clicks_in_purchase_windows_stream),
    append-mode sink read back after full replay.

    Scale posture: the equality bin key gives the engine a hash-
    partitionable join; the watermarks + time bounds let it derive
    state lifetimes (purchases held ~window+watermark, clicks
    ~watermark), so join state is arrival-rate-bounded on unbounded
    streams — never history-bounded — on the RocksDB store."""
    from ..streaming.joins import clicks_in_purchase_windows_stream
    from ..streaming.sources import events_parquet_stream, run_available_now_to_parquet

    ev = events_parquet_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = events_parquet_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = clicks_in_purchase_windows_stream(
        clicks, purchases, window_seconds=3600, watermark="10 minutes"
    )
    return run_available_now_to_parquet(
        joined,
        output_mode="append",
        query_name="clicks_purchase_join_stream",
    )


@_register(
    "streaming_user_clicks_purchase_windows",
    # Ground truth: the batch user-keyed range join — full stream replay
    # must reproduce the identical pair set.
    oracle="""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""",
    tags=("T1", "T4", "J7", "scale"),
)
def streaming_user_clicks_purchase_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER-KEYED stream-stream interval join — the scale form of
    streaming_clicks_in_purchase_windows (see that entry and
    streaming.joins): the unkeyed pair output is ∝ rate² by semantics,
    this one's is linear (per-user rates bounded). user_id rides the
    equality key next to the time bin, so state partitioning and the
    join hash both gain the high-cardinality key; watermarks bound
    state lifetime exactly as in the unkeyed form."""
    from ..streaming.joins import clicks_in_purchase_windows_stream
    from ..streaming.sources import events_parquet_stream, run_available_now_to_parquet

    ev = events_parquet_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = events_parquet_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = clicks_in_purchase_windows_stream(
        clicks, purchases, window_seconds=3600, watermark="10 minutes",
        key_cols=("user_id",),
    )
    return run_available_now_to_parquet(
        joined,
        output_mode="append",
        query_name="user_clicks_purchase_join_stream",
    )


@_register(
    "event_conversion_funnel",
    # Ordered conversion funnel (view → click → purchase, strict
    # temporal chaining per user): step k counts users whose earliest
    # qualifying event happens strictly AFTER their step-(k-1) anchor.
    # Conversion shares are integer ppm via BIGINT div — no float.
    oracle="""
WITH n0 AS (SELECT count(DISTINCT user_id) AS n FROM events),
u1 AS (
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
u2 AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN u1 ON e.user_id = u1.user_id
    WHERE e.event_type = 'click' AND e.ts > u1.t1
    GROUP BY e.user_id
),
u3 AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN u2 ON e.user_id = u2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > u2.t2
    GROUP BY e.user_id
),
c AS (
    SELECT (SELECT n FROM n0) AS c0,
           (SELECT count(*) FROM u1) AS c1,
           (SELECT count(*) FROM u2) AS c2,
           (SELECT count(*) FROM u3) AS c3
)
SELECT 1 AS step, 'view' AS step_name, c1 AS n_users,
       CAST((c1 * 1000000) // c0 AS BIGINT) AS conv_ppm FROM c
UNION ALL
SELECT 2, 'view>click', c2, CAST((c2 * 1000000) // c1 AS BIGINT) FROM c
UNION ALL
SELECT 3, 'view>click>purchase', c3, CAST((c3 * 1000000) // c2 AS BIGINT) FROM c
""",
    tags=("A1", "W6", "funnel", "analytics"),
)
def event_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: per user, the
    earliest view anchors step 1, the earliest click strictly after it
    anchors step 2, the earliest purchase strictly after THAT anchors
    step 3 — the product-analytics primitive (and, for a training-data
    pipeline, the shape of any multi-stage document-lineage funnel).

    Scale posture: three filtered min-aggregates, each map-side
    combined and keyed by user_id, chained by user-keyed joins that
    share one hash partitioning (no broadcast of user-sized sides, no
    window over the raw stream); step counts are scalar aggregates and
    the 3-row report is built driver-side. Conversion shares are
    integer ppm (BIGINT div)."""
    ev = T(spark, sf_dir, "events")
    n0 = ev.agg(F.countDistinct("user_id").alias("c0"))
    u1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    u2 = (
        ev.filter(F.col("event_type") == "click")
        .join(u1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    u3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(u2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    c = (
        n0.crossJoin(u1.agg(F.count(F.lit(1)).alias("c1")))
        .crossJoin(u2.agg(F.count(F.lit(1)).alias("c2")))
        .crossJoin(u3.agg(F.count(F.lit(1)).alias("c3")))
    )
    # stack() fans the 1-row scalar frame into the 3-row report in ONE
    # pass: the previous unionAll of three selects referenced `c` three
    # times, and each branch re-executed the whole funnel tree (u3 ⊃ u2
    # ⊃ u1 — 25 jobs for a 3-row answer; 9 with the single reference).
    # Same rows, types, and order (step 1, 2, 3 from one generator).
    return c.select(
        F.expr(
            "stack(3,"
            " 1, 'view',                (c1 * 1000000) div c0, c1,"
            " 2, 'view>click',          (c2 * 1000000) div c1, c2,"
            " 3, 'view>click>purchase', (c3 * 1000000) div c2, c3"
            ") AS (step, step_name, conv_ppm, n_users)"
        )
    ).select("step", "step_name", "n_users", "conv_ppm")


@_register(
    "hourly_value_forward_fill",
    # Time-series resample + forward fill — the gap-filling primitive
    # (metrics dashboards, feature snapshots): each user's sparse
    # events become a DENSE hourly grid between their first and last
    # activity, carrying the last observed hourly sum forward through
    # silent hours. The grid comes from sequence generation (F19), the
    # fill from last_value IGNORE NULLS — one window over the grid.
    # Grid is bounded to 10 users to keep the report result-sized.
    oracle="""
WITH h AS (
    SELECT user_id, date_trunc('hour', ts) AS hour,
           round(sum(value), 4) AS hour_sum
    FROM events WHERE user_id < 10 GROUP BY 1, 2
),
span AS (
    SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM h GROUP BY user_id
),
grid AS (
    SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
    FROM span
),
j AS (
    SELECT g.user_id, g.hour, h.hour_sum,
           (h.hour_sum IS NOT NULL) AS observed
    FROM grid g LEFT JOIN h USING (user_id, hour)
)
SELECT user_id, hour,
       last_value(hour_sum IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
       observed
FROM j
""",
    tags=("F19", "W6", "timeseries", "resample"),
)
def hourly_value_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample with forward fill: per user (bounded
    panel), generate every hour between first and last activity
    (sequence + explode — no driver loop), left-join the observed
    hourly sums, and carry the last observation forward with one
    last_value-ignore-nulls window. Scale posture: the grid explode is
    span-proportional (the operator a metrics store runs per series),
    the fill is one series-keyed window; sums are 4-dp-rounded before
    any comparison surface."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    h = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.round(F.sum("value"), 4).alias("hour_sum"))
    span = h.groupBy("user_id").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    j = grid.join(h, ["user_id", "hour"], "left").withColumn(
        "observed", F.col("hour_sum").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "hour",
        F.last("hour_sum", ignorenulls=True).over(w).alias("filled_sum"),
        "observed",
    )


@_register(
    "event_type_pivot",
    # The PIVOT twin of unpivot_lineitem_metrics: long (hour, type)
    # counts reshaped wide, one column per event type. The pivot value
    # list is EXPLICIT (no driver-side distinct scan to discover
    # columns) — the only way a pivot stays one-pass at 100 TB.
    oracle="""
SELECT date_trunc('hour', ts) AS hour,
       count(*) FILTER (WHERE event_type = 'click')    AS n_click,
       count(*) FILTER (WHERE event_type = 'error')    AS n_error,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
       count(*) FILTER (WHERE event_type = 'view')     AS n_view,
       count(*) AS n_total
FROM events GROUP BY 1
""",
    tags=("A5", "pivot", "reshape", "analytics"),
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide hourly activity matrix via PIVOT with an explicit value
    list: ONE map-side-combined aggregate carrying the per-type
    conditional counts AND the total — no discovery pass, no second
    scan, no hour-keyed join (the implicit-pivot distinct scan is both
    a second job and a schema hazard at scale). n_total counts every
    row — including any type outside the explicit list — so a domain
    drift shows up as a loud n_total mismatch at the gate instead of a
    silent column of zeros."""
    ev = T(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.select(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .groupBy("hour")
        .agg(
            *[
                F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(
                    f"n_{t}"
                )
                for t in types
            ],
            F.count(F.lit(1)).alias("n_total"),
        )
        .select(
            "hour",
            "n_click",
            "n_error",
            "n_purchase",
            "n_signup",
            "n_view",
            "n_total",
        )
    )


@_register(
    "part_basket_lift",
    # Market-basket co-occurrence with LIFT (the association-rule
    # primitive): parts that ship together in the same order more often
    # than independence predicts. The pair join is keyed on the ORDER —
    # fan-out is Σ(basket choose 2), bounded by the ~13-line basket cap,
    # so the "self-join" is linear in orders, never parts². Lift and
    # support are exact BIGINT milli/ppm arithmetic.
    oracle="""
WITH b AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
nn AS (SELECT count(DISTINCT o) AS n_orders FROM b),
ic AS (SELECT p, count(*) AS n_p FROM b GROUP BY p),
pr AS (
    SELECT a.p AS part_a, c.p AS part_b, count(*) AS n_ab
    FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
    GROUP BY a.p, c.p HAVING count(*) >= 2
)
SELECT pr.part_a, pr.part_b, pr.n_ab,
       CAST(pr.n_ab * 1000000 // nn.n_orders AS BIGINT) AS support_ppm,
       CAST(pr.n_ab * nn.n_orders * 1000 // (ia.n_p * ib.n_p) AS BIGINT)
           AS lift_milli
FROM pr
JOIN ic ia ON ia.p = pr.part_a
JOIN ic ib ON ib.p = pr.part_b
CROSS JOIN nn
""",
    tags=("J1", "A5", "basket", "analytics"),
)
def part_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: for every part pair
    co-occurring in ≥2 orders, exact support (ppm of orders) and lift
    (observed/expected co-occurrence, milli-units) — the co-occurrence
    analytics class (recommendations, 'frequently bought together').
    Scale posture (r13, guide §2.3/§2.4): ONE order-keyed exchange with
    map-side partial collect_set builds each basket; pairs are generated
    IN PLACE from the sorted basket array (fan-out Σ(basket choose 2),
    linear in orders under the bounded-basket invariant) — the previous
    order-keyed self-join paid two more exchanges of the (o, p) pairs
    plus a 4×-referenced distinct subtree; now every consumer (order
    count, item counts, pair expansion) rides the SAME reused basket
    exchange. Item counts broadcast back onto the sparse pair list;
    all-integer outputs."""
    li = T(spark, sf_dir, "lineitem")
    baskets = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("ps"))
    )
    nn = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    ic = baskets.select(F.explode("ps").alias("p")).groupBy("p").agg(
        F.count(F.lit(1)).alias("n_p")
    )
    # ps is a sorted SET, so (ps[i], ps[j]) with i < j enumerates exactly
    # the part_a < part_b pairs the self-join produced. slice() clamps to
    # the array end; struct fields name the pair columns directly.
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("pq")
    ).select("pq.part_a", "pq.part_b")
    pr = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    return (
        pr.join(F.broadcast(ic.withColumnRenamed("p", "part_a").withColumnRenamed("n_p", "na")), "part_a")
        .join(F.broadcast(ic.withColumnRenamed("p", "part_b").withColumnRenamed("n_p", "nb")), "part_b")
        .crossJoin(F.broadcast(nn))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.expr("n_ab * 1000000 div n_orders").alias("support_ppm"),
            F.expr("n_ab * n_orders * 1000 div (na * nb)").alias("lift_milli"),
        )
    )


@_register(
    "user_status_history",
    # SCD2 history build — the warehouse transform that turns an event
    # stream into validity intervals: keep only CHANGE points of the
    # derived status (lag compare), then close each interval with the
    # next change's timestamp (lead). (user_id, ts) is unique in the
    # synthetic events at every SF, so the replay is deterministic.
    oracle="""
WITH s AS (
    SELECT user_id, ts,
           CASE event_type WHEN 'error' THEN 'Failed'
                           WHEN 'purchase' THEN 'Succeeded'
                           ELSE 'Running' END AS status
    FROM events
),
o AS (
    SELECT user_id, ts, status,
           lag(status) OVER (PARTITION BY user_id ORDER BY ts) AS prev_status
    FROM s
),
ch AS (
    SELECT user_id, ts, status FROM o
    WHERE prev_status IS NULL OR status <> prev_status
)
SELECT user_id, status, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL) AS is_current,
       row_number() OVER (PARTITION BY user_id ORDER BY ts) AS version
FROM ch
""",
    tags=("S9", "W6", "scd2", "warehouse"),
)
def user_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from the event
    stream: derive each user's status over time, compress to change
    points (lag compare), and close every interval with the next
    change's timestamp — the versioned dimension the upsert sink (S9)
    would maintain incrementally. Two same-spec windows over ONE
    user-keyed shuffle (Spark reuses the sort); output is change-point
    sized, not event-sized."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    status = (
        F.when(F.col("event_type") == "error", "Failed")
        .when(F.col("event_type") == "purchase", "Succeeded")
        .otherwise("Running")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    o = ev.select("user_id", "ts", status.alias("status")).withColumn(
        "prev_status", F.lag("status").over(w)
    )
    ch = o.filter(
        F.col("prev_status").isNull()
        | (F.col("status") != F.col("prev_status"))
    )
    wc = Window.partitionBy("user_id").orderBy("ts")
    return ch.select(
        "user_id",
        "status",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(wc).alias("valid_to"),
        F.lead("ts").over(wc).isNull().alias("is_current"),
        F.row_number().over(wc).alias("version"),
    )


@_register(
    "event_value_quantiles",
    # Exact rank-based p50/p90/p99 per event type WITHOUT sorting the
    # corpus — the latency-report primitive: cumulative counts over a
    # (type, value) histogram pick the value at rank ceil(q·n). The
    # rank thresholds use the identical IEEE double product on both
    # engines, and the reported quantiles are raw data values (no
    # derived float arithmetic), so the hash surface is exact.
    oracle="""
WITH h AS (
    SELECT event_type, value, count(*) AS c FROM events GROUP BY 1, 2
),
n AS (SELECT event_type, sum(c) AS n FROM h GROUP BY 1),
cum AS (
    SELECT event_type, value, c,
           sum(c) OVER (PARTITION BY event_type ORDER BY value ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
    FROM h
)
SELECT cum.event_type, CAST(n.n AS BIGINT) AS n_events,
       min(CASE WHEN cc >= CAST(ceil(0.5 * n.n) AS BIGINT) THEN value END) AS p50,
       min(CASE WHEN cc >= CAST(ceil(0.9 * n.n) AS BIGINT) THEN value END) AS p90,
       min(CASE WHEN cc >= CAST(ceil(0.99 * n.n) AS BIGINT) THEN value END) AS p99
FROM cum JOIN n USING (event_type)
GROUP BY cum.event_type, n.n
""",
    tags=("A1", "quantile", "analytics", "report"),
)
def event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type value quantiles (p50/p90/p99) read off cumulative
    counts over a (type, value) histogram — the quality_cutoff_
    calibration move generalized to a multi-quantile report: the corpus
    is never sorted, the histogram groupBy combines map-side, and the
    cumulative window runs over histogram rows. Reported quantiles are
    raw stored values at ceil(q·n) rank — rank thresholds evaluate the
    same IEEE product on both engines."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    h = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("c"))
    n = h.groupBy("event_type").agg(F.sum("c").alias("n_events"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy(F.col("value").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.withColumn("cc", F.sum("c").over(wcum)).join(
        F.broadcast(n), "event_type"
    )

    def q(frac: float, name: str):
        return F.min(
            F.when(
                F.col("cc")
                >= F.ceil(F.lit(frac) * F.col("n_events")).cast("long"),
                F.col("value"),
            )
        ).alias(name)

    return cum.groupBy("event_type", "n_events").agg(
        q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99")
    )


@_register(
    "event_order_audit",
    # Ingest data-quality audit: how often a user's event timestamps
    # run BACKWARD relative to ingest order (event_id) — the number
    # that sizes a stream's watermark delay before trusting
    # event-time processing. One window, integer-ppm shares.
    oracle="""
WITH o AS (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
    FROM events
)
SELECT user_id, count(*) AS n_events,
       count(*) FILTER (WHERE ts < prev_ts) AS n_inversions,
       CAST((count(*) FILTER (WHERE ts < prev_ts)) * 1000000 // count(*)
            AS BIGINT) AS inversion_ppm
FROM o GROUP BY user_id
""",
    tags=("T4", "quality", "audit", "analytics"),
)
def event_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-arrival audit: per user, the count and ppm share of
    events whose timestamp precedes the previous event in ingest order
    (event_id) — the empirical disorder measure that justifies the
    streaming entries' watermark delays. One user-keyed window (the
    same shuffle any per-user sequence op pays), integer outputs."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    o = ev.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    return (
        o.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("ts") < F.col("prev_ts"), 1).otherwise(0)
            ).alias("n_inversions"),
        )
        # ppm derives from the aggregated columns — ONE copy of the
        # inversion predicate, so the two outputs cannot desynchronize
        .withColumn(
            "inversion_ppm", F.expr("n_inversions * 1000000 div n_events")
        )
    )


@_register(
    "user_cohort_retention",
    # Cohort retention matrix: users bucket into hourly cohorts by their
    # FIRST event; each (cohort, hour-offset) cell counts distinct users
    # still active — the companion report to the conversion funnel.
    # Offsets and retention shares are exact integers (epoch-micro div,
    # ppm div); hours come from the shared date_trunc domain.
    oracle="""
WITH f AS (
    SELECT user_id, date_trunc('hour', min(ts)) AS cohort_hour
    FROM events GROUP BY user_id
),
a AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events),
cs AS (SELECT cohort_hour, count(*) AS cohort_size FROM f GROUP BY cohort_hour),
r AS (
    SELECT f.cohort_hour,
           (epoch_us(a.h) - epoch_us(f.cohort_hour)) // 3600000000 AS offset_h,
           count(DISTINCT a.user_id) AS n_active
    FROM a JOIN f USING (user_id) GROUP BY 1, 2
)
SELECT r.cohort_hour, CAST(r.offset_h AS BIGINT) AS offset_h,
       cs.cohort_size, r.n_active,
       CAST((r.n_active * 1000000) // cs.cohort_size AS BIGINT) AS retention_ppm
FROM r JOIN cs USING (cohort_hour)
""",
    tags=("A1", "W6", "cohort", "analytics"),
)
def user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly cohort retention: first-event hour assigns each user a
    cohort; every (cohort, offset) cell counts the distinct users with
    any activity that many hours later, with an integer-ppm retention
    share against the cohort size. Scale posture: one user-keyed min
    aggregate, one distinct on (user, hour) — both map-side combined —
    and a user-keyed join that reuses the same hash partitioning; the
    matrix itself is (hours × offsets)-sized, never user-sized."""
    ev = T(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("cohort_hour")
    )
    a = ev.select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).distinct()
    cs = f.groupBy("cohort_hour").agg(F.count(F.lit(1)).alias("cohort_size"))
    r = (
        a.join(f, "user_id")
        .groupBy(
            "cohort_hour",
            F.expr(
                "(unix_micros(h) - unix_micros(cohort_hour)) div 3600000000"
            ).alias("offset_h"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return r.join(cs, "cohort_hour").select(
        "cohort_hour",
        "offset_h",
        "cohort_size",
        "n_active",
        F.expr("(n_active * 1000000) div cohort_size").alias("retention_ppm"),
    )


@_register(
    "event_type_shares",
    oracle="""
WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
SELECT event_type, n, round(n / sum(n) OVER (), 6) AS share FROM c
""",
    tags=("A5", "F18"),
)
def event_type_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6: per-group counts plus share-of-total (success_rate shape,
    `fixed_hebrew_aligner.py:698-720`)."""
    from pyspark.sql import Window

    c = T(spark, sf_dir, "events").groupBy("event_type").agg(F.count("*").alias("n"))
    return c.withColumn(
        "share",
        F.round(F.col("n") / F.sum("n").over(Window.partitionBy()), 6),
    )


# ===========================================================================
# State / sessions / as-of / intervals (SURVEY.md §2.1 S9, §2.3 J5/J7)
# ===========================================================================

@_register(
    "upsert_last_event_state",
    oracle="""
SELECT user_id, event_type, ts, value FROM (
    SELECT user_id, event_type, ts, value,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
""",
    tags=("S9", "J8"),
    bench=True,
)
def upsert_last_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: last-write-wins state collapse — trim_config.json as a window
    dedup (`scripts/hebrew_audio_trimmer.py:186-195`)."""
    return upsert.latest_state(
        T(spark, sf_dir, "events").select("user_id", "event_type", "ts", "value", "event_id"),
        key_cols=["user_id", "event_type"],
        ts_col="ts",
        tiebreak_cols=["event_id"],
    ).select("user_id", "event_type", "ts", "value")


@_register(
    "asof_click_purchase",
    oracle="""
WITH ev AS (SELECT * FROM events WHERE user_id < 20),
u AS (
    SELECT user_id, event_id, ts, event_type, value,
           last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts ASC, (event_type = 'purchase') DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_ts,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts ASC, (event_type = 'purchase') DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_value
    FROM ev
)
SELECT event_id, user_id, ts, purchase_ts, purchase_value
FROM u WHERE event_type = 'click'
""",
    tags=("J5-generic", "W5"),
    bench=True,
)
def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic as-of join (the scalable form of the reference's cursor
    semantics): each click gets the user's most recent prior purchase.
    union+window plan — one shuffle, no per-key loop."""
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof.asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["value"],
        direction="backward",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_right").alias("purchase_ts"),
        F.col("value_right").alias("purchase_value"),
    )


@_register(
    "asof_click_purchase_tol",
    # Same as-of semantics PLUS the tolerance gate: matches farther than
    # 1 h are nulled, exercising asof_join's tolerance branch (which was
    # otherwise driver-invisible — the plain entry passes tolerance=None).
    # Gap compared in integer epoch-micros on the oracle side; Spark's
    # double-seconds comparison is exact for micro timestamps (< 2^53).
    oracle="""
WITH ev AS (SELECT * FROM events WHERE user_id < 20),
u AS (
    SELECT user_id, event_id, ts, event_type, value,
           last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts ASC, (event_type = 'purchase') DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_ts,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts ASC, (event_type = 'purchase') DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_value
    FROM ev
)
SELECT event_id, user_id, ts,
       CASE WHEN epoch_us(ts) - epoch_us(purchase_ts) <= 3600000000
            THEN purchase_ts END AS purchase_ts,
       CASE WHEN epoch_us(ts) - epoch_us(purchase_ts) <= 3600000000
            THEN purchase_value END AS purchase_value
FROM u WHERE event_type = 'click'
""",
    tags=("J5-generic", "W5", "tolerance"),
)
def asof_click_purchase_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 1-hour tolerance: purchases farther back than
    3600 s are nulled out (asof.asof_join's tolerance post-filter)."""
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof.asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["value"],
        direction="backward",
        tolerance=3600.0,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_right").alias("purchase_ts"),
        F.col("value_right").alias("purchase_value"),
    )


@_register(
    "user_sessions_30min",
    oracle="""
WITH e AS (
    -- events.ts is parquet TIMESTAMP(NANOS); Spark reads it truncated to
    -- microseconds (nanosAsLong div 1000), so the oracle must aggregate
    -- the SAME truncated values: CAST to DuckDB's microsecond TIMESTAMP.
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
    FROM events WHERE user_id < 30
), s AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM e
), numbered AS (
    SELECT user_id, ts,
           -- DuckDB types a windowed sum(int) as HUGEINT, which pandas-based
           -- canonicalizers (fetchdf) render as float64 — hash-diverging from
           -- Spark's bigint even when values are equal. CAST pins BIGINT.
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM s
)
SELECT user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000 AS duration_ms,
       count(*) AS n_events
FROM numbered GROUP BY user_id, session_id
""",
    tags=("sessions", "T2"),
    bench=True,
)
def user_sessions_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity), lag+cumsum plan."""
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 30).select("user_id", "ts")
    return sessionize.session_stats(e, ["user_id"], "ts", 1800.0)


@_register(
    "orders_containing_shipdate",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, count(*) AS n_orders
FROM lineitem l
JOIN orders o
  ON l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <= o.o_orderdate + INTERVAL 3 DAY
GROUP BY l.l_orderkey, l.l_linenumber
""",
    tags=("J7",),
    bench=True,
)
def orders_containing_shipdate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 point-in-interval count (the playback-time→verse lookup shape,
    `standalone_hebrew_tester.html:458-492`) with aggregate pushdown
    through the range join: the query only needs a COUNT per point, so
    instead of materializing the |points|×|matching intervals| pairs
    (the binned-join plan — 150M rows at sf0.1), collapse intervals to
    per-date counts (bounded by the date domain, ~2.4k rows), range-join
    those against the *distinct* point values, and broadcast the finished
    per-date window counts back onto lineitem. The fact table never
    shuffles — this is the plan that survives 100 TB."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    per_date = (
        T(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("odate"))
        .agg(F.count("*").alias("cnt"))
    )
    ship_days = li.select(F.col("l_shipdate").alias("sday")).distinct()
    window_counts = (
        ship_days.join(
            F.broadcast(per_date),
            (F.col("odate") <= F.col("sday"))
            & (F.col("sday") <= F.col("odate") + F.expr("INTERVAL 3 DAYS")),
        )
        .groupBy("sday")
        .agg(F.sum("cnt").alias("n_orders"))
    )
    # (l_orderkey, l_linenumber) is not unique in the synthetic lineitem,
    # so mirror the oracle's GROUP BY: duplicates merge, counts add.
    return (
        li.join(F.broadcast(window_counts), li["l_shipdate"] == F.col("sday"))
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.sum("n_orders").alias("n_orders"))
    )


@_register(
    "clicks_in_purchase_windows",
    oracle="""
SELECT c.event_id AS click_id, p.event_id AS purchase_id
FROM events c
JOIN events p
  ON c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""",
    tags=("J7",),
    bench=True,
)
def clicks_in_purchase_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 point-in-interval *pair* join via the binned rewrite
    (`standalone_hebrew_tester.html:458-492` — playback tick inside a
    verse window). No join key exists, so the naive plan is a nested
    loop over |clicks|×|purchases|; the bin equi-key turns it into a
    shuffled hash join both sides can partition on."""
    ev = T(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("iv_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("iv_end"),
    )
    joined = intervals.point_in_interval_join(
        clicks, purchases, "cts", "iv_start", "iv_end", bin_width=3600.0
    )
    return joined.select("click_id", "purchase_id")


@_register(
    "user_clicks_in_purchase_windows",
    oracle="""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""",
    tags=("J7", "scale"),
    bench=True,
)
def user_clicks_in_purchase_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The USER-KEYED J7 interval pair join — each click matches only
    its own user's purchase windows. This is the form that survives a
    density-growing stream: the unkeyed twin's output is ∝ rate² BY
    SEMANTICS (every click × every concurrent purchase — measured r10:
    ~5·10⁸ pairs at x30, bench_runs/r10_scaling_events*.json), while
    per-user rates are bounded, so the keyed output and join fan-out
    grow linearly. Same binned equi-join plan, with user_id added to
    the hash key (bin skew disappears into the key as a bonus)."""
    ev = T(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("iv_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("iv_end"),
    )
    joined = intervals.point_in_interval_join(
        clicks, purchases, "cts", "iv_start", "iv_end",
        bin_width=3600.0, keys=("user_id",),
    )
    return joined.select("user_id", "click_id", "purchase_id")


@_register(
    "json_extract_defaults",
    oracle="""
SELECT event_id,
       coalesce(CAST(json_extract_string(props, '$.k') AS INTEGER), 0) AS k_val,
       (value > 100) AS is_high
FROM events
""",
    tags=("F13", "F14"),
)
def json_extract_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 JSON parse + F13 conditional defaulting
    (`fixed_hebrew_aligner.py:284,443-465`, `hebrew_alignment_tool.py:230-231`)."""
    return T(spark, sf_dir, "events").select(
        "event_id",
        F.coalesce(
            F.get_json_object(F.col("props"), "$.k").cast("int"), F.lit(0)
        ).alias("k_val"),
        (F.col("value") > 100).alias("is_high"),
    )


@_register(
    "progress_running_eta",
    oracle="""
WITH e AS (
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
    FROM events WHERE user_id < 5
), w AS (
    SELECT user_id, event_id, ts,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS processed,
           (epoch_us(ts) - epoch_us(first_value(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) // 1000 AS elapsed_ms
    FROM e
)
SELECT user_id, event_id, ts, processed, elapsed_ms,
       (200 - processed) * elapsed_ms / processed AS eta_ms
FROM w
""",
    tags=("A9", "T5"),
)
def progress_running_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 running average + ETA over a completion stream
    (`scripts/hebrew_alignment_clean_fixed.py:415-429`): each user's
    events are treated as item completions toward a fixed total of 200;
    the ETA column is the reference's ``remaining × elapsed/processed``
    as one window, with event_id as the deterministic tiebreak."""
    from ..streaming.progress import running_eta

    e = (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") < 5)
        .select("user_id", "event_id", "ts")
    )
    return running_eta(
        e,
        group_cols=["user_id"],
        order_cols=["ts", "event_id"],
        ts_col="ts",
        total=200,
    )


@_register(
    "skewed_event_profile",
    oracle="""
WITH j AS (
    SELECT e.event_type, e.event_id, e.user_id,
           CAST(e.value AS DECIMAL(18,6)) AS value_dec,
           CAST(e.value AS DECIMAL(18,6)) * len(e.event_type) AS wvalue
    FROM events e
)
SELECT event_type,
       count(event_id) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(round(sum(value_dec), 2) AS DOUBLE) AS total_value,
       CAST(round(sum(wvalue), 2) AS DOUBLE) AS weighted_value,
       array_to_string(list_sort(list(DISTINCT user_id)), ',') AS user_csv
FROM j
GROUP BY event_type
ORDER BY event_type
""",
    tags=("A5", "A10", "scale-skew", "§2.11"),
)
def skewed_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation demo with an exact oracle: ``event_type`` has ~5
    distinct values over the whole events table — the worst-case shuffle
    key. The plan joins the fact table to a per-type dim via
    ``salted_join`` (each hot key split across 8 sub-keys) and then runs
    the profile aggregation via ``salted_aggregate`` two-phase hashing,
    so no single reducer ever holds a full event type's rows — the
    collect_set partials stay bounded. The oracle is the straight
    join+groupBy: salting must be invisible in the result. Money math in
    DECIMAL so both engines sum exactly (order-invariant), then one
    round+cast at the edge. The reference's analog is its per-chapter
    success/failure tally (`fixed_hebrew_aligner.py` process_all_chapters
    summary loop) which never distributes at all.

    Scale note: ``user_csv`` (the full distinct-user list) is the
    fixture-scale proof artifact that lets the oracle hash the exact set
    membership; a 100 TB deployment emits the scalar ``n_users`` only —
    the two-phase shape is what transfers, not a per-key list column."""
    from ..operators.skew import salted_aggregate, salted_join

    e = T(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,6)")
    )
    type_dim = (
        e.select("event_type").distinct().withColumn("type_len", F.length("event_type"))
    )
    joined = salted_join(
        e.select("event_type", "event_id", "user_id", "value_dec"),
        type_dim,
        on="event_type",
        n_salts=8,
        # safe here: the big side is a deterministic parquet-scan
        # projection, so identical heartbeat-style rows spread without
        # the shuffle-retry hazard (see with_salt docstring)
        spread_identical_rows=True,
    ).withColumn("wvalue", F.col("value_dec") * F.col("type_len"))
    prof = salted_aggregate(
        joined,
        keys=["event_type"],
        aggs={
            "n_events": ("event_id", "count"),
            "total_value": ("value_dec", "sum"),
            "weighted_value": ("wvalue", "sum"),
            "users": ("user_id", "collect_set"),
        },
        n_salts=8,
    )
    return prof.select(
        "event_type",
        "n_events",
        F.size("users").alias("n_users"),
        F.round(F.col("total_value"), 2).cast("double").alias("total_value"),
        F.round(F.col("weighted_value"), 2).cast("double").alias("weighted_value"),
        F.array_join(
            F.transform(F.array_sort("users"), lambda x: x.cast("string")), ","
        ).alias("user_csv"),
    ).orderBy("event_type")


@_register(
    "price_quantiles_by_flag",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5) + 0.0000001, 2) AS p50,
       round(quantile_cont(l_extendedprice, 0.9) + 0.0000001, 2) AS p90,
       round(quantile_cont(l_extendedprice, 0.99) + 0.0000001, 2) AS p99,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("A12", "quantiles"),
)
def price_quantiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group — the distribution-shape
    aggregate every curation/quality report needs. Spark's `percentile`
    and DuckDB's `quantile_cont` share the linear-interpolation
    definition; the epsilon-round absorbs last-ulp differences between
    their algebraically-equivalent interpolation formulas. At 100 TB
    swap `percentile` for `approx_percentile` (t-digest sketch, one
    pass, mergeable partials) — same plan shape, bounded memory."""
    from ..sources.readers import spread

    li = spread(T(spark, sf_dir, "lineitem"))
    eps = F.lit(0.0000001)
    # one percentile(ARRAY(...)) call: the exact aggregate buffers and
    # sorts each group's values ONCE for all three quantiles, not once
    # per requested quantile
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").alias("_p"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "l_returnflag",
        F.round(F.element_at("_p", 1) + eps, 2).alias("p50"),
        F.round(F.element_at("_p", 2) + eps, 2).alias("p90"),
        F.round(F.element_at("_p", 3) + eps, 2).alias("p99"),
        "n",
    )


@_register(
    "cube_status_priority",
    oracle="""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("A6", "cube"),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 extended to the full CUBE lattice: every (status, priority)
    combination plus all three grand-total planes in one pass — Spark
    expands the lattice map-side (Expand node) so the shuffle still
    carries one row per (group, lattice-cell), no second scan. DECIMAL
    sum so both engines add exactly."""
    o = T(spark, sf_dir, "orders").withColumn(
        "price_dec", F.col("o_totalprice").cast("decimal(18,4)")
    )
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("price_dec"), 2).cast("double").alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
    )


@_register(
    "pivot_user_event_counts",
    oracle="""
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'error')    AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'view')     AS view
FROM events
WHERE user_id < 50
GROUP BY user_id
""",
    tags=("A5", "pivot"),
)
def pivot_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot with an EXPLICIT value list: naming the pivot
    columns up front removes the extra distinct-values job Spark
    otherwise runs before planning (a full scan at 100 TB just to learn
    the schema), and pins the output schema against drift in the data."""
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@_register(
    "sketch_accuracy_certificates",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_5pct,
       TRUE AS tdigest_within_5pct
FROM events
GROUP BY event_type
""",
    tags=("A10", "sketch", "hll", "tdigest"),
)
def sketch_accuracy_certificates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates (the bounded-memory 100 TB path) verified via
    accuracy CERTIFICATES: the oracle pins the exact answers and literal
    TRUE flags, so the value-hash passes only if HyperLogLog++ distinct
    and the t-digest median each land within 5% of the exact aggregates
    computed in the same pass. Both sketches are hash-based and
    deterministic — no RNG, so the certificate is stable. At scale the
    exact columns drop away and only the mergeable sketch partials
    shuffle; this entry exists to keep the sketch path honest against
    the exact one. (HyperLogLog++: Heule/Nunkesser/Hall, EDBT 2013;
    t-digest: Dunning/Ertl, "Computing extremely accurate quantiles
    using t-digests", 2019.)"""
    from ..sources.readers import spread

    # spread: the EXACT percentile buffers every group value in its
    # aggregation state — parallelize the buffering across cores when
    # the scan arrives as one split (no-op on naturally-split inputs)
    e = spread(T(spark, sf_dir, "events"))
    # two aggregations joined on the (tiny) group key: one combined
    # 4-buffer typed aggregate measures 2× slower than running the
    # distinct-count pair and the percentile pair as separate
    # ObjectHashAggregates and joining 5 rows
    users = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("hll_users"),
    )
    p50s = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("approx_p50"),
    )
    # null-safe equality so a NULL event_type group (kept by both
    # groupBys AND by the oracle's GROUP BY) survives the join
    agg = users.join(
        p50s, users["event_type"].eqNullSafe(p50s["event_type"])
    ).drop(p50s["event_type"])
    # zero-guarded relative error: if the exact value is 0 the sketch
    # must be exactly 0 too — otherwise a 0 denominator would emit NULL
    # instead of the oracle's pinned TRUE/FALSE and fail the hash
    return agg.select(
        "event_type",
        "exact_users",
        F.when(
            F.col("exact_users") == 0, F.col("hll_users") == 0
        ).otherwise(
            F.abs(F.col("hll_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("hll_within_5pct"),
        F.when(
            F.col("exact_p50") == 0, F.col("approx_p50") == 0
        ).otherwise(
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            / F.abs(F.col("exact_p50"))
            <= 0.05
        ).alias("tdigest_within_5pct"),
    )


@_register(
    "overlapping_purchase_windows",
    oracle="""
WITH p AS (
    SELECT event_id, user_id, ts AS w_start, ts + INTERVAL 1 HOUR AS w_end
    FROM events
    WHERE event_type = 'purchase' AND user_id < 15
)
SELECT a.event_id AS id_a, b.event_id AS id_b,
       a.user_id AS user_a, b.user_id AS user_b
FROM p a JOIN p b
  ON a.w_start <= b.w_end AND b.w_start <= a.w_end
 AND a.event_id < b.event_id
""",
    tags=("J7", "interval-overlap"),
)
def overlapping_purchase_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7's interval×interval variant through the binned rewrite: pairs
    of purchase attribution windows [ts, ts+1h] that overlap. The bin
    equi-key turns the quadratic overlap predicate into a shuffled hash
    join; each pair survives once, at its first shared bin, so no
    downstream distinct is needed (same no-dedup-shuffle argument as
    the simhash band search)."""
    p = (
        T(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 15))
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
        )
    )
    a = p.select(
        F.col("event_id").alias("id_a"),
        F.col("user_id").alias("user_a"),
        F.col("w_start").alias("a_start"),
        F.col("w_end").alias("a_end"),
    )
    b = p.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("user_b"),
        F.col("w_start").alias("b_start"),
        F.col("w_end").alias("b_end"),
    )
    joined = intervals.interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end", bin_width=3600.0
    )
    return joined.filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "user_a", "user_b"
    )


@_register(
    "sql_segment_revenue",
    oracle="""
SELECT c_mktsegment,
       round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    tags=("A5", "J1", "sql-api"),
)
def sql_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL front-end surface: the same Catalyst plan the
    DataFrame entries produce, declared via ``spark.sql`` over
    registered temp views — proving a reference user can bring plain
    ANSI SQL instead of the Python API and get identical results (the
    oracle here IS the query, modulo view names). Money sums in DECIMAL
    like the sibling aggregates, so both engines add exactly
    (order-invariant) and one round+cast happens at the edge."""
    T(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    T(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """
    )


# ===========================================================================
# Data layout: Z-order clustering for scan pruning (physical-execution tier)
# ===========================================================================

from ..operators.layout import (  # noqa: E402 — keeps the layout tier together
    bucket_minmax_stats,
    skipping_report,
    zorder_key,
    zorder_key_sql,
)

_Z_BITS = 10          # each key normalized onto [0, 1024)
_Z_FILES_SHIFT = 15   # 20-bit Morton key >> 15 → 32 fixed-width z-buckets
_L_FILES_WIDTH = 32   # 1024/32 → 32 fixed-width date buckets (used below)
_L_FILES_SHIFT = _L_FILES_WIDTH.bit_length() - 1  # k2 // 32 == k2 >> 5


@_register(
    "zorder_file_skipping",
    # The oracle replays the identical Morton interleave (bit-by-bit
    # integer arithmetic), both bucketings, the per-bucket min/max
    # "footer" stats, and both predicate envelopes.
    oracle=f"""
WITH o AS (
    SELECT o_custkey % 1024 AS k1,
           CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) % 1024 AS k2
    FROM orders
),
zs AS (
    SELECT 'zorder' AS layout,
           {zorder_key_sql('k1', 'k2', 10)} // 32768 AS bucket_id,
           min(k1) AS min1, max(k1) AS max1, min(k2) AS min2, max(k2) AS max2
    FROM o GROUP BY 2
),
ls AS (
    SELECT 'linear' AS layout, k2 // {_L_FILES_WIDTH} AS bucket_id,
           min(k1) AS min1, max(k1) AS max1, min(k2) AS min2, max(k2) AS max2
    FROM o GROUP BY 2
),
s AS (SELECT * FROM zs UNION ALL SELECT * FROM ls),
p AS (
    SELECT layout,
           CAST(sum(CASE WHEN min1 <= 500 AND max1 >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS hit_k1,
           CAST(sum(CASE WHEN min2 <= 130 AND max2 >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS hit_k2,
           CAST(count(*) AS BIGINT) AS files_total
    FROM s GROUP BY layout
)
SELECT layout, 'key1_eq' AS predicate, hit_k1 AS files_hit, files_total FROM p
UNION ALL
SELECT layout, 'key2_range' AS predicate, hit_k2 AS files_hit, files_total FROM p
""",
    tags=("layout", "zorder", "pruning", "scale"),
    bench=True,
)
def zorder_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER LAYOUT vs linear layout, measured by the statistic that
    matters at 100 TB: how many files a planner must scan. Orders are
    keyed by (customer, order-day) normalized onto a 1024×1024 grid;
    the Morton interleave's high bits assign each row to one of 32
    fixed-width curve buckets (map-side arithmetic — no global sort, no
    window), per-bucket min/max of both keys stand in for parquet
    footer stats, and two canonical predicates (customer equality, a
    31-day date range) are evaluated against the envelopes. The linear
    date layout prunes only date predicates — the customer predicate
    hits EVERY file; the Z-order layout prunes BOTH. This is the
    data-layout half of scan pruning; the plan half (PushedFilters) is
    pinned by the explain audit across the catalog.

    Production writers range-partition the curve key for even file
    sizes (`df.repartitionByRange(N, zkey).sortWithinPartitions(zkey)`
    before the write); fixed-width buckets keep the identical skipping
    geometry while staying exactly reproducible in SQL."""
    o = T(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 1024).alias("k1"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")).cast(
                "long"
            )
            % 1024
        ).alias("k2"),
    )
    z_stats = bucket_minmax_stats(
        o,
        F.col("k1"),
        F.col("k2"),
        F.shiftright(zorder_key(F.col("k1"), F.col("k2"), _Z_BITS), _Z_FILES_SHIFT),
        "zorder",
    )
    l_stats = bucket_minmax_stats(
        o,
        F.col("k1"),
        F.col("k2"),
        F.shiftright(F.col("k2"), _L_FILES_SHIFT),  # k2 // width, integer
        "linear",
    )
    return skipping_report(
        z_stats.unionByName(l_stats), k1_eq=500, k2_lo=100, k2_hi=130
    )


@_register(
    "unpivot_lineitem_metrics",
    # UNION-ALL replay of the melt; every value is BIGINT (count, sum
    # of floors, distinct count) so the long/wide reshape carries no
    # float surface at all.
    oracle="""
WITH a AS (
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'n_rows' AS metric, n_rows AS value FROM a
UNION ALL SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
UNION ALL SELECT l_returnflag, 'n_parts' AS metric, n_parts AS value FROM a
""",
    tags=("pivot", "unpivot", "A1-A5"),
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wide→long reshape (UNPIVOT / melt — the inverse of
    `pivot_user_event_counts`): per-returnflag metrics melt into
    (l_returnflag, metric, value) via Spark's native ``unpivot``, which
    plans as one Expand over the aggregated frame — the same map-side
    lattice node as CUBE, never a per-metric re-scan. Values are all
    BIGINT by construction (floor before the quantity sum — Spark's
    double→long cast truncates while ANSI CAST rounds, so the floor
    pins one semantics on both engines)."""
    agg = (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.floor("l_quantity")).alias("sum_qty"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )
    return agg.unpivot(
        ["l_returnflag"], ["n_rows", "sum_qty", "n_parts"], "metric", "value"
    )
