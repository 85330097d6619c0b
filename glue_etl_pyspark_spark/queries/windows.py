"""Window-function queries (SURVEY.md §2.6) + top-k (§2.7).

Determinism rule: every ORDER BY inside a window includes a unique
key as the final tie-break."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import query

RANKING_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice,
  row_number() OVER w AS rn,
  rank() OVER w AS rnk,
  dense_rank() OVER w AS drnk,
  ntile(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
"""


@query("window_ranking", oracle=RANKING_ORACLE, category="window")
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile per partition."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


ANALYTIC_ORACLE = """
SELECT event_id, user_id, ts, value,
  lag(value) OVER w AS prev_value,
  lead(value) OVER w AS next_value,
  first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_value,
  value - lag(value) OVER w AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query("window_analytic", oracle=ANALYTIC_ORACLE, category="window")
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / lead / first_value per user event stream."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(wf).alias("first_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


FRAMES_ORACLE = """
SELECT event_id, user_id, ts, value,
  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_sum,
  ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg3,
  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS event_seq
FROM events
"""


@query("window_frames", oracle=FRAMES_ORACLE, category="window")
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frames: running total, 3-row moving average, sequence number."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moving = w.rowsBetween(-2, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(F.sum("value").over(running), 6).alias("running_sum"),
        F.round(F.avg("value").over(moving), 6).alias("moving_avg3"),
        F.count(F.lit(1)).over(running).alias("event_seq"),
    )


RANGE_FRAME_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice,
  ROUND(SUM(o_totalprice) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
    RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW), 4) AS near_sum,
  CAST(COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
    RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW) AS BIGINT) AS near_cnt
FROM orders
"""


@query("window_range_frame", oracle=RANGE_FRAME_ORACLE, category="window")
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering: peers within a 10k price
    band. RANGE includes value-peers, so no unique tie-break needed —
    peer groups make it deterministic by definition."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice").rangeBetween(-10000, 0)
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.round(F.sum("o_totalprice").over(w), 4).alias("near_sum"),
        F.count(F.lit(1)).over(w).alias("near_cnt"),
    )


TOPK_GROUP_ORACLE = """
SELECT * FROM (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_orderstatus
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 5
"""


@query("topk_per_group", oracle=TOPK_GROUP_ORACLE, category="window")
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 orders per status: row_number + filter. Catalyst turns
    the rank filter into a per-partition limit before the final sort
    (WindowGroupLimit) — no full materialization of ranks at scale."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


TOPK_GLOBAL_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


@query("topk_global", oracle=TOPK_GLOBAL_ORACLE, category="window")
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: compiles to TakeOrderedAndProject — per-partition
    heaps, only k rows cross the wire per partition."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


ROLLING_HOURLY_ORACLE = """
SELECT event_id, event_type,
  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
    PARTITION BY event_type
    ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents,
  CAST(COUNT(*) OVER (
    PARTITION BY event_type
    ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_n
FROM events
"""


# Time-block shard width for the rolling window (seconds). Must be
# >= the 3600 s frame span: a row's whole trailing-hour frame then
# lives in its own block plus the previous block's last hour, which
# is replicated forward as context rows. 1 day => parallelism =
# types x days (measured 4-task cap before: the r17 100x labeled-stage
# probe clocked the old per-type window stage at 49.9 s runtime on 4
# tasks — event_type has 5 values at EVERY scale, so the stage could
# never use more cores no matter the data size).
_ROLL_BLOCK = 86400


@query("events_rolling_hourly", oracle=ROLLING_HOURLY_ORACLE, category="window")
def events_rolling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval rolling window: each event's trailing-1-hour value
    sum and count within its type — the rate-limiter / rolling-metric
    frame, ordered by EPOCH SECONDS so the RANGE bound is a plain
    integer offset on both engines (ntz timestamp casts to the same
    epoch in Spark and floor(epoch(ts)) in DuckDB). Values accumulate
    as exact integer cents (floor(v*100+0.5) — the msum discipline),
    so the windowed sum is order-invariant bigint arithmetic; RANGE
    frames are peer-inclusive SETS, deterministic without a
    tie-break.

    Scale (r17 rework — the length_bucket_packing playbook the r16
    docstring only promised): the window partitions by (event_type,
    time block) instead of bare event_type, whose 5-value domain
    capped the stage at 5 tasks at EVERY scale (measured 4 tasks /
    49.9 s runtime on the 100x probe). Each row's trailing-hour frame
    is fully contained in its own 1-day block once the previous
    block's last hour is replicated forward as context rows (emitted
    for frame membership only, filtered from output), so the values
    are IDENTICAL by construction — the oracle keeps the bare
    per-type window as a genuinely different evaluation. ~4 % row
    replication buys types x days parallelism."""
    ev = load_table(spark, sf_dir, "events")
    # ntz won't cast straight to long; unix_seconds of the ntz value
    # cast under the UTC session FLOORS like the oracle's
    # floor(epoch(ts)) (to_unix_timestamp truncates toward zero, one
    # second off for fractional pre-1970 times)
    base = ev.select(
        "event_id",
        "event_type",
        "value",
        F.expr("unix_seconds(cast(ts as timestamp))").alias("sec"),
    )
    # floor-division block and pmod offset: `div` and `%` truncate
    # toward zero, which puts pre-1970 (negative) seconds in the wrong
    # block and never spills them forward
    blk = F.expr(f"(sec - pmod(sec, {_ROLL_BLOCK})) div {_ROLL_BLOCK}")
    home = base.withColumn("blk", blk).withColumn("ctx", F.lit(False))
    spill = (
        base.filter(F.expr(f"pmod(sec, {_ROLL_BLOCK})") >= _ROLL_BLOCK - 3600)
        .withColumn("blk", blk + 1)
        .withColumn("ctx", F.lit(True))
    )
    u = home.unionByName(spill)
    frame = (
        Window.partitionBy("event_type", "blk")
        .orderBy("sec")
        .rangeBetween(-3600, 0)
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    return (
        u.select(
            "event_id",
            "event_type",
            "ctx",
            F.sum(cents).over(frame).cast("bigint").alias("roll_cents"),
            F.count(F.lit(1)).over(frame).cast("bigint").alias("roll_n"),
        )
        .filter(~F.col("ctx"))
        .drop("ctx")
    )
