"""Window-function operators (SURVEY.md §2.5, W1–W6).

Windows partitioned by a key shuffle once on that key; windows over the
whole frame (W4/W5) collapse to a single partition, so they are only
applied AFTER aggregation has reduced the data to a small result —
never over raw fact rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query


@query(
    "w01_group_count_column",
    oracle="""
    SELECT o_orderkey AS orderkey, o_custkey AS custkey,
           COUNT(*) OVER (PARTITION BY o_custkey) > 1 AS cust_has_multiple
    FROM orders
    """,
)
def w01_group_count_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group count attached as a column (transform-count).

    W1: ``groupby('Account Number').transform('count') > 1`` →
    Has Multiple Owners (cbddl/src/data_ingestion/ingestion_pipeline.py:104).
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return orders.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        (F.count("*").over(w) > 1).alias("cust_has_multiple"),
    )


@query(
    "w02_row_number_first_per_key",
    oracle="""
    SELECT orderkey, linenumber, is_primary
    FROM (
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) = 1 AS is_primary
        FROM lineitem
    )
    """,
)
def w02_row_number_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number()=1 flag marking the first row per key.

    W2: ``ROW_NUMBER() OVER (PARTITION BY account ORDER BY created_at)=1``
    → is_primary_owner (cbddl/src/etl/pipeline.py:389). The reference
    orders by a tie-prone timestamp; we order by the unique linenumber so
    the flag is deterministic.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return lineitem.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        (F.row_number().over(w) == 1).alias("is_primary"),
    )


@query(
    "w03_uniqueness_flag",
    oracle="""
    SELECT c_name AS name, COUNT(*) OVER (PARTITION BY c_mktsegment) AS segment_size,
           COUNT(*) OVER (PARTITION BY c_name) = 1 AS is_unique_name
    FROM customer
    """,
)
def w03_uniqueness_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count-over-partition uniqueness flag.

    W3: ``COUNT(*) OVER (PARTITION BY o.full_name) = 1`` → is_unique_name
    (cbddl/src/etl/pipeline.py:464).
    """
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        F.col("c_name").alias("name"),
        F.count("*").over(Window.partitionBy("c_mktsegment")).alias("segment_size"),
        (F.count("*").over(Window.partitionBy("c_name")) == 1).alias("is_unique_name"),
    )


@query(
    "w04_rank_by_aggregate",
    oracle="""
    SELECT value, count,
           ROW_NUMBER() OVER (ORDER BY count DESC, value ASC) AS rank
    FROM (
        SELECT o_orderpriority AS value, COUNT(*) AS count
        FROM orders GROUP BY o_orderpriority
    )
    """,
)
def w04_rank_by_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global rank over an aggregated frequency table.

    W4: ``ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC)`` name_frequency_rank
    (cbddl/src/etl/pipeline.py:465). The single-partition window runs on
    the tiny aggregated result (5 rows here; bounded by key cardinality
    at scale), never the raw table — and gets a value tie-break for
    determinism.
    """
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy(F.col("o_orderpriority").alias("value")).agg(
        F.count("*").alias("count")
    )
    w = Window.orderBy(F.desc("count"), F.asc("value"))
    return counts.withColumn("rank", F.row_number().over(w))


@query(
    "w06_group_scores",
    oracle="""
    SELECT event_id, user_id, user_events,
           CAST((20000 * cents + user_events) // (2 * user_events) AS DOUBLE)
               / 1000000 AS user_avg_value,
           user_type_diversity
    FROM (
        SELECT event_id, user_id,
               COUNT(*) OVER (PARTITION BY user_id) AS user_events,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (PARTITION BY user_id)
                   AS cents,
               CAST(COUNT(DISTINCT event_type) OVER (PARTITION BY user_id) AS BIGINT)
                   AS user_type_diversity
        FROM events
    )
    """,
)
def w06_group_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity scores as window aggregates (no pandas UDF needed).

    W6/U3: groupby().transform(lambda) complexity/diversity scores
    (cbddl/src/big_data/streaming_processor.py:522-532). Spark windows
    don't support COUNT(DISTINCT) directly, so diversity is
    size(collect_set()) over the same window — identical semantics,
    still one shuffle on user_id shared by all three windows.

    The mean is rounded to 6 decimals half-up in INTEGER arithmetic on
    cents (``value`` is cent-exact): ROUND(AVG(double), 6) lands on
    exact ties (e.g. 331742 cents / 64 = 51.8346875) whose rounding
    depends on the engine and on the summation order. Operands are
    nonnegative, so Spark's ``div`` and DuckDB's ``//`` agree.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    cents = F.round(F.col("value") * 100).cast("long")
    return events.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("user_events"),
        F.sum(cents).over(w).alias("cents"),
        F.size(F.collect_set("event_type").over(w)).cast("long").alias("user_type_diversity"),
    ).select(
        "event_id",
        "user_id",
        "user_events",
        (
            F.expr("(20000 * cents + user_events) div (2 * user_events)").cast("double")
            / 1000000
        ).alias("user_avg_value"),
        "user_type_diversity",
    )


@query(
    "w07_lead_lag_delta",
    oracle="""
    SELECT event_id, user_id, value,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6)
               AS delta_from_prev,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM events
    """,
)
def w07_lead_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag offsets within an ordered partition.

    Beyond the reference (SURVEY.md §2.5 notes lead/lag absent) —
    included to round out the window surface our engine exposes.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        "value",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_from_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "w08_running_sum",
    oracle="""
    SELECT event_id, user_id,
           -- centi-unit integers: the running fold is exact, so the
           -- result no longer depends on WindowExec's accumulation
           -- strategy (skew01's rule applied to frames)
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS running_value_v100
    FROM events
    """,
)
def w08_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum with an explicit rows frame.

    Beyond the reference (frame specs absent there) — exercises
    rowsBetween frames.
    """
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.sum(F.floor(F.col("value") * 100)).over(w).alias("running_value_v100"),
    )


@query(
    "w09_validity_intervals",
    oracle="""
    SELECT user_id, event_type, ts AS effective_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN TRUE ELSE FALSE END AS is_current
    FROM events
    """,
)
def w09_validity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style validity intervals: [effective_from, effective_to)
    per change record, latest row flagged current.

    The reference marks current fact rows with ``is_current`` and
    filters on it (cbddl/src/etl/pipeline.py:389,436; schema.sql:127);
    this is the full slowly-changing-dimension form — each state
    change's validity window derived with lead() over the entity's
    change sequence. One shuffle on the entity key; the interval
    columns then support as-of lookups (see j08) without re-sorting.
    """
    from ..catalog import load_table

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return events.select(
        "user_id",
        "event_type",
        F.col("ts").alias("effective_from"),
        nxt.alias("effective_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "w10_rank_variants",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           CAST(ROUND(PERCENT_RANK() OVER w, 6) AS DOUBLE) AS pct_rnk,
           NTILE(4) OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
)
def w10_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family over one window spec.

    row_number / rank / dense_rank diverge exactly on ties (the
    explicit c_custkey tiebreak makes row_number deterministic while
    leaving acctbal ties visible to rank); percent_rank and ntile give
    the normalized forms dashboards use for percentile bands. One
    shuffle on the partition key serves all five functions — Spark
    evaluates them in a single WindowExec pass.
    """
    from ..catalog import load_table

    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return customer.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "w11_range_frame_trailing_hour",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY EPOCH_US(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS trailing_hour_value_v100,
           COUNT(*) OVER (
               PARTITION BY user_id ORDER BY EPOCH_US(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
               AS trailing_hour_events
    FROM events
    """,
)
def w11_range_frame_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame moving aggregate: per-user trailing-hour sum/count.

    The VALUE-based frame (all rows within 1h of the current row's
    time, however many there are) — complementing w08's ROWS frame.
    Ordering is epoch MICROS as an integer on both engines
    (``timestampdiff`` from the NTZ epoch / ``EPOCH_US``): integer
    micros sidestep float-epoch drift while keeping frame peers
    identical. The events timestamps surface as TIMESTAMP_NTZ (parquet
    TIMESTAMP_MICROS, isAdjustedToUTC=false), so the diff-from-epoch
    form is used rather than ``unix_micros`` (LTZ-only) — it is
    session-timezone-independent, exactly like DuckDB's naive
    ``EPOCH_US``. One shuffle on user_id;
    WindowExec evaluates both aggregates in a single pass. This is the
    batch twin of a sliding stream window (streaming/jobs.py) — same
    semantics, no watermark needed because the data is complete.
    """
    from ..catalog import load_table

    events = load_table(spark, sf_dir, "events")
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return events.withColumn("ts_us", us).select(
        "event_id",
        "user_id",
        # centi-unit integers: the sliding-frame sum (add/evict as the
        # frame moves) is exact regardless of evaluation strategy
        F.sum(F.floor(F.col("value") * 100)).over(w).alias("trailing_hour_value_v100"),
        F.count("*").over(w).alias("trailing_hour_events"),
    )
