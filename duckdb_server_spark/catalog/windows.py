"""Window functions (SURVEY.md §2.5 W1-W9). Frame grammar declared in the
reference's keyword list (OVER main.go:468, PARTITION main.go:469,
ROWS/RANGE/GROUPS main.go:489,476,430, UNBOUNDED/PRECEDING/FOLLOWING
main.go:501,472,422).

Scale notes: each window shuffles once on its partition key; queries with
multiple functions share one Window spec so Catalyst plans a single Window
exchange. Partition keys here (user_id, custkey, linestatus) are
high-cardinality enough to spread across executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_server_spark.catalog import query
from duckdb_server_spark.session import load_table as t


# --- W1: ranking family ---
@query(
    "w01_ranking",
    oracle="""
    SELECT o_orderkey, o_custkey,
           row_number() OVER w AS rn,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS LAST)
    ORDER BY o_orderkey ASC NULLS LAST
    """,
)
def w01_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-window reuse (W8): one Window object feeds six functions →
    single shuffle + single sort per partition."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc_nulls_last(), F.col("o_orderkey").asc_nulls_last()
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
        )
        # r17 shield exchange: the final orderBy's RangePartitioning
        # sample pass re-executes its child — here the whole window
        # stage (its group shuffle below is reused, the Sort+Window
        # above it are not), so the query paid the window twice
        # (measured: w07b 3.94->2.83 s, w04 0.94->0.86 s at sf0.1).
        # One hash repartition of the output pins a reusable shuffle
        # boundary between window and sort. Rows/values unchanged.
        .repartition("o_orderkey")
        .orderBy(F.col("o_orderkey").asc_nulls_last())
    )


# --- W2: lag/lead with defaults ---
@query(
    "w02_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           lag(event_type, 1, 'none') OVER w AS prev_type,
           lead(event_type, 1, 'none') OVER w AS next_type,
           round(value - lag(value, 1, 0.0) OVER w, 2) AS delta_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id ASC NULLS LAST)
    ORDER BY event_id ASC NULLS LAST
    """,
)
def w02_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").asc_nulls_last())
    ev = t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.lag("event_type", 1, "none").over(w).alias("prev_type"),
            F.lead("event_type", 1, "none").over(w).alias("next_type"),
            F.round(F.col("value") - F.lag("value", 1, 0.0).over(w), 2).alias(
                "delta_value"
            ),
        )
        .orderBy(F.col("event_id").asc_nulls_last())
    )


# --- W3: first_value / last_value / nth_value with explicit frame ---
@query(
    "w03_value_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           first_value(l_partkey) OVER w AS first_part,
           last_value(l_partkey) OVER w AS last_part,
           nth_value(l_partkey, 2) OVER w AS second_part
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey
                 ORDER BY l_linenumber ASC NULLS LAST, l_partkey ASC NULLS LAST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST
    """,
)
def w03_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy(F.col("l_linenumber").asc_nulls_last(), F.col("l_partkey").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.first("l_partkey").over(w).alias("first_part"),
            F.last("l_partkey").over(w).alias("last_part"),
            F.nth_value("l_partkey", 2).over(w).alias("second_part"),
        )
        # r17 shield exchange: the final orderBy's RangePartitioning
        # sample pass re-executes its child — here the whole window
        # stage (its group shuffle below is reused, the Sort+Window
        # above it are not), so the query paid the window twice
        # (measured: w07b 3.94->2.83 s, w04 0.94->0.86 s at sf0.1).
        # One hash repartition of the output pins a reusable shuffle
        # boundary between window and sort. Rows/values unchanged. The
        # key is unique per row; l_orderkey alone is the window's own
        # partitioning, so Spark would drop that exchange.
        .repartition("l_orderkey", "l_linenumber")
        .orderBy(
            F.col("l_orderkey").asc_nulls_last(), F.col("l_linenumber").asc_nulls_last()
        )
    )


# --- W4+W5: aggregates over row frames (running / sliding) ---
@query(
    "w04_running_agg",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY event_id ASC NULLS LAST
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_total,
           round(avg(value) OVER (PARTITION BY user_id
                                  ORDER BY event_id ASC NULLS LAST
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
             AS moving_avg3,
           count(*) OVER (PARTITION BY user_id) AS user_events
    FROM events
    ORDER BY event_id ASC NULLS LAST
    """,
)
def w04_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    order = Window.partitionBy("user_id").orderBy(F.col("event_id").asc_nulls_last())
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sliding = order.rowsBetween(-2, Window.currentRow)
    whole = Window.partitionBy("user_id")
    return (
        t(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.round(F.sum("value").over(running), 2).alias("running_total"),
            F.round(F.avg("value").over(sliding), 4).alias("moving_avg3"),
            F.count(F.lit(1)).over(whole).alias("user_events"),
        )
        # r17 shield exchange: the final orderBy's RangePartitioning
        # sample pass re-executes its child — here the whole window
        # stage (its group shuffle below is reused, the Sort+Window
        # above it are not), so the query paid the window twice
        # (measured: w07b 3.94->2.83 s, w04 0.94->0.86 s at sf0.1).
        # One hash repartition of the output pins a reusable shuffle
        # boundary between window and sort. Rows/values unchanged.
        .repartition("event_id")
        .orderBy(F.col("event_id").asc_nulls_last())
    )


# --- W6: RANGE frame on a numeric order key ---
@query(
    "w06_range_frame",
    oracle="""
    SELECT p_partkey, p_size,
           count(*) OVER (ORDER BY p_size ASC NULLS LAST
                          RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING)
             AS n_similar_size
    FROM part
    ORDER BY p_partkey ASC NULLS LAST
    """,
)
def w06_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based frame: count parts within ±2 size units.

    Small-table fast path: globally ordered, so the window has no
    PARTITION BY and Spark serializes it onto one task — semantically
    forced (DuckDB serializes the same way), acceptable only because
    ``part`` is a dimension table. The scale path is w06b: the SAME frame
    through ``operators/rangeframe.bucketed_range_window`` (bucketed
    two-phase with overlap pads, >1 task, plan-asserted in
    tests/test_plans.py)."""
    w = Window.orderBy(F.col("p_size").asc_nulls_last()).rangeBetween(-2, 2)
    return (
        t(spark, sf_dir, "part")
        .select("p_partkey", "p_size", F.count(F.lit(1)).over(w).alias("n_similar_size"))
        .orderBy(F.col("p_partkey").asc_nulls_last())
    )


@query(
    "w06b_bucketed_range_frame",
    oracle="""
    SELECT p_partkey, p_size,
           CAST(count(*) OVER (ORDER BY p_size RANGE BETWEEN 2 PRECEDING
                               AND 2 FOLLOWING) AS BIGINT) AS n_similar_size
    FROM part
    ORDER BY p_partkey ASC NULLS LAST
    """,
)
def w06b_bucketed_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6's global RANGE frame through the bucketed two-phase operator
    (operators/rangeframe.py): p_size buckets of width ≥ 3, edge rows
    replicated as pad rows, per-bucket windows run in parallel — same
    oracle as w06, but the plan's Window node carries a partition spec
    and >1 task. This is the spelling that survives a fact-table input;
    the oracle (single-task by construction in DuckDB) pins semantics."""
    from duckdb_server_spark.operators.rangeframe import bucketed_range_window

    out = bucketed_range_window(
        t(spark, sf_dir, "part").select("p_partkey", "p_size"),
        "p_size",
        -2,
        2,
        lambda w: [F.count(F.lit(1)).over(w).alias("n_similar_size")],
        num_buckets=16,
    )
    return out.orderBy(F.col("p_partkey").asc_nulls_last())


# --- W7: GROUPS frame — no Spark equivalent; peer-group rewrite ---
@query(
    "w07_groups_frame",
    oracle="""
    SELECT p_size,
           CAST(sum(n) OVER (ORDER BY p_size ASC NULLS LAST
                        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT)
             AS grp_window_n
    FROM (SELECT p_size, count(*) AS n FROM part GROUP BY p_size)
    ORDER BY p_size ASC NULLS LAST
    """,
)
def w07_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING`` rewrite: a GROUPS
    frame over peer groups ≡ a ROWS frame over the pre-aggregated distinct
    order values. Spark lacks GROUPS (SURVEY.md W7); this composition is
    the scalable equivalent (aggregate first → tiny window input)."""
    per_group = (
        t(spark, sf_dir, "part").groupBy("p_size").agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("p_size").asc_nulls_last()).rowsBetween(-1, 1)
    return (
        per_group.select(
            "p_size", F.sum("n").over(w).alias("grp_window_n")
        ).orderBy(F.col("p_size").asc_nulls_last())
    )


@query(
    "w07b_exclude_frames",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             PARTITION BY l_linestatus
             ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
                      l_quantity ASC NULLS LAST, l_extendedprice ASC NULLS LAST,
                      l_partkey ASC NULLS LAST, l_suppkey ASC NULLS LAST
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW)
             AS DOUBLE) AS nbr_qty,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             PARTITION BY l_linestatus
             ORDER BY l_quantity ASC NULLS LAST
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES)
             AS DOUBLE) AS cum_qty_excl_ties
    FROM lineitem
    ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST
    """,
)
def w07b_exclude_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame EXCLUDE rewrites (SURVEY.md W7 — Spark has no EXCLUDE
    clause):

    - ``ROWS … EXCLUDE CURRENT ROW`` ≡ sum over the frame minus the
      current value (total order key → deterministic);
    - ``RANGE … EXCLUDE TIES``      ≡ cumulative range sum minus the
      peer-group sum plus the current value (range frames depend only on
      order-key values, so ties are deterministic).

    All sums in decimal(18,2) so both engines agree exactly; both
    rewrites are single extra window/group aggregates — no self-join, so
    the plan stays one shuffle per partition key at scale."""
    q = F.col("l_quantity").cast("decimal(18,2)")
    # (l_orderkey, l_linenumber) is NOT unique in the corpus — extend the
    # ordering until residual ties are frame-value-identical (equal
    # quantity → interchangeable rows → multiset-equal output).
    w_rows = (
        Window.partitionBy("l_linestatus")
        .orderBy(
            F.col("l_orderkey").asc_nulls_last(),
            F.col("l_linenumber").asc_nulls_last(),
            F.col("l_quantity").asc_nulls_last(),
            F.col("l_extendedprice").asc_nulls_last(),
            F.col("l_partkey").asc_nulls_last(),
            F.col("l_suppkey").asc_nulls_last(),
        )
        .rowsBetween(-2, 2)
    )
    w_cum = (
        Window.partitionBy("l_linestatus")
        .orderBy(F.col("l_quantity").asc_nulls_last())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_peers = Window.partitionBy("l_linestatus", "l_quantity")
    return (
        t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.sum(q).over(w_rows) - q).cast("double").alias("nbr_qty"),
            (F.sum(q).over(w_cum) - F.sum(q).over(w_peers) + q)
            .cast("double")
            .alias("cum_qty_excl_ties"),
        )
        # r17 shield exchange: the final orderBy's RangePartitioning
        # sample pass re-executes its child — here the whole window
        # stage (its group shuffle below is reused, the Sort+Window
        # above it are not), so the query paid the window twice
        # (measured: w07b 3.94->2.83 s, w04 0.94->0.86 s at sf0.1).
        # One hash repartition of the output pins a reusable shuffle
        # boundary between window and sort. Rows/values unchanged.
        .repartition("l_orderkey")
        .orderBy(
            F.col("l_orderkey").asc_nulls_last(), F.col("l_linenumber").asc_nulls_last()
        )
    )


# --- W9: QUALIFY-style filter on window result ---
@query(
    "w09_qualify",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC NULLS LAST,
                                        o_orderkey ASC NULLS LAST) <= 2
    ORDER BY o_custkey ASC NULLS LAST, o_totalprice DESC NULLS LAST,
             o_orderkey ASC NULLS LAST
    """,
)
def w09_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB QUALIFY → withColumn + filter (top-2 orders per customer)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc_nulls_last(), F.col("o_orderkey").asc_nulls_last()
    )
    return (
        t(spark, sf_dir, "orders")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy(
            F.col("o_custkey").asc_nulls_last(),
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey").asc_nulls_last(),
        )
    )


# --- W10: aggregate FILTER inside a window (DuckDB dialect) ---
@query(
    "w10_window_filter",
    oracle="""
    SELECT o_orderkey, o_custkey,
           count(*) FILTER (WHERE o_orderstatus = 'F')
             OVER (PARTITION BY o_custkey) AS n_fulfilled,
           CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY o_custkey) AS BIGINT) AS n_large
    FROM orders
    ORDER BY o_orderkey ASC NULLS LAST
    """,
)
def w10_window_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB allows ``agg(...) FILTER (WHERE …) OVER (…)`` (passthrough
    main.go:229; FILTER keyword main.go:409); Spark windows take no
    FILTER clause, so the standard rewrite is a conditional aggregate —
    ``sum(CASE WHEN …)`` / ``count(when(...))`` over the same window.
    Identical window partitioning, one shuffle on o_custkey, same
    single-pass plan shape as the native form."""
    w = Window.partitionBy("o_custkey")
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.count(F.when(F.col("o_orderstatus") == "F", F.lit(1)))
            .over(w)
            .alias("n_fulfilled"),
            F.sum(
                F.when(F.col("o_totalprice") > 100000, F.lit(1)).otherwise(F.lit(0))
            )
            .over(w)
            .cast("bigint")
            .alias("n_large"),
        )
        .orderBy(F.col("o_orderkey").asc_nulls_last())
    )
