"""Relational operator suite (SURVEY.md §2.10 checklist).

readur emits these shapes as SQL to Postgres; here they're DataFrame plans.
Each function mirrors a shape the reference uses (cited) over the driver's
TPC-H-ish testdata, exercising scan+filter pushdown, broadcast vs shuffle
joins, semi/anti joins, hash aggregation, top-k, and window functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: multi-agg groupBy after a pushed-down date filter —
    the canonical partial-agg (map-side combine) plan. Decimal-cast sums so
    the DuckDB oracle matches bit-for-bit (double summation order differs
    between engines)."""
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    tax = F.col("l_tax").cast("decimal(18,4)")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    return (
        lineitem.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(price), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(price * (F.lit(1).cast("decimal(18,4)") - disc)), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(
                    price
                    * (F.lit(1).cast("decimal(18,4)") - disc)
                    * (F.lit(1).cast("decimal(18,4)") + tax)
                ),
                2,
            )
            .cast("double")
            .alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


def top_customers_by_revenue(orders: DataFrame, customer: DataFrame, k: int = 10) -> DataFrame:
    """Join + agg + top-k: the label-join shape of search.rs:135 at TPC-H
    scale. The customer side is broadcast (small dim); orders aggregate
    first so the join input is one row per customer — agg-before-join keeps
    the shuffle on the small aggregated side."""
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    return (
        rev.join(F.broadcast(customer), rev.o_custkey == customer.c_custkey)
        .select("c_custkey", "c_name", "c_mktsegment", "revenue", "n_orders")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Anti-join (NOT EXISTS) — the orphan-check shape of
    db_guardrails_simple.rs:185-187."""
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def customers_with_high_value_orders(customer: DataFrame, orders: DataFrame, min_total: float) -> DataFrame:
    """Semi-join (EXISTS / IN-subquery) — search.rs:135-137 shape."""
    big = orders.filter(F.col("o_totalprice") > min_total)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def revenue_by_nation(
    customer: DataFrame, orders: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """3-way star join + agg: broadcast the dims, shuffle only the fact."""
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def user_event_windows(events: DataFrame) -> DataFrame:
    """Window functions: per-user event sequencing + running aggregates —
    the engine's span-ordering window (Window.partitionBy(doc).orderBy(
    offset)) exercised on the events table. Emits each user's last event
    per type with its sequence number."""
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = events.withColumn("seq", F.row_number().over(w)).withColumn(
        "running_value", F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4)
    )
    w2 = Window.partitionBy("user_id", "event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        seq.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "seq", "running_value")
    )


def event_type_stats(events: DataFrame) -> DataFrame:
    """Group-wise stats with HAVING — queue stats shape (queue.rs:890-1061)."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .filter(F.col("n_events") > 0)
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Sessionization: lag + cumulative gap-count window — the standard
    batch formulation (no streaming state needed for bounded input). A
    gap of more than 30 minutes starts a new session. Returns per-session
    aggregates."""
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    epoch = F.col("ts").cast("timestamp").cast("long")  # NTZ-safe under UTC session tz
    gap = epoch - F.lag(epoch, 1).over(w)
    with_session = (
        events.withColumn("gap_s", gap)
        .withColumn(
            "new_session",
            F.when(F.col("gap_s").isNull() | (F.col("gap_s") > 30 * 60), 1).otherwise(0),
        )
        .withColumn("session_no", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return with_session.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def corpus_stats(docs: DataFrame) -> DataFrame:
    """Corpus composition report: per-(lang, source) document counts and
    size stats WITH subtotal rows via ROLLUP — per-language subtotals and
    the grand total come out of the same single aggregation pass (one
    shuffle; Catalyst expands the grouping sets map-side). The dashboard
    query every curation run publishes next to its funnel metrics."""
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )
