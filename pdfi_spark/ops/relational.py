"""Cross-document relational demo over the TPC-H-style driver tables.

The reference engine is strictly per-document (SURVEY.md §2.9 — pdfi has
no joins), so this module is a Spark-native extension showing the join
shapes a corpus-metadata warehouse needs, with the plan a 100 TB run
wants:

- lineitem is PARTIALLY AGGREGATED to per-order revenue before any join
  (map-side combine -> the orderkey shuffle carries one row per order,
  not one per line item);
- the customer filter (mktsegment) is pushed into the parquet scan;
- the nation dimension joins via an explicit broadcast() — no shuffle
  for the 25-row side;
- revenue is computed in integer cent-percent units
  (round(price*100) * (100 - round(discount*100))) so sums are exact
  and engine-order-independent (a float sum would drift in the last
  bits between engines and row orders).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._scan import read

TOP_K = 5
MKT_SEGMENT = "BUILDING"


def _rev_cents(price_col: str = "l_extendedprice", disc_col: str = "l_discount"):
    price_c = F.round(F.col(price_col) * 100, 0).cast("long")
    disc_pct = F.round(F.col(disc_col) * 100, 0).cast("long")
    return price_c * (F.lit(100) - disc_pct)


def nation_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TOP_K nations by lineitem revenue from customers in the
    MKT_SEGMENT market segment: lineitem -> orders -> customer ->
    broadcast(nation)."""
    lineitem = read(spark, f"{sf_dir}/lineitem.parquet")
    orders = read(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    customer = (
        read(spark, f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == MKT_SEGMENT)   # pushed to the scan
        .select("c_custkey", "c_nationkey")
    )
    nation = read(spark, f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    per_order = (
        lineitem.select("l_orderkey", _rev_cents().alias("rev"))
        .groupBy("l_orderkey")
        .agg(F.sum("rev").alias("rev"))
    )
    per_cust = (
        per_order.join(orders, per_order["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey")
        .agg(F.sum("rev").alias("rev"), F.count("*").alias("n_orders"))
    )
    per_nation = (
        per_cust.join(customer, per_cust["o_custkey"] == customer["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.sum("rev").alias("revenue_cp"),
            F.sum("n_orders").alias("n_orders"),
            F.count("*").alias("n_customers"),
        )
    )
    result = (
        per_nation.join(
            F.broadcast(nation),
            per_nation["c_nationkey"] == nation["n_nationkey"],
        )
        .select("n_name", "revenue_cp", "n_orders", "n_customers")
    )
    return result.orderBy(F.desc("revenue_cp"), F.asc("n_name")).limit(TOP_K)


Q1_SHIP_CUTOFF = "1998-09-01"


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary) shape: the canonical full-scan
    aggregate — per (returnflag, linestatus), sums/averages/count over
    every lineitem shipped by the cutoff. ONE hash-aggregate with
    map-side partials over a filter-pushed scan; the famous Q1 property
    is that the aggregate output is tiny (a handful of flag pairs) no
    matter the input scale, so the shuffle carries #groups rows per
    task.

    Determinism: every SUM is exact-integer — quantity is integral
    (cast long), money in cent units, disc_price in cent-percent,
    charge in cent-percent-percent (price_c*(100-d)*(100+t); exact in
    int64 here — a true 10^12-row warehouse runs this column as
    decimal(38), noted); AVGs are one double division of two exact
    integers each, snapped to 6."""
    cutoff = F.lit(Q1_SHIP_CUTOFF).cast("timestamp")
    qty = F.col("l_quantity").cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    d = F.round(F.col("l_discount") * 100, 0).cast("long")
    t = F.round(F.col("l_tax") * 100, 0).cast("long")
    disc_cp = price_c * (F.lit(100) - d)
    charge_cpp = disc_cp * (F.lit(100) + t)
    agg = (
        read(spark, f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= cutoff)
        .select(
            "l_returnflag", "l_linestatus",
            qty.alias("qty"), price_c.alias("price_c"), d.alias("d"),
            disc_cp.alias("disc_cp"), charge_cpp.alias("charge_cpp"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty").alias("sum_qty"),
            F.sum("price_c").alias("sum_base_cents"),
            F.sum("disc_cp").alias("sum_disc_cp"),
            F.sum("charge_cpp").alias("sum_charge_cpp"),
            F.sum("d").alias("sum_d"),
            F.count("*").alias("n_rows"),
        )
    )
    return agg.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_cents",
        "sum_disc_cp", "sum_charge_cpp",
        F.round(F.col("sum_qty") / F.col("n_rows"), 6).alias("avg_qty"),
        F.round(F.col("sum_base_cents") / F.col("n_rows"), 6)
        .alias("avg_price_cents"),
        F.round(F.col("sum_d") / F.col("n_rows"), 6).alias("avg_disc_pct"),
        "n_rows",
    ).orderBy("l_returnflag", "l_linestatus")


Q3_CUTOFF = "1998-01-01"
Q3_TOPK = 10


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) shape over the driver tables: the
    top unshipped-revenue orders for MKT_SEGMENT — orders placed
    before the cutoff whose lineitems ship after it. The canonical
    multi-join + top-k pattern a corpus-metadata warehouse runs daily.

    Plan shape at scale: BOTH date filters and the segment filter push
    into the parquet scans (PushedFilters); lineitem partially
    aggregates to per-order revenue BEFORE any join (the orderkey
    shuffle carries one row per order, not per line item); the customer
    side reduces to a key list; top-k is TakeOrderedAndProject.
    Revenue is exact integer cent-percent units, engine-order-free."""
    cutoff = F.lit(Q3_CUTOFF).cast("timestamp")
    customer = (
        read(spark, f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == MKT_SEGMENT)
        .select("c_custkey")
    )
    orders = (
        read(spark, f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    per_order = (
        read(spark, f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", _rev_cents().alias("rev"))
        .groupBy("l_orderkey")
        .agg(F.sum("rev").alias("revenue_cp"))
    )
    return (
        per_order.join(orders, per_order["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .select(
            F.col("l_orderkey").alias("order_key"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_orderpriority").alias("priority"),
            "revenue_cp",
        )
        .orderBy(F.desc("revenue_cp"), F.asc("order_key"))
        .limit(Q3_TOPK)
    )


Q5_REGION = "ASIA"
Q5_FROM, Q5_TO = "1996-01-01", "1999-01-01"


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) shape: revenue per nation in
    Q5_REGION where the CUSTOMER and the SUPPLIER sit in the same nation —
    the classic snowflake join with a cross-branch equality.

    Plan shape at scale: the date range pushes into the orders scan;
    lineitem joins supplier keyed on suppkey and orders joins customer
    keyed on custkey (two independent branches), then ONE keyed join on
    orderkey carries the s_nationkey = c_nationkey residual; the
    nation ⋈ region dimension (25 x 5 rows) is an explicit broadcast.
    Never a cartesian; revenue exact integer cent-percent."""
    lo = F.lit(Q5_FROM).cast("timestamp")
    hi = F.lit(Q5_TO).cast("timestamp")
    lineitem = read(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", _rev_cents().alias("rev")
    )
    supplier = read(spark, f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    orders = (
        read(spark, f"{sf_dir}/orders.parquet")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    customer = read(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    nations = (
        read(spark, f"{sf_dir}/nation.parquet")
        .join(
            F.broadcast(
                read(spark, f"{sf_dir}/region.parquet")
                .filter(F.col("r_name") == Q5_REGION)
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    sold = lineitem.join(supplier,
                         lineitem["l_suppkey"] == supplier["s_suppkey"])
    bought = orders.join(customer,
                         orders["o_custkey"] == customer["c_custkey"])
    return (
        sold.join(
            bought,
            (sold["l_orderkey"] == bought["o_orderkey"])
            & (sold["s_nationkey"] == bought["c_nationkey"]),
        )
        .join(F.broadcast(nations),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("rev").alias("revenue_cp"))
        .orderBy(F.desc("revenue_cp"), F.asc("n_name"))
    )


Q4_FROM, Q4_TO = "1997-01-01", "1997-07-01"
Q4_LATE_DAYS = 60


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking) shape, adapted to the driver
    schema: per priority, how many of a half-year's orders had at least
    one lineitem shipping more than Q4_LATE_DAYS after the order date —
    the canonical EXISTS semi-join (the correlated-subquery pattern).

    Plan shape: the half-year filter pushes into the orders scan; the
    EXISTS lands as a LEFT SEMI join keyed on orderkey with the
    lateness comparison as the residual condition (one row out per
    qualifying order no matter how many late lineitems — the semi-join
    property that keeps the aggregate input bounded by orders, not
    lineitems); final count is one tiny hash aggregate on the five
    priorities."""
    lo = F.lit(Q4_FROM).cast("timestamp")
    hi = F.lit(Q4_TO).cast("timestamp")
    orders = (
        read(spark, f"{sf_dir}/orders.parquet")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = read(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"]
           > orders["o_orderdate"] + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


Q18_MIN_QTY = 250
Q18_TOPK = 10


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer) shape: the HAVING-filtered
    semi-join — orders whose TOTAL lineitem quantity exceeds the
    threshold, joined back to their customer. The aggregate-then-filter
    pattern every anomaly report uses.

    Plan shape at scale: the per-order quantity aggregate map-side
    combines, the HAVING filter prunes to the tiny survivor set BEFORE
    any join touches orders or customer (the joins see survivors,
    never the corpus — Q18's defining property); top-k is
    TakeOrderedAndProject. Determinism: quantities are integral (cast
    long), money in exact cents, dates cross engines as strings."""
    big = (
        read(spark, f"{sf_dir}/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > Q18_MIN_QTY)
    )
    orders = read(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        .alias("total_price_cents"),
    )
    customer = read(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .select(
            "c_name", "c_custkey",
            F.col("l_orderkey").alias("order_key"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "total_price_cents", "sum_qty",
        )
        .orderBy(F.desc("sum_qty"), F.asc("order_key"))
        .limit(Q18_TOPK)
    )


Q14_FROM, Q14_TO = "1997-09-01", "1997-10-01"
Q14_PROMO_TYPE = "PROMO"


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect) shape — the conditional-aggregate
    ratio: what share of one ship-month's revenue came from PROMO-type
    parts. The only consumer of the part dimension, completing coverage
    of every driver table.

    Plan shape: the month filter pushes into the lineitem scan BEFORE
    the join (the join input is one month, not the corpus); the part
    dimension is broadcast here (200 rows) — at true TPC-H scale part
    is lineitem/5 and this becomes a keyed shuffle join (noted, the
    join is keyed either way); the conditional sums partial-aggregate
    map-side, so the single-partition final step sees one row per task.
    Determinism: both sums exact cent-percent integers; promo_pct is
    ONE double multiply-then-divide, snapped 6."""
    lo = F.lit(Q14_FROM).cast("timestamp")
    hi = F.lit(Q14_TO).cast("timestamp")
    li = (
        read(spark, f"{sf_dir}/lineitem.parquet")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_partkey", _rev_cents().alias("rev"))
    )
    part = read(spark, f"{sf_dir}/part.parquet").select("p_partkey", "p_type")
    agg = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.sum(
                F.when(F.col("p_type") == Q14_PROMO_TYPE, F.col("rev"))
                .otherwise(F.lit(0))
            ).alias("promo_rev_cp"),
            F.sum("rev").alias("total_rev_cp"),
        )
    )
    return agg.select(
        "promo_rev_cp", "total_rev_cp",
        F.round(
            F.lit(100.0) * F.col("promo_rev_cp") / F.col("total_rev_cp"), 6
        ).alias("promo_pct"),
    )


EVENTS_PER_USER = 3


def top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user top EVENTS_PER_USER events by value via a rank window:
    the other canonical window shape (sessionization being the first).
    One exchange on user_id; rank prunes before anything wide is
    carried."""
    from pyspark.sql import Window

    events = read(spark, f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        events.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= EVENTS_PER_USER)
        .select("user_id", "rank", "event_id",
                F.round("value", 6).alias("value"))
    )


ASOF_LEFT_TYPE = "click"
ASOF_RIGHT_TYPE = "view"
RANGE_WINDOW_SEC = 120


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, the temporal operator Spark has no built-in for: for
    each 'click' event, the most recent 'view' by the same user at or
    before it (strictly earlier in (ts, event_id) lexicographic order).

    Implemented with the scalable union trick instead of a per-row range
    probe: union both sides, one window partitioned by user ordered by
    (ts, event_id), and last(view_id, ignorenulls) over the running frame
    carries the as-of match to every click row. ONE shuffle on user_id,
    no join at all — at 10^12 events this is the canonical distributed
    as-of shape (a SortMergeJoin formulation would shuffle both sides
    AND need an inequality post-filter)."""
    from pyspark.sql import Window

    events = read(spark, f"{sf_dir}/events.parquet")
    # the matched view rides as ONE nullable struct so id and value can
    # never decouple (two independent last(ignorenulls) calls would pull
    # them from different view rows when a view's value is NULL)
    both = events.where(
        F.col("event_type").isin(ASOF_LEFT_TYPE, ASOF_RIGHT_TYPE)
    ).select(
        "event_id", "ts", "user_id", "event_type",
        F.when(
            F.col("event_type") == ASOF_RIGHT_TYPE,
            F.struct(
                F.col("event_id").alias("vid"), F.col("value").alias("vval")
            ),
        ).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = both.select(
        "event_id", "user_id", "event_type",
        F.last("v", ignorenulls=True).over(w).alias("v"),
    )
    return matched.where(F.col("event_type") == ASOF_LEFT_TYPE).select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("v.vid").alias("asof_view_id"),
        F.round(F.col("v.vval"), 6).alias("asof_view_value"),
    )


def range_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (interval co-occurrence): for each 'error' event, how
    many 'click' events the same user produced within +-120 seconds.

    Expressed as a RANGE window frame over epoch seconds instead of an
    inequality join: one shuffle on user_id, no join, no post-filter —
    the standard rewrite that keeps a 10^12-row interval join off the
    O(n^2) SortMergeJoin-with-residual path."""
    from pyspark.sql import Window

    events = read(spark, f"{sf_dir}/events.parquet")
    # only clicks contribute to the frame sum and only errors survive the
    # final filter: pre-filtering the other types (~60% of events) before
    # the window halves the one shuffle this rewrite exists to minimize
    events = events.where(F.col("event_type").isin("click", "error"))
    # ts is TIMESTAMP_NTZ: derive epoch seconds NTZ-to-NTZ (same recipe
    # as streaming.sessionize_events) — unix_timestamp() would route
    # through the session timezone
    o = events.select(
        "event_id", "user_id", "event_type",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        ).alias("es"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-RANGE_WINDOW_SEC, RANGE_WINDOW_SEC)
    )
    counted = o.select(
        "event_id", "user_id", "event_type",
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).over(w).alias("clicks_near"),
    )
    return counted.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", "clicks_near"
    )


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull props.$.k out of the JSON column
    JVM-side (get_json_object — no Python, no UDF) and aggregate per
    event_type. The narrow extract + one hash aggregate is the whole
    plan."""
    events = read(spark, f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )
