"""Relational query suite over the TPC-H-ish star schema.

The reference's relational surface (scan → filter → hash join → group →
sort, SURVEY.md §3.1) generalized to the driver's star schema. These
queries are the engine's join/aggregation workout and the headline
bench workload; each is written so Catalyst produces the plan we'd want
on a 1000-executor cluster:

- dimension tables (`region`, `nation`, `customer`, `supplier`, `part`)
  are broadcast — no shuffle of the fact tables for dim joins;
- aggregates run partial (map-side) before the single key shuffle;
- top-k uses TakeOrderedAndProject, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# TPC-H substitution values: each builder below and its DuckDB oracle
# in driver_queries/driver_queries_ext read the same constant.
PRICING_CUTOFF = "1998-09-02"  # Q1
TOP_CUSTOMERS_K = 10  # Q3 flavour
SHIPPING_SEGMENT = "BUILDING"  # Q3
SHIPPING_CUTOFF = "1998-03-15"
SHIPPING_K = 10
SMALL_PART_MAX_SIZE = 10  # Q17
WAITING_LATE_DAYS = 30  # Q21
WAITING_TOP_K = 20
IMPORTANT_MEAN_MULTIPLE = (3, 2)  # Q11: parts above 3/2 of the mean
IMPORTANT_TOP_K = 50
DOMINANT_TOP_K = 25  # Q20
BI_NATIONS = ("NATION_1", "NATION_2")  # Q7
SHARE_REGION = "ASIA"  # Q8
SHARE_NATION = "NATION_2"
RETURNED_TOP_K = 20  # Q10
TOP_SUPPLIER_QUARTER = ("1997-01-01", "1997-04-01")  # Q15
FORECAST_YEAR = 1996  # Q6
FORECAST_DISCOUNT_BAND = (0.04, 0.06)
FORECAST_MAX_QTY = 24
PROFIT_NAME_PATTERN = "bolt"  # Q9
PROFIT_COST_FRAC = 0.6
EXCLUDED_PRIORITY = "1-URGENT"  # Q13


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: grouped pricing aggregates after a pushed filter."""
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(PRICING_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def revenue_by_nation(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q5 shape: fact ⋈ fact ⋈ broadcast dims, grouped revenue."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(revenue), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def top_customers_by_revenue(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Q3-flavored: revenue per customer, top-k (TakeOrderedAndProject)."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_cust = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
    )
    return per_cust.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(
        TOP_CUSTOMERS_K
    )


def order_priority_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Q4 shape: EXISTS via left-semi join (no fact-side duplication)."""
    late_lines = lineitem.filter(
        F.col("l_returnflag") == F.lit("R")
    ).select("l_orderkey").distinct()
    return (
        orders.join(late_lines, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def parts_per_size_bucket(part: DataFrame) -> DataFrame:
    """CASE bucketing + grouped count over a dimension (W8-style buckets)."""
    bucket = (
        F.when(F.col("p_size") <= 10, F.lit("small"))
        .when(F.col("p_size") <= 30, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return (
        part.withColumn("size_bucket", bucket)
        .groupBy("size_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
        )
    )


def late_shipment_priority_counts(
    lineitem: DataFrame, orders: DataFrame, late_days: int = 30
) -> DataFrame:
    """Q12 shape: fact ⋈ fact with a lateness predicate, then
    conditional aggregation — urgent (1-URGENT / 2-HIGH) vs other
    order counts per line status for lines shipped more than
    `late_days` after the order date. One join shuffle, one bounded
    group key; the CASE sums are map-side partial."""
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), late_days)
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(urgent.cast("long")).alias("urgent_count"),
            F.sum((~urgent).cast("long")).alias("other_count"),
        )
    )


def revenue_rollup(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """ROLLUP aggregation: revenue by (order year, order priority) with
    the year and grand-total subtotal rows — the OLAP drill-down shape
    (GROUPING SETS family) the reference's flat groupBys never needed.

    Spark plans a rollup as ONE Expand + one partial-agg shuffle — each
    input row is replicated per grouping set map-side, so the three
    levels cost one pass over the join, not three. `grouping_id`
    disambiguates subtotal NULLs from (non-existent here) real NULL
    keys; keys are COALESCEd to sentinels so the driver's value-hash
    sees identical cells on both engines.
    """
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rolled = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.year("o_orderdate").alias("order_year"),
            F.col("o_orderpriority").alias("priority"),
            revenue.alias("rev"),
        )
        .rollup("order_year", "priority")
        .agg(
            # DECIMAL partial sums: the grand-total row folds the whole
            # fact table into one float — exact decimal accumulation
            # keeps it bit-identical at any partitioning
            F.round(F.sum(F.col("rev").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
            F.grouping_id().alias("gid"),
        )
    )
    return rolled.select(
        F.coalesce("order_year", F.lit(-1)).alias("order_year"),
        F.coalesce("priority", F.lit("ALL")).alias("priority"),
        "revenue",
        "n_lines",
        "gid",
    )


def shipping_priority(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
) -> DataFrame:
    """TPC-H Q3 proper: unshipped-order revenue for one market segment,
    top-k. Both date predicates push into the parquet scans; the
    segment-filtered customer keys broadcast into the orders scan
    (left-semi — customer attributes aren't needed downstream); the
    only real shuffle is lineitem ⋈ surviving orders on the order key,
    pre-shrunk by both pushed filters. Top-k is TakeOrderedAndProject.
    """
    cut = F.lit(SHIPPING_CUTOFF).cast("timestamp")
    cust = customer.filter(F.col("c_mktsegment") == SHIPPING_SEGMENT).select("c_custkey")
    open_orders = orders.filter(F.col("o_orderdate") < cut).join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,10)"
    )
    return (
        lineitem.filter(F.col("l_shipdate") > cut)
        .join(open_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(SHIPPING_K)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
            "revenue",
        )
    )


def large_orders_topk(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    min_quantity: float = 150.0,
    k: int = 20,
) -> DataFrame:
    """Q18 shape: HAVING on an aggregate, then join the survivors back
    to their dimensions. The quantity rollup is one partial-agg shuffle
    on the order key; the SURVIVOR side is what broadcasts at every
    stage — first into the orders scan, then (now carrying order
    attributes, still survivor-sized) into the customer scan. Customer
    itself scales with the corpus, so broadcasting it would grow
    without bound; the survivor set is bounded by the threshold. Top-k
    is `TakeOrderedAndProject`, never a full sort."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > min_quantity)
    )
    big_orders = orders.join(
        F.broadcast(big), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return (
        customer.join(
            F.broadcast(big_orders), F.col("o_custkey") == F.col("c_custkey")
        )
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), F.col("orderkey").asc())
        .limit(k)
    )


def trailing_revenue(orders: DataFrame, days: int = 7) -> DataFrame:
    """Trailing `days`-day revenue per order status: a time-RANGE
    window frame over the daily rollup — unlike the ROWS frames the
    technical indicators use, the frame is defined on the TIME axis,
    so calendar gaps shrink the window instead of silently reaching
    further back in history.

    Two-level shape: the fact table first reduces to the (status, day)
    grain (map-side partial aggs; bounded output), THEN the window
    slides over days — the window input is |statuses|·|days| rows, not
    the fact table, which is what keeps a trailing-window query
    feasible when the facts are 100 TB. Sums stay decimal-exact
    through both the rollup and the frame; double only at the edge.
    """
    from pyspark.sql import Window

    daily = orders.groupBy(
        "o_orderstatus", F.col("o_orderdate").cast("date").alias("o_orderdate")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,10)")).alias("rev"),
        F.count(F.lit(1)).alias("n"),
    )
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.unix_date(F.col("o_orderdate")))
        .rangeBetween(-(days - 1), 0)
    )
    return daily.select(
        "o_orderstatus",
        "o_orderdate",
        F.round(F.sum("rev").over(w).cast("double"), 2).alias(
            f"rev_{days}d"
        ),
        F.sum("n").over(w).alias(f"n_{days}d"),
    )


def supplier_diversity(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame
) -> DataFrame:
    """TPC-H Q16 shape: how many DISTINCT suppliers actually ship each
    (brand, size-bucket) part segment — excluding a denylist — the
    supplier-diversity question behind procurement risk.

    Plan shape this query exists to exercise: a broadcast LEFT ANTI
    join removes denylisted suppliers BEFORE the shuffle (Q16's
    NOT IN complaints subquery), the part dimension broadcasts into
    the fact scan, and count(DISTINCT l_suppkey) per segment plans as
    a two-phase distinct aggregate (partial per (segment, suppkey),
    then merge) — no Expand, since there is exactly one distinct
    measure alongside plain counts.
    """
    denylist = supplier.filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    shipped = (
        lineitem.join(
            F.broadcast(denylist),
            lineitem["l_suppkey"] == denylist["s_suppkey"],
            "left_anti",
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    bucket = (
        F.when(F.col("p_size") <= 10, "small")
        .when(F.col("p_size") <= 30, "medium")
        .otherwise("large")
    )
    return (
        shipped.groupBy(F.col("p_brand"), bucket.alias("size_bucket"))
        .agg(
            F.count_distinct(F.col("l_suppkey")).alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "EUROPE",
    min_size: int = 20,
) -> DataFrame:
    """TPC-H Q2 shape: the cheapest supplier per part within one
    region — the correlated `ps_supplycost = (SELECT min(...))`
    subquery, re-expressed as a per-group argmin + join-back (the
    reference's top-K-per-group idiom, `main.py:216-267`, at K=1 with
    ascending cost). Supply cost here is the observed unit price
    `l_extendedprice / l_quantity` (this dataset has no partsupp).

    Plan shape this query exists to exercise: the supplier→nation→
    region dim chain broadcasts into the fact scan (region filter
    applied BEFORE the fact join, so out-of-region lines never enter
    the pipeline); the per-part argmin is ONE partial-aggregatable
    `min(struct(cost, suppkey))` — map-side combine reduces every
    partition to ≤|parts| rows before the single shuffle, where the
    window-rank formulation would shuffle and sort full fact rows.
    Struct comparison is lexicographic, so `suppkey` inside the
    struct is the deterministic tiebreak among equal-cost suppliers.
    Part and supplier details join back by broadcast AFTER the
    aggregate, touching |parts| rows, not the fact table.
    """
    sup_region = (
        supplier.join(
            F.broadcast(nation),
            supplier["s_nationkey"] == nation["n_nationkey"],
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        lineitem.filter(
            (F.col("l_quantity") > 0) & F.col("l_extendedprice").isNotNull()
        )
        .join(
            F.broadcast(sup_region.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "l_partkey",
            "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_cost"
            ),
        )
    )
    best = (
        offers.groupBy("l_partkey")
        .agg(
            F.min(
                F.struct(F.col("unit_cost"), F.col("l_suppkey"))
            ).alias("m")
        )
        .select(
            "l_partkey",
            F.col("m.unit_cost").alias("unit_cost"),
            F.col("m.l_suppkey").alias("best_suppkey"),
        )
    )
    return (
        best.join(
            F.broadcast(part.filter(F.col("p_size") >= min_size)),
            best["l_partkey"] == F.col("p_partkey"),
        )
        .join(
            F.broadcast(sup_region),
            best["best_suppkey"] == sup_region["s_suppkey"],
        )
        .select(
            "p_partkey",
            "p_name",
            "p_type",
            "p_size",
            # floor-truncate, don't round: round(double, 4) is not
            # bit-stable across engines when the decimal expansion
            # lands on a half boundary; x*1e4 → floor → /1e4 is the
            # same IEEE ops everywhere
            (F.floor(F.col("unit_cost") * 10000) / 10000).alias("min_cost"),
            "s_suppkey",
            "s_name",
            "s_acctbal",
            "n_name",
        )
    )


def revenue_share(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Percent-of-total window analytics (RATIO_TO_REPORT): each
    nation's revenue as a share of its region's total and of the grand
    total — the market-share report every OLAP engine special-cases.

    The windows run over the BOUNDED (nation) rollup, not the fact
    table: facts reduce first (broadcast dim chain + one partial-agg
    shuffle to ≤|nations| rows), then two unpartitioned/region window
    sums cost nothing. Decimal-exact through the rollup and the share
    denominators; double only at the output edge.
    """
    from pyspark.sql import Window

    joined = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    per_nation = joined.groupBy("r_name", "n_name").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,10)")).alias("rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    from ..functions.scalars import one_partition

    w_region = Window.partitionBy("r_name")
    # deliberate single-partition window over the ≤|nations| rollup —
    # one_partition keeps the driver log free of `WindowExec: No
    # Partition Defined` warnings (a standing bench-tail invariant)
    w_all = Window.partitionBy(one_partition(F.col("r_name")))
    return per_nation.select(
        "r_name",
        "n_name",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        "n_orders",
        F.round(
            (F.col("rev") / F.sum("rev").over(w_region)).cast("double"), 6
        ).alias("region_share"),
        F.round(
            (F.col("rev") / F.sum("rev").over(w_all)).cast("double"), 6
        ).alias("total_share"),
    )


def price_quantiles_by_priority(orders: DataFrame) -> DataFrame:
    """Exact multi-quantile per group: p25/p50/p75/p95 of order value
    per priority, computed distributed with ONE `percentile(col,
    array(...))` aggregate — the profiling question (`approx_profile`
    answers it with sketches) answered exactly, long-format output.

    Spark's exact percentile is a single-pass partial aggregate
    (per-partition value maps merged on the reduce side), so the plan
    is the same two-phase shape as any sum — no sort, no window. The
    merged per-group state is O(distinct values in group): fine for
    bounded-cardinality measures; at open cardinality use the sketch
    tier (`operators/profiling.py`).
    """
    qs = [0.25, 0.5, 0.75, 0.95]
    agg = orders.groupBy("o_orderpriority").agg(
        # percentile over an all-null group is NULL (not an array of
        # NULLs) and explode(NULL) would silently DROP the group —
        # coalesce to a null-valued array so every group keeps its
        # four quantile rows, matching the SQL formulation
        F.coalesce(
            F.percentile(
                F.col("o_totalprice"), F.array(*[F.lit(q) for q in qs])
            ),
            F.array(*[F.lit(None).cast("double") for _ in qs]),
        ).alias("p"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(q) for q in qs]).alias("q"), F.col("p").alias("v")
    )
    return agg.select(
        "o_orderpriority",
        "n_orders",
        F.explode(pairs).alias("e"),
    ).select(
        "o_orderpriority",
        "n_orders",
        F.col("e.q").alias("quantile"),
        F.round(F.col("e.v"), 4).alias("value"),
    )


def idle_rich_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q22 shape: per nation, count customers whose balance beats
    the GLOBAL positive-balance average but who have never ordered —
    the two classic subquery forms in one query: a scalar aggregate
    subquery (the average) and NOT EXISTS (the anti-join).

    Plan: the scalar average reduces to ONE row (partial-aggregatable)
    and cross-joins into the customer scan — a broadcast of a single
    value, the relational form of a literal; the NOT EXISTS is a
    LEFT ANTI against the distinct order custkeys (shuffle on custkey
    unless the key list fits broadcast — AQE decides); the final
    rollup groups on the bounded nation key. Decimal-exact balance
    sums at the output.
    """
    avg_bal = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    never_ordered = customer.join(
        orders.select("o_custkey").distinct(),
        customer["c_custkey"] == F.col("o_custkey"),
        "left_anti",
    )
    return (
        never_ordered.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(30,10)")).cast(
                    "double"
                ),
                2,
            ).alias("total_balance"),
        )
    )


def small_quantity_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-lot orders — lines whose
    quantity is below 20% of THAT PART's average order quantity, for
    small parts (p_size <= SMALL_PART_MAX_SIZE), reported per brand as the Q17
    `avg_yearly` = sum(extendedprice)/7.

    The classic formulation is a correlated scalar subquery
    (`l_quantity < 0.2 * (SELECT avg(l_quantity) … WHERE l_partkey =
    p_partkey)`); the distributed re-expression is a per-part
    aggregate JOINED BACK onto the fact at the same key. Plan shape
    this query exists to exercise: the per-part (sum, count) partial
    aggregate shuffles on l_partkey, and the join-back of fact to
    thresholds is on that SAME key — Spark reuses the one hash
    partitioning for both the aggregate and the join, so the fact
    shuffles once and the thresholds side never re-shuffles. The
    thresholds table is |parts|-sized (fact/30 in TPC-H proportions) —
    deliberately NOT broadcast: at 100 TB the part count outgrows any
    broadcast budget, and the key-aligned shuffle join is the plan
    that survives; AQE may still locally broadcast at toy SF. The
    part dim (a filter + brand projection) broadcasts into the
    join-back output, not the fact scan, so pruning happens at the
    smallest grain.

    Exactness contract: l_quantity is integer-valued, so the
    correlated comparison is done cross-multiplied in integers —
    `5 * qty * cnt < sum_qty` ⟺ `qty < 0.2 * avg` — bit-identical on
    any engine with no double-rounding boundary cases; revenue sums
    are DECIMAL(30,10) partials (the `revenue_rollup` idiom).
    """
    qty = F.col("l_quantity").cast("long")
    thresholds = (
        lineitem.groupBy("l_partkey")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt_qty"),
        )
        .withColumnRenamed("l_partkey", "t_partkey")
    )
    small_lots = (
        lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(thresholds, F.col("l_partkey") == F.col("t_partkey"))
        .filter(5 * qty * F.col("cnt_qty") < F.col("sum_qty"))
    )
    return (
        small_lots.join(
            F.broadcast(
                part.filter(F.col("p_size") <= SMALL_PART_MAX_SIZE).select(
                    "p_partkey", "p_brand"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            # decimal-exact partial sums; the /7 happens in DOUBLE
            # AFTER the exact sum (identical IEEE ops on any engine)
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(30,10)")
                ).cast("double")
                / 7,
                2,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def waiting_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """TPC-H Q21 shape: suppliers who ALONE held up a multi-supplier
    order — for finished orders (o_orderstatus = 'F'), a line is late
    when it shipped more than `WAITING_LATE_DAYS` after the order date (this
    dataset has no commit/receipt dates; the ship-lag predicate plays
    that role). A supplier gets blamed for an order when (1) they have
    a late line in it, (2) EXISTS another supplier's line in the same
    order, and (3) NOT EXISTS another supplier's LATE line — the
    classic multi-EXISTS/NOT-EXISTS same-table chain. Output:
    (s_suppkey, s_name, numwait) top-k by blame count, numwait
    counting late LINES as Q21's count(*) over l1 does.

    Distributed re-expression: both EXISTS and NOT EXISTS correlate on
    the SAME key (l_orderkey) as the outer row, so the whole chain
    collapses into ONE per-order aggregate — count_distinct(supplier),
    count_distinct(late supplier), the argmax late supplier and its
    late-line count — followed by a filter (`n_late_supp = 1 AND
    n_supp >= 2`). The fact joins orders on l_orderkey (the one
    shuffle grain), aggregates on that same grain (partitioning
    reused, no second fact shuffle), and never joins the fact to
    itself — where the literal EXISTS/NOT-EXISTS translation would
    shuffle the fact three times and run two semi/anti joins against
    its own scan. The supplier dim broadcasts into the ≤|suppliers|
    aggregate output; top-k plans as TakeOrderedAndProject with
    s_suppkey as the deterministic tiebreak.
    """
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {WAITING_LATE_DAYS} DAYS"
    )
    lines = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey", late.alias("is_late"))
    )
    per_order = (
        lines.groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("n_supp"),
            F.count_distinct(
                F.when(F.col("is_late"), F.col("l_suppkey"))
            ).alias("n_late_supp"),
            F.max(
                F.when(F.col("is_late"), F.col("l_suppkey"))
            ).alias("late_supp"),
            F.sum(
                F.when(F.col("is_late"), 1).otherwise(0)
            ).alias("n_late_lines"),
        )
        .filter((F.col("n_late_supp") == 1) & (F.col("n_supp") >= 2))
    )
    blamed = per_order.groupBy(F.col("late_supp").alias("s_key")).agg(
        F.sum("n_late_lines").alias("numwait")
    )
    return (
        blamed.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("s_key") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(WAITING_TOP_K)
    )


def bracket_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue from lines matching ANY of three
    (type, size-range, quantity-range) brackets — the disjunctive
    multi-attribute predicate that exercises OR-pushdown planning.
    Output: (bracket, revenue, n_lines) per matching bracket (first
    match wins for lines satisfying several).

    Plan shape: the part side of the disjunction (type ∈ {...} AND
    size ≤ max over brackets) filters the DIMENSION before the
    broadcast join, so non-candidate parts never fan into the fact
    scan; the full per-bracket predicate evaluates post-join as a CASE
    tag; revenue aggregates per bracket with decimal-exact partials.
    The fact never shuffles — one broadcast join + one 3-group agg.
    """
    brackets = [
        ("b1_promo_small", "PROMO", (1, 10), (1, 20)),
        ("b2_economy_mid", "ECONOMY", (5, 20), (10, 30)),
        ("b3_small_bulk", "SMALL", (1, 15), (20, 50)),
    ]
    part_side = part.filter(
        F.col("p_type").isin([b[1] for b in brackets])
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= max(b[2][1] for b in brackets))
    ).select("p_partkey", "p_type", "p_size")
    joined = lineitem.select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    ).join(F.broadcast(part_side), F.col("l_partkey") == F.col("p_partkey"))
    tag = F.lit(None).cast("string")
    for name, ptype, (s_lo, s_hi), (q_lo, q_hi) in reversed(brackets):
        tag = F.when(
            (F.col("p_type") == ptype)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi),
            F.lit(name),
        ).otherwise(tag)
    return (
        joined.withColumn("bracket", tag)
        .filter(F.col("bracket").isNotNull())
        .groupBy("bracket")
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(30,10)")
                ).cast("double"),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def important_parts(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q11 shape: parts whose total line value exceeds a
    MULTIPLE OF THE MEAN part value (3/2 = 1.5x) -- the
    group-aggregate vs global-scalar-subquery comparison. A
    mean-relative threshold instead of Q11's global-fraction one: the
    part count grows with scale factor, so a fixed global share
    selects nothing at scale while the mean-multiple stays
    distribution-stable. Output: top-k (l_partkey, value) by value.

    Plan shape: one l_partkey partial-agg shuffle produces the
    per-part totals; the global (total, n_parts) derives from THOSE
    totals (a second tiny agg, never a second fact pass) and
    broadcasts as one row; top-k plans as TakeOrderedAndProject with
    partkey tiebreak.

    Exactness contract: prices carry exactly 2 decimals, so per-part
    values reduce to exact BIGINT CENTS (decimal partial sums cast to
    long -- no double summation anywhere) and the threshold is the
    all-integer cross-multiplication ``num*vc*n > den*tc`` -- no
    division, no rounding in the predicate, identical on any engine.
    Bound: num*vc*n stays under 2^63 for corpora up to ~1e7 parts at
    ~$1e6/part -- far beyond the bench corpora; a 100 TB deployment
    re-scales to dollars.
    """
    num, den = IMPORTANT_MEAN_MULTIPLE
    cents = F.col("l_extendedprice").cast("decimal(30,10)") * 100
    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(cents).cast("long").alias("vc")
    )
    total = per_part.agg(
        F.sum("vc").alias("tc"), F.count(F.lit(1)).alias("n")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.lit(num) * F.col("vc") * F.col("n")
            > F.lit(den) * F.col("tc")
        )
        .select(
            "l_partkey",
            F.round(F.col("vc").cast("double") / 100, 2).alias("value"),
        )
        .orderBy(F.col("value").desc(), F.col("l_partkey").asc())
        .limit(IMPORTANT_TOP_K)
    )


def dominant_suppliers(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q20 shape: suppliers who DOMINATE orders — shipped
    strictly more than half of a multi-supplier order's total quantity
    (the nested correlated-aggregate chain: per-(order, supplier)
    volume compared against that order's own total). Output: top-k
    (s_suppkey, s_name, n_orders_dominated, total_qty).

    Plan shape: ONE fact shuffle to the (order, supplier) grain; the
    per-order totals and supplier counts derive from that aggregate
    (a far smaller relation) on the same orderkey axis, then join back
    at the aggregate grain -- the fact is never re-scanned or
    self-joined. The >50% test is integer cross-multiplied
    (2*supp_qty > order_qty, quantities are integer-valued). Supplier
    dim broadcasts; TakeOrderedAndProject with suppkey tiebreak.
    """
    qty = F.col("l_quantity").cast("long")
    os_ = (
        lineitem.groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(qty).alias("sq"))
    )
    per_order = os_.groupBy("l_orderkey").agg(
        F.sum("sq").alias("oq"), F.count(F.lit(1)).alias("n_supp")
    )
    dom = (
        os_.join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (2 * F.col("sq") > F.col("oq")))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders_dominated"),
            F.sum("sq").alias("total_qty"),
        )
    )
    return (
        dom.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "n_orders_dominated", "total_qty")
        .orderBy(
            F.col("n_orders_dominated").desc(), F.col("s_suppkey").asc()
        )
        .limit(DOMINANT_TOP_K)
    )


def bi_nation_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q7 shape: shipping volume BETWEEN two named nations by
    year and direction — the double-dimension-chain join where the
    (supplier nation, customer nation) PAIR filter must prune both
    chains before the fact join. Output: (supp_nation, cust_nation,
    ship_year, revenue, n_lines) for the two directions.

    Plan shape: customer→nation and supplier→nation each collapse to
    a filtered broadcast (only the two named nations survive, so the
    fact joins against two tiny key sets — at 100 TB the anti-pattern
    is joining the full dims then filtering); the lineitem⋈orders
    join is the one fact shuffle; the group key (2×2×years) is
    bounded. Decimal-exact revenue.
    """
    n_a = nation.filter(F.col("n_name").isin(*BI_NATIONS))
    cust_n = customer.join(
        F.broadcast(n_a),
        customer["c_nationkey"] == n_a["n_nationkey"],
    ).select(
        F.col("c_custkey").alias("ck"),
        F.col("n_name").alias("cust_nation"),
    )
    supp_n = supplier.join(
        F.broadcast(n_a),
        supplier["s_nationkey"] == n_a["n_nationkey"],
    ).select(
        F.col("s_suppkey").alias("sk"),
        F.col("n_name").alias("supp_nation"),
    )
    joined = (
        lineitem.join(
            F.broadcast(supp_n), F.col("l_suppkey") == F.col("sk")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_n), F.col("o_custkey") == F.col("ck"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").alias("ship_year"),
    ).agg(
        F.round(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(30,10)")
            ).cast("double"),
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's yearly order
    revenue — the conditional-numerator / total-denominator ratio
    over a grouped aggregate. Output: (order_year, share_nation_rev,
    total_rev, mkt_share) per year.

    Plan shape: customers restrict to the region via the broadcast
    nation→region chain BEFORE the fact join; the supplier-nation tag
    rides the broadcast supplier dim; numerator and denominator are
    sibling conditional aggregates in ONE pass (no second scan, no
    join of two aggregates); the share division happens on the
    bounded per-year rollup with decimal-exact operands.
    """
    region_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == SHARE_REGION)),
        nation["n_regionkey"] == region["r_regionkey"],
    ).select("n_nationkey")
    cust_r = customer.join(
        F.broadcast(region_nations),
        customer["c_nationkey"] == F.col("n_nationkey"),
    ).select(F.col("c_custkey").alias("ck"))
    supp_tag = supplier.join(
        F.broadcast(nation),
        supplier["s_nationkey"] == nation["n_nationkey"],
    ).select(
        F.col("s_suppkey").alias("sk"),
        (F.col("n_name") == SHARE_NATION).alias("is_share_nation"),
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,10)"
    )
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_r), F.col("o_custkey") == F.col("ck"))
        .join(F.broadcast(supp_tag), F.col("l_suppkey") == F.col("sk"))
    )
    per_year = joined.groupBy(
        F.year("o_orderdate").alias("order_year")
    ).agg(
        F.sum(F.when(F.col("is_share_nation"), rev)).alias("num"),
        F.sum(rev).alias("den"),
    )
    return per_year.select(
        "order_year",
        F.round(F.coalesce(F.col("num"), F.lit(0)).cast("double"), 2).alias(
            "share_nation_rev"
        ),
        F.round(F.col("den").cast("double"), 2).alias("total_rev"),
        F.round(
            F.coalesce(F.col("num"), F.lit(0)).cast("double")
            / F.col("den").cast("double"),
            6,
        ).alias("mkt_share"),
    )


def returned_item_customers(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most revenue — the
    classic churn-risk report: fact filtered to returned lines
    (l_returnflag = 'R'), joined to orders/customer, grouped per
    customer, top-k. Output: (c_custkey, c_name, n_name,
    returned_rev, n_lines).

    Plan shape: the returnflag filter pushes to the parquet scan;
    lineitem⋈orders is the one fact shuffle; customer/nation
    broadcast AFTER the per-custkey aggregate (the rollup is
    |customers|-bounded, so dims join the aggregate, not the fact);
    TakeOrderedAndProject with custkey tiebreak.
    """
    returned = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(30,10)")
            ).alias("rev"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    return (
        returned.join(
            F.broadcast(customer),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("rev").cast("double"), 2).alias("returned_rev"),
            "n_lines",
        )
        .orderBy(F.col("returned_rev").desc(), F.col("c_custkey").asc())
        .limit(RETURNED_TOP_K)
    )


def promo_revenue_share(
    lineitem: DataFrame, part: DataFrame
) -> DataFrame:
    """TPC-H Q14 shape: PROMO parts' share of monthly revenue — the
    conditional-sum ratio (100 · promo / total) per month. Output:
    (ship_month, promo_rev, total_rev, promo_share_pct).

    Plan shape: part type broadcasts into the fact scan; numerator
    and denominator are sibling conditional aggregates in one pass on
    the bounded month key; the ratio divides decimal-exact sums cast
    to double at the edge.
    """
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,10)"
    )
    joined = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_type")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    per_month = joined.groupBy(
        F.to_date(F.date_trunc("month", F.col("l_shipdate"))).alias(
            "ship_month"
        )
    ).agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev)).alias("promo"),
        F.sum(rev).alias("total"),
    )
    return per_month.select(
        "ship_month",
        F.round(
            F.coalesce(F.col("promo"), F.lit(0)).cast("double"), 2
        ).alias("promo_rev"),
        F.round(F.col("total").cast("double"), 2).alias("total_rev"),
        F.round(
            100
            * F.coalesce(F.col("promo"), F.lit(0)).cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("promo_share_pct"),
    )


def top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with MAXIMUM revenue over a
    window — the aggregate-vs-its-own-max pattern (Q15's view +
    `total_revenue = (SELECT max(...))`). Output: every supplier
    tying the max (s_suppkey, s_name, total_revenue).

    Plan shape: one fact shuffle to the per-supplier rollup (the date
    filter pushes to the scan); the max derives from that rollup (a
    1-row broadcast, never a second fact pass); the equality join
    back runs at the rollup grain. Decimal-exact revenue makes the
    tie semantics deterministic cross-engine.
    """
    quarter_start, quarter_end = TOP_SUPPLIER_QUARTER
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(quarter_start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(quarter_end).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(30,10)")
            ).alias("rev")
        )
    )
    best = rev.agg(F.max("rev").alias("best"))
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("rev") == F.col("best"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev").cast("double"), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6 shape: the revenue-change forecast — what discounted
    small-lot revenue would have been forgone in one year if discounts
    in a band were eliminated. The simplest query in the suite, and
    deliberately so: one parquet scan with EVERY predicate pushed down
    (year, discount band, quantity cap), one partial aggregate, one
    1-row result; at 100 TB the plan is a pure map-side scan whose
    shuffle moves a single combined row per task.

    Discounts compare at the 2-decimal grain (round before between) so
    the band edges are exact on any engine. Output: (revenue, n_items).
    """
    amt = F.col("l_extendedprice") * F.col("l_discount")
    return (
        lineitem.filter(
            (F.year("l_shipdate") == FORECAST_YEAR)
            & F.round(F.col("l_discount"), 2).between(*FORECAST_DISCOUNT_BAND)
            & (F.col("l_quantity") < FORECAST_MAX_QTY)
        )
        .agg(
            F.round(F.sum(amt.cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def product_profit(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    orders: DataFrame,
) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × order year for parts
    whose name matches a pattern. Supply cost is proxied as
    `PROFIT_COST_FRAC · p_retailprice` per unit (this dataset has no partsupp
    table — same adaptation as Q2's `min_cost_supplier`), so
    amount = extprice·(1−disc) − PROFIT_COST_FRAC·retail·qty.

    Plan shape this query exists to exercise: the suite's one
    deliberate FACT⋈FACT join — lineitem⋈orders on the order key to
    fetch the year (Q9's defining cost at scale; both sides shuffle on
    l_orderkey/o_orderkey, which a layout bucketed on the order key
    would make exchange-free). The part filter broadcasts and prunes
    the fact BEFORE that shuffle (the
    name-match survivors are a small fraction of parts), supplier →
    nation broadcasts, and the final rollup reduces map-side to the
    bounded (nation, year) grain.
    """
    matched = part.filter(F.col("p_name").contains(PROFIT_NAME_PATTERN)).select(
        "p_partkey", "p_retailprice"
    )
    sup_nat = supplier.join(
        F.broadcast(nation),
        supplier["s_nationkey"] == nation["n_nationkey"],
    ).select("s_suppkey", "n_name")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ) - (F.lit(PROFIT_COST_FRAC) * F.col("p_retailprice")) * F.col("l_quantity")
    return (
        lineitem.join(
            F.broadcast(matched), F.col("l_partkey") == F.col("p_partkey")
        )
        .join(F.broadcast(sup_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.select("o_orderkey", F.year("o_orderdate").alias("o_year")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(
            F.round(F.sum(amount.cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def customer_order_distribution(
    customer: DataFrame,
    orders: DataFrame,
) -> DataFrame:
    """TPC-H Q13 shape: the distribution of per-customer order counts
    INCLUDING customers with zero qualifying orders — the suite's one
    LEFT OUTER fact join (the count-0 bucket only exists because
    unmatched customers survive the join). Orders in one priority class
    are excluded (stand-in for Q13's comment-pattern filter, which this
    dataset's orders don't carry).

    Two shuffles, both shrinking: customer⟕orders on custkey (filter
    pushed below the join), then the per-customer counts reduce to the
    bounded c_count histogram grain. count('o_orderkey') counts
    non-NULL keys only, so outer-preserved customers land in bucket 0.
    Output: (c_count, custdist) ordered custdist desc, c_count desc.
    """
    cnt = (
        customer.join(
            orders.filter(F.col("o_orderpriority") != EXCLUDED_PRIORITY)
            .select("o_orderkey", "o_custkey"),
            customer["c_custkey"] == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        cnt.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )
