"""Beyond-reference relational surface (SURVEY.md §2.3/§2.5/§2.7, §7
phase 4): joins, windows, set ops, grouping sets over the driver's
star schema. The reference is single-table (SURVEY.md §2.3 — no joins
anywhere); Spark provides these natively, so each builder is a thin,
scale-annotated composition.

Scale notes inline per operator; the common rules:
- dims (region, nation, supplier) are broadcast — no shuffle;
- fact-fact joins shuffle on the join key once, and AQE re-plans
  skew at runtime;
- semi/anti joins never materialize the probe side's payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEC = T.DecimalType(28, 2)
# Product-friendly widths: (18,2)×(8,2)→(27,4) and ×(8,2) again→(36,6)
# stay under Spark's 38-digit cap, so no scale adjustment / rounding
# ever kicks in and decimal arithmetic is exact on both engines.
D18 = T.DecimalType(18, 2)
D8 = T.DecimalType(8, 2)


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1 shape: the headline scan+agg benchmark. DECIMAL sums
    for bit-deterministic parallel aggregation (float sums are
    order-dependent; decimal is associative); averages are exact-sum ÷
    count so both engines produce the identical double. Single shuffle
    of partial aggregates on a 6-value key."""
    li = lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
    qty = F.col("l_quantity").cast(D18)
    price = F.col("l_extendedprice").cast(D18)
    disc_f = (F.lit(1.0) - F.col("l_discount")).cast(D8)
    tax_f = (F.lit(1.0) + F.col("l_tax")).cast(D8)
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * disc_f).cast("double").alias("sum_disc_price"),
            F.sum(price * disc_f * tax_f).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price).cast("double") / n).alias("avg_price"),
            (F.sum(F.col("l_discount").cast(D8)).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_by_nation(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """TPC-H Q5 shape: star join. nation/region are broadcast (tiny
    dims); lineitem⋈orders shuffles once on orderkey, then on custkey.
    Revenue in DECIMAL → deterministic."""
    rev = F.col("l_extendedprice").cast(D18) * (F.lit(1.0) - F.col("l_discount")).cast(D8)
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("r_name", "n_name")
    )


def customers_with_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT SEMI: EXISTS — probe side payload never shuffled."""
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT ANTI: NOT EXISTS."""
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


def top_order_per_customer(orders: DataFrame, k: int = 1) -> DataFrame:
    """Window ranking: top-k orders per customer by totalprice. The
    window shuffles once on custkey; rank prune happens before any
    further join (filter early)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rnk").cast("int").alias("rnk"))
    )


def month_over_month(orders: DataFrame) -> DataFrame:
    """A2 rollup + lag window: month-over-month revenue delta. The
    monthly frame is tiny (months × 1 row), so the window is free."""
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("revenue"))
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        F.col("revenue").cast("double").alias("revenue"),
        (F.col("revenue") - F.lag("revenue").over(w)).cast("double").alias("mom_delta"),
    ).orderBy("month")


def status_priority_rollup(orders: DataFrame) -> DataFrame:
    """ROLLUP grouping sets (reference has none; native in Spark)."""
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()
        )
    )


def shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, cutoff: str = "1997-01-01"
) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by revenue for one
    segment. Join prunes with pushed date filters on BOTH fact scans;
    TakeOrderedAndProject caps the result without a global sort."""
    rev = F.col("l_extendedprice").cast(D18) * (F.lit(1.0) - F.col("l_discount")).cast(D8)
    cut = F.lit(cutoff).cast("timestamp")
    return (
        lineitem.filter(F.col("l_shipdate") > cut)
        .join(orders.filter(F.col("o_orderdate") < cut), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            customer.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


def forecast_revenue(lineitem: DataFrame, year: int = 1996) -> DataFrame:
    """TPC-H Q6 shape: pure scan+filter+scalar agg — the pushdown
    benchmark. All predicates reach the parquet scan."""
    rev = F.col("l_extendedprice").cast(D18) * F.col("l_discount").cast(D8)
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def large_volume_orders(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, min_qty: float = 300.0
) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a fact-side pre-aggregation, then
    semi-joined up the star. Aggregating lineitem FIRST shrinks the
    join probe side from |lineitem| to |qualifying orders|."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(D18)).alias("_sumq"))
        .filter(F.col("_sumq") > F.lit(min_qty))
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("o_totalprice"),
            F.col("_sumq").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(20)
    )


def cube_returns(lineitem: DataFrame) -> DataFrame:
    """CUBE grouping sets over returnflag × linestatus."""
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast(D18)).cast("double").alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first()
        )
    )


def segment_union_intersect(customer: DataFrame) -> DataFrame:
    """Set ops: customers in BUILDING ∪ (AUTOMOBILE ∩ acctbal>0) —
    exercises union/intersect; Spark plans them as aggregates/joins."""
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    c = customer.filter(F.col("c_acctbal") > 0).select("c_custkey")
    # No output sort: the result is customer-scale, and a global
    # orderBy would add a full range-exchange purely for display.
    return a.union(b.intersect(c)).distinct()


def priority_with_late_lines(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: orders that have at least one line shipped after
    the order date, counted per priority. The EXISTS subquery compiles
    to a LEFT SEMI join — the lineitem side carries only its join key
    + predicate columns, never payload, so the shuffle moves the
    minimum bytes; semi-join short-circuits on first match per key."""
    late = lineitem.select("l_orderkey", "l_shipdate")
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        orders.join(late, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def small_quantity_revenue(part: DataFrame, lineitem: DataFrame, brand: str = "Brand#3") -> DataFrame:
    """TPC-H Q17 shape: per-part average subquery. The avg is computed
    by ONE partial-aggregated pass over lineitem grouped by partkey
    (not a correlated per-row subquery), then joined back — at 100 TB
    the per-part agg output is |parts|, tiny next to the fact."""
    avg_qty = (
        lineitem.groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg((F.sum(F.col("l_quantity").cast(D18)).cast("double") / F.count(F.lit(1))).alias("avg_qty"))
    )
    return (
        lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(part.filter(F.col("p_brand") == brand).select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(D18)).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


def brand_size_quantity_revenue(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive groups spanning both
    join sides. The per-side conjuncts (brand/size on part, quantity on
    lineitem) are pushed below the join by Catalyst as
    (brand1|brand2|brand3)-style residuals; part is broadcast."""
    rev = F.col("l_extendedprice").cast(D18) * (F.lit(1.0) - F.col("l_discount")).cast(D8)
    g1 = (F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11)
    g2 = (F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20)
    g3 = (F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 40) & F.col("l_quantity").between(20, 30)
    return (
        lineitem.select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
              F.col("l_partkey") == F.col("p_partkey"))
        .filter(g1 | g2 | g3)
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


def idle_rich_customers(
    customer: DataFrame, orders: DataFrame, since: str = "2000-01-01"
) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global avg of positive
    balances, computed once and broadcast as a literal-like 1-row
    plan) + NOT EXISTS anti join + group-by. "Idle" = no order since
    the cutoff; the date filter is pushed into the anti-join's build
    side scan, and the probe carries only c_custkey."""
    avg_pos = customer.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.col("c_acctbal").cast(D18)).cast("double") / F.count(F.lit(1))).alias("v")
    )
    rich = customer.join(F.broadcast(avg_pos)).filter(F.col("c_acctbal") > F.col("v"))
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(since).cast("timestamp")
    ).select("o_custkey")
    return (
        rich.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(D18)).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def customer_value_tiles(customer: DataFrame, n_tiles: int = 4) -> DataFrame:
    """ntile + percent_rank over account balance within market segment:
    the ranking-window family. Per-segment partitions distribute the
    sort; a single window spec serves both functions (one exchange,
    one sort)."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(n_tiles).over(w).alias("tile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )
    # No trailing global orderBy: the window already sorted within each
    # segment partition; a display sort over the whole customer table
    # would add a second (range) exchange for nothing.


def supplier_nation_revenue(
    supplier: DataFrame, nation: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Supplier-side star: revenue per supplier nation. Both dims are
    broadcast; lineitem is scanned once with only (suppkey, price,
    discount) read (column pruning reaches the parquet scan)."""
    rev = F.col("l_extendedprice").cast(D18) * (F.lit(1.0) - F.col("l_discount")).cast(D8)
    return (
        lineitem.select("l_suppkey", "l_extendedprice", "l_discount")
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
        .orderBy("n_name")
    )


def monthly_orders_vs_events(orders: DataFrame, events: DataFrame) -> DataFrame:
    """FULL OUTER join of two monthly rollups with disjoint date
    domains — exercises outer-join null sides + coalesce. Both inputs
    are pre-aggregated (tiny), so the outer join is broadcast-able."""
    om = orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("o_month")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    em = events.groupBy(F.date_format("ts", "yyyy-MM").alias("e_month")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        om.join(em, F.col("o_month") == F.col("e_month"), "full_outer")
        .select(
            F.coalesce("o_month", "e_month").alias("month"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
        .orderBy("month")
    )


def salted_user_totals_join(events: DataFrame, n_salts: int = 8) -> DataFrame:
    """Skew-mitigation pattern, verifiable: join a zipf-skewed fact
    (events by user_id) to a per-user dim through an explicit salt.
    The fact side gets a random-free deterministic salt (event_id %
    n_salts); the dim side is replicated n_salts×, so one hot user's
    rows spread over n_salts shuffle partitions instead of one. The
    result is IDENTICAL to the unsalted join — which is what the
    oracle checks. (With AQE skew-join this is automatic; the manual
    form is for engines/paths where it is not.)"""
    dim = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_n"),
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    dim_rep = dim.select(F.col("user_id").alias("d_user"), "user_n", salts)
    fact = events.select(
        "event_id",
        "user_id",
        # pmod, not %: Spark % keeps the dividend's sign, so a negative
        # event_id salted to a replica that doesn't exist and the row
        # silently vanished from the join (self-review r12)
        F.pmod(F.col("event_id"), F.lit(int(n_salts))).cast("int").alias("_fsalt"),
    )
    joined = fact.join(
        dim_rep,
        (F.col("user_id") == F.col("d_user")) & (F.col("_fsalt") == F.col("_salt")),
    )
    return joined.groupBy("user_id", "user_n").agg(F.count(F.lit(1)).alias("n_joined"))


def above_nation_avg_customers(customer: DataFrame) -> DataFrame:
    """Correlated scalar subquery shape: customers above their own
    nation's average balance. Expressed via SQL so Catalyst's
    decorrelation rewrites it to ONE aggregate + join — never a
    per-row subquery execution (SURVEY.md §4.2 'subquery
    decorrelation'). DataFrame twin: window avg over nationkey.

    The temp view name is unique per call (self-review r12): a fixed
    name mutated shared session state — a second call on a different
    frame re-bound the view, and a still-lazy first result resolved
    against the WRONG table at action time."""
    import uuid

    view = f"_cust_corr_{uuid.uuid4().hex}"
    customer.createOrReplaceTempView(view)
    return customer.sparkSession.sql(
        f"""
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM {view} c1
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM {view} c2
                           WHERE c2.c_nationkey = c1.c_nationkey)
        ORDER BY c_custkey
        """
    )


def nation_volume_shipping(
    supplier: DataFrame, nation: DataFrame, customer: DataFrame,
    orders: DataFrame, lineitem: DataFrame,
    n1: str = "NATION_1", n2: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7 shape: trade volume between two nations by year. The
    nation filter lands on both broadcast dims BEFORE the fact joins,
    so non-qualifying rows never shuffle."""
    rev = F.col("l_extendedprice").cast(D18) * (F.lit(1.0) - F.col("l_discount")).cast(D8)
    supp_n = supplier.join(
        F.broadcast(nation.filter(F.col("n_name").isin(n1, n2))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust_n = customer.join(
        F.broadcast(nation.filter(F.col("n_name").isin(n1, n2)).select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation")
    return (
        lineitem.join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_n, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def local_supplier_volume(
    region: DataFrame, nation: DataFrame, customer: DataFrame,
    supplier: DataFrame, orders: DataFrame, lineitem: DataFrame,
    region_name: str = "ASIA",
    date_from: str = "1995-01-01", date_to: str = "1996-01-01",
) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the customer and the
    supplier share a nation inside one region, over one year. The
    region filter lands on the broadcast nation dim BEFORE any fact
    touches it, so customers/suppliers outside the region never
    shuffle. The local-supplier constraint (c_nationkey = s_nationkey)
    rides the broadcast supplier join as a second equi-key — no extra
    exchange. Orders is date-pruned at the scan; lineitem shuffles
    once on l_orderkey."""
    rev = F.col("l_extendedprice").cast(D18) * (F.lit(1.0) - F.col("l_discount")).cast(D8)
    r_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == region_name)),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    cust = customer.join(
        F.broadcast(r_nations), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey")
    q_orders = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    return (
        lineitem.select("l_orderkey", "l_suppkey", rev.alias("rev"))
        .join(q_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(r_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("rev").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def returned_item_losses(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in
    one quarter. Both fact scans are date/flag-filtered before the
    join; the final top-k is TakeOrderedAndProject."""
    rev = F.col("l_extendedprice").cast(D18) * (F.lit(1.0) - F.col("l_discount")).cast(D8)
    q_orders = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(q_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(20)
    )


def customer_order_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: histogram of orders-per-customer including the
    zero bucket — LEFT OUTER join + two-level aggregation. The first
    agg shrinks |orders| to |customers| before the second (tiny)
    shuffle on the count."""
    per_cust = (
        customer.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def moving_avg_revenue(orders: DataFrame, window_months: int = 3) -> DataFrame:
    """Trailing 3-month moving average over the monthly rollup — a
    rows-frame window on the PRE-AGGREGATED series (months × statuses
    rows), so the expensive part is the rollup, not the frame."""
    monthly = orders.groupBy(
        "o_orderstatus", F.date_format("o_orderdate", "yyyy-MM").alias("bulan")
    ).agg(F.sum(F.col("o_totalprice").cast(D18)).alias("m_total"))
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("bulan")
        .rowsBetween(-(window_months - 1), 0)
    )
    # Exact half-up average to cents in INTEGER arithmetic (round-9
    # determinism audit): a rows-frame average of exact-cent money
    # lands on EXACT rounding halves (any 2-row frame with odd total
    # cents), the one input where engine rounding rules can diverge.
    # mavg = floor((2·C + n) / (2·n)) / 100 with C = frame sum in
    # cents (DECIMAL-exact) — one integer division then one IEEE
    # divide, bit-identical on any engine.
    return (
        monthly.select(
            "o_orderstatus",
            "bulan",
            (F.sum("m_total").over(w) * F.lit(100))
            .cast("bigint")
            .alias("_c"),
            F.count(F.lit(1)).over(w).alias("_n"),
        )
        .select(
            "o_orderstatus",
            "bulan",
            (
                F.expr("(2 * _c + _n) DIV (2 * _n)").cast("double")
                / F.lit(100.0)
            ).alias("mavg"),
        )
        .orderBy("o_orderstatus", "bulan")
    )


def nearby_order_volume(orders: DataFrame, days: int = 3) -> DataFrame:
    """Value-RANGE window frame: for each order, that customer's order
    volume within the trailing N days — a range frame over event-time
    seconds (not row counts). Partitioned per customer, so the sort is
    distributed; the frame bound is a value predicate the window
    operator evaluates without re-shuffling."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-days * 86400, 0)
    )
    # Output is the FULL orders table: no cosmetic global sort — at
    # scale that range-exchange over the whole fact was the single
    # slowest step of the round-1 bench (2.1 s of a 2.1 s query).
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        F.sum(F.col("o_totalprice").cast(D18)).over(w).cast("double").alias("trailing_volume"),
    )


def props_key_rollup(events: DataFrame) -> DataFrame:
    """Semi-structured column path: parse the JSON `props` string with
    an explicit schema (from_json — typed, null-safe, no inference
    scan), bucket the extracted value, aggregate. At scale prefer
    materializing extracted fields to columns at ingest; this operator
    IS that extraction."""
    k = F.from_json("props", "k INT")["k"]
    return (
        events.select((k % 10).alias("k_mod"), "value")
        .groupBy("k_mod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(D18)).cast("double").alias("total_value"),
        )
        .orderBy("k_mod")
    )


def market_share(
    part: DataFrame, supplier: DataFrame, nation: DataFrame,
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
    supp_nation: str = "NATION_5", part_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of yearly revenue for one
    part type. Numerator and denominator come out of ONE aggregation
    (sum(CASE WHEN)) — never two scans; part/supplier/nation dims all
    broadcast, with their filters applied before the fact joins."""
    rev = F.col("l_extendedprice").cast(D18) * (F.lit(1.0) - F.col("l_discount")).cast(D8)
    supp_n = supplier.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    return (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_type") == part_type).select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("l_shipdate").alias("l_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == supp_nation, rev)).cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("l_year")
    )


def top_supplier_revenue(
    supplier: DataFrame, lineitem: DataFrame,
    start: str = "1996-01-01", end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue. The per-supplier aggregate is computed ONCE and reused on
    both sides of the max-equality (Spark reuses the exchange); the
    equality compares exact DECIMALs, so ties and float drift can't
    split results between engines."""
    rev = F.col("l_extendedprice").cast(D18) * (F.lit(1.0) - F.col("l_discount")).cast(D8)
    revenue0 = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(rev).alias("_rev"))
    )
    max_rev = revenue0.agg(F.max("_rev").alias("_max"))
    return (
        revenue0.join(F.broadcast(max_rev), F.col("_rev") == F.col("_max"))
        .join(supplier, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("_rev").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


def latest_by_key(
    df: DataFrame, key_col: str, ts_col: str, tiebreak_col: str | None = None
) -> DataFrame:
    """Current-state view of an event/CDC log: the most recent row per
    key (rank-1 of a per-key window ordered by time descending, ties
    broken deterministically). One hash exchange on the key; at scale
    this is the standard compaction step before snapshot joins —
    never a self-join against max(ts). Without an explicit
    ``tiebreak_col``, timestamp ties break over the remaining
    ORDERABLE columns ascending (self-review r12: the old fallback
    ordered by the partition key itself — constant within the window,
    so ties were partitioning-dependent despite the docstring's
    promise). Non-orderable columns (maps) are skipped — ADVICE r12:
    including them failed at analysis on frames that previously ran —
    so a frame whose only non-key columns are maps keeps ts-only
    ordering; pass ``tiebreak_col`` for full determinism there."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _orderable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        if isinstance(dt, ArrayType):
            return _orderable(dt.elementType)
        return True

    order = [F.col(ts_col).desc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).desc())
    else:
        order.extend(
            F.col(f.name)
            for f in df.schema.fields
            if f.name not in (key_col, ts_col) and _orderable(f.dataType)
        )
    w = Window.partitionBy(key_col).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def scd2_history(
    df: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from an event log: per
    key, collapse CONSECUTIVE runs of the same state into validity
    intervals — (key, state, valid_from, valid_to, is_current), the
    warehouse companion to ``latest_by_key`` (which keeps only the
    current row; SCD2 keeps the full auditable timeline the way a
    dimension table records it). Interval semantics are the standard
    half-open [valid_from, valid_to): each version's valid_to is the
    NEXT version's valid_from; the open current version has NULL
    valid_to. A state that recurs non-consecutively gets a NEW
    version — that is the type-2 contract (history, not a distinct).

    Determinism: events ordered by (ts, seq) — ties on the timestamp
    break by the sequence column, so the run-length encoding is a
    pure function of the log on any engine.

    Scale shape: ONE hash exchange on the key drives everything —
    the change-detection lag, the running version sum, the per-run
    aggregate, and the valid_to lead all share the same (key)
    partitioning, so Catalyst plans a single Exchange with window +
    partial-agg stages stacked on it (same single-shuffle discipline
    as sessionize). Rows carry (key, state, ts, seq) only."""
    w = Window.partitionBy(key_col).orderBy(ts_col, seq_col)
    prev = F.lag(state_col).over(w)
    chg = F.when(
        prev.isNull() | (prev != F.col(state_col)), F.lit(1)
    ).otherwise(F.lit(0))
    runs = (
        df.select(key_col, state_col, ts_col, seq_col)
        .withColumn("_v", F.sum(chg).over(w).cast("int"))
        .groupBy(key_col, "_v")
        .agg(
            F.min(state_col).alias("state"),
            F.min(ts_col).alias("valid_from"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )
    w2 = Window.partitionBy(key_col).orderBy("_v")
    nxt = F.lead("valid_from").over(w2)
    return runs.select(
        F.col(key_col),
        F.col("_v").alias("version"),
        "state",
        "valid_from",
        nxt.alias("valid_to"),
        "n_events",
        nxt.isNull().alias("is_current"),
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-QA profile: one row per column with count / nulls /
    distincts / min / max (stringified at the edge for a uniform
    schema). ONE aggregation job computes every metric for every
    column (a single row of partial-aggregated scalars), then a stack()
    unpivot turns it long — never one pass per column. The input goes
    through spread() first: multi-DISTINCT aggregation expands the
    input 1+n_cols× before the partial aggregate, and a single-split
    scan would run that expansion on one core."""
    from data_pengadaan_agent_spark.sources.catalog import spread

    df = spread(df)
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__n"),
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.countDistinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return row.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n, n_nulls, n_distinct, min_value, max_value)"
    )


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    step: str = "day",
) -> DataFrame:
    """Time-series resampling with forward fill: per key, build the
    regular ``step`` grid spanning that key's own first→last
    observation (sequence + explode — no driver-side calendar), left
    join the per-slot aggregate, and carry the last non-null value
    forward with last(ignorenulls) over a per-key ordered window.
    Slot values are rounded BEFORE the fill so both engines propagate
    the identical literal. Cost at scale: one shuffle on the key for
    the grid/obs join + one for the window — both on the same key, so
    AQE/exchange-reuse collapses them; grid size is bounded by
    span/step per key, never |rows|."""
    t0 = F.date_trunc(step, F.min(ts_col))
    t1 = F.date_trunc(step, F.max(ts_col))
    bounds = df.groupBy(key_col).agg(t0.alias("_t0"), t1.alias("_t1"))
    grid = bounds.select(
        F.col(key_col),
        F.explode(
            F.sequence(F.col("_t0"), F.col("_t1"), F.expr(f"interval 1 {step}"))
        ).alias("slot"),
    )
    obs = df.groupBy(
        F.col(key_col), F.date_trunc(step, F.col(ts_col)).alias("slot")
    ).agg(F.round(F.avg(val_col), 6).alias("_v"))
    w = (
        Window.partitionBy(key_col)
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, [key_col, "slot"], "left")
        .select(
            F.col(key_col),
            F.col("slot"),
            F.last("_v", ignorenulls=True).over(w).alias("value_ffill"),
            F.col("_v").isNotNull().alias("observed"),
        )
    )


def funnel_conversion(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel analysis: per user, the earliest time step k
    occurred STRICTLY AFTER the user's step k-1 time; the output is
    one row per step with the surviving-user count and the conversion
    rate vs step 1. Each stage is a conditional min() aggregate per
    user — k-1 re-aggregations of the (already user-partitioned)
    event set, all on the same key so the per-user frame shuffles
    once and exchange reuse covers the rest. Never a per-user
    collect or UDF."""
    per_user = events.select(F.col(user_col), F.col(type_col), F.col(ts_col))
    stage = per_user.groupBy(user_col).agg(
        F.min(F.when(F.col(type_col) == steps[0], F.col(ts_col))).alias("t0")
    )
    times = ["t0"]
    for i, s in enumerate(steps[1:], start=1):
        prev = times[-1]
        joined = per_user.join(stage, user_col)
        stage = joined.groupBy(user_col, *times).agg(
            F.min(
                F.when(
                    (F.col(type_col) == s) & F.col(prev).isNotNull()
                    & (F.col(ts_col) > F.col(prev)),
                    F.col(ts_col),
                )
            ).alias(f"t{i}")
        )
        times.append(f"t{i}")
    counts = stage.agg(
        *[F.count(F.col(t)).alias(f"n{i}") for i, t in enumerate(times)]
    )
    rows = [
        F.struct(
            F.lit(i + 1).alias("step_no"),
            F.lit(s).alias("step"),
            F.col(f"n{i}").alias("n_users"),
            F.round(F.col(f"n{i}") / F.greatest(F.col("n0"), F.lit(1)), 6).alias(
                "conversion"
            ),
        )
        for i, s in enumerate(steps)
    ]
    return counts.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def skew_profile(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """Join-key skew diagnostics — the operational answer to 'will
    this key shuffle hot?': per-key counts aggregated once (map-side
    partials), then top-k heaviest keys each annotated with the
    key's share of all rows and the skew factor (count / mean
    rows-per-key). A skew factor ≫ 1 on a join key is the signal to
    salt or let AQE split that partition. TakeOrderedAndProject caps
    the output; the full per-key frame is never sorted."""
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = counts.agg(
        F.sum("cnt").alias("_total"), F.count(F.lit(1)).alias("_nkeys")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("_total"), 6).alias("share"),
            F.round(F.col("cnt") * F.col("_nkeys") / F.col("_total"), 6).alias(
                "skew_factor"
            ),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(top_k)
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention matrix — the classic product-analytics
    rollup. NOT the same operator as :func:`retention_cohorts`
    (self-review r12 cross-reference): this one uses Monday-truncated
    calendar weeks and emits a RATIO; retention_cohorts uses
    epoch-anchored integer periods (day/week/month grains) and emits
    COUNTS — the cohort boundaries differ, pick by contract.
    Users are cohorted by the week of their FIRST event, and
    each (cohort_week, offset_weeks) cell counts how many of them were
    active that many weeks later. ``retention`` is the cell count over
    the cohort's size, rounded to 6 places.

    Shape: one distinct (user, week) aggregate, one per-user min
    (both partial-aggregated on user), a user-keyed equi-join, then a
    count_distinct on the (cohort, offset) pair — every shuffle is on
    a key whose cardinality shrinks monotonically (events → user-weeks
    → users → cohort cells). Week arithmetic is DATE subtraction (both
    endpoints are Monday week-starts, so datediff is an exact multiple
    of 7) — deliberately NOT epoch-seconds, which are session-timezone
    dependent and off-by-3600 across a DST boundary.
    """
    wk = F.date_trunc("week", F.col(ts_col)).cast("date")
    user_weeks = events.select(
        F.col(user_col), wk.alias("week")
    ).distinct()
    cohorts = user_weeks.groupBy(user_col).agg(F.min("week").alias("cohort_week"))
    joined = user_weeks.join(cohorts, user_col).select(
        F.col(user_col),
        "cohort_week",
        (F.datediff(F.col("week"), F.col("cohort_week")) / F.lit(7))
        .cast("bigint")
        .alias("offset_weeks"),
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count_distinct(F.col(user_col)).cast("bigint").alias("cohort_n")
    )
    cells = joined.groupBy("cohort_week", "offset_weeks").agg(
        F.count_distinct(F.col(user_col)).cast("bigint").alias("n_active")
    )
    # Exact half-up ratio at 6 places in INTEGER arithmetic (round-9
    # determinism audit; this operator was the original ADVICE-r3
    # round(double,6) note): a count ratio with a power-of-two cohort
    # size lands on an exact rounding half — floor((2e6·a + b)/(2b))
    # then ONE IEEE divide is bit-identical on any engine.
    return cells.join(F.broadcast(sizes), "cohort_week").select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "offset_weeks",
        "n_active",
        "cohort_n",
        (
            F.expr(
                "(2 * n_active * 1000000 + cohort_n) DIV (2 * cohort_n)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("retention"),
    )


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "text",
) -> DataFrame:
    """Corpus snapshot delta — the CDC companion of ``latest_by_key``:
    given two snapshots of the same keyed corpus, classify every key as
    ``added`` (new only), ``removed`` (old only), ``changed`` (both,
    different content) or ``unchanged``. This is the audit a pipeline
    runs between crawl refreshes before re-spending dedup/training
    compute on an unchanged corpus.

    Scale shape: each side collapses to (key, xxhash64(payload)) at
    the scan, so the one full-outer shuffle join moves 16-byte rows —
    document text never crosses an exchange. Comparing hashes instead
    of payloads is the content-addressed-storage trade: a collision
    misclassifies a changed doc as unchanged with probability ~2⁻⁶⁴
    per pair (the value-checked oracle compares raw text and agrees on
    every fixture row, confirming zero collisions). Presence on each
    side is carried as an explicit flag — key-absence must not be
    inferred from hash-nullness, because a present row with a NULL
    payload also hashes to NULL (the hash is NULL-guarded so that a
    NULL-vs-NULL payload pair classifies 'changed', matching SQL's
    ``o.text = n.text`` three-valued logic).

    PRECONDITION (ADVICE r5): ``id_col`` must be UNIQUE within each
    snapshot. A duplicated key fans out in the full-outer join and
    emits one (possibly conflicting) status row per old×new pairing —
    silent row multiplication, not an error. Crawl snapshots with
    repeated ids must be compacted first (``latest_by_key`` is the
    companion built for exactly that), or pre-aggregated to one
    payload per key."""
    o = old_df.select(
        F.col(id_col),
        F.when(
            F.col(payload_col).isNotNull(), F.xxhash64(F.col(payload_col))
        ).alias("_h_old"),
        F.lit(True).alias("_in_old"),
    )
    n = new_df.select(
        F.col(id_col),
        F.when(
            F.col(payload_col).isNotNull(), F.xxhash64(F.col(payload_col))
        ).alias("_h_new"),
        F.lit(True).alias("_in_new"),
    )
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") == F.col("_h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, id_col, "full_outer").select(
        F.col(id_col), status.alias("status")
    )


def embedding_qa(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    dim: int = 64,
) -> DataFrame:
    """Vector-column data QA — ``profile_columns`` for an
    ``array<float>`` embedding column: per group, the vector count,
    wrong-dimension count, null-vector count, zero-vector count, and
    the L2-norm min/max/mean (a collapsed or exploding norm
    distribution is the first symptom of a broken embedder run).

    Cross-engine determinism: the squared norm is a LEFT-TO-RIGHT
    fold over the float values cast to double (identical sequential
    summation on DuckDB's ``list_reduce``), norms round to 6 places,
    and the group MEAN is an exact DECIMAL(18,6) sum divided by the
    count — never a float SUM over rows, whose accumulation order
    differs between engines. One scan, one partial-aggregated
    exchange on the (tiny) group key; the fold is per-row mapper work."""
    v = F.col(vec_col)
    norm_sq = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norm = F.round(F.sqrt(norm_sq), 6)
    base = df.select(
        F.col(group_col),
        F.size(v).alias("_len"),  # NULL for NULL arrays (Spark 4 default)
        F.when(v.isNotNull(), norm).alias("_norm"),
    )
    return (
        base.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum(F.when(F.col("_len").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null"),
            F.sum(
                F.when(
                    F.col("_len").isNotNull() & (F.col("_len") != dim), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_dim_bad"),
            F.sum(F.when(F.col("_norm") == 0.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero"),
            F.min("_norm").alias("min_norm"),
            F.max("_norm").alias("max_norm"),
            F.sum(F.col("_norm").cast("decimal(18,6)")).alias("_norm_sum"),
            F.count("_norm").cast("bigint").alias("_n_norm"),
        )
        .select(
            F.col(group_col),
            "n_vecs",
            "n_null",
            "n_dim_bad",
            "n_zero",
            "min_norm",
            "max_norm",
            # denominator = vectors whose norm actually summed
            # (self-review r12: a vector containing a NULL element has
            # a NULL norm — excluded from the sum yet previously still
            # counted in the denominator, underestimating mean_norm
            # exactly when an embedder is broken)
            (
                F.col("_norm_sum")
                / F.col("_n_norm").cast("double")
            )
            .cast("double")
            .alias("mean_norm"),
        )
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    grain: str = "day",
) -> DataFrame:
    """Cohort retention matrix: users grouped by FIRST-active period,
    counted in every period-offset they were active. NOT the same
    operator as :func:`cohort_retention` (see its docstring for the
    anchor/output differences). All calendar
    arithmetic is integer — day index = datediff(epoch), week =
    day DIV 7 (epoch-anchored weeks), month = year·12 + month — so
    the matrix is exact on any engine. Two exchanges — distinct
    (user, period) then the min-period per user — both on the user
    key, so the second reuses the first's partitioning. Output:
    (cohort_start DATE = first day of the cohort period,
    offset_periods, n_users)."""
    day = F.datediff(F.to_date(ts_col), F.lit("1970-01-01").cast("date"))
    if grain == "day":
        m, back = day.cast("bigint"), "CAST(_c AS INT)"
    elif grain == "week":
        m = F.expr(
            f"CAST(datediff(to_date({ts_col}), DATE '1970-01-01') DIV 7 AS BIGINT)"
        )
        back = "CAST(_c * 7 AS INT)"
    elif grain == "month":
        m = (F.year(ts_col) * F.lit(12) + F.month(ts_col)).cast("bigint")
        back = (
            "CAST(datediff(make_date(CAST((_c - 1) DIV 12 AS INT), "
            "CAST((_c - 1) % 12 + 1 AS INT), 1), DATE '1970-01-01') AS INT)"
        )
    else:
        raise ValueError(f"retention_cohorts: unknown grain {grain!r}")
    active = events.select(F.col(user_col).alias("_u"), m.alias("_m")).distinct()
    first = active.groupBy("_u").agg(F.min("_m").alias("_c"))
    return (
        active.join(first, "_u")
        .groupBy(
            F.expr(f"date_add(DATE '1970-01-01', {back})").alias("cohort_start"),
            (F.col("_m") - F.col("_c")).cast("bigint").alias("offset_periods"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("cohort_start", "offset_periods")
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order behavioral transition matrix: per user, consecutive
    event-type pairs under a TOTAL order (ts, tiebreak) — equal
    timestamps cannot reorder across engines or partitionings — then
    (from_type, to_type, n, prob_ppm) with prob_ppm the exact integer
    share of the from-type's outgoing transitions (n·10^6 DIV
    row-total). One window shuffle on the user key + one small
    groupBy."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        events.select(
            F.col(user_col),
            F.col(type_col).alias("to_type"),
            F.col(ts_col),
            F.col(tiebreak_col),
        )
        .withColumn("from_type", F.lag("to_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wf = Window.partitionBy("from_type")
    return (
        pairs.withColumn("_tot", F.sum("n").over(wf))
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("n * 1000000 DIV _tot").cast("bigint").alias("prob_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


def event_ngrams(
    events: DataFrame,
    n: int = 3,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    min_support: int = 1,
) -> DataFrame:
    """Sequential pattern mining, n-gram tier: contiguous length-n
    event-type sequences per user under the total (ts, tiebreak)
    order, counted corpus-wide with a support threshold. The lead
    chain is one window pass (n−1 leads over the same user-keyed
    window — one shuffle), the count one small groupBy; PrefixSpan-
    style gap patterns are deliberately out of scope (contiguous
    n-grams are the honest one-pass tier, the textan n-gram story
    applied to behavior). Returns (pattern array<string>, support)
    ordered by support desc, pattern."""
    if n < 2:
        raise ValueError("event_ngrams: n must be >= 2")
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    cols = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, int(n))
    ]
    pat = F.array(*cols)
    return (
        events.select(pat.alias("pattern"))
        .filter(F.forall("pattern", lambda x: x.isNotNull()))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= int(min_support))
        .orderBy(F.desc("support"), "pattern")
    )


def concurrency_timeline(
    intervals: DataFrame,
    start_col: str = "start",
    end_col: str = "end",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact interval-overlap sweep: +1 at each start, −1 at each end
    (half-open [start, end) — an interval ending exactly when another
    begins does NOT overlap it), cumulative-sum over the event points
    per group. One window shuffle on (group, ts); the output is the
    exact concurrency step function (ts, concurrent), the classic
    'peak simultaneous sessions' primitive — never a per-timestamp
    explode, so cost is O(2·intervals), not O(span/resolution).
    Equal-timestamp starts and ends collapse into one point whose
    delta sums both (ends apply before the point's reading would
    double-count: summing deltas at the SAME ts yields the value
    holding from that instant on)."""
    group_cols = list(group_cols or [])
    pts = intervals.select(
        *group_cols, F.col(start_col).alias("ts"), F.lit(1).alias("_d")
    ).unionAll(
        intervals.select(
            *group_cols, F.col(end_col).alias("ts"), F.lit(-1).alias("_d")
        )
    )
    merged = pts.groupBy(*group_cols, "ts").agg(F.sum("_d").alias("_delta"))
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return merged.select(
        *group_cols,
        "ts",
        F.sum("_delta").over(w).cast("bigint").alias("concurrent"),
    ).orderBy(*group_cols, "ts")
