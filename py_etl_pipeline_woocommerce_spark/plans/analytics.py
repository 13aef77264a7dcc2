"""Dashboard analytics — the six queries served by the reference's
Streamlit app (``/root/reference/src/dashboard/app.py``), re-expressed
as Spark plans over the star schema.

Each frame has a builder, ``build_<frame>(table, ...)``, over
``table``: a catalog loader from ``tables`` (or any name → DataFrame
lookup, such as ``catalog.register_views``' dict). The public
``<frame>(spark, sf_dir, ...)`` function loads its own tables and calls
the builder; ``dashboard_payload`` shares one loader across a whole
page. Every frame's column names match the ``oracle_sql()`` twin
exactly (the correctness harness sorts columns by name).

Determinism: money aggregates run in exact decimal end-to-end and the
ordering keys for every LIMIT are (exact-decimal metric, name) so the
selected top-N set is unambiguous.

Scale notes: the single fact⋈fact shuffle is lineitem⋈orders on
order key; dims are broadcast. Aggregations are map-side combined;
date filters push to the parquet scan.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.money import disc_price
from ..operators.refunds import REFUND_FLAG

#: A catalog table by name.
TableLookup = Callable[[str], DataFrame]


def tables(spark: SparkSession, sf_dir: str) -> TableLookup:
    """A loader that reads each catalog table at most once over its
    own lifetime. A parquet load lists the table's files eagerly (on
    a month-partitioned ``orders``, one Spark job over every
    partition directory), so frames built from one loader share one
    listing; each frame still prunes partitions from that cached
    listing with its own filters.

    Keep a loader for one request only: the ingest rewrites month
    partitions, so a listing held across requests would serve stale
    or deleted files.
    """
    return functools.cache(lambda name: load_table(spark, sf_dir, name))


# Net revenue of a line, zero for refunded lines — the lineitem-grain
# equivalent of app.py's `total - COALESCE(refunded_total, 0)`.
# NULL-SAFE: only an explicit 'R' refunds; a NULL l_returnflag counts
# as KEPT revenue, the same policy kpis' refunds column (== 'R')
# applies — a bare != would zero NULL-flag lines and make the
# dashboard payload disagree with its own KPI total (the engine's
# documented NULL-comparison bug class).
def _net_line():
    return F.when(
        F.col("l_returnflag").eqNullSafe(REFUND_FLAG),
        F.lit(0).cast("decimal(18,2)"),
    ).otherwise(disc_price())


def _bound_orders(orders: DataFrame, d1: str | None, d2: str | None) -> DataFrame:
    """Inclusive date-range filter on ``o_orderdate`` — the dashboard's
    ``WHERE CAST(order_date AS DATE) BETWEEN d1 AND d2`` sidebar filter
    (app.py:24-119 passes the pair into every query).

    Expressed as raw timestamp comparisons (``>= d1`` / ``< d2+1day``,
    the end date materialized in Python) so the predicate pushes down
    to the parquet scan as-is — a ``to_date()`` wrapper would compute
    per row and read every row group.

    At 100 TB the orders table is laid out partitioned by month
    (``o_month=YYYY-MM`` directories); when that partition column is
    present the same bounds ALSO become month-literal partition
    filters, so the scan skips whole directories — row-group pushdown
    only saves decode, partition pruning saves the listing and I/O
    entirely (plan-guarded in test_plan_guards.py).
    """
    # BOTH bounds parse through date.fromisoformat and the month
    # partition slice derives from the PARSED (zero-padded) date: a
    # sloppy '1995-1-01' would pass Spark's row-level timestamp cast
    # but its raw [:7] slice ('1995-1') sorts ABOVE every real
    # 'YYYY-MM' value lexicographically — pruning away every
    # partition and returning a silently empty dashboard.
    d2_obj = None
    if d1 is not None:
        d1 = date.fromisoformat(d1).isoformat()
    if d2 is not None:
        d2_obj = date.fromisoformat(d2)
        d2 = d2_obj.isoformat()
    if "o_month" in orders.columns:
        if d1 is not None:
            orders = orders.filter(F.col("o_month") >= d1[:7])
        if d2 is not None:
            orders = orders.filter(F.col("o_month") <= d2[:7])
    if d1 is not None:
        orders = orders.filter(
            F.col("o_orderdate") >= F.lit(f"{d1} 00:00:00").cast("timestamp")
        )
    if d2 is not None:
        nxt = (d2_obj + timedelta(days=1)).isoformat()
        orders = orders.filter(
            F.col("o_orderdate") < F.lit(f"{nxt} 00:00:00").cast("timestamp")
        )
    return orders


def _window_lines(table: TableLookup, d1: str | None, d2: str | None) -> DataFrame:
    """lineitem restricted to the window's orders by a semi-join on
    the date-filtered (scan-pushed) order keys; every line when the
    window is open on both ends."""
    lineitem = table("lineitem")
    if d1 is None and d2 is None:
        return lineitem
    keys = _bound_orders(table("orders"), d1, d2).select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    return lineitem.join(keys, "l_orderkey", "left_semi")


def date_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_date_bounds(tables(spark, sf_dir))


def build_date_bounds(table: TableLookup) -> DataFrame:
    """min/max order date (app.py:10-22 ``fetch_date_bounds``),
    including the reference's empty-table fallback: no orders →
    (today − 30 days, today). ``current_date`` only evaluates on the
    empty branch, so the populated-table result stays deterministic
    and engine-exact."""
    orders = table("orders")
    d = F.date_format("o_orderdate", "yyyy-MM-dd")
    iso = "yyyy-MM-dd"
    return orders.agg(
        F.coalesce(
            F.min(d),
            F.date_format(F.date_sub(F.current_date(), 30), iso),
        ).alias("min_d"),
        F.coalesce(
            F.max(d), F.date_format(F.current_date(), iso)
        ).alias("max_d"),
    )


def kpis(
    spark: SparkSession,
    sf_dir: str,
    d1: str | None = None,
    d2: str | None = None,
) -> DataFrame:
    return build_kpis(tables(spark, sf_dir), d1, d2)


def build_kpis(
    table: TableLookup, d1: str | None = None, d2: str | None = None
) -> DataFrame:
    """Headline KPIs (app.py:24-45 ``load_kpis``): order count, net
    before refunds, refund total, net after refunds, AOV.

    Money sums at line grain (associative, so Σ_orders Σ_lines =
    Σ_lines); the ORDER COUNT comes from the orders table itself —
    app.py's COUNT(*) over fct_orders — so a zero-line order (fully
    cancelled, items purged) still counts and AOV's denominator
    matches the reference. Empty windows return 0s, not NULLs
    (app.py COALESCEs every KPI). With a date range the line scan is
    restricted to in-range orders via a key join against the
    date-filtered (scan-pushed) orders projection; the order count is
    a second 1-row aggregate of the same pruned scan, broadcast in.
    """
    orders = _bound_orders(table("orders"), d1, d2)
    lineitem = _window_lines(table, d1, d2)
    o_cnt = orders.agg(F.count(F.lit(1)).alias("orders_cnt"))
    agg = lineitem.agg(
        F.sum(disc_price()).alias("_net"),
        F.sum(
            F.when(F.col("l_returnflag") == REFUND_FLAG, disc_price()).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("_ref"),
    )
    dec0 = F.lit(0).cast("decimal(24,4)")
    net = F.coalesce("_net", dec0)
    ref = F.coalesce("_ref", dec0)
    # round-to-cents before every double boundary (the engine-wide
    # fixed-cardinality money contract; see pricing_summary): these
    # scale-4 sums grow with the whole table, and the rounded cents
    # stay exactly representable/engine-identical far past where the
    # raw scale-4 unscaled value crosses 2^53. AOV divides the
    # ROUNDED net so the published ratio is consistent with the
    # published numerator.
    return agg.join(F.broadcast(o_cnt)).select(
        F.col("orders_cnt"),
        F.round(net, 2).cast("double").alias("net_before_refunds"),
        F.round(ref, 2).cast("double").alias("refunds"),
        F.round(net - ref, 2).cast("double").alias("net_after_refunds"),
        F.when(
            F.col("orders_cnt") > 0,
            F.round(net, 2).cast("double") / F.col("orders_cnt"),
        )
        .otherwise(F.lit(0.0))
        .alias("aov"),
    )


def revenue_timeseries(
    spark: SparkSession,
    sf_dir: str,
    d1: str | None = None,
    d2: str | None = None,
) -> DataFrame:
    return build_revenue_timeseries(tables(spark, sf_dir), d1, d2)


def build_revenue_timeseries(
    table: TableLookup, d1: str | None = None, d2: str | None = None
) -> DataFrame:
    """Net revenue per order date (app.py:47-62 ``load_timeseries``),
    optionally bounded to ``[d1, d2]`` like the dashboard's sidebar."""
    orders = _bound_orders(table("orders"), d1, d2).select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("d")
    )
    lineitem = table("lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("d")
        # round-to-cents before the double boundary (money contract)
        .agg(F.round(F.sum(_net_line()), 2).cast("double").alias("net"))
    )


def top_products(
    spark: SparkSession,
    sf_dir: str,
    limit: int = 15,
    d1: str | None = None,
    d2: str | None = None,
) -> DataFrame:
    return build_top_products(tables(spark, sf_dir), limit, d1, d2)


def build_top_products(
    table: TableLookup,
    limit: int = 15,
    d1: str | None = None,
    d2: str | None = None,
) -> DataFrame:
    """Top products by refund-net revenue (app.py:64-81
    ``load_top_products``): name, revenue, qty_sold.

    part is broadcast; an optional order-date window restricts lines
    via a semi-join on date-filtered order keys (scan-pushed). The
    LIMIT is globally deterministic via (revenue DESC, name ASC) on
    the exact decimal metric.
    """
    lineitem = _window_lines(table, d1, d2)
    part = table("part").select(
        F.col("p_partkey"), F.col("p_name").alias("name")
    )
    not_ref = ~F.col("l_returnflag").eqNullSafe(REFUND_FLAG)
    # LEFT join (app.py reads the item fact, where an unresolved
    # product keeps its revenue): a line whose l_partkey has no part
    # row must not silently vanish from the report — it groups under
    # the NULL name
    agg = (
        lineitem.join(
            part, lineitem.l_partkey == part.p_partkey, "left"
        )
        .groupBy("name")
        .agg(
            F.sum(_net_line()).alias("_rev"),
            # decimal sum + floor, not a double sum cast to bigint:
            # fractional (weight-based) quantities would make the
            # double fold order-dependent AND hit the Spark-truncates
            # vs DuckDB-rounds bigint-cast dialect seam (the
            # normalize.py quantity-floor policy, applied at the agg)
            F.floor(
                F.sum(
                    F.when(
                        not_ref, F.col("l_quantity").cast("decimal(18,2)")
                    ).otherwise(F.lit(0).cast("decimal(18,2)"))
                )
            ).cast("bigint").alias("qty_sold"),
        )
    )
    return (
        agg.orderBy(F.col("_rev").desc(), F.col("name"))
        .limit(limit)
        .select("name", F.col("_rev").cast("double").alias("revenue"), "qty_sold")
    )


def category_mix(
    spark: SparkSession,
    sf_dir: str,
    limit: int = 15,
    d1: str | None = None,
    d2: str | None = None,
) -> DataFrame:
    return build_category_mix(tables(spark, sf_dir), limit, d1, d2)


def build_category_mix(
    table: TableLookup,
    limit: int = 15,
    d1: str | None = None,
    d2: str | None = None,
) -> DataFrame:
    """Revenue by product category (app.py:83-99 ``load_category_mix``)
    — category := p_type (the snapshot string of ``operators.enrich``);
    optional order-date window as in ``top_products``."""
    lineitem = _window_lines(table, d1, d2)
    part = table("part").select(
        F.col("p_partkey"), F.col("p_type").alias("category")
    )
    # LEFT join + 'Uncategorized' bucket: app.py's
    # COALESCE(NULLIF(TRIM(category_snapshot),''),'Uncategorized')
    # retains lines whose product lookup failed (enrich leaves the
    # snapshot NULL for unknown products) — an inner join would make
    # their revenue vanish from the mix
    cat = F.coalesce(
        F.nullif(F.trim("category"), F.lit("")), F.lit("Uncategorized")
    )
    agg = (
        lineitem.join(
            part, lineitem.l_partkey == part.p_partkey, "left"
        )
        .groupBy(cat.alias("category"))
        .agg(F.sum(_net_line()).alias("_rev"))
    )
    return (
        agg.orderBy(F.col("_rev").desc(), F.col("category"))
        .limit(limit)
        .select("category", F.col("_rev").cast("double").alias("revenue"))
    )


def geo_rollup(
    spark: SparkSession,
    sf_dir: str,
    limit: int = 20,
    d1: str | None = None,
    d2: str | None = None,
) -> DataFrame:
    return build_geo_rollup(tables(spark, sf_dir), limit, d1, d2)


def build_geo_rollup(
    table: TableLookup,
    limit: int = 20,
    d1: str | None = None,
    d2: str | None = None,
) -> DataFrame:
    """Orders + net by geography (app.py:101-119 ``load_geo``) —
    country/city become nation/region in the star schema.

    ORDERS-grain: app.py's COUNT(*) runs over fct_orders, so a
    zero-line order still counts toward its geography (the per-order
    net left-joins in as 0) — and EVERY in-window order counts, even
    one whose customer/nation/region cannot be resolved: app.py
    buckets blank geography under '\u2014' (COALESCE(NULLIF(...),
    '\u2014')), so the geography chain is LEFT joins with the same
    em-dash bucket, keeping this frame's order total equal to the
    kpis header (an inner join silently shrank it on dangling keys).
    nation/region are broadcast; customer is AQE-sized (it grows
    with SF — the catalog broadcast contract); the only fixed
    shuffle is the lineitem->order-key aggregation, and with a date
    window set the line scan is first semi-join-restricted to the
    bounded order keys like every other windowed frame (the full-fact
    aggregate would shuffle 100% of lineitem to keep the window's
    slice).
    """
    lineitem = _window_lines(table, d1, d2)
    orders = _bound_orders(table("orders"), d1, d2).select(
        "o_orderkey", "o_custkey"
    )
    customer = table("customer").select("c_custkey", "c_nationkey")
    nation = table("nation")
    region = table("region")

    per_order = lineitem.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(_net_line()).alias("_order_net")
    )
    geo = orders.join(per_order, "o_orderkey", "left")
    geo = (
        geo.join(customer, geo.o_custkey == customer.c_custkey, "left")
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == nation.n_nationkey,
            "left",
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == region.r_regionkey,
            "left",
        )
    )
    dash = "\u2014"
    agg = geo.groupBy(
        F.coalesce(F.col("r_name"), F.lit(dash)).alias("region"),
        F.coalesce(F.col("n_name"), F.lit(dash)).alias("country"),
    ).agg(
        F.count(F.lit(1)).alias("orders"),
        F.sum(
            F.coalesce("_order_net", F.lit(0).cast("decimal(24,4)"))
        ).alias("_net"),
    )
    return (
        agg.orderBy(F.col("_net").desc(), F.col("region"), F.col("country"))
        .limit(limit)
        .select("region", "country", "orders", F.col("_net").cast("double").alias("net"))
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_cohort_retention(tables(spark, sf_dir))


def build_cohort_retention(table: TableLookup) -> DataFrame:
    """Monthly acquisition-cohort retention: customers grouped by the
    month of their first order; for each (cohort, months-since) cell,
    how many of them ordered and how many orders they placed.

    The cohort frame is an aggregate of orders (one shuffle on
    custkey); joined back it is far smaller than orders, so AQE
    broadcasts it and the cell aggregation is the only other shuffle.
    Month index is integer year*12+month arithmetic — no interval
    semantics to disagree over between engines.
    """
    orders = table("orders").select("o_custkey", "o_orderdate")
    first = orders.groupBy("o_custkey").agg(F.min("o_orderdate").alias("_fd"))
    month_num = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    joined = orders.join(first, "o_custkey")
    return (
        joined.groupBy(
            F.date_format("_fd", "yyyy-MM").alias("cohort_month"),
            (month_num(F.col("o_orderdate")) - month_num(F.col("_fd")))
            .cast("int")
            .alias("month_idx"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
