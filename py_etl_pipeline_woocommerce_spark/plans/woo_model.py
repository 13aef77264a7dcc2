"""Warehouse fact builders: ``fct_orders`` and ``fct_order_items``.

Target shapes mirror ``/root/reference/src/etl/load/ddl.sql`` —
``fct_orders`` (order grain, money + refund columns) and
``fct_order_items`` (line grain, category + refund columns) — built
from the testdata star schema instead of the Woo REST payloads.

All money passes through exact-decimal aggregation
(``functions.money``) so the result is deterministic under any
partitioning and bit-identical to the ANSI-SQL oracle.

Scale notes (100 TB): the orders⋈lineitem join is fact⋈fact on the
natural key — both sides shuffle-hash on ``order_id`` once; AQE
handles skewed orders. The lineitem aggregation is partially applied
map-side before the shuffle (Spark does this automatically for
sum/count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.money import disc_price, gross_price, money, tax_amount
from ..operators.enrich import enrich_items_with_categories
from ..operators.normalize import normalize_items, normalize_orders
from ..operators.refunds import (
    REFUND_FLAG,
    apply_refunds_items,
    refund_aggregates,
)


def order_money_aggregates(lineitem: DataFrame) -> DataFrame:
    """Per-order money rollup from the line grain (exact decimal).

    gross = Σ price·(1-disc)·(1+tax); tax = Σ price·(1-disc)·tax;
    net = Σ price·(1-disc); refund = Σ net over returned lines —
    the lineitem-side equivalent of the reference's order payload
    fields (normalize_orders.py:36-43) + refunds map
    (refunds.py:49-56). One scan, one shuffle, map-side combined.
    """
    net = disc_price()
    refunded = F.when(
        F.col("l_returnflag") == REFUND_FLAG, net
    ).otherwise(F.lit(0).cast("decimal(18,2)"))
    return lineitem.groupBy(F.col("l_orderkey").alias("order_id")).agg(
        money(F.sum(gross_price())).alias("gross_total"),
        money(F.sum(tax_amount())).alias("total_tax"),
        money(F.sum(net)).alias("net_total"),
        money(F.sum(refunded)).alias("refund_total"),
        F.count(F.lit(1)).alias("n_items"),
    )


def fct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_fct_orders(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


def build_fct_orders(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Order-grain fact with refund-aware money (ddl.sql fct_orders).

    Columns: order_id, order_date, status, customer_id,
    order_priority, gross_total, total_tax, net_total, refund_total,
    net_after_refunds, n_items.
    """
    headers = normalize_orders(orders).drop("gross_total", "net_total", "refund_total")
    agg = order_money_aggregates(lineitem)
    # LEFT join: the reference emits EVERY order header (its own
    # payload totals ride along regardless of items), so an order with
    # zero line items must appear with 0 money / n_items=0 — an inner
    # join would silently drop it and undercount every order-grain
    # consumer (oracle in lockstep)
    joined = headers.join(agg, "order_id", "left")
    for c in ("gross_total", "total_tax", "net_total", "refund_total"):
        joined = joined.withColumn(c, F.coalesce(c, F.lit(0.0)))
    return joined.withColumn(
        "n_items", F.coalesce("n_items", F.lit(0).cast("long"))
    ).withColumn(
        "net_after_refunds", F.col("net_total") - F.col("refund_total")
    )


def fct_order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_fct_order_items(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def build_fct_order_items(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Line-grain fact: normalize -> enrich -> refunds
    (ddl.sql fct_order_items; pipeline order mirrors run.py:31-47)."""
    items = normalize_items(lineitem)
    items = enrich_items_with_categories(items, part)
    return apply_refunds_items(items)


__all__ = [
    "build_fct_order_items",
    "build_fct_orders",
    "fct_orders",
    "fct_order_items",
    "order_money_aggregates",
    "refund_aggregates",
]
