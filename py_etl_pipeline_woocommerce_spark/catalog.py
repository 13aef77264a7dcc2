"""Testdata catalog: load the driver's star schema and register views.

Tables (TPC-H-ish + events/documents/embeddings) live as one parquet
file per table under ``/root/testdata/sf{SF}/``. At 100 TB each
"file" would be a partitioned parquet/iceberg dataset; everything here
goes through ``spark.read.parquet`` so the path can be a directory of
thousands of files without code changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to FORCE-broadcast at ANY scale
#: factor: region=5 rows and nation=25 rows, constant by the schema.
#: part/supplier/customer GROW with SF (200k/10k/150k rows per SF) —
#: dim-sized relative to the facts, but a forced F.broadcast hint on
#: them bypasses the 8 GB broadcast ceiling and OOMs at large SF, so
#: they are joined UNHINTED and AQE broadcasts them whenever they
#: actually fit (which at small/mid SF they always do). ENFORCED by
#: tests/test_plan_guards.py::test_constant_dims_never_shuffle, which
#: fails any driver query whose plan hash-exchanges these dims.
BROADCAST_DIMS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table, normalized to the engine's contracts.

    SESSION-GLOBAL SIDE EFFECTS, by design: the session timezone is
    pinned to UTC on every call (timestamp literals and date_format
    must be timezone-stable regardless of how the host session was
    built — the oracle-parity contract), and loading ``events`` sets
    ``spark.sql.legacy.parquet.nanosAsLong`` for the session (there
    is no per-read option; TIMESTAMP(NANOS) files cannot be read
    without it). A host application embedding the engine in a session
    whose timezone or nanos semantics it relies on should use a
    separate SparkSession (``SparkSession.newSession()`` shares the
    cluster but isolates runtime conf).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Timestamp literals in filters and date_format() must be
    # timezone-stable regardless of how the host session was built.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # The events.ts physical type has varied across testdata
        # generations: TIMESTAMP(NANOS) (no native Spark type — read
        # as BIGINT nanoseconds via nanosAsLong) or TIMESTAMP(MICROS)
        # (arrives as TIMESTAMP_NTZ). Downstream operators contract on
        # BIGINT *nanoseconds*, so normalize either form here.
        # Session-level runtime conf so externally-built sessions (the
        # driver's) work too.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type.startswith("timestamp"):
            from pyspark.sql import functions as F

            df = df.withColumn(
                "ts",
                F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000),
            )
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (for the SQL surface)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def register_model_views(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """SQL surface parity with the reference's DuckDB warehouse: on
    top of the base-table views, register the derived model as temp
    views — ``fct_orders`` / ``fct_order_items`` (the two tables
    ``ddl.sql`` defines) plus the six dashboard marts — so a SQL user
    can ``spark.sql("SELECT … FROM fct_orders WHERE …")`` exactly as
    they query the reference warehouse today. Views are lazy logical
    plans: every query through them gets full Catalyst
    pushdown/pruning, and a filter on a view prunes the underlying
    parquet scan like the hand-built DataFrame would.

    Registration loads each base table once: the mart builders take
    their tables from ``register_views``' dict instead of loading
    their own (a parquet load eagerly lists files and reads footers,
    which on a lake with thousands of files per table is the cost).
    """
    from .plans import analytics, woo_model

    dfs = register_views(spark, sf_dir)
    table = dfs.__getitem__
    model = {
        "fct_orders": woo_model.build_fct_orders(dfs["orders"], dfs["lineitem"]),
        "fct_order_items": woo_model.build_fct_order_items(
            dfs["lineitem"], dfs["part"]
        ),
        "mart_date_bounds": analytics.build_date_bounds(table),
        "mart_kpis": analytics.build_kpis(table),
        "mart_revenue_timeseries": analytics.build_revenue_timeseries(table),
        "mart_top_products": analytics.build_top_products(table),
        "mart_category_mix": analytics.build_category_mix(table),
        "mart_geo_rollup": analytics.build_geo_rollup(table),
    }
    for name, df in model.items():
        df.createOrReplaceTempView(name)
    dfs.update(model)
    return dfs
