"""Dashboard serving for ``analytics_read``: a closed loop of one
client with no think time, each request one dashboard page —
``dashboard_payload(d1, d2)`` with every frame collected — over a
seeded sf0.01 star schema whose orders table is partitioned by month
(``o_month=YYYY-MM``, 80 partitions).

Pages come in rounds of two: the default page (the last 30 days of
data) and a single day at a seeded position, so both prune orders to
one or two months; ``cohort_retention`` is unbounded and scans every
month on every page. Every run serves at least one whole round, and
further whole rounds while one still fits in the measured seconds.
Pages are checked, after the loop, frame by frame against the engine's
DuckDB oracles over the same parquet.
"""

from __future__ import annotations

import os
import random
import time
from datetime import date, timedelta

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import datagen
from .common import Clock, Context, median
from .metrics import FRAMES
from .tracing import Tracer, jobs_of, patched, subtree, total

SF = {"full": 0.01, "tiny": 0.002}
FIRST, LAST = date(1995, 1, 1), date(2001, 8, 1)
#: Window widths in days of one round of pages; None is the default page
#: (the last 30 days of data). A full-range page would cost a quarter
#: more than these and does not fit the run-time budget.
WIDTHS = [None, 1]
_WINDOWED = ("kpis", "revenue_timeseries", "top_products", "category_mix", "geo_rollup")


def windows(seed: int, n: int) -> list:
    """``n`` (d1, d2) windows, the i-th of width ``WIDTHS[i % len(WIDTHS)]``."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        width = WIDTHS[i % len(WIDTHS)]
        if width is None:
            out.append((None, None))
            continue
        span = (LAST - FIRST).days + 1 - width
        d1 = FIRST + timedelta(days=rng.randint(0, max(span, 0)))
        out.append((d1.isoformat(), (d1 + timedelta(days=width - 1)).isoformat()))
    return out


class Dashboard:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "data")

    def generate(self) -> dict:
        info = datagen.star_schema(self.data, SF[self.ctx.size], self.ctx.seed)
        path = os.path.join(self.data, "orders.parquet")
        table = pq.read_table(path)
        table = table.append_column("o_month", pc.strftime(table["o_orderdate"], "%Y-%m"))
        os.remove(path)
        pq.write_to_dataset(table, path, partition_cols=["o_month"],
                            basename_template="part-{i}.parquet")
        return info

    def page(self, d1, d2, tracer: Tracer) -> dict:
        """One page: the payload's plans, then every frame collected.
        Spans (when the tracer is on) cover the payload call and each
        frame's collect; the catalog loads inside the payload are
        spanned at their import site in ``plans.analytics``."""
        from py_etl_pipeline_woocommerce_spark.plans.dashboard import dashboard_payload

        with tracer.span("dashboard.dashboard_payload"):
            payload = dashboard_payload(self.ctx.spark, self.data, d1, d2)
        out = {}
        for k, v in payload.items():
            with tracer.span(f"analytics.{k}"):
                out[k] = v.toPandas()
        return out

    def warm_up(self) -> None:
        """The default window's KPI frame: one orders load and query."""
        from py_etl_pipeline_woocommerce_spark.plans.analytics import kpis

        kpis(self.ctx.spark, self.data).toPandas()

    def serve(self, tracer: Tracer, seconds: float, trace: bool) -> list:
        """Whole rounds of ``len(WIDTHS)`` pages: one, then more while
        another round, as long as the last, still ends within
        ``seconds``. A traced run serves each window twice, traced then
        untraced. Catalog loads are spanned where ``plans.analytics``
        imports ``load_table``."""
        from py_etl_pipeline_woocommerce_spark.plans import analytics

        wins = iter(windows(self.ctx.seed, 10_000))
        pages = []
        clock = Clock(seconds)
        load = tracer.wrap("catalog.load_table", analytics.load_table)
        with patched([(analytics, "load_table", load)] if trace else []):
            last = 0.0
            while not pages or clock.left(last):
                t0 = time.perf_counter()
                for _ in WIDTHS:
                    d1, d2 = next(wins)
                    if trace:
                        pages.append(self._timed_page(tracer, d1, d2, True))
                    pages.append(self._timed_page(tracer, d1, d2, False))
                last = time.perf_counter() - t0
        return pages

    def _timed_page(self, tracer: Tracer, d1, d2, traced: bool) -> dict:
        err, frames = None, None
        t0 = time.perf_counter()
        try:
            with tracer.active(traced), tracer.span("bench.page"):
                frames = self.page(d1, d2, tracer)
        except Exception as e:  # a failed page is counted, not fatal
            err = f"page {d1}..{d2}: {type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        return {"d1": d1, "d2": d2, "wall": wall, "traced": traced, "frames": frames,
                "detail": err, "spans": tracer.take() if traced else []}


def page_layers(pages: list) -> dict:
    rows = []
    for p in pages:
        spans = p["spans"]
        root = next(s for s in spans if s.name == "bench.page")
        jobs = jobs_of(subtree(root, spans))
        row = {f"analytics.{k}_s": sum(s.wall_s for s in spans if s.name == f"analytics.{k}")
               for k in FRAMES}
        row.update({
            "catalog.load_s_per_page": sum(s.wall_s for s in spans
                                           if s.name == "catalog.load_table"),
            "catalog.scan_mb_per_page": total(jobs, "input_mb"),
            "analytics.cpu_s_per_page": total(jobs, "cpu_s"),
            "analytics.shuffle_mb_per_page": total(jobs, "shuffle_write_mb"),
            "analytics.jobs_per_page": len(jobs),
        })
        rows.append(row)
    return {k: median([r[k] for r in rows]) for k in (rows[0] if rows else {})}


# ------------------------------------------------------------------ check


def duck_con(data: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    con.execute(
        "CREATE VIEW orders AS SELECT * EXCLUDE (o_month) FROM read_parquet("
        f"'{data}/orders.parquet/*/*.parquet', hive_partitioning = true)"
    )
    return con


def check_pages(data: str, pages: list) -> int:
    """Pages whose frames differ from the DuckDB oracle, plus pages
    that raised. The mismatch goes to the page's ``detail``."""
    import __spark_entry__ as entry
    from tools.selfcheck import compare

    oracles = entry.oracle_sql()
    con = duck_con(data)
    cache: dict = {}
    failed = 0
    try:
        for p in pages:
            if p["detail"]:
                failed += 1
                continue
            if p["d1"] is None:
                bounds = entry._DEF_BOUNDS
            else:
                nxt = (date.fromisoformat(p["d2"]) + timedelta(days=1)).isoformat()
                bounds = (f"o_orderdate >= TIMESTAMP '{p['d1']} 00:00:00' "
                          f"AND o_orderdate < TIMESTAMP '{nxt} 00:00:00'")
            for k in FRAMES:
                if k in _WINDOWED:
                    sql = oracles[f"{k}_bounded"].replace(entry._BOUNDS, bounds)
                else:
                    sql = oracles[k]
                if sql not in cache:
                    cache[sql] = con.execute(sql).df()
                verdict = compare(k, p["frames"][k], cache[sql])
                if verdict != "OK":
                    p["detail"] = f"page {p['d1']}..{p['d2']} {k}: {verdict}"
                    failed += 1
                    break
    finally:
        con.close()
    return failed
