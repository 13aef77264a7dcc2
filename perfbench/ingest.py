"""``woo_ingest``: the ETL runner against a seeded fake WooCommerce API.

One windowed ``--backfill D1 D2`` loads the history into an empty
warehouse (``batch_s``); then incremental cycles (``main([])``, median
wall ``op_p50_s``) run in rounds of three while the API clock advances:
two extract the morning's orders, the night-time one extracts nothing
and takes the runner's re-enrich branch; category changes land between
cycles. After every operation, outside its timer, the warehouse is
checked against ``woo_api.Expected``.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from datetime import datetime, timedelta

import duckdb

from . import woo_api
from .common import Clock, Context, Outcome, file_state, median
from .tracing import ModuleProxy, Tracer, jobs_of, patched, subtree, total

START = "2024-01-01T00:00:00"
#: The backfill loads three month partitions (January to mid-March) in
#: one window; the cycles then land in March, so each cycle's moved-key
#: probe scans the two earlier months. A second window would add a
#: merge to the backfill and about a third to its time, which does not
#: fit the run-time budget.
SIZES = {
    "full": dict(backfill_days=75, future_days=10, orders_per_day=6,
                 n_products=300, change_hours=10, window_days=75),
    "tiny": dict(backfill_days=35, future_days=4, orders_per_day=2,
                 n_products=30, change_hours=10, window_days=35),
}
#: Hours after the backfill's end of the clocks of the three cycles of
#: round d, on day d: 09:00 and 12:00 extract the morning's orders, the
#: next 06:00 extracts nothing (orders arrive 06:00-12:00) and
#: re-enriches. A traced run traces every other cycle.
CYCLE_HOURS = (9, 12, 30)
FACTS = ("fct_orders", "fct_order_items")


def _at(hours: float) -> str:
    return (datetime.fromisoformat(START) + timedelta(hours=hours)).strftime(woo_api.ISO)


class Ingest:
    name = "woo_ingest"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.p = SIZES[ctx.size]
        self.api = os.path.join(ctx.work, "api")
        self.warm_api = os.path.join(ctx.work, "warm_api")
        self.d2_hours = 24 * self.p["backfill_days"]

    def generate(self) -> dict:
        gen = {k: self.p[k] for k in (
            "backfill_days", "future_days", "orders_per_day", "n_products", "change_hours")}
        info = woo_api.generate(self.api, self.ctx.seed, START, **gen)
        tiny = {k: SIZES["tiny"][k] for k in gen}
        woo_api.generate(self.warm_api, 0, START, **tiny)
        return info

    def _main(self, argv, transport):
        from py_etl_pipeline_woocommerce_spark.__main__ import main

        # the runner prints its stats line; keep stdout for the result
        with contextlib.redirect_stdout(sys.stderr):
            return main(argv, spark=self.ctx.spark, transport=transport)

    def _args(self, wh: str) -> list:
        return ["--warehouse", wh, "--retries", "0", "--lookback-days", "36500"]

    def warm_up(self) -> None:
        """Extract and parse a small fixed history through the engine's
        REST layer: starts the Python workers the extract fans out to."""
        from py_etl_pipeline_woocommerce_spark.sources import rest

        raw = rest.fetch_orders_since(
            self.ctx.spark, woo_api.FileTransport(self.warm_api, _at(24)), START)
        rest.items_frame(rest.parse_orders(raw)).count()

    # ------------------------------------------------------------ measure

    def _patches(self, tracer: Tracer) -> list:
        from py_etl_pipeline_woocommerce_spark.plans import woo_flow

        names = ("incremental_run", "re_enrich_run", "build_facts",
                 "stage_raw_orders", "_upsert_table", "upsert_partitioned_parquet")
        out = [(woo_flow, n, tracer.wrap(f"woo_flow.{n}", getattr(woo_flow, n)))
               for n in names]
        rest_fns = ["fetch_orders_since", "fetch_products_by_ids", "fetch_refunds_for_orders"]
        out.append((woo_flow, "rest", ModuleProxy(woo_flow.rest, tracer, rest_fns, "rest")))
        return out

    def measure(self, seconds: float) -> Outcome:
        ctx = self.ctx
        sc = ctx.spark.sparkContext
        counters = woo_api.make_counters(sc)
        wh = os.path.join(ctx.work, "wh")
        exp = woo_api.Expected(self.api)
        tracer = Tracer(ctx.spark)
        d1, d2 = START, _at(self.d2_hours)
        ops = []  # see _op
        failed = 0
        with patched(self._patches(tracer) if ctx.trace else []):
            args = self._args(wh) + ["--backfill", d1, d2,
                                     "--window-days", str(self.p["window_days"])]
            op = self._op("backfill", args, woo_api.FileTransport(self.api, d2, counters),
                          tracer, ctx.trace, wh)
            exp.backfill(d1, d2, d2)
            failed += self._verify(op, exp, wh)
            ops.append(op)
            rest = woo_api.read_counters(counters)
            # the backfill is a fixed phase; the cycles run in whole
            # rounds: one, then more while another still fits
            clock = Clock(seconds)
            day, last = 0, 0.0
            while day == 0 or clock.left(last):
                t0 = time.perf_counter()
                for hour in CYCLE_HOURS:
                    at = _at(self.d2_hours + 24 * day + hour)
                    traced = ctx.trace and len(ops) % 2 == 1
                    op = self._op("cycle", self._args(wh), woo_api.FileTransport(self.api, at),
                                  tracer, traced, wh)
                    exp.cycle(at)
                    failed += self._verify(op, exp, wh)
                    ops.append(op)
                day, last = day + 1, time.perf_counter() - t0
        backfill, cycles = ops[0], ops[1:]
        out = Outcome(
            op_s=[c["wall"] for c in cycles if not c["traced"]],
            batch_s=backfill["wall"],
            attempted=len(ops),
            failed=failed,
            # overhead compares like with like: non-empty cycles only
            traced_op_s=[c["wall"] for c in cycles if c["traced"] and c["orders"]],
            overhead_base=[c["wall"] for c in cycles if not c["traced"] and c["orders"]],
        )
        out.aliases = {
            "backfill_orders_per_s": (backfill["orders"] / backfill["wall"], "1/s"),
            "cycle_p50_s": (median(out.op_s), "s"),
            "cycles": (len(cycles), "count"),
            "empty_cycles": (sum(1 for c in cycles if c["orders"] == 0), "count"),
        }
        out.details = [op["detail"] for op in ops if op["detail"]]
        if ctx.trace:
            out.layers = self._layers(backfill, [c for c in cycles if c["traced"]], rest)
            out.spans = [s for op in ops for s in op["spans"]]
        return out

    def _op(self, kind, argv, transport, tracer, traced, wh) -> dict:
        before = {t: file_state(os.path.join(wh, t)) for t in FACTS} if traced else None
        err = None
        t0 = time.perf_counter()
        try:
            with tracer.active(traced), tracer.span(f"bench.{kind}"):
                res = self._main(argv, transport)
        except Exception as e:  # a failed operation is counted, not fatal
            res, err = {"orders": 0}, f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        op = {"kind": kind, "wall": wall, "traced": traced, "orders": res.get("orders", 0),
              "items": res.get("items", 0), "detail": err, "spans": [], "files": None}
        if traced:
            op["spans"] = tracer.take()
            op["files"] = (before, {t: file_state(os.path.join(wh, t)) for t in FACTS})
        return op

    def _verify(self, op: dict, exp: woo_api.Expected, wh: str) -> int:
        """1 when the operation raised or the warehouse disagrees with
        the replay, else 0; the first disagreement goes to ``detail``."""
        if op["detail"]:
            return 1
        t0 = time.perf_counter()
        try:
            got = warehouse_state(wh)
            op["rows"] = {"fct_orders": got["orders"], "fct_order_items": got["items"]}
            problems = check_warehouse(got, exp.state())
        except Exception as e:  # an unreadable warehouse is a mismatch
            problems = [f"check failed: {type(e).__name__}: {e}"]
        checks = self.ctx.notes.setdefault("check_s", {"warehouse": 0.0})
        checks["warehouse"] += time.perf_counter() - t0
        if problems:
            op["detail"] = f"{op['kind']}: " + "; ".join(problems[:3])
            return 1
        return 0

    # ------------------------------------------------------------- layers

    def _layers(self, backfill: dict, cycles: list, rest: dict) -> dict:
        n_orders = max(backfill["orders"], 1)
        requests = rest["orders_pages"] + rest["products_requests"] + rest["refunds_requests"]
        out = {
            "rest.orders_pages": rest["orders_pages"],
            "rest.products_requests": rest["products_requests"],
            "rest.refunds_requests": rest["refunds_requests"],
            "rest.requests_per_order": requests / n_orders,
            "rest.refunds_useful_ratio": rest["refunds_useful"] / max(rest["refunds_requests"], 1),
            "rest.api_wait_s": rest["wait_s"],
            "rest.response_mb": rest["response_bytes"] / 1e6,
            "rest.extract_s": rest["call_s"],
        }
        per = [cycle_layers(c) for c in cycles]
        full = [p for p, c in zip(per, cycles) if c["orders"]]
        empty = [p for p, c in zip(per, cycles) if not c["orders"]]
        pick = lambda rows, k: median([r[k] for r in rows])  # noqa: E731
        out.update({
            "woo_flow.jobs_per_cycle": pick(per, "jobs"),
            "woo_flow.tasks_per_cycle": pick(per, "tasks"),
            "woo_flow.facts_s": pick(full, "facts_s"),
            "woo_flow.stage_raw_s": pick(full, "stage_raw_s"),
            "woo_flow.re_enrich_s": pick(empty, "re_enrich_s"),
            "woo_flow.cpu_s_per_cycle": pick(per, "cpu_s"),
            "upsert.write_s": pick(full, "write_s"),
            "upsert.probe_s": pick(full, "probe_s"),
            "upsert.probe_input_mb": pick(full, "probe_input_mb"),
            "upsert.partitions_rewritten_per_cycle": pick(per, "partitions"),
            "upsert.files_written_per_cycle": pick(per, "files"),
        })
        written = sum(p["written_bytes"] for p in per)
        new = sum(p["new_row_bytes"] for p in per)
        out["upsert.write_amplification"] = written / new if new else 0.0
        return out


def cycle_layers(op: dict) -> dict:
    """Per-layer numbers of one traced operation."""
    spans = op["spans"]
    root = next(s for s in spans if s.name.startswith("bench."))
    jobs = jobs_of(subtree(root, spans))
    named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    probes = [j for s in named("woo_flow._upsert_table") for j in s.jobs
              if j.function == "_upsert_table" and j.action == "collect"]
    before, after = op["files"]
    written = parts = files = 0
    new_row_bytes = 0.0
    for t in FACTS:
        b, a = before[t], after[t]
        changed = [p for p, st in a.items() if b.get(p) != st]
        files += len(changed)
        written += sum(a[p][0] for p in changed)
        parts += len({p.split(os.sep)[0] for p in changed}
                     | {p.split(os.sep)[0] for p in b if p not in a})
        rows = op["orders"] if t == "fct_orders" else op["items"]
        size = sum(st[0] for st in a.values())
        n = _rows(op, t)
        new_row_bytes += rows * (size / n if n else 0.0)
    return {
        "jobs": len(jobs),
        "tasks": total(jobs, "tasks"),
        "cpu_s": total(jobs, "cpu_s"),
        "facts_s": sum(j.wall_s for j in jobs
                       if j.function == "_incremental_run_once" and j.action == "count"),
        "stage_raw_s": sum(s.wall_s for s in named("woo_flow.stage_raw_orders")),
        "re_enrich_s": sum(s.wall_s for s in named("woo_flow.re_enrich_run")),
        "write_s": sum(s.wall_s for s in named("woo_flow.upsert_partitioned_parquet")),
        "probe_s": sum(j.wall_s for j in probes),
        "probe_input_mb": sum(j.metrics["input_mb"] for j in probes),
        "partitions": parts,
        "files": files,
        "written_bytes": written,
        "new_row_bytes": new_row_bytes,
    }


def _rows(op: dict, table: str) -> int:
    return op.get("rows", {}).get(table, 0)


# ------------------------------------------------------------------ check


def _scan(wh: str, table: str) -> str:
    path = os.path.join(wh, table, "*", "*.parquet")
    return f"read_parquet('{path}', hive_partitioning = true)"


def warehouse_state(wh: str) -> dict:
    """The checked facts of the warehouse, read with DuckDB."""
    con = duckdb.connect()
    try:
        orders, net = con.execute(
            f"SELECT COUNT(*), COALESCE(SUM(net_after_refunds), 0) FROM {_scan(wh, 'fct_orders')}"
        ).fetchone()
        items = con.execute(f"SELECT COUNT(*) FROM {_scan(wh, 'fct_order_items')}").fetchone()[0]
        grains = {
            (o, p, v): (n, q, t)
            for o, p, v, n, q, t in con.execute(
                "SELECT order_id, product_id, variation_id, "
                "COUNT(*) FILTER (WHERE refunded_total <> 0 OR refunded_quantity <> 0), "
                "SUM(refunded_quantity), SUM(refunded_total) "
                f"FROM {_scan(wh, 'fct_order_items')} GROUP BY ALL "
                "HAVING COUNT(*) FILTER (WHERE refunded_total <> 0 OR refunded_quantity <> 0) > 0"
            ).fetchall()
        }
        cats = {
            (o, p, c): n
            for o, p, c, n in con.execute(
                "SELECT order_id, product_id, category_snapshot, COUNT(*) "
                f"FROM {_scan(wh, 'fct_order_items')} GROUP BY ALL"
            ).fetchall()
        }
    finally:
        con.close()
    with open(os.path.join(wh, "state.json"), encoding="utf-8") as f:
        watermark = json.load(f).get("since_iso")
    return {"orders": orders, "items": items, "net": float(net), "grains": grains,
            "categories": cats, "watermark": watermark}


def check_warehouse(got: dict, want: dict) -> list[str]:
    """Differences between the warehouse's state and the replay's."""
    problems = []
    if got["orders"] != want["orders"]:
        problems.append(f"orders {got['orders']} != {want['orders']}")
    if got["items"] != want["items"]:
        problems.append(f"items {got['items']} != {want['items']}")
    if abs(got["net"] - want["net_after_refunds"]) >= 0.005:
        problems.append(f"sum net_after_refunds {got['net']:.2f} != {want['net_after_refunds']:.2f}")
    grains = want["refund_grains"]
    for g in set(grains) | set(got["grains"]):
        if g not in got["grains"]:
            problems.append(f"refund grain {g} not applied")
            continue
        if g not in grains:
            problems.append(f"refund on grain {g} that has none")
            continue
        n, q, t = got["grains"][g]
        if n != 1 or q != grains[g][0] or abs(t - grains[g][1]) >= 0.005:
            problems.append(f"refund grain {g}: rows={n} qty={q} total={t} want {grains[g]}")
    if got["watermark"] != want["watermark"]:
        problems.append(f"watermark {got['watermark']} != {want['watermark']}")
    if got["categories"] != dict(want["categories"]):
        diff = set(got["categories"].items()) ^ set(want["categories"].items())
        problems.append(f"category snapshots differ on {len(diff)} (order, product) groups")
    return problems
