"""``analytics_read``: the read side of the engine in one run.

First one curation batch — the 15 dedup, corpus, graph and relational
queries through the noop sink (``curation.Curation``) — as a fixed
phase whose wall time is ``batch_s``; then dashboard pages served to
one closed-loop client (``dashboard.Dashboard``), whose median wall
time is ``op_p50_s``. Both are checked after their timers stop.
"""

from __future__ import annotations

import time

from .common import Context, Outcome, median
from .curation import Curation, batch_layers
from .dashboard import Dashboard, check_pages, page_layers
from .metrics import CURATION
from .tracing import Tracer


class AnalyticsRead:
    name = "analytics_read"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.dashboard = Dashboard(ctx)
        self.curation = Curation(ctx)

    def generate(self) -> dict:
        return {"dashboard": self.dashboard.generate(), "curation": self.curation.generate()}

    def warm_up(self) -> None:
        self.dashboard.warm_up()

    def measure(self, seconds: float) -> Outcome:
        ctx = self.ctx
        tracer = Tracer(ctx.spark)
        batch = self.curation.run_batch(tracer, ctx.trace)
        ctx.notes["leaked"] = batch["leaked"]
        pages = self.dashboard.serve(tracer, seconds, ctx.trace)
        t0 = time.perf_counter()
        bad_queries, details = self.curation.check(batch)
        t1 = time.perf_counter()
        bad_pages = check_pages(self.dashboard.data, pages)
        ctx.notes["check_s"] = {"queries": t1 - t0, "pages": time.perf_counter() - t1}
        details += [p["detail"] for p in pages if p["detail"]]
        page_s = [p["wall"] for p in pages if not p["traced"]]
        out = Outcome(
            op_s=page_s,
            batch_s=batch["wall"],
            attempted=len(pages) + len(CURATION),
            failed=bad_pages + bad_queries,
            # the overhead compares pages of the same windows
            traced_op_s=[p["wall"] for p in pages if p["traced"]],
            details=details,
        )
        out.aliases = {"page_p50_s": (median(page_s), "s"), "pages": (len(page_s), "count"),
                       "query_p50_s": (median(batch["query_s"]), "s")}
        if ctx.trace:
            out.layers = {**page_layers([p for p in pages if p["traced"]]),
                          **batch_layers([batch])}
            out.spans = batch["spans"] + [s for p in pages for s in p["spans"]]
        return out
