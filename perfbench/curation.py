"""Curation batch for ``analytics_read``: the shuffle- and
explode-heavy curation queries, once each, through the noop sink.

The inputs are fixed rows — a documents corpus with near duplicates
and a line-item table — whose order in their files comes from the
seed, so file layout and partition boundaries differ between seeds
while every output stays the same. After the batch, one query (the
seed picks which) is checked against its ``oracle_sql()`` twin
through DuckDB; ``part_pagerank`` has no oracle and is checked
for ranks summing to 1.
"""

from __future__ import annotations

import os
import time

import duckdb

from . import datagen
from .common import Context, median
from .metrics import CURATION as QUERIES
from .tracing import Tracer, jobs_of, subtree, total

SIZES = {"full": (300, 0.002), "tiny": (120, 0.001)}  # (documents, lineitem sf)
_ROWS_SEED = 7


class Curation:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "corpus")

    def generate(self) -> dict:
        n_docs, sf = SIZES[self.ctx.size]
        info = datagen.star_schema(self.data, sf, _ROWS_SEED, layout_seed=self.ctx.seed,
                                   facts_only=True)
        info["documents"] = datagen.documents(self.data, n_docs, _ROWS_SEED, self.ctx.seed)
        return info

    def batch(self, tracer: Tracer) -> tuple[list, list]:
        """Run every query once, each in its own span; returns
        (query, error) for those that raised, and each query's wall time."""
        import __spark_entry__ as entry

        qs = entry.queries()
        errors, walls = [], []
        for module, name in QUERIES:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"{module}.{name}"):
                    frame = qs[name](self.ctx.spark, self.data)
                    frame.write.mode("overwrite").format("noop").save()
            except Exception as e:  # a failed query is counted, not fatal
                errors.append((name, f"{name}: {type(e).__name__}: {e}"))
            walls.append(time.perf_counter() - t0)
        return errors, walls

    def run_batch(self, tracer: Tracer, traced: bool) -> dict:
        """One timed batch; the persisted RDDs it leaves behind are
        counted before ``clearCache``."""
        t0 = time.perf_counter()
        with tracer.active(traced), tracer.span("bench.batch"):
            errors, query_s = self.batch(tracer)
        wall = time.perf_counter() - t0
        leaked = self.ctx.notes["probe"].persisted_rdds()
        self.ctx.spark.catalog.clearCache()
        return {"wall": wall, "query_s": query_s, "traced": traced, "errors": errors,
                "leaked": leaked, "spans": tracer.take() if traced else []}

    def check(self, batch: dict) -> tuple[int, list]:
        """(failed queries, details) of a batch: queries that raised, and
        the seed's query when its output is wrong. Re-running a query
        costs about as much as its share of the batch, so a run checks
        one; fifteen consecutive seeds check them all."""
        name = QUERIES[self.ctx.seed % len(QUERIES)][1]
        bad = check_outputs(self.ctx.spark, self.data, [name])
        raised = {n for n, _ in batch["errors"]}
        details = [d for _, d in batch["errors"]] + [f"{n}: {v}" for n, v in bad.items()]
        return len(raised | set(bad)), details


def batch_layers(batches: list) -> dict:
    rows = []
    for b in batches:
        spans = b["spans"]
        row = {}
        for module, name in QUERIES:
            s = next((s for s in spans if s.name == f"{module}.{name}"), None)
            jobs = jobs_of(subtree(s, spans)) if s else []
            key = f"{module}.{name}"
            row[f"{key}.wall_s"] = s.wall_s if s else 0.0
            row[f"{key}.cpu_s"] = total(jobs, "cpu_s")
            row[f"{key}.shuffle_mb"] = total(jobs, "shuffle_write_mb")
            row[f"{key}.tasks"] = total(jobs, "tasks")
        rows.append(row)
    return {k: median([r[k] for r in rows]) for k in (rows[0] if rows else {})}


def check_outputs(spark, data: str, names: list) -> dict:
    """{query: verdict} for each of ``names`` whose output is wrong."""
    import __spark_entry__ as entry
    from tools.selfcheck import compare

    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    try:
        for name in names:
            try:
                got = qs[name](spark, data).toPandas()
                if name in oracles:
                    verdict = compare(name, got, con.execute(oracles[name]).df())
                else:
                    s = float(got["rank"].sum())
                    verdict = "OK" if abs(s - 1.0) < 1e-6 else f"ranks sum to {s!r}"
            except Exception as e:  # a query or oracle that raises is wrong
                verdict = f"{type(e).__name__}: {e}"
            if verdict != "OK":
                bad[name] = verdict
    finally:
        con.close()
        spark.catalog.clearCache()
    return bad
