"""The benchmark's own tests: a tiny-size run of every workload that
must print every named metric, and negative tests showing that a
corrupted output fails the check.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
Each smoke run starts its own Spark JVM, so the module takes minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402


def _run(*args: str) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


@pytest.mark.parametrize("workload", ["woo_ingest", "analytics_read"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_prints_every_metric(workload, trace):
    res, out = _run("--workload", workload, "--seed", "3", "--seconds", "2",
                    "--trace", trace, "--size", "tiny")
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = PER_LAYER if trace == "1" else END_TO_END
    assert set(res["metrics"]) == set(want)
    for name, m in res["metrics"].items():
        assert m["unit"] == want[name][0]
        assert f"  {name} = " in out
    if trace == "0":
        assert all(m["value"] > 0 for m in res["metrics"].values())
    assert "failed_ratio=0.0000" in out


def test_run_refuses_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "woo_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.fixture(scope="module")
def spark():
    from pyspark import cloudpickle

    import perfbench.woo_api
    from py_etl_pipeline_woocommerce_spark.session import get_spark

    cloudpickle.register_pickle_by_value(perfbench.woo_api)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return get_spark("perfbench-tests")


def test_dropped_refund_fails_the_ingest_check(spark, tmp_path):
    from perfbench import woo_api
    from perfbench.common import Context
    from perfbench.ingest import START, Ingest, _at
    from perfbench.tracing import Tracer

    ctx = Context(work=str(tmp_path), seed=5, size="tiny", trace=False, spark=spark)
    wl = Ingest(ctx)
    wl.generate()
    wh = str(tmp_path / "wh")
    d2 = _at(wl.d2_hours)
    exp = woo_api.Expected(wl.api)
    args = wl._args(wh) + ["--backfill", START, d2, "--window-days", str(wl.p["window_days"])]
    op = wl._op("backfill", args, woo_api.FileTransport(wl.api, d2), Tracer(spark), False, wh)
    exp.backfill(START, d2, d2)
    assert wl._verify(op, exp, wh) == 0, op["detail"]
    assert exp.state()["refund_grains"], "the tiny history must hold a refund"

    # drop the refund of one line: zero its refunded amounts in place
    items = os.path.join(wh, "fct_order_items")
    for d in sorted(os.listdir(items)):
        for f in os.listdir(os.path.join(items, d)):
            path = os.path.join(items, d, f)
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(path)
            hit = pc.not_equal(t["refunded_total"], 0.0)
            if pc.any(hit).as_py():
                first = pc.index(hit, True).as_py()
                col = t["refunded_total"].to_pylist()
                col[first] = 0.0
                qty = t["refunded_quantity"].to_pylist()
                qty[first] = 0
                t = t.set_column(t.schema.get_field_index("refunded_total"),
                                 "refunded_total", [col])
                t = t.set_column(t.schema.get_field_index("refunded_quantity"),
                                 "refunded_quantity", [qty])
                pq.write_table(t, path)
                break
        else:
            continue
        break
    else:
        pytest.fail("no refunded line found to corrupt")

    op["detail"] = None
    assert wl._verify(op, exp, wh) == 1
    assert "refund grain" in op["detail"]


def test_wrong_frame_fails_the_dashboard_check(spark, tmp_path):
    from perfbench.common import Context
    from perfbench.dashboard import Dashboard, check_pages
    from perfbench.tracing import Tracer

    ctx = Context(work=str(tmp_path), seed=5, size="tiny", trace=False, spark=spark)
    wl = Dashboard(ctx)
    wl.generate()
    pages = [{"d1": d1, "d2": d2, "frames": wl.page(d1, d2, Tracer(spark)), "detail": None}
             for d1, d2 in [(None, None), ("1996-01-01", "1996-12-31")]]
    assert check_pages(wl.data, pages) == 0, [p["detail"] for p in pages]
    kpis = pages[1]["frames"]["kpis"]
    kpis.loc[0, "refunds"] = kpis.loc[0, "refunds"] + 0.01
    assert check_pages(wl.data, pages) == 1
    assert "kpis" in pages[1]["detail"]
