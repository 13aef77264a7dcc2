"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload woo_ingest --seed 1 --seconds 10 --trace 0

From the repository root. The seed makes the workload's inputs; the
engine receives only the generated files. ``--trace 0`` measures with
tracing off and reports the end-to-end metrics; ``--trace 1`` traces
every other operation and reports the per-layer metrics, plus the
tracing overhead against the untraced operations of the same run, and
a ``breakdown`` line: wall, self time and stage metrics per span and per
call site. Outputs are checked outside every timed region. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Everything the run writes lives under
``.bench_work/`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "py_etl_pipeline_woocommerce_spark"
WORKLOADS = ("woo_ingest", "analytics_read")
SETUPS = 3
DEADLINE_S = 170


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and size Spark to
    this machine: ``local[nproc]``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM the launch starts, spark-submit's launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def _start_session(workload: str, work: str):
    from py_etl_pipeline_woocommerce_spark.session import get_spark

    return get_spark(
        f"perfbench-{workload}",
        extra_conf={"spark.local.dir": os.path.join(work, "spark-local")},
    )


def _source_digest() -> str:
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(ROOT, PACKAGE)):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(files):
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def _commit() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"  # a plain checkout; the source digest identifies it
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _diagnostics(spark, args, env_cpus) -> dict:
    import pyspark

    import bench

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS_inherited": env_cpus,
        "spark_master": spark.sparkContext.master,
        "commit": _commit(),
        "source_digest": _source_digest(),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "calibration_s": bench.calibration(spark, passes=1),
    }


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests so far, summed over
    this machine's CPUs (0 where the kernel does not report it)."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _stop(spark) -> None:
    """Stop the session, then the JVM the session's gateway started,
    and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def run(args) -> dict:
    """One run; returns the printed summary and the result object."""
    from perfbench.common import Context, log, median, tail
    from perfbench.ingest import Ingest
    from perfbench.read import AnalyticsRead
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.tracing import SessionProbe, breakdown

    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    from pyspark import cloudpickle

    import perfbench.woo_api

    # executors unpickle the fake transport without importing perfbench
    cloudpickle.register_pickle_by_value(perfbench.woo_api)

    ctx = Context(work=work, seed=args.seed, size=args.size, trace=bool(args.trace))
    wl = {"woo_ingest": Ingest, "analytics_read": AnalyticsRead}[args.workload](ctx)
    spark = None
    try:
        t0 = time.perf_counter()
        inputs = wl.generate()
        gen_s = time.perf_counter() - t0
        setups = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = ctx.spark = _start_session(args.workload, work)
            wl.warm_up()
            setups.append(time.perf_counter() - t0)
        diag = _diagnostics(spark, args, env_cpus)
        diag.update({"inputs": inputs, "generate_s": round(gen_s, 3),
                     "setup_samples_s": [round(s, 3) for s in setups]})
        probe = SessionProbe(spark)
        ctx.notes["probe"] = probe
        gc0, steal0 = probe.gc_s(), _steal_s()
        t0 = time.perf_counter()
        out = wl.measure(args.seconds)
        diag["measure_s"] = round(time.perf_counter() - t0, 3)
        diag["measure_steal_s"] = round(_steal_s() - steal0, 3)
        diag["check_s"] = {k: round(v, 3) for k, v in ctx.notes.get("check_s", {}).items()}
        diag["op_s"] = [round(s, 3) for s in out.op_s]
        gc_per_op = (probe.gc_s() - gc0) / max(out.attempted, 1)
        leaked = ctx.notes.get("leaked", probe.persisted_rdds())
        peak = probe.peak_rss_mb()
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            _stop(spark)
            log(f"stopped the session and its JVM in {time.perf_counter() - t0:.1f} s")
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)

    e2e = {"setup_s": median(setups), "batch_s": out.batch_s, "op_p50_s": median(out.op_s)}
    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(out.layers)
        layers["session.gc_s"] = gc_per_op
        layers["session.peak_rss_mb"] = peak
        layers["session.leaked_persisted_rdds"] = leaked
        traced = median(out.traced_op_s)
        untraced = median(out.op_s if out.overhead_base is None else out.overhead_base)
        layers["trace.overhead_ratio"] = traced / untraced - 1.0 if traced and untraced else 0.0
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k][0]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k][0]} for k, v in e2e.items()}
    ratio = out.failed / out.attempted if out.attempted else 1.0
    tail_v, tail_pct, tail_n = tail(out.op_s)
    aliases = {"failed_ratio": (ratio, "ratio"), "op_tail_s": (tail_v, "s"), **out.aliases}
    summary = {
        "workload": args.workload,
        "failed_ratio": f"{ratio:.4f} ({out.failed}/{out.attempted})",
        "op_tail": f"p{tail_pct:.1f} of n={tail_n}",
        "aliases": {k: (round(v, 6), u) for k, (v, u) in aliases.items()},
        "untraced_ops": len(out.op_s),
        "traced_ops": len(out.traced_op_s),
        "diagnostics": diag,
        "breakdown": breakdown(out.spans) if args.trace else None,
    }
    for d in out.details[:10]:
        log(f"FAILED {d}")
    return {
        "summary": summary,
        "result": {
            "correct": out.failed == 0 and out.attempted > 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": metrics,
        },
    }


def main(argv=None) -> int:
    args = _parse(argv)
    missing = [p for p in (PACKAGE, "__spark_entry__.py", "bench.py", "tools")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the engine is not in {ROOT} (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    try:
        res = run(args)
    finally:
        signal.alarm(0)
    s = res["summary"]
    print(f"{s['workload']} failed_ratio={s['failed_ratio']} op_tail={s['op_tail']} "
          f"ops={s['untraced_ops']} untraced + {s['traced_ops']} traced")
    for name, (value, unit) in s["aliases"].items():
        print(f"  {name} = {value} {unit}")
    for name, m in res["result"]["metrics"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"diagnostics": s["diagnostics"]}))
    if s["breakdown"]:
        print(json.dumps({"breakdown": s["breakdown"]}))
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
