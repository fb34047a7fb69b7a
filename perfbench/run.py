"""Benchmark entry point.

    python3 perfbench/run.py --workload split_full --seed 1 --seconds 10 --trace 0

Runs one workload (``workloads.WORKLOADS``) in a closed loop — one
client, one process, Spark ``local[4]`` — for ``--seconds`` seconds over
inputs generated from ``--seed``, checks every operation's output, and
prints one JSON line last on stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  The full record (samples,
spans, per-layer counters, input sizes) goes to
``.perfbench_work/results/``.  Everything the run writes stays under
``.perfbench_work/`` in the directory it is started from.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(os.getcwd(), ".perfbench_work")
CORES = 4
HARD_LIMIT_S = 170  # the run must end within 180 s; give up without a result


def _env() -> None:
    """Spark and Python settings, all temp and scratch space under WORK.
    Must run before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import mapsplit_spark from the repository root
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            # no hsperfdata files: HotSpot writes those to /tmp regardless
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })


def _stop_jvm(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()  # idempotent
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — TimeoutExpired: force it
            proc.kill()
            proc.wait()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Loop:
    """Closed-loop operations of one session: per-op wall time, tree
    CPU, bytes written, rows and check outcome."""

    def __init__(self):
        self.ops: list[dict] = []

    def run(self, wl, spark, seconds: float, first: int, call) -> None:
        from perfbench.procstat import PeakRss, tree_cpu_s

        rss = PeakRss()
        rss.start()
        start = time.perf_counter()
        k = first
        while (k == first or time.perf_counter() - start < seconds) and wl.has_input():
            wl.stage(k)
            b0 = wl.out_bytes(k)
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            rows = call(k)
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s() - c0
            b1 = wl.out_bytes(k)
            ok = wl.check(spark, k)
            wl.discard(k)
            self.ops.append({"k": k, "rows": rows, "wall_s": wall, "cpu_s": cpu,
                             "out_bytes": b1 - b0, "ok": ok})
            k += 1
        self.peak_rss = rss.stop()

    def metrics(self) -> dict:
        walls = [o["wall_s"] for o in self.ops]
        rows = sum(o["rows"] for o in self.ops)
        return {"rows_per_s": rows / sum(walls), "op_s": _median(walls),
                "cpu_s": _median([o["cpu_s"] for o in self.ops]),
                "out_bytes_per_row": sum(o["out_bytes"] for o in self.ops) / rows}


UNITS = {"setup_s": "s", "rows_per_s": "1/s", "op_s": "s", "cpu_s": "s",
         "out_bytes_per_row": "B"}


def per_layer(spans: list[dict], events: list[dict], untraced: dict, traced: dict) -> dict:
    """Per-layer metrics: each counter's median over the traced
    operations (zero for a layer the workload does not call), plus the
    tracing overhead as traced minus untraced ``rows_per_s``."""
    from perfbench.tracing import LAYERS, attribute, per_layer_names

    counters = attribute(spans, events)
    by_layer: dict[str, list[dict]] = {}
    for sp in spans:
        if sp["name"] in LAYERS:
            extra = {k: v for k, v in sp.items() if isinstance(v, (int, float))}
            row = {**counters[sp["id"]], **extra, "wall_s": sp["end"] - sp["start"]}
            by_layer.setdefault(sp["name"], []).append(row)
    out = {}
    for name in per_layer_names():
        layer, counter = name.rsplit(".", 1)
        out[name] = _median([float(r.get(counter, 0)) for r in by_layer.get(layer, [])])
    out["trace.rows_per_s"] = traced["rows_per_s"]
    out["trace.overhead_rows_per_s"] = traced["rows_per_s"] - untraced["rows_per_s"]
    return out


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    counter = name.rsplit(".", 1)[1]
    for suffix, unit in (("rows_per_s", "1/s"), ("_s", "s"), ("_ms", "ms"),
                         ("_bytes", "B"), ("ratio", "ratio"), ("per_in", "ratio")):
        if counter.endswith(suffix):
            return unit
    return "count"


def traced_run(wl, spark, seconds: float, first: int, log_dir: str):
    """Restart Spark with the event log on and run traced operations for
    ``seconds``; returns the traced session (still running, the tracer
    still attached to it), the tracer and the loop.  The log is complete
    once that session stops."""
    from pyspark import SparkContext

    from mapsplit_spark.session import get_spark
    from perfbench.tracing import Tracer, event_log_conf

    os.makedirs(log_dir)
    spark.stop()
    system = SparkContext._jvm.java.lang.System
    conf = event_log_conf(log_dir)
    for k, v in conf.items():  # read by the next SparkConf(loadDefaults=True)
        system.setProperty(k, v)
    tracer = Tracer()
    with tracer.span("session"):
        spark = get_spark(**wl.session_args)
    for k in conf:
        system.clearProperty(k)
    tracer.sc = spark.sparkContext
    loop = Loop()

    def call(k):
        with tracer.span("op", op=k):
            return wl.traced_op(spark, tracer, k)

    loop.run(wl, spark, seconds, first, call)
    return spark, tracer, loop


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", default="bench", help="input size preset (tiny: self-test)")
    args = ap.parse_args(argv)

    _env()
    import shutil

    from mapsplit_spark.session import get_spark
    from perfbench.tracing import read_event_log

    wl = WORKLOADS[args.workload](WORK, args.seed, args.size)
    meta = wl.prepare()
    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    record: dict = {"workload": wl.name, "seed": args.seed, "size": args.size,
                    "params": wl.params, "input": meta, "cores": CORES}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(**wl.session_args)
        spark.sparkContext.setLogLevel("ERROR")
        wl.warmup(spark)
        setup_s = time.perf_counter() - t0
        setup_ok = wl.warmup_check(spark)

        # a traced run splits its time between the untraced and traced loops
        seconds = args.seconds / 2 if args.trace else args.seconds
        loop = Loop()
        loop.run(wl, spark, seconds, 0, lambda k: wl.op(spark, k))
        metrics = {"setup_s": setup_s, **loop.metrics()}
        record.update(setup_ok=setup_ok, ops=loop.ops, metrics=metrics,
                      peak_rss_mb=loop.peak_rss / 2 ** 20)
        ops = loop.ops
        if args.trace:
            spark, tracer, tloop = traced_run(wl, spark, seconds, len(ops), log_dir)
        # an end-of-run check fails the last operation
        if not wl.finish(spark, tracer if args.trace else None):
            (tloop.ops if args.trace else loop.ops)[-1]["ok"] = False
        spark.stop()
        if args.trace:
            ops = ops + tloop.ops
            metrics = per_layer(tracer.spans, read_event_log(log_dir), metrics,
                                tloop.metrics())
            record.update(traced_ops=tloop.ops, spans=tracer.spans, per_layer=metrics)
    finally:
        _stop_jvm(spark)

    failed = sum(not o["ok"] for o in ops) + (not setup_ok)
    result = {"correct": failed == 0, "attempted": len(ops) + 1,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}
    record["result"] = result
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", f"{wl.name}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if not (os.path.isdir(os.path.join(ROOT, "mapsplit_spark"))
            and os.path.isdir(os.path.join(ROOT, "jobs"))):
        print(f"perfbench: no mapsplit_spark/ and jobs/ under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    watchdog = threading.Timer(HARD_LIMIT_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()
    sys.exit(main())
