"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_scan --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds seeded inputs from scratch under
``.perfbench_work/inputs`` (removed again at the end), starts Spark on
``local[4]``, warms up, runs the workload's operations in a closed loop
for ``--seconds``, checks every result and prints one JSON object as the
last line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs each
cycle twice, untraced and traced, for ``--seconds``, reports the
per-layer metrics and the tracing overhead (the median per-operation
difference), and writes the spans to
``.perfbench_work/spans-<workload>-<seed>.jsonl``. Layers the workload
does not exercise are measured on ``probe``-scale inputs of the workload
that owns them, after a warm-up. ``--scale tiny`` shrinks every input
for smoke tests.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


def p90(xs: list[float]) -> float:
    """90th percentile, interpolated between the two nearest samples."""
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


class Context:
    def __init__(self, args):
        self.seed = args.seed
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.inputs = os.path.join(self.work, "inputs")
        self.spark = None


def start_spark(ctx):
    """Spark on local[CORES] with every scratch location inside the
    checkout; workers get the repository root on their import path."""
    local = os.path.join(ctx.work, "spark-local")
    tmp = os.path.join(ctx.work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    from cae_polars_tools_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Tally:
    """Operations attempted and failed over the whole run, warm-up and
    probes included: every operation's output is checked."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0


class Loop:
    """Closed loop: one client, the next operation starts when the
    previous one (and its check) has finished."""

    def __init__(self, tally: Tally, spark_ops=None):
        self.tally = tally
        self.spark_ops = spark_ops
        self.latencies: list[float] = []
        self.kinds: list[str] = []
        self.rows = 0
        self.busy = 0.0
        self.cycle_rates: list[float] = []  # rows per second of each cycle

    def run_ops(self, wl, ops) -> None:
        from contextlib import nullcontext

        for kind, rows, run, check in ops:
            self.tally.attempted += 1
            n = self.tally.attempted
            wl.tr.op_id = n
            try:
                scope = self.spark_ops.op(n) if self.spark_ops else nullcontext()
                with scope, wl.tr.span("op", kind=kind):
                    t0 = time.perf_counter()
                    out = run()
                    dt = time.perf_counter() - t0
                check(out)
            except Exception:  # a failed op is counted, the run goes on
                self.tally.failed += 1
                print(f"perfbench: operation {kind} failed", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                continue
            self.latencies.append(dt)
            self.kinds.append(kind)
            self.rows += rows
            self.busy += dt

    def run(self, wl, seconds: float) -> None:
        """Whole cycles until ``seconds`` have passed (at least one)."""
        deadline = time.perf_counter() + seconds
        i = 0
        while True:
            rows, busy = self.rows, self.busy
            self.run_ops(wl, wl.cycle(i))
            if self.busy > busy:
                self.cycle_rates.append((self.rows - rows) / (self.busy - busy))
            i += 1
            if time.perf_counter() >= deadline:
                return


def run_paired(wl, tally: Tally, tracer, spark_ops, seconds: float) -> tuple[Loop, list[float]]:
    """Each cycle once untraced and once traced with the same parameters
    (the order alternates), until ``seconds`` have passed and at least
    two pairs ran. Returns the traced loop and the per-operation
    traced-minus-untraced latencies in ms."""
    null_tracer = wl.tr
    untraced, traced = Loop(tally), Loop(tally, spark_ops)
    diffs: list[float] = []
    deadline = time.perf_counter() + seconds
    i = 0
    while i < 2 or time.perf_counter() < deadline:
        a, b = len(untraced.latencies), len(traced.latencies)
        runs = [(untraced, null_tracer), (traced, tracer)]
        if i % 2:
            runs.reverse()
        for loop, tr in runs:
            wl.tr = tr
            loop.run_ops(wl, wl.cycle(i))
        u, t = untraced.latencies[a:], traced.latencies[b:]
        if len(u) == len(t):  # a failed op leaves its cycle unpaired
            diffs += [(y - x) * 1e3 for x, y in zip(u, t)]
        i += 1
    wl.tr = tracer
    return traced, diffs


def layer_metrics(wl, tracer, tally: Tally) -> dict:
    """The workload's per-layer metrics; their calls into the program
    are checked like any operation, so a failure is counted, not fatal."""
    out: dict = {}
    Loop(tally).run_ops(wl, [("layer_metrics", 0, lambda: wl.layer_metrics(tracer),
                              out.update)])
    return out


def probe(ctx, cls, scale: str, tally: Tally, opened: list) -> tuple[dict, dict, object]:
    """Per-layer and Spark metrics of a workload this run does not time:
    build, prepare and warm up its inputs, then run one traced cycle."""
    import tracing

    wl = cls(ctx, scale, tracing.NullTracer())
    opened.append(wl)
    wl.build()
    wl.prepare()
    wl.warmup(Loop(tally).run_ops)
    wl.tr = tracer = tracing.Tracer()
    spark_ops = tracing.SparkOps(ctx.spark)
    loop = Loop(tally, spark_ops)
    loop.run(wl, 0)
    return layer_metrics(wl, tracer, tally), spark_metrics(spark_ops.summary(), loop.busy), tracer


def run_benchmark(args) -> dict:
    import tracing
    from workloads import WORKLOADS

    ctx = Context(args)
    tally = Tally()
    rss = None
    opened = []
    shutil.rmtree(ctx.inputs, ignore_errors=True)
    t_setup = time.perf_counter()
    try:
        t0 = time.perf_counter()
        ctx.spark = start_spark(ctx)
        phases = {"session": time.perf_counter() - t0}
        wl = WORKLOADS[args.workload](ctx, args.scale, tracing.NullTracer())
        opened.append(wl)
        t0 = time.perf_counter()
        wl.build()
        phases["build"] = time.perf_counter() - t0
        rss = tracing.RssSampler().start()
        t0 = time.perf_counter()
        wl.prepare()
        phases["prepare"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup(Loop(tally).run_ops)
        phases["warmup"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup
        print(f"perfbench: set-up phases {json.dumps(phases)}", file=sys.stderr)

        if not args.trace:
            loop = Loop(tally)
            loop.run(wl, args.seconds)
            print("perfbench: op latencies ms " + " ".join(
                f"{k}={x * 1e3:.0f}" for k, x in zip(loop.kinds, loop.latencies)),
                file=sys.stderr)
            metrics = end_to_end(loop, setup_s, rss)
        else:
            tracer = tracing.Tracer()
            tracers = [tracer]
            spark_ops = tracing.SparkOps(ctx.spark)
            traced, overheads = run_paired(wl, tally, tracer, spark_ops, args.seconds)
            main_spark = spark_metrics(spark_ops.summary(), traced.busy)
            metrics = {
                "session.start_s": (phases["session"], "s"),
                "trace.overhead_ms": (statistics.median(overheads or [float("nan")]), "ms"),
                **{k: main_spark[k] for k in MAIN_SPARK},
                **layer_metrics(wl, tracer, tally),
            }
            curate_spark = main_spark
            probe_scale = "tiny" if args.scale == "tiny" else "probe"
            for name, cls in WORKLOADS.items():
                if name != args.workload:
                    layers, probe_spark, probe_tracer = probe(ctx, cls, probe_scale, tally,
                                                              opened)
                    metrics.update(layers)
                    tracers.append(probe_tracer)
                    if name == "curate_docs":
                        curate_spark = probe_spark
            metrics["spark.shuffle_mb_per_op"] = curate_spark["spark.shuffle_mb_per_op"]
            metrics["spark.curate_core_busy_frac"] = curate_spark["spark.core_busy_frac"]
            spans = os.path.join(ctx.work, f"spans-{args.workload}-{args.seed}.jsonl")
            with open(spans, "w") as f:
                for t in tracers:
                    t.write(f)
        return {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            # a metric with no successful sample reads 0; the run is then
            # already marked incorrect
            "metrics": {k: {"value": v if math.isfinite(v) else 0.0, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    finally:
        for w in opened:
            w.close()
        if rss is not None:
            rss.stop()
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(ctx.inputs, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it: the
    JVM exits when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def end_to_end(loop: Loop, setup_s: float, rss) -> dict:
    lat_ms = [x * 1e3 for x in loop.latencies] or [float("nan")]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(lat_ms), "ms"),
        "op_p90_ms": (p90(lat_ms), "ms"),
        "rows_per_s": (statistics.median(loop.cycle_rates or [0.0]), "rows/s"),
        "peak_rss_mb": (rss.peak / 1e6, "MB"),
    }


# Spark figures of the timed workload; shuffle and a second busy fraction
# come from a curate_docs cycle, the workload that shuffles
MAIN_SPARK = ("spark.jobs_per_op", "spark.tasks_per_op", "spark.core_busy_frac",
              "spark.gc_frac")


def spark_metrics(s: dict, busy_s: float) -> dict:
    ops = max(s["ops"], 1)
    return {
        "spark.jobs_per_op": (s["jobs"] / ops, "count"),
        "spark.tasks_per_op": (s["tasks"] / ops, "count"),
        "spark.core_busy_frac": (s["run_ms"] / 1e3 / (busy_s * CORES) if busy_s else 0.0,
                                 "ratio"),
        "spark.gc_frac": (s["gc_ms"] / s["run_ms"] if s["run_ms"] else 0.0, "ratio"),
        "spark.shuffle_mb_per_op": (s["shuffle_bytes"] / 1e6 / ops, "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be a non-negative integer")
    if not os.path.isdir(os.path.join(ROOT, "cae_polars_tools_spark")):
        print(f"perfbench: no cae_polars_tools_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    print(json.dumps(run_benchmark(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
