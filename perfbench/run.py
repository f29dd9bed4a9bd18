"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload serving_mixed --seed 1 --seconds 20 --trace 0

Drives ``local[<cores>]`` from one client thread, times the program's
public calls from outside, checks every output against independent
oracles and prints one JSON object as the last line of standard output:
the end-to-end metrics with ``--trace 0``, the per-layer metrics (read
back from Spark's event log) with ``--trace 1``. Exits 1 when a check
fails or a call into the program raises, 2 when the checkout holds no
program to measure.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

import evlog  # noqa: E402
import harness  # noqa: E402
import inputs  # noqa: E402
import oracles  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"


def process_age() -> float:
    """Seconds between process start and now, from /proc (0 if absent)."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


def load_benchmark() -> dict:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        return json.load(fh)


def start_spark(workdir: str, trace_dir: str | None):
    from vector_index_spark import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={workdir} -Dderby.system.home={workdir} -XX:-UsePerfData",
    }
    if trace_dir is not None:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": trace_dir,
                     "spark.eventLog.compress": "false"})
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = STARTED - process_age()

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import vector_index_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: no program to measure in {root}: {exc}", file=sys.stderr)
        return 2

    bench_spec = load_benchmark()
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    out_dir = os.path.join(HERE, "out")
    workdir = os.path.join(out_dir, "tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    os.environ["TMPDIR"] = workdir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    trace_dir = os.path.join(workdir, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)

    # an operation that raises ends the run with a traceback, exit 1 and
    # no result line: the workloads have no operation that may fail
    spark = None
    correct = True
    try:
        tracer = evlog.Tracer()
        with tracer.span("session.start"):
            spark = start_spark(workdir, trace_dir)
        if args.trace:
            tracer.sc = spark.sparkContext
        bench = harness.Bench(spark, tracer, workdir, args.seconds, started)
        try:
            workloads.WORKLOADS[args.workload](bench, inputs.rng_for(args.workload, args.seed))
        except oracles.CheckFailed as exc:
            print(f"perfbench: CHECK FAILED: {exc}", file=sys.stderr)
            correct = False
        stop_spark(spark)
        spark = None
        metrics = {}
        if correct and args.trace:
            records = evlog.layer_records(tracer.spans,
                                          evlog.group_counters(evlog.read_event_log(trace_dir)))
            metrics = layer_metrics(records, bench_spec)
            write_trace(out_dir, args, records)
            bench.info["end_to_end"] = {k: v["value"]
                                        for k, v in end_to_end_metrics(bench, bench_spec).items()}
        elif correct:
            metrics = end_to_end_metrics(bench, bench_spec)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    print("perfbench: " + json.dumps({"workload": args.workload, "seed": args.seed,
                                      "rounds": bench.rounds, "setup_s": bench.setup_s,
                                      **bench.info}))
    print(json.dumps({"correct": correct, "attempted": max(bench.attempted, 1),
                      "failed": 0, "metrics": metrics}))
    return 0 if correct else 1


def end_to_end_metrics(bench, spec: dict) -> dict:
    values = {"setup_s": bench.setup_s, "recall": bench.recall}
    for slot in harness.SLOTS:
        values[f"{slot}_p50_ms"] = bench.p50_ms(slot)
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]}


def layer_metrics(records: list[dict], spec: dict) -> dict:
    """``session.start.wall_s`` plus, per slot, the per-call median of each
    layer metric over the measured calls."""
    by_slot = evlog.median_by(records, "slot")
    session = next(r for r in records if r["name"] == "session.start")
    values = {"session.start.wall_s": session["wall_s"]}
    for slot, agg in by_slot.items():
        for m in evlog.LAYER_METRICS:
            values[f"{slot}.{m}"] = agg[m]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["per_layer"]}


def write_trace(out_dir: str, args, records: list[dict]) -> None:
    """Per-span layer records plus per-name medians, for reading by hand."""
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "by_name": evlog.median_by(
                       [r for r in records if r["phase"] != "warmup"], "name"),
                   "spans": records}, fh, indent=1)
    print(f"perfbench: trace written to {os.path.relpath(path)}")


if __name__ == "__main__":
    sys.exit(main())
