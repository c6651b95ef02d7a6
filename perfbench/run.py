"""Feature-store benchmark: ingest, training retrieval and online serving.

Run from the repository root:

    python3 perfbench/run.py --workload {ingest,training} \
        --seed N --seconds S --trace {0,1}

One invocation is one process and one workload: it starts Spark at
local[<threads>] (at most SPARK_THREADS_MAX), builds the workload's inputs
from the seed, warms up, runs the timed window, checks the answers and
prints one JSON object as its last line. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps each layer's public functions, reports per-layer metrics and the
tracing overhead, and writes the spans to
``.perfbench_work/spans/<workload>-seed<N>.jsonl``. The exit code is
non-zero when a correctness check fails or the engine is missing.
"""
import time

T_START = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "op_cpu_s": "s", "rows_per_cpu_s": "rows/s"}

# Spark task threads. On a 4-vCPU host, 4 task threads beside the driver,
# the JVM's compiler and GC threads and the Python workers oversubscribe
# the CPUs: op latency within one run then spread 2.5x (1.1-2.7 s for one
# small retrieval call) against 1.5x at 2 threads.
SPARK_THREADS_MAX = 2

# every per-layer metric; a layer a workload does not drive reports 0
LAYER_UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "pages.write_table_s": "s",
    "pages.read_table_s": "s",
    "pages.files_scanned_per_op": "count",
    "pages.buckets_of_keys_s": "s",
    "pages.buckets_of_keys_calls_per_op": "count",
    "estimate.estimate_rows_s": "s",
    "retrieval.plan_s.small": "s",
    "retrieval.plan_s.large": "s",
    **{
        f"retrieval.strategy.{s}.{shape}": "count"
        for shape in ("small", "large")
        for s in ("broadcast", "cogroup", "union", "sliced")
    },
    "asof.exec_s.small": "s",
    "asof.exec_s.large": "s",
    "asof.hit_frac": "frac",
    "text.extract_rows_per_s": "rows/s",
    "windows.latest_per_key_s": "s",
    "materialize.run_s": "s",
    "materialize.store_bytes_per_row": "B/row",
    "materialize.read_online_s": "s",
    "materialize.infer_store_ts_col_s": "s",
    "materialize.push_to_online_s": "s",
    "materialize.buckets_touched_per_push": "count",
    "registry.get_historical_features_s": "s",
    "registry.get_online_features_s": "s",
    "server.overhead_s": "s",
    "server.response_bytes_per_read": "B",
    **{
        f"spark.{what}_per_op.{kind}": "count"
        for what in ("jobs", "tasks")
        for kind in ("ingest", "small", "large", "read", "push")
    },
    "wall.op_midmean_s": "s",
    "wall.rows_per_s": "rows/s",
    "cpu.op_raw_s": "s",
    "jvm.jit_cpu_s_per_op": "s",
    "host.steal_frac": "frac",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def spark_threads() -> int:
    return min(SPARK_THREADS_MAX, len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """A quarter of host RAM, at most 4 GiB: the engine's 32g default is
    larger than small hosts."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(4096, total_kb // 4096)}m"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "training"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "feast_spark", "__init__.py")):
        print(f"perfbench: no feast_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything Spark, Python workers and tempfile write stays in the
    # checkout; the JVMs (spark-submit's launcher too) keep no perf data
    # file in /tmp
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        "-XX:-UseDynamicNumberOfCompilerThreads",
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    ]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("FEAST_SPARK_DRIVER_MEM", driver_memory())
    sys.path.insert(0, ROOT)

    from harness import Bench
    from workloads import PRIMARY_OP, WORKLOADS

    b = Bench(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work,
              cpus=spark_threads())
    try:
        b.mark("imports")
        b.start_spark()
        e2e = WORKLOADS[args.workload](b)
        e2e["setup_s"] = b.setup_s(T_START)
        if b.tracer is not None:
            generic_layer_metrics(b, PRIMARY_OP[args.workload])
        b.mark("after the window")
    finally:
        b.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        b.mark("stop")

    attempted = len(b.ops)
    failed = sum(not o.ok for o in b.ops)
    correct = all(ok for _, ok, _ in b.checks) and failed == 0
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"spark_threads={b.cpus} trace={args.trace}")
    for name, ok, detail in b.checks:
        print(f"check {name:<28} {'ok' if ok else 'FAILED'}  {detail}")
    for kind in sorted({o.kind for o in b.ops}):
        ok = [o for o in b.timed(kind) if o.ok]
        print(f"ops {kind:<8} n={len(ok)} in issue order: latency_s="
              f"{[round(o.latency, 3) for o in ok]} cpu_s={[round(o.cpu, 2) for o in ok]} "
              f"jit_cpu_s={[round(o.jit, 2) for o in ok]} steal={[round(o.steal, 3) for o in ok]}")
    for name, value, unit, note in b.report:
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{name:<24} {shown:>14} {unit:<7} {note}")
    print(f"{'setup_s':<24} {e2e['setup_s']:>14.6g} {'s':<7} process start to first timed op, "
          f"store build at its median of {len(b.store_builds)}: "
          f"{[round(x, 3) for x in b.store_builds]}")
    prev = T_START
    phases = []
    for phase, at in b.marks:
        phases.append(f"{phase}={at - prev:.1f}")
        prev = at
    print("phases_s:", ", ".join(phases))
    print(f"{'host_steal_frac':<24} {b.steal_frac:>14.6g} {'frac':<7} "
          "share of vCPU time the hypervisor stole during the window")
    print(f"{'failed_frac':<24} {failed / max(attempted, 1):>14.6g} {'frac':<7} "
          f"{failed} of {attempted} ops failed")
    if b.tracer is not None:
        spans = os.path.join(base, "spans")
        os.makedirs(spans, exist_ok=True)
        path = os.path.join(spans, f"{args.workload}-seed{args.seed}.jsonl")
        b.tracer.write(path)
        print(f"spans: {len(b.tracer.spans)} written to {os.path.relpath(path, ROOT)}")
        metrics = {n: {"value": b.layer.get(n, 0.0), "unit": u} for n, u in LAYER_UNITS.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def generic_layer_metrics(b, primary: str) -> None:
    from harness import midmean

    tr = b.tracer
    everything = [(0.0, float("inf"))]
    b.set_layer("session.start_s", b.session_start_s)
    b.set_layer("session.peak_rss_mb", b.peak_rss_mb())
    builds = tr.select("pages.write_table", windows=everything)
    b.set_layer("pages.write_table_s", statistics.median(s["end"] - s["start"] for s in builds))
    traced = [o.latency for o in b.timed(primary, traced=True) if o.ok]
    plain = [o.latency for o in b.timed(primary) if o.ok]
    if traced and plain:
        b.set_layer("trace.overhead_s", midmean(traced) - midmean(plain))
    b.set_layer("trace.spans", len(tr.spans))
    unknown = set(b.layer) - set(LAYER_UNITS)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from LAYER_UNITS: {sorted(unknown)}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
