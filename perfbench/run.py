"""Benchmark entry point.

    python3 perfbench/run.py --workload build --seed 1 --seconds 12 --trace 0

Run from the root of a marker-spark checkout.  It generates the
workload's inputs from ``--seed``, starts one Spark session on
``local[<cores>]``, runs one untimed warm-up iteration, then timed
closed-loop iterations for ``--seconds``, checking every output.  The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``.  The line before it is the detailed report (per-phase
metrics, check failures, host steal and load, tracing overhead).
Everything it writes goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS_START = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

REQUIRED = ("BENCHMARK.json", "marker_spark/__init__.py", "jobs/build_sketches.py", "jobs/dedup_pipeline.py")


def session_conf(root: str, scratch: str) -> dict[str, str]:
    """Spark settings sized from this host: all cores, an eighth of
    memory for the driver heap (1-4 GiB), two shuffle partitions per
    core.  The heap is committed and touched when the JVM starts, so the
    JVM's resident size does not depend on how far the garbage collector
    happened to grow the heap in a run; ``peak_rss_mb`` then moves with
    the JVM's off-heap memory, the Python driver and the workers."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal")) // 1024
    heap = f"{int(min(max(mem_mb // 8, 1024), 4096))}m"
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.files.maxPartitionBytes": str(4 << 20),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }


def start_session(root: str, scratch: str):
    conf = session_conf(root, scratch)
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(scratch, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher included: temp files in the checkout, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    from perfbench.procstat import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def end_to_end(setup_s: float, iters: list[dict], peak_rss_mb: float) -> dict:
    from perfbench.workloads import median

    return {
        "setup_s": setup_s,
        "iter_s": median([i["iter_s"] for i in iters]),
        "peak_rss_mb": peak_rss_mb,
        "output_mb": median([i["output_mb"] for i in iters]),
    }


def run_loop(wl, seconds: float, min_iters: int) -> list[dict]:
    iters: list[dict] = []
    t_end = time.perf_counter() + seconds
    attempts = 0
    while attempts < min_iters or time.perf_counter() < t_end:
        attempts += 1
        try:
            iters.append(wl.iteration())
        except Exception as exc:  # one failed iteration must not end the run
            traceback.print_exc(file=sys.stderr)
            if not getattr(exc, "counted", False):
                wl.ops.check("iteration completes", False, traceback.format_exc(limit=3))
    return iters


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a marker-spark checkout; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from perfbench import kernels
    from perfbench.procstat import RssSampler, health_window, host_health
    from perfbench.trace import Tracer, self_time_by_name
    from perfbench.workloads import WORKLOADS, Ops

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    health0 = host_health()
    base = os.path.join(root, ".perfbench")
    scratch = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    ops = Ops()
    wl = WORKLOADS[args.workload](os.path.join(scratch, "work"), args.seed, args.smoke, ops)
    t = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t
    spark = start_session(root, scratch)
    try:
        wl.spark = spark
        run_loop(wl, 0, wl.warmup_iterations)
        setup_s = time.perf_counter() - T_PROCESS_START - gen_s
        with RssSampler() as rss:
            iters = run_loop(wl, args.seconds, 1)
        if not iters:
            raise RuntimeError(f"no timed iteration completed: {ops.failures}")
        e2e = end_to_end(setup_s, iters, rss.peak_total)
        report = {"workload": args.workload, "seed": args.seed,
                  "iter_s_each": [i["iter_s"] for i in iters],
                  "input_gen_s": gen_s, "end_to_end": e2e}
        for name, vals in wl.report(iters).items():
            report[name] = {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}
        if args.trace:
            tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
            composed = wl.compose(tracer)
            wl.tracer = tracer
            with RssSampler() as rss_t, tracer.span("iteration"):
                traced_iters = run_loop(wl, 0, 1)
            if not traced_iters:
                raise RuntimeError(f"the traced iteration failed: {ops.failures}")
            e2e_t = end_to_end(setup_s, traced_iters, rss_t.peak_total)
            report["tracing_overhead"] = {k: e2e_t[k] - e2e[k] for k in e2e if k != "setup_s"}
            layer, derived = wl.traced(tracer, composed, iters, traced_iters[-1])
            batch, markers = wl.kernel_inputs()
            layer.update(kernels.run(tracer, batch, markers, args.seed))
            layer["proc.jvm_peak_rss_mb"] = max(rss.peak_jvm, rss_t.peak_jvm)
            layer["proc.workers_peak_rss_mb"] = max(rss.peak_workers, rss_t.peak_workers)
            report["derived"] = derived
            report["self_s"] = self_time_by_name(tracer.spans)
            os.makedirs(base, exist_ok=True)
            tracer.write(os.path.join(base, f"spans-{args.workload}-seed{args.seed}.json"))
            values = {m["name"]: layer.get(m["name"], 0.0) for m in spec["per_layer"]}
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            values = e2e
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    finally:
        stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    report["health"] = health_window(health0, host_health())
    report["error_rate"] = ops.failed / max(ops.attempted, 1)
    report["failures"] = ops.failures
    print(json.dumps(report, default=float), flush=True)
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
