"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run: generate the workload's inputs
from the seed, set up the Spark session, run one cold pass, then warm
passes until ``--seconds`` have gone by (at least the workload's
``min_warm``),
check the outputs of the last pass, and print one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and spans go to ``perfbench/_run/trace-<workload>-<seed>.json``.

Each run is a closed loop with one client: every operation starts after
the previous one has finished, on ``local[<cores>]``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.gen import GENERATORS  # noqa: E402

LAYERS = ("queries", "operators", "pipeline", "loaders", "streaming")

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "trace.cold_pass_s": "s",
    "trace.pass_s": "s",
    "sources.read_table_s": "s",
    "sources.input_bytes": "bytes",
    "jobspec.build_s": "s",
    "pipeline.run_s": "s",
    "loaders.overwrite_s": "s",
    "loaders.merge_s": "s",
    "loaders.append_s": "s",
    "loaders.text_sink_s": "s",
    "loaders.output_bytes": "bytes",
    "loaders.output_files": "count",
    "queries.build_s": "s",
    "queries.action_s": "s",
    "operators.build_s": "s",
    "operators.action_s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "plan.sql_executions": "count",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "cold.codegen.compiles": "count",
    "cold.codegen.compile_ms": "ms",
    **{
        f"{layer}.{name}": unit
        for layer in LAYERS
        for name, unit in (
            ("tasks", "count"),
            ("executor_run_s", "s"),
            ("executor_cpu_s", "s"),
            ("gc_s", "s"),
            ("shuffle_write_bytes", "bytes"),
            ("spill_bytes", "bytes"),
        )
    },
    "cache.cached_bytes_peak": "bytes",
    "streaming.build_s": "s",
    "streaming.drain_s": "s",
    "streaming.triggers": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) from the first line of /proc/stat. guest and
    guest_nice are already counted inside user and nice, so the total
    stops at steal."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; Spark's markers
    and checksum files are left out."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def start_session(work: str, cores: int):
    from lightlane_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # PySpark, the JVM and the Python workers it starts all take their
    # temp directory from here
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        # session.py's guidance for a sized cluster: 2-3x the cores
        shuffle_partitions=2 * cores,
        extra_conf={
            # keep every file the JVM writes inside the run directory
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its stdin
    closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def reset_between_passes(spark) -> None:
    """Passes share only JVM, JIT and codegen warmth: drop every cached
    frame the library or Spark still holds."""
    from lightlane_spark.cache import unpersist_all

    unpersist_all(blocking=True)
    spark.catalog.clearCache()


def run(args) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, install_layer_spans

    runs_dir = os.path.join(ROOT, "perfbench", "_run")
    work = os.path.join(runs_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    context = {"loadavg_start": os.getloadavg()}
    jiffies0 = cpu_jiffies()

    t = time.perf_counter()
    info = GENERATORS[args.workload](inputs, args.seed)
    gen_s = time.perf_counter() - t

    cores = len(os.sched_getaffinity(0))
    t_setup = time.perf_counter()
    spark = start_session(work, cores)
    get_spark_s = time.perf_counter() - t_setup
    try:
        workload = WORKLOADS[args.workload](inputs, info)
        setup_s = time.perf_counter() - t_setup + (t_setup - T_START - gen_s)
        sc = spark.sparkContext
        context.update(master=sc.master, default_parallelism=sc.defaultParallelism)

        tr = Tracer(bool(args.trace))
        tr.attach(spark)
        if args.trace:
            install_layer_spans(tr)

        passes: list[float] = []
        attempted = failed = 0
        out = None
        warm_start = None
        while True:
            if out is not None:
                shutil.rmtree(out)
            reset_between_passes(spark)
            out = os.path.join(work, "out", f"pass{len(passes)}")
            os.makedirs(out)
            with tr.pass_scope(len(passes)):
                t = time.perf_counter()
                ops = workload.run_pass(spark, out, tr)
                passes.append(time.perf_counter() - t)
                if args.trace:
                    size, files = dir_usage(out)
                    tr.add("loaders.output_bytes", size)
                    tr.add("loaders.output_files", files)
            attempted += ops.attempted
            failed += ops.failed
            if warm_start is None:
                warm_start = time.perf_counter()
            elif len(passes) > workload.min_warm and time.perf_counter() - warm_start >= args.seconds:
                break

        try:
            problems = workload.check(spark, out)
        except Exception as exc:  # noqa: BLE001 — a missing or unreadable output fails the check
            problems = [f"check raised {type(exc).__name__}: {exc}"]
    finally:
        stop_session(spark)

    jiffies1 = cpu_jiffies()
    d_total = jiffies1[1] - jiffies0[1]
    context.update(
        loadavg_end=os.getloadavg(),
        steal_pct=100.0 * (jiffies1[0] - jiffies0[0]) / d_total if d_total > 0 else 0.0,
        gen_s=gen_s,
        passes=passes,
        rows=info["rows"],
        problems=problems,
    )
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print("perfbench: context " + json.dumps(context), file=sys.stderr)

    warm = passes[1:]
    pass_s = statistics.median(warm)
    if args.trace:
        values = {}
        for name in PER_LAYER:
            series = [tr.per_pass[i].get(name, 0.0) for i in range(1, len(passes))]
            values[name] = statistics.median(series)
        values["session.get_spark_s"] = get_spark_s
        values["trace.cold_pass_s"] = passes[0]
        values["trace.pass_s"] = pass_s
        values["cold.codegen.compiles"] = tr.per_pass[0].get("codegen.compiles", 0.0)
        values["cold.codegen.compile_ms"] = tr.per_pass[0].get("codegen.compile_ms", 0.0)
        values["sources.input_bytes"] = statistics.median(
            sum(v for k, v in tr.per_pass[i].items() if k.endswith(".input_bytes")) for i in range(1, len(passes))
        )
        units = PER_LAYER
        tr.dump(
            os.path.join(runs_dir, f"trace-{args.workload}-{args.seed}.json"),
            {"context": context, "metrics": values},
        )
    else:
        values = {
            "setup_s": setup_s,
            "cold_pass_s": passes[0],
            "pass_s": pass_s,
            "rows_per_s": workload.rows / pass_s,
        }
        units = END_TO_END
    shutil.rmtree(work)
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main() -> int:
    args = parse_args()
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
