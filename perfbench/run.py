"""Repository benchmark: run one workload from one seed, check its
outputs, print its metrics.

    python3 perfbench/run.py --workload kg_pipeline --seed 1 \\
        --seconds 10 --trace 0

Workloads: kg_pipeline, corpus_queries (see workloads.py and
README.md).  The run starts a local[<cores>] session through
`session.get_spark`, makes the workload's inputs from the seed, then
runs whole cycles of operations in a closed loop until --seconds have
passed (at least one cycle).

--trace 0 prints the end-to-end metrics.  --trace 1 makes the same run
with Spark's event log on, parses the log into the per-layer table and
prints that table, then the per-layer metrics.  Its `trace.main_op_s`
minus the main-operation wall of an untraced run with the same seed is
the tracing overhead.  The last stdout line is always the JSON result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Every file the run writes lives under `.perfbench_work/` in the
checkout and is removed before exit.  The package path is handed to
Spark's Python workers through PYTHONPATH, so any cwd works.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("kg_pipeline", "corpus_queries")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (smoke tests run tiny)")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    `work`, and hand the package path to Spark's Python workers."""
    for d in ("local", "tmp", "events"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    sys.path.insert(0, ROOT)


def start_session(work: str, cpus: int, traced: bool):
    from biomedical_ner_spark.session import get_spark

    conf = {
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        # the zstandard module is not installed: write the log plain
        conf["spark.eventLog.dir"] = f"{work}/events"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=max(4 * cpus, 32), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    from pyspark import SparkContext

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024


def shutdown_spark() -> None:
    """Stop the session and the JVM this process launched, and wait for
    the JVM to exit (it takes its Python workers with it)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def measure(wl, seconds: float) -> list:
    """Closed loop: whole cycles until `seconds` have passed (>= 1)."""
    ops = []
    t0 = time.perf_counter()
    while True:
        ops += wl.cycle()
        if time.perf_counter() - t0 >= seconds:
            return ops


def run(args, work: str) -> dict:
    import bench
    import eventlog
    import workloads as W

    cpus = len(os.sched_getaffinity(0))
    ctx = W.Ctx(work=work, seed=args.seed, cpus=cpus, scale=args.scale,
                traced=bool(args.trace))
    wl = W.WORKLOADS[args.workload](ctx)
    layers: dict[str, float] = {}
    if args.trace:
        layers["host.burn_1proc_before_s"] = bench._burn()

    t0 = time.perf_counter()
    ctx.spark = start_session(work, cpus, traced=ctx.traced)
    log(f"session up after {time.perf_counter() - t0:.2f} s")
    wl.setup()
    setup_s = time.perf_counter() - t0
    log(f"set-up took {setup_s:.2f} s")
    ops = measure(wl, args.seconds)
    log("ops: " + ", ".join(f"{o.kind} {o.wall:.2f}" for o in ops))
    wl.finish(ops)
    if args.trace:
        layers["session.peak_rss_mb"] = peak_rss_mb()
    shutdown_spark()

    failed = sum(1 for o in ops if not o.ok)
    if args.trace:
        jobs, stages = eventlog.parse(f"{work}/events")
        layers.update(wl.layers(ops, jobs, stages))
        layers["trace.main_op_s"] = wl.main_wall(ops)
        layers["host.burn_1proc_after_s"] = bench._burn()
        layers["host.burn_parallel_eff"] = bench._burn_parallel(cpus)
        spec = W.per_layer_spec()
        values = {k: float(layers.get(k, 0.0)) for k in spec}
        units = {k: u for k, (u, _) in spec.items()}
        print(eventlog.format_table(values))
    else:
        values = {"setup_s": setup_s, **wl.e2e(ops)}
        units = W.END_TO_END
    return {
        "correct": failed == 0 and bool(ops),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    try:
        prepare_env(work)
        try:
            import workloads  # noqa: F401  (imports the library)
        except ImportError as e:
            print(f"perfbench: cannot import the library from {ROOT}: {e}",
                  file=sys.stderr)
            return 2
        result = run(args, work)
    finally:
        shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
