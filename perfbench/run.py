"""Closed-loop benchmark of the geotables_jl_spark public API.

    python3 perfbench/run.py --workload geojoin --seed 1 --seconds 20 --trace 0

One client drives the workload on ``local[nproc]``: the next call starts
only after the previous one has finished and been checked against an
independent reference. Everything runs in this one process (plus the
JVM and Python workers Spark starts); all files go under
``.perfbench_work/`` in the checkout and are removed at exit.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: it times a few untraced calls, restarts the Spark
context with the event log on, times the same calls with a job group per
span, times the layer prefixes, and folds the event log per group.

The last line on stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; details go to stderr. Exit
code 0 only if every call's output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}

ENGINE = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "gc_ms": "ms",
    "py_start_init_ms": "ms", "py_run_ms": "ms", "py_bytes_in": "bytes", "py_bytes_out": "bytes",
}

#: every traced run reports all of these; a layer the workload does not
#: run reads 0
PER_LAYER = {
    "trace_overhead_ratio": "ratio",
    "input.rows": "rows",
    "input.bytes": "bytes",
    **{f"engine.{k}": u for k, u in ENGINE.items()},
    # geojoin: tiles intersects join
    "core.geotable.georef_s": "s",
    "geom.cells.envelope_stats_left_s": "s",
    "geom.cells.envelope_stats_right_s": "s",
    "geom.cells.jobs": "count",
    "operators.geojoin.candidate_pairs_s": "s",
    "operators.geojoin.candidate_rows": "rows",
    "operators.geojoin.refine_s": "s",
    "operators.geojoin.refine_yield": "ratio",
    "operators.geojoin.aggregate_s": "s",
    "operators.geojoin.intersects_py_ms": "ms",
    "operators.geojoin.intersects_py_bytes": "bytes",
    # geojoin: kNN join
    "geom.cells.knn_envelope_stats_s": "s",
    "operators.geojoin.knn_pairs_s": "s",
    "operators.geojoin.pairs_out": "rows",
    "geom.knn_kernel.index_build_s": "s",
    "geom.knn_kernel.score_rows_per_s": "rows/s",
    # pipeline: stages and checkpoints
    "sources.webpages.extract_s": "s",
    "operators.dedup.dedup_exact_s": "s",
    "operators.dedup.dup_rows_removed": "rows",
    "functions.textstats.text_core_arrow_s": "s",
    "operators.geojoin.tiles_stage_s": "s",
    "plans.checkpoint.commit_overhead_s": "s",
    "plans.checkpoint.resume_read_s": "s",
    "plans.checkpoint.resume_jobs": "count",
    "plans.checkpoint.bytes_written": "bytes",
    "plans.checkpoint.files_written": "count",
    "plans.checkpoint.bytes_per_input_byte": "ratio",
    **{f"plans.pipeline.stage_rows.{s}": "rows" for s in ("extract", "dedup", "stats", "tiles")},
    # pipeline's traced run: near-dup clustering
    "operators.dedup.signatures_s": "s",
    "operators.dedup.lsh_pairs_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.lsh_precision": "ratio",
    "operators.dedup.connected_components_s": "s",
    "operators.dedup.clusters": "count",
    "operators.dedup.clustered_docs": "count",
}

GENERATIONS = 3  # input generations per run; setup_s takes their median
TRACE_CALLS = 2
#: calls keep speeding up for a while as the JIT compiles: on a 4-vCPU VM
#: the third call of a run read 2-17% slower than the fifth, and a median
#: over calls still on that slope moved with how far down it the run
#: happened to be. Three warm-up calls, then at least three timed ones.
WARM_CALLS, MIN_CALLS = 3, 3


def log(**kv) -> None:
    print(json.dumps(kv, default=str), file=sys.stderr, flush=True)


class Ledger:
    """Calls attempted and calls failed (raised or wrong output)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            log(event="wrong_result", problems=problems)


def host_config(work: str) -> dict:
    """cpus = usable cores; driver memory sized to the host (an eighth of
    RAM, 1-4 GiB); every scratch directory inside the work dir."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    mem_mb = max(1024, min(4096, total_kb // 1024 // 8))
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    return {"cpus": cpus, "driver_mem_mb": mem_mb}


def start_session(name: str, work: str, host: dict, event_log: bool = False):
    """``get_spark`` on ``local[cpus]``. The Spark driver's heap is pinned at its
    full size and pre-touched, so the JVM's share of the memory metric
    does not depend on when G1 chose to grow the heap; heap pressure
    shows as ``engine.gc_ms`` instead."""
    from geotables_jl_spark.session import get_spark

    java_opts = (
        f"-Djava.io.tmpdir={work}/tmp -Xms{host['driver_mem_mb']}m -XX:+AlwaysPreTouch"
    )
    conf = {"spark.driver.extraJavaOptions": java_opts, "spark.ui.showConsoleProgress": "false"}
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(f"perfbench-{name}", cpus=host["cpus"], extra_conf=conf)


def stop_context() -> None:
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()


def shutdown() -> None:
    """Stop the Spark context and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    stop_context()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_call(wl, spans, ledger: Ledger):
    """One closed-loop call; returns (result, wall seconds), or
    (None, None) when the call raised."""
    t0 = time.perf_counter()
    try:
        result = wl.call(spans)
    except Exception:
        traceback.print_exc()
        ledger.record(["call raised"])
        return None, None
    wall = time.perf_counter() - t0
    try:
        ledger.record(wl.check(result))
    except Exception:
        traceback.print_exc()
        ledger.record(["check raised"])
    return result, wall


def warm_up(wl, ledger: Ledger) -> list[float]:
    """``WARM_CALLS`` untimed calls, each checked like a timed one."""
    from harness import Spans

    return [run_call(wl, Spans(), ledger)[1] for _ in range(WARM_CALLS)]


def setup(args, work: str, host: dict, ledger: Ledger):
    """Session start, GENERATIONS seeded input generations, warm-up."""
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(args.workload, work, host)
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, args.seed)
    gens, inputs = [], None
    for i in range(GENERATIONS):
        dest = os.path.join(work, f"input{i}")
        t = time.perf_counter()
        inputs = wl.generate(dest)
        gens.append(time.perf_counter() - t)
        if i:
            shutil.rmtree(dest)
    wl.use(os.path.join(work, "input0"))
    wl.prepare()  # references for the checks; not part of set-up
    t = time.perf_counter()
    warm = warm_up(wl, ledger)
    warm_s = time.perf_counter() - t
    parts = {"session_s": session_s, "generate_s": gens, "warm_up_s": warm}
    return wl, session_s + statistics.median(gens) + warm_s, parts, inputs


def measure(wl, seconds: float, ledger: Ledger):
    """Timed calls until their walls sum to ``seconds`` (at least
    ``MIN_CALLS``); returns walls, results and each call's peak RSS."""
    from harness import PeakMemory, Spans, cpu_clock

    walls, results, peaks, clocks = [], [], [], []
    while sum(walls) < seconds or len(walls) < MIN_CALLS:
        c0 = cpu_clock()
        with PeakMemory() as rss:
            res, wall = run_call(wl, Spans(), ledger)
        c1 = cpu_clock()
        if wall is None:
            break
        walls.append(wall)
        results.append(res)
        peaks.append(rss.peak)
        clocks.append([c1[0] - c0[0], c1[1] - c0[1]])
    return walls, results, peaks, clocks


def untraced(args, work, host, ledger) -> dict:
    from harness import summary

    wl, setup_s, parts, inputs = setup(args, work, host, ledger)
    walls, results, peaks, clocks = measure(wl, args.seconds, ledger)
    extra = {}
    if results and isinstance(results[0], dict):  # pipeline: commit vs resume
        extra = {k: statistics.median(r[k] for r in results) for k in ("commit_s", "resume_s")}
    log(event="run", workload=args.workload, seed=args.seed, **host, setup=parts,
        inputs=inputs, calls=summary(walls) if walls else {}, walls=walls,
        peak_rss_mb=[p / 2**20 for p in peaks], cpu_steal_s=clocks, **extra)
    # net of hypervisor steal: steal accrues only while a vCPU has work to
    # run, so steal / (cpu + steal) is the share of the CPU time the call
    # asked for that the hypervisor withheld; the wall shrinks by that share
    net = [w * cpu / (cpu + steal) if cpu + steal else w
           for w, (cpu, steal) in zip(walls, clocks)]
    med = statistics.median(net) if net else float("inf")
    return {
        "setup_s": setup_s,
        "items_per_s": wl.items / med,
        "peak_rss_mb": statistics.median(peaks) / 2**20 if peaks else 0.0,
    }


def traced(args, work, host, ledger) -> dict:
    import eventlog
    from harness import Spans

    wl, _, parts, inputs = setup(args, work, host, ledger)
    base = [run_call(wl, Spans(), ledger)[1] for _ in range(TRACE_CALLS)]
    stop_context()
    wl.spark = spark = start_session(args.workload, work, host, event_log=True)
    run_call(wl, Spans(spark, "warm/"), ledger)
    calls, walls = [], []
    for i in range(TRACE_CALLS):
        res, wall = run_call(wl, Spans(spark, f"call{i}/"), ledger)
        calls.append(res)
        walls.append(wall)
    spans = Spans(spark)
    m = wl.layers(spans, calls, ledger.record)
    stop_context()  # flushes and closes the event log
    groups = eventlog.parse(eventlog.event_files(os.path.join(work, "eventlog")))
    last = f"call{TRACE_CALLS - 1}/"
    m.update({f"engine.{k}": v for k, v in eventlog.totals(groups, last).as_dict().items()})
    m.update(wl.event_layers(groups, last))
    m["trace_overhead_ratio"] = statistics.median(walls) / statistics.median(base)
    m["input.rows"] = sum(r for r, _ in inputs.values())
    m["input.bytes"] = sum(b for _, b in inputs.values())
    log(event="trace", workload=args.workload, seed=args.seed, **host, setup=parts, inputs=inputs,
        untraced_walls=base, traced_walls=walls, spans=spans.walls,
        groups={g: t.as_dict() for g, t in groups.items()})
    return {k: m.get(k, 0) for k in PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("geojoin", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "geotables_jl_spark", "__init__.py")):
        print(f"perfbench: no geotables_jl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work)
    ledger = Ledger()
    try:
        host = host_config(work)
        metrics = (traced if args.trace else untraced)(args, work, host, ledger)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only when no other run's dir is left
            except OSError:
                pass
    units = PER_LAYER if args.trace else END_TO_END
    correct = ledger.failed == 0 and ledger.attempted > 0
    log(event="ops", attempted=ledger.attempted, failed=ledger.failed,
        ops_failed_ratio=ledger.failed / max(ledger.attempted, 1))
    print(json.dumps({
        "correct": correct,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
