"""Layered TSDB benchmark — one command, one workload per run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` into
``.perfbench_work/`` (removed at exit); the engine runs at
``local[<cores>]`` from this single client process.  The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: set-ups per run; ``setup_s`` is their median.  The first set-up of a
#: run takes 2-8x as long as the rest, which differ by about 15 % one
#: to the next; with seven it no longer pulls the median
N_SETUPS = 7

END_TO_END = {
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "queries_per_s": "1/s",
    "setup_s": "s",
    "footprint_mb": "MB",
}

PER_LAYER = {
    "mem.peak_rss_mb": "MB",
    "lang.parse_ms": "ms",
    "lang.build_ms": "ms",
    "lang.build_jobs": "count",
    "lang.py4j_calls": "count",
    "sources.fetch_ms": "ms",
    "sources.fetch_memo_hit_ratio": "ratio",
    "cache.probe_calls": "count",
    "cache.probe_hit_ratio": "ratio",
    "cache.persist_calls": "count",
    "cache.release_ms": "ms",
    "cache.cached_mb": "MB",
    "output.collect_ms": "ms",
    "output.shape_ms": "ms",
    "output.points": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "service.overhead_ms": "ms",
    "ingest.trigger_ms": "ms",
    "ingest.add_batch_ms": "ms",
    "ingest.planning_ms": "ms",
    "ingest.commit_ms": "ms",
    "ingest.list_ms": "ms",
    "ingest.wait_ms": "ms",
    "ingest.accept_ratio": "ratio",
    "ingest.state_rows": "count",
    "ingest.samples_per_s": "1/s",
    "ingest.freshness_p50_ms": "ms",
    "store.files": "count",
    "store.files_per_block": "count",
    "store.bytes": "bytes",
    "store.bytes_per_sample": "bytes",
    "maintenance.compact_ms": "ms",
    "maintenance.bytes_rewritten": "bytes",
    "catalog.build_ms": "ms",
    "catalog.build_jobs": "count",
    "catalog.action_ms": "ms",
    "catalog.action_jobs": "count",
    "catalog.first_call_ms": "ms",
    "trace.requests": "count",
    "trace.overhead_pct": "%",
}


def percentile(xs: list[float], p: int) -> float:
    """Linear-interpolated percentile (``statistics.quantiles`` inclusive)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1] if p < 100 else max(xs)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def footprint_mb(spark) -> float:
    """Python's peak RSS plus what the JVM holds once full collections
    have run: live heap and non-heap in use (metaspace, code cache).

    Python drops its py4j references before each collection, so the JVM
    can free them.  Spark's context cleaner releases blocks (broadcasts,
    unpersisted RDDs) only after a collection has shown them unreachable,
    so one collection leaves 0-130 MB that a later one frees; at least
    three collections run, 0.3 s apart, and they go on while the live
    heap still shrinks."""
    import gc

    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live = []
    for i in range(8):
        gc.collect()
        jvm.java.lang.System.gc()
        live.append(mem.getHeapMemoryUsage().getUsed())
        if i >= 2 and live[-1] > live[-2] - 2**20:
            break
        time.sleep(0.3)
    heap = min(live)
    return vm_hwm_mb("self") + (heap + mem.getNonHeapMemoryUsage().getUsed()) / 2**20


#: no perf-data file: the JVM would write it under /tmp, outside the
#: checkout.  The heap is otherwise left as the session sizes it
#: (``spark.driver.memory``, 16g by default), so the JVM's VmHWM follows
#: the heap the program really uses
JVM_OPTS = "-XX:-UsePerfData"


def configure_env(work: str) -> None:
    """Engine at local[<cores>]; Spark scratch inside the checkout."""
    cores = str(len(os.sched_getaffinity(0)))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cores
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.local.dir={local} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} {JVM_OPTS}' pyspark-shell"
    )


def new_session():
    from time_series_db_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_setups(wl, spark):
    """``N_SETUPS`` fresh sessions, each followed by the workload's own
    set-up; all but the last are torn down.  Returns (spark, times)."""
    times = []
    for i in range(N_SETUPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = new_session()
        wl.setup(spark)
        times.append(time.perf_counter() - t0)
        if i < N_SETUPS - 1:
            wl.teardown()
    return spark, times


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.workloads import WORKLOADS

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        configure_env(work)
        wl = WORKLOADS[workload](seed, work)
        wl.prepare()
        log("inputs generated")
        with ThreadPoolExecutor(1) as pool:
            expected = pool.submit(wl.oracles)
            spark = new_session()
            expected.result()
        log("engine started, oracles computed")
        try:
            spark, setup_times = timed_setups(wl, spark)
            log(f"set-ups {[round(t, 3) for t in setup_times]}")
            try:
                return measure(wl, spark, seconds, trace, setup_times)
            finally:
                wl.teardown()
        finally:
            shutdown(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def write_spans(tracer, wl) -> str:
    """Write the run's spans to ``.perfbench_traces/<workload>-<seed>.json``."""
    out_dir = os.path.join(os.getcwd(), ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{wl.name}-{wl.seed}.json")
    with open(path, "w") as f:
        json.dump({"requests": tracer.requests, "spans": tracer.dump()}, f)
    log(f"spans written to {path}")
    return path


def measure(wl, spark, seconds, trace, setup_times) -> dict:
    from perfbench.tracing import Tracer, layer_metrics

    wl.warmup()
    log("warm-up done")
    tracer = Tracer(spark) if trace else None
    done = []  # (request, response)
    lat = {True: [], False: []}  # traced? -> latencies (s)
    errors = 0
    req_id = 0
    rnd = 0
    t_start = time.perf_counter()
    # the work per run is fixed by --seconds (not by how fast the rounds
    # go), so every run measures the same requests.  A traced run traces
    # every other request, the pattern shifted by one each round, and runs
    # at least two rounds: every request position is traced once and
    # untraced once, early and late in the run alike
    n_rounds = max(2 if trace else 1, round(seconds / wl.round_s))
    while rnd < n_rounds:
        try:
            reqs = wl.round(rnd)
        except Exception as e:  # a workload step that cannot continue
            print(f"round {rnd} failed: {e!r}", file=sys.stderr)
            errors += 1
            break
        for i, req in enumerate(reqs):
            traced = tracer is not None and (rnd + i) % 2 == 1
            if traced:
                tracer.install()
                tracer.begin(req_id, req.kind)
            t0 = time.perf_counter()
            try:
                resp = req.run(tracer if traced else None)
            except Exception as e:
                print(f"request failed: {e!r}", file=sys.stderr)
                errors += 1
                continue
            finally:
                t1 = time.perf_counter()
                if traced:
                    tracer.end(req_id)
                    tracer.uninstall()
                req_id += 1
            lat[traced].append(t1 - t0)
            done.append((req, resp))
        rnd += 1
    elapsed = time.perf_counter() - t_start
    peak_mb = vm_hwm_mb("self")
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        peak_mb += vm_hwm_mb(proc.pid)
    held_mb = footprint_mb(spark)

    log(f"timed loop: {len(done)} requests in {elapsed:.1f}s; "
        f"peak RSS {peak_mb:.0f} MB, footprint {held_mb:.0f} MB")
    log("latencies ms: " + " ".join(f"{x * 1e3:.0f}" for x in lat[False] + lat[True]))
    bad = wl.verify(done)
    log(f"verified: {len(bad)} wrong")
    attempted = len(done) + errors
    failed = len(bad) + errors
    all_lat = sorted(lat[False] + lat[True])
    if trace:
        write_spans(tracer, wl)
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(layer_metrics(tracer))
        metrics.update(wl.layer_extra())
        metrics["mem.peak_rss_mb"] = peak_mb
        metrics["trace.requests"] = float(len(lat[True]))
        if lat[True] and lat[False]:
            metrics["trace.overhead_pct"] = (
                statistics.median(lat[True]) / statistics.median(lat[False]) - 1
            ) * 100
        units = PER_LAYER
    else:
        ms = [x * 1e3 for x in all_lat]
        metrics = {
            "query_p50_ms": statistics.median(ms) if ms else 0.0,
            "query_tail_ms": percentile(ms, wl.tail_pct) if ms else 0.0,
            "queries_per_s": len(all_lat) / elapsed,
            "setup_s": statistics.median(setup_times),
            "footprint_mb": held_mb,
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {
            k: {"value": float(metrics[k]), "unit": units[k]} for k in units
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # import the benchmark as the ``perfbench`` package, never its
    # modules as top-level names
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != here]
    sys.path.insert(0, ROOT)
    try:
        import time_series_db_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
