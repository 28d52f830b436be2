"""Benchmark launcher: one workload, one seed, one run.

    python3 perfbench/run.py --workload bfs_crawl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds a local[nproc] Spark session with a
2g heap cap, makes the workload's input from the seed, times set-up and
then reps of the workload for about --seconds, checks every rep against its
oracle, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1:
event log on, wrappers installed). Earlier stdout lines carry the host
context, sample counts and, when traced, every layer figure. All run
state lives in .perfbench_run/ under the checkout and is removed at exit;
oracle answers are cached in .perfbench_cache/, spans are written to
.perfbench_out/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"

# layer figures of a traced run that are not in BENCHMARK.json's per_layer
# list (some workloads read them as exactly 0, or do not produce them); they
# are printed in the "layers" line with the workloads' own LAYER_METRICS
EXTRA_UNITS = {"setup.register_s": "s", "cpu.pyworker_s": "s", "spark.gc_s": "s",
               "spark.spill_mb": "MB"}


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """Name -> unit of the end-to-end and of the per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def calibration(iters: int = 40) -> dict:
    """Fixed zero-Spark CPU loop (a 64 MB uint64 multiply, single thread),
    timed before the run. Recorded, never compared: a slow figure marks a
    noisy window in the artifact."""
    import numpy as np

    a = np.arange(8_000_000, dtype=np.uint64)
    w0, c0 = time.monotonic(), time.process_time()
    for _ in range(iters):
        a *= np.uint64(0x9E3779B97F4A7C15)
    return {"calib_wall_s": time.monotonic() - w0, "calib_cpu_s": time.process_time() - c0}


def host_context(run_dir: str) -> dict:
    import pyspark

    def free_gb(path):
        st = os.statvfs(path)
        return st.f_bavail * st.f_frsize / 2**30

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "run_dir_free_gb": free_gb(run_dir),
        "dev_shm_free_gb": free_gb("/dev/shm") if os.path.isdir("/dev/shm") else None,
        "heap": HEAP,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def prepare_env(run_dir: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)  # session.py builds it from the heap
    # driver JVM options through a run-local spark-defaults.conf, so the
    # heap itself still comes from SPARK_GRAFT_DRIVER_MEM: temp files inside
    # the run dir and no hsperfdata file in /tmp
    conf = os.path.join(run_dir, "conf")
    os.makedirs(conf)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write(f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData\n")
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # the launcher JVM too
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")


def start_spark(run_dir: str, cores: int, partitions: int, traced: bool):
    from link_profiler_repo_spark.session import get_spark

    extra = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        evdir = os.path.join(run_dir, "evlog")
        os.makedirs(evdir)
        extra.update({
            "spark.eventLog.dir": evdir,
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark(app="perfbench", cores=cores, shuffle_partitions=partitions, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_tree() -> None:
    """Kill every descendant (the JVM, Python workers) and wait until each
    has ended. spark.stop() is skipped: it can stall for a minute at
    teardown and nothing of the session outlives the run dir."""
    import logging

    from measure import read_procs, tree
    from pyspark import SparkContext

    logging.getLogger("py4j").setLevel(logging.CRITICAL)
    # close the Python ends first, so no py4j or accumulator thread is
    # mid-read when the JVM goes away
    sc = SparkContext._active_spark_context
    if sc is not None and sc._accumulatorServer is not None:
        sc._accumulatorServer.shutdown()
    if SparkContext._gateway is not None:
        SparkContext._gateway.close()
    me = os.getpid()
    pids = [p.pid for p in tree(read_procs(), me) if p.pid != me]
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        for pid in pids:  # reap our direct children
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        live = read_procs()
        if not [p for p in pids if p in live and _state(p) != "Z"]:
            return
        time.sleep(0.1)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"


def run(args, run_dir: str) -> tuple[dict, list[dict]]:
    """Returns the final result object and the stdout lines before it."""
    from measure import Tally, TreeSampler, Tracer, percentile
    from workloads import WORKLOADS

    e2e_units, layer_units = declared_metrics()

    host = host_context(run_dir)
    host.update(calibration())
    wl = WORKLOADS[args.workload]()
    cores = host["nproc"]
    traced = bool(args.trace)
    tracer = Tracer() if traced else None
    prep: dict[str, float] = {}

    t = time.monotonic()
    spark = start_spark(run_dir, cores, wl.partitions, traced)
    prep["session.start_s"] = time.monotonic() - t

    import duckdb

    def duck():
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(run_dir, 'duckdb')}'")
        con.execute(f"SET threads={cores}")
        return con

    ctx = SimpleNamespace(
        spark=spark, seed=args.seed, root=ROOT, run_dir=run_dir, cores=cores,
        cache_dir=os.path.join(ROOT, ".perfbench_cache"), tracer=tracer, duckdb=duck,
    )
    for step, key in (("generate", "input.gen_s"), ("register", "setup.register_s"),
                      ("expected", "oracle_s")):
        t = time.monotonic()
        getattr(wl, step)(ctx)
        prep[key] = time.monotonic() - t
    tally = Tally()
    # the warm-up: the workload's warm-up call, then a fixed number of
    # full-size reps, which pay the codegen and JIT of the full plan. They
    # are checked like the timed reps, outside the timing.
    t = time.monotonic()
    wl.warmup(ctx)
    for _ in range(wl.PRIME_REPS):
        wl.rep(ctx)
        t_check = time.monotonic()
        error = wl.check(ctx)
        t += time.monotonic() - t_check
        if error:
            tally.record(f"set-up rep: {error}")
    prep["setup.warmup_s"] = time.monotonic() - t
    setup_s = prep["session.start_s"] + prep["setup.register_s"] + prep["setup.warmup_s"]

    if traced:
        wl.trace_on(ctx)
    sampler = TreeSampler()
    epoch_walls: list[float] = []
    reps: list[dict] = []  # the timed reps that passed their check
    windows: list[tuple[float, float]] = []
    all_walls: list[float] = []
    try:
        while True:
            cpu0 = sum(sampler.cpu.values())
            sampler.open()
            w0 = time.time() * 1000
            t0 = time.monotonic()
            error = None
            try:
                if tracer is not None:
                    with tracer.span("rep"):
                        r = wl.rep(ctx)
                else:
                    r = wl.rep(ctx)
            except Exception as e:  # the program failed this operation
                error = f"{type(e).__name__}: {str(e)[:200]}"
                r = {"wall_s": time.monotonic() - t0, "items": 0, "epoch_walls": []}
            windows.append((w0, time.time() * 1000))
            sampler.close()
            cpu = sum(sampler.cpu.values()) - cpu0
            if error is None:
                t = time.monotonic()
                error = wl.check(ctx)
                prep["check_s"] = prep.get("check_s", 0.0) + time.monotonic() - t
            tally.record(error, wall_s=r["wall_s"], items=r["items"], cpu_s=cpu)
            if error is None:
                epoch_walls += r["epoch_walls"]
                reps.append(r)
            all_walls.append(r["wall_s"])
            if sum(all_walls) >= args.seconds:  # the last rep may run over
                break
    finally:
        sampler.shutdown()
        if traced:
            wl.trace_off(ctx)
    host["loadavg_end"] = os.getloadavg()
    prep["timed_s"] = sum(all_walls)
    lines: list[dict] = [{"host": host}, {"prep": prep}]
    if tally.failed:
        lines.append({"failures": tally.reasons})

    metrics: dict[str, float] = {}
    if tally.ok:
        # per-rep medians: one slow rep (a host hiccup, a late JIT pass)
        # does not move the run's figure
        items_per_s = statistics.median(m["items"] / m["wall_s"] for m in tally.ok)
        p50, n = percentile(epoch_walls, 0.5)
        samples = {"reps": len(tally.ok), "epoch_s_p50": n,
                   "rep_wall_s": [m["wall_s"] for m in tally.ok],
                   "rep_cpu_s": [m["cpu_s"] for m in tally.ok]}
        lines.append({"samples": samples})
        if not traced:
            metrics = {
                "setup_s": setup_s,
                "items_per_s": items_per_s,
                "epoch_s_p50": p50,
                "cpu_s": statistics.median(m["cpu_s"] for m in tally.ok),
                "peak_rss_mb": sampler.peak_rss / 2**20,
            }
        else:
            from sparkstats import summarize

            ss = summarize(spark, os.path.join(run_dir, "evlog"), windows, cores)
            layer = wl.layers(ctx, ss, reps)
            unavailable = {
                name: f"{wl.name} does not call this layer; {other.name} measures it"
                for other in WORKLOADS.values() if other is not type(wl)
                for name in other.LAYER_METRICS
            }
            layer.update({f"cpu.{k}_s": v for k, v in sampler.cpu.items()})
            layer.update({k: v for k, v in ss.items() if k != "steps"})
            layer.update({k: prep[k] for k in ("session.start_s", "setup.warmup_s",
                                               "input.gen_s", "setup.register_s")})
            layer["trace.items_per_s"] = items_per_s
            layer["trace.spans"] = len(tracer.spans)
            units = {**layer_units, **EXTRA_UNITS, **wl.LAYER_METRICS}
            lines.append({"layers": {k: {"value": v, "unit": units[k]}
                                     for k, v in sorted(layer.items())},
                          "unavailable": unavailable,
                          "self_time_s": tracer.self_times()})
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{wl.name}.json"), "w") as fh:
                json.dump([vars(s) for s in tracer.spans], fh)
            metrics = {k: layer[k] for k in layer_units}
    result = {
        "correct": tally.correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": {**e2e_units, **layer_units}[k]}
                    for k, v in metrics.items()},
    }
    return result, lines


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("link_profiler_repo_spark/__init__.py", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench_run")
    shutil.rmtree(run_dir, ignore_errors=True)  # a killed earlier run's leftovers
    os.makedirs(run_dir)
    prepare_env(run_dir)
    code = 1
    try:
        result, lines = run(args, run_dir)
        for line in lines:
            print(json.dumps(line, default=float))
        print(json.dumps(result))
        code = 0
    finally:
        sys.stdout.flush()
        stop_tree()
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    code = 1
    try:
        code = main()
    except Exception:
        import traceback

        traceback.print_exc()
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        # the py4j gateway's exit hooks would talk to the JVM stop_tree killed
        os._exit(code)
