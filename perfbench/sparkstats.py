"""Job and stage figures of a live Spark session over a time window.

Job descriptions, times and per-stage GC, shuffle and spill come from the
session's own status store (what the Spark UI reads); task CPU and run time
come from the event log through bench.py's `_task_metrics_windows`, so the
repository keeps one event-log parser.
"""

from __future__ import annotations

import statistics

from measure import step_metric, union_length


def _opt(o):
    return o.get() if o.isDefined() else None


def jobs(spark) -> list[dict]:
    """Every job the status store retains: id, description, start/end in
    epoch milliseconds, stage ids."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out, it = [], store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sub, end = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None or end is None:
            continue
        sids, si = [], j.stageIds().iterator()
        while si.hasNext():
            sids.append(int(si.next()))
        out.append({
            "id": int(j.jobId()), "desc": _opt(j.description()),
            "start_ms": float(sub.getTime()), "end_ms": float(end.getTime()),
            "stages": sids,
        })
    return out


def stage(spark, sid: int) -> dict | None:
    store = spark.sparkContext._jsc.sc().statusStore()
    try:
        s = store.lastStageAttempt(sid)
    except Exception:  # py4j wraps NoSuchElementException for evicted stages
        return None
    if s.status().toString() != "COMPLETE":
        return None  # skipped: its output was reused
    return {
        "id": sid, "attempt": int(s.attemptId()), "tasks": int(s.numTasks()),
        "gc_s": s.jvmGcTime() / 1000.0,
        "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
        "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
    }


def task_skew(spark, st: dict) -> float:
    """max / median task duration of one stage."""
    store = spark.sparkContext._jsc.sc().statusStore()
    ds, it = [], store.taskList(st["id"], st["attempt"], 100_000).iterator()
    while it.hasNext():
        d = _opt(it.next().duration())
        if d is not None:
            ds.append(float(d))
    med = statistics.median(ds) if ds else 0.0
    return max(ds) / med if med > 0 else 1.0


def summarize(spark, evdir: str, windows: list[tuple[float, float]], cores: int) -> dict:
    """Engine-level figures for the jobs that started inside any of
    `windows` (epoch-ms pairs), and the per-step job walls of the crawl."""
    from bench import _task_metrics_windows

    js = [j for j in jobs(spark)
          if any(lo <= j["start_ms"] < hi for lo, hi in windows)]
    wall_s = sum(hi - lo for lo, hi in windows) / 1000.0
    busy_s = sum(
        union_length([(max(j["start_ms"], lo), min(j["end_ms"], hi)) for j in js]) / 1000.0
        for lo, hi in windows
    )
    sts = [s for s in (stage(spark, sid) for j in js for sid in j["stages"]) if s]
    tm = _task_metrics_windows(evdir, windows)
    task_cpu = sum(t["cpu_s"] for t in tm)
    task_run = sum(t["run_s"] for t in tm)
    widest = max(sts, key=lambda s: s["tasks"], default=None)
    steps: dict[str, list[tuple[float, float]]] = {}
    for j in js:
        name = step_metric(j["desc"])
        if name is not None:
            steps.setdefault(name, []).append((j["start_ms"], j["end_ms"]))
    return {
        "spark.jobs": len(js),
        "spark.tasks": sum(s["tasks"] for s in sts),
        "spark.task_cpu_s": task_cpu,
        "spark.task_run_s": task_run,
        "spark.gc_s": sum(s["gc_s"] for s in sts),
        "spark.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in sts),
        "spark.spill_mb": sum(s["spill_mb"] for s in sts),
        "spark.task_skew": task_skew(spark, widest) if widest else 1.0,
        "spark.driver_gap_s": max(0.0, wall_s - busy_s),
        "spark.packing": task_run / (cores * wall_s) if wall_s > 0 else 0.0,
        "steps": {k: union_length(v) / 1000.0 for k, v in steps.items()},
    }
