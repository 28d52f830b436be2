"""Checkpoint/resume (SURVEY §5.2-5): kill after epoch k, resume, final state
and ordering identical to an uninterrupted run. Resume reads the atomically
committed manifest; epochs re-run from the last commit (exactly-once, vs the
reference's at-least-once Redis persistence, smart_crawler_queue.py:229-254)."""

import tempfile

import pytest

from link_profiler_repo_spark.config import CrawlConfig
from link_profiler_repo_spark.operators.crawl import CrawlEngine
from link_profiler_repo_spark.oracle_sim import build_fixture, simulate_bfs
from link_profiler_repo_spark.synth import SynthParams, synth_docs_spark

P = SynthParams(n_docs=100, n_hosts=6)
CFG = CrawlConfig(max_depth=3, max_pages=400)


class _StopAfter(Exception):
    pass


def test_bfs_resume_matches_uninterrupted(spark):
    docs, seeds = build_fixture(P, n_seeds=2)
    expected = simulate_bfs(docs, seeds, CFG, P)
    docs_df = synth_docs_spark(spark, P).persist()
    docs_df.count()

    wd = tempfile.mkdtemp()
    eng = CrawlEngine(spark, CFG, docs_df, wd, synth_params=P, bloom_bits=1 << 16, metrics_enabled=False)

    # crash mid-run: abort after the commit of epoch 2
    original_commit = eng.store.commit

    def crashing_commit(meta):
        original_commit(meta)
        if meta["epoch"] == 2:
            raise _StopAfter()

    eng.store.commit = crashing_commit
    try:
        eng.run_bfs(seeds)
        raise AssertionError("expected simulated crash")
    except _StopAfter:
        pass

    # resume with a fresh engine over the same workdir
    eng2 = CrawlEngine(spark, CFG, docs_df, wd, synth_params=P, bloom_bits=1 << 16, metrics_enabled=False)
    out = eng2.run_bfs(seeds, resume=True)
    got = [
        (int(r["crawl_order"]), r["url"], int(r["depth"]))
        for r in out["seen"].orderBy("crawl_order").select("crawl_order", "url", "depth").collect()
    ]
    assert got == expected.order
    assert {u for _, u, _ in got} == expected.seen
    docs_df.unpersist()


def test_scheduler_resume_matches_uninterrupted(spark):
    """Scheduler mode resumes exactly-once too: crash after the epoch-3
    commit, resume with a fresh engine, and the crawl order and dead-letter
    set equal the simulator's uninterrupted run (the frontier-oracle
    scheduler config: robots, a 2^16-bit Bloom prefilter, retries)."""
    from link_profiler_repo_spark.oracle_sim import simulate_scheduler
    from link_profiler_repo_spark.synth import robots_rows, robots_spark

    p = SynthParams(n_docs=120, n_hosts=8)
    cfg = CrawlConfig(
        job_id="sched-resume", max_depth=3, max_pages=60, host_budget=2,
        epoch_seconds=2.0, max_retries=1,
    )
    docs, seeds = build_fixture(p, n_seeds=4)
    expected = simulate_scheduler(docs, seeds, cfg, p, robots_rows=robots_rows(p))
    docs_df = synth_docs_spark(spark, p).persist()
    docs_df.count()
    robots_df = robots_spark(spark, p)

    def engine(wd):
        return CrawlEngine(
            spark, cfg, docs_df, wd, synth_params=p, robots_df=robots_df,
            bloom_bits=1 << 16, metrics_enabled=False,
        )

    wd = tempfile.mkdtemp()
    eng = engine(wd)
    original_commit = eng.store.commit

    def crashing_commit(meta):
        original_commit(meta)
        if meta["epoch"] == 3:
            raise _StopAfter()

    eng.store.commit = crashing_commit
    try:
        eng.run_scheduler(seeds)
        raise AssertionError("expected simulated crash")
    except _StopAfter:
        pass

    out = engine(wd).run_scheduler(seeds, resume=True)
    got = [
        (int(r["crawl_order"]), r["url"], int(r["depth"]))
        for r in out["seen"].orderBy("crawl_order").select("crawl_order", "url", "depth").collect()
    ]
    assert got == expected.order
    assert {(r["url"], int(r["retries"])) for r in out["dead_letter"].collect()} == set(
        expected.dead_letter
    )
    docs_df.unpersist()


def test_pause_and_cancel_job_control(spark):
    """Pause/cancel polled at epoch boundaries (job_coordinator.py:282-369):
    'paused' stops after the last committed epoch and a resume completes the
    crawl identically to an uninterrupted run; 'cancelled' stops for good."""
    docs, seeds = build_fixture(P, n_seeds=2)
    expected = simulate_bfs(docs, seeds, CFG, P)
    docs_df = synth_docs_spark(spark, P).persist()
    docs_df.count()

    wd = tempfile.mkdtemp()
    eng = CrawlEngine(spark, CFG, docs_df, wd, synth_params=P, prefilter=None, metrics_enabled=False)
    eng.store.write_control("paused")
    out = eng.run_bfs(seeds)
    assert eng.stats.stopped == "paused"
    assert eng.stats.crawled == 0  # paused before the first epoch ran

    # resume after un-pausing: identical final state
    eng2 = CrawlEngine(spark, CFG, docs_df, wd, synth_params=P, prefilter=None, metrics_enabled=False)
    eng2.store.write_control("running")
    out = eng2.run_bfs(seeds, resume=True)
    got = [
        (int(r["crawl_order"]), r["url"], int(r["depth"]))
        for r in out["seen"].orderBy("crawl_order").select("crawl_order", "url", "depth").collect()
    ]
    assert got == expected.order

    # cancel is honored the same way
    wd2 = tempfile.mkdtemp()
    eng3 = CrawlEngine(spark, CFG, docs_df, wd2, synth_params=P, prefilter=None, metrics_enabled=False)
    eng3.store.write_control("cancelled")
    eng3.run_bfs(seeds)
    assert eng3.stats.stopped == "cancelled"
    docs_df.unpersist()


def _rows(df):
    return sorted((r["url_hash"], int(r["epoch"])) for r in df.collect())


def test_compaction_crash_safe(spark, monkeypatch):
    """A crash at ANY point of a compaction (StateStore.rewrite) must leave
    exactly one complete generation readable: the checkpoint rename is the
    commit point (ADVICE r01: the old in-place compact deleted the deltas
    before installing the replacement)."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from link_profiler_repo_spark.state import StateStore

    wd = tempfile.mkdtemp()
    store = StateStore(wd, "compact-crash")
    for e in range(1, 4):
        df = spark.range(3).select(
            F.concat(F.lit(f"h{e}-"), F.col("id").cast("string")).alias("url_hash")
        )
        store.write_epoch("seen", e, df)
    store.commit({"epoch": 3})
    before = _rows(store.read_deltas(spark, "seen", 3))
    assert len(before) == 9

    def compact():
        store.rewrite({"seen": (0, store.read_deltas(spark, "seen", 3))}, {"epoch": 3})

    def crash_on(fn, target):  # fn(..., target) raises instead of running
        def f(*args, **kwargs):
            if str(args[-1]) == target:
                raise RuntimeError("crash")
            return fn(*args, **kwargs)
        return f

    # crash AFTER the new generation is written but BEFORE the manifest
    # rename: the old generation must still be fully readable
    old_dir = store._table_dir("seen")
    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_on(os.replace, store._ckpt_path))
        with pytest.raises(RuntimeError):
            compact()
    assert store._table_dir("seen") == old_dir
    assert _rows(store.read_deltas(spark, "seen", 3)) == before

    # crash AFTER the rename, in the reclaim of the old generation: the NEW
    # generation must be live (rows identical modulo the folded epoch column)
    with monkeypatch.context() as m:
        m.setattr(shutil, "rmtree", crash_on(shutil.rmtree, old_dir))
        with pytest.raises(RuntimeError):
            compact()
    hashes = sorted(h for h, _ in before)
    assert store._table_dir("seen") != old_dir
    after = store.read_deltas(spark, "seen", 3)
    assert sorted(r["url_hash"] for r in after.collect()) == hashes
    # a fresh store over the same dir resolves the same generation
    store2 = StateStore(wd, "compact-crash")
    assert sorted(r["url_hash"] for r in store2.read_deltas(spark, "seen", 3).collect()) == hashes
    # and the next commit deletes the garbage the crash left
    assert os.path.isdir(old_dir)
    store2.commit({"epoch": 4})
    assert not os.path.exists(old_dir)


def test_fresh_run_ignores_prior_state(spark, tmp_path):
    """A fresh (resume=False) run against a workdir that already holds a
    previous run's state — including a COMPACTED seen generation, whose
    directory a new run's epoch writes would never overwrite — must produce
    exactly the same crawl as a run against a clean workdir."""
    from link_profiler_repo_spark.config import CrawlConfig
    from link_profiler_repo_spark.operators.crawl import CrawlEngine
    from link_profiler_repo_spark.synth import SynthParams, synth_docs_spark
    from link_profiler_repo_spark.oracle_sim import build_fixture, simulate_bfs

    p = SynthParams(n_docs=80, n_hosts=5)
    cfg = CrawlConfig(job_id="freshjob", max_depth=3, max_pages=60)
    docs, seeds = build_fixture(p, n_seeds=2)
    expected = simulate_bfs(docs, seeds, cfg, p)
    docs_df = synth_docs_spark(spark, p).persist()
    workdir = str(tmp_path / "state")

    def run():
        eng = CrawlEngine(
            spark, cfg, docs_df, workdir, synth_params=p,
            prefilter=None, compact_every=1, metrics_enabled=False,
        )
        out = eng.run_bfs(seeds)
        return [
            (int(r["crawl_order"]), r["url"])
            for r in out["seen"].orderBy("crawl_order").collect()
        ]

    first = run()
    second = run()  # same workdir + job_id, fresh run over compacted leftovers
    assert first == second
    assert {u for _, u in first} == expected.seen
    docs_df.unpersist()


def test_resume_rejects_another_prefilter_layout(spark, tmp_path):
    """The prefilter holds the keys of every page crawled before the
    checkpoint. Resuming under another layout would let those pages skip the
    exact anti-join and be crawled again, so resume refuses and names both
    layouts. That includes a checkpoint that records no layout. The refused
    resume leaves the checkpoint as it was."""
    import json
    import os

    p = SynthParams(n_docs=100, n_hosts=6)
    cfg = CrawlConfig(job_id="layout", max_depth=8, max_pages=400)
    _, seeds = build_fixture(p, n_seeds=2)
    docs_df = synth_docs_spark(spark, p)

    def engine(prefilter):
        return CrawlEngine(
            spark, cfg, docs_df, str(tmp_path), synth_params=p, prefilter=prefilter,
            bloom_bits=1 << 16, metrics_enabled=False,
        )

    eng = engine(None)
    commit = eng.store.commit

    def pause_after_epoch_1(meta):
        commit(meta)
        if meta["epoch"] == 1:
            eng.store.write_control("paused")

    eng.store.commit = pause_after_epoch_1
    eng.run_bfs(seeds)
    assert (eng.stats.stopped, eng.stats.epochs) == ("paused", 1)
    ckpt_path = os.path.join(eng.store.dir, "_checkpoint.json")
    with open(ckpt_path) as f:
        saved = f.read()

    for prefilter in ("bloom", "cuckoo"):
        layout = f"{prefilter}, 65536 bits, n_buckets=1"
        with pytest.raises(ValueError, match=f"'none' differs from this engine's '{layout}'"):
            engine(prefilter).run_bfs(seeds, resume=True)
    with open(ckpt_path) as f:
        assert f.read() == saved

    unrecorded = json.loads(saved)
    del unrecorded["prefilter"]
    with open(ckpt_path, "w") as f:
        json.dump(unrecorded, f)
    with pytest.raises(ValueError, match="'unrecorded' differs from this engine's 'none'"):
        engine(None).run_bfs(seeds, resume=True)
