"""Recrawl readmission composition (CrawlEngine.readmit): the Cho &
Garcia-Molina schedule (operators/recrawl.py) picks due URLs from capture
history; readmit retires them from the exact seen state and re-seeds the
frontier in one commit (new StateStore generations — Iceberg DELETE), then
evicts them from the cuckoo prefilter; run_bfs(resume=True) then re-fetches
EXACTLY the due set with fresh crawl_order continuing the global counter,
while every other URL stays deduplicated. This is the capability the cuckoo
layout exists for (a Bloom prefilter cannot forget)."""

import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from link_profiler_repo_spark.config import CrawlConfig
from link_profiler_repo_spark.operators import crawl
from link_profiler_repo_spark.operators.crawl import CrawlEngine
from link_profiler_repo_spark.operators.recrawl import change_rates, recrawl_schedule
from link_profiler_repo_spark.oracle_sim import build_fixture, simulate_bfs
from link_profiler_repo_spark.synth import SynthParams, synth_docs_spark

P = SynthParams(n_docs=100, n_hosts=6)


@pytest.fixture(scope="module", autouse=True)
def _eight_buckets():
    """Every engine here splits its 2^16 prefilter bits into 8 buckets."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(crawl, "PREFILTER_BUCKET_BITS", 1 << 13)
        yield


def _run_engine(spark, wd, docs_df, max_pages=400):
    cfg = CrawlConfig(job_id="readmit", max_depth=3, max_pages=max_pages)
    return CrawlEngine(
        spark, cfg, docs_df, wd, synth_params=P,
        prefilter="cuckoo", bloom_bits=1 << 16, metrics_enabled=False,
    )


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    """One finished crawl. Tests call restore() to get its state directory
    back as the crawl left it."""
    docs, seeds = build_fixture(P, n_seeds=2)
    cfg = CrawlConfig(job_id="readmit", max_depth=3, max_pages=400)
    expected = simulate_bfs(docs, seeds, cfg, P)
    docs_df = synth_docs_spark(spark, P).persist()
    docs_df.count()
    wd = str(tmp_path_factory.mktemp("readmit") / "state")
    out = _run_engine(spark, wd, docs_df).run_bfs(seeds)
    first = {
        r["url"]: int(r["crawl_order"])
        for r in out["seen"].select("url", "crawl_order").collect()
    }
    shutil.copytree(wd, wd + ".saved")

    def restore():
        shutil.rmtree(wd)
        shutil.copytree(wd + ".saved", wd)

    yield docs_df, seeds, wd, restore, expected, first
    docs_df.unpersist()


def test_readmit_recrawls_exactly_the_due_set(spark, crawled):
    docs_df, seeds, wd, restore, expected, first = crawled
    restore()
    eng = _run_engine(spark, wd, docs_df)
    assert set(first) == expected.seen
    n_first = len(first)

    # capture history: 3 URLs change every capture (due at the 1-day floor),
    # 3 observed stable (90-day bound — NOT due)
    urls = sorted(first)[:6]
    caps = [
        (u, float(d), (f"v{d}" if i < 3 else "stable"))
        for i, u in enumerate(urls)
        for d in range(4)
    ]
    sched = recrawl_schedule(
        change_rates(spark.createDataFrame(caps, "url string, ts_days double, digest string"))
    )
    due = sched.filter(F.col("recrawl_days") <= 7).select("url")
    due_set = {r["url"] for r in due.collect()}
    assert due_set == set(urls[:3]), "fixture: fast-changing trio must be due"

    n_admitted = eng.readmit(due)
    assert n_admitted == len(due_set)

    out2 = eng.run_bfs(seeds, resume=True)
    rows = [
        (r["url"], int(r["crawl_order"]))
        for r in out2["seen"].select("url", "crawl_order").collect()
    ]
    # same URL universe, same total count — nothing new discovered, nothing lost
    assert {u for u, _ in rows} == expected.seen
    assert len(rows) == n_first
    # exactly the due set was re-fetched: fresh crawl_order continuing the
    # global counter, in wave_seq (url-sorted) order
    refreshed = sorted(
        [(u, o) for u, o in rows if o >= n_first], key=lambda t: t[1]
    )
    assert [u for u, _ in refreshed] == sorted(due_set)
    assert [o for _, o in refreshed] == list(range(n_first, n_first + len(due_set)))
    # non-due URLs kept their first-run order (state retained, not rewritten)
    for u, o in rows:
        if u not in due_set:
            assert o == first[u]


def _due_from_seen(spark, eng):
    # lineage reads the seen state directly — the generation readmit retires
    return eng.store.read_deltas(spark, "seen", 1 << 62).orderBy("crawl_order").limit(
        3
    ).select("url")


def test_readmit_due_set_derived_from_seen_table(spark, crawled):
    """Regression: the natural caller derives the due-set FROM the seen table
    (recrawl_schedule over crawl history), so its lazy plan reads the very
    generation files the readmit commit deletes. readmit must snapshot the
    keys first or the eviction after the commit hits FileNotFoundException."""
    docs_df, seeds, wd, restore, _, first = crawled
    restore()
    eng = _run_engine(spark, wd, docs_df)
    n1 = len(first)
    due = _due_from_seen(spark, eng)
    due_urls = sorted(r["url"] for r in due.collect())
    assert eng.readmit(due) == 3
    out2 = eng.run_bfs(seeds, resume=True)
    rows = [(r["url"], int(r["crawl_order"]))
            for r in out2["seen"].select("url", "crawl_order").collect()]
    assert len(rows) == n1
    assert sorted(u for u, o in rows if o >= n1) == due_urls


class _Crash(Exception):
    pass


def test_readmit_crash_at_any_state_write_resumes_cleanly(spark, crawled, monkeypatch):
    """readmit is all-or-nothing: crash it at each of its state writes in
    turn — every DataFrameWriter.parquet call and every os.replace /
    os.rename; a crashing parquet write first empties its target, as Spark's
    overwrite does before a failing job — then resume WITHOUT a second
    readmit. A crash before the checkpoint rename must resume as if readmit
    never ran; a crash after it, as the uncrashed readmit-then-resume run."""
    docs_df, seeds, wd, restore, _, _ = crawled

    def readmit(crash_at=-1):
        writes = []

        def hit(kind, target):
            writes.append((kind, os.path.relpath(str(target), wd)))
            if len(writes) - 1 == crash_at:
                if kind == "parquet":
                    shutil.rmtree(target, ignore_errors=True)
                    os.makedirs(target)
                raise _Crash(writes[-1])

        def wrap(kind, real, target_arg):
            def f(*args, **kwargs):
                hit(kind, args[target_arg])
                return real(*args, **kwargs)
            return f

        eng = _run_engine(spark, wd, docs_df)
        due = _due_from_seen(spark, eng)
        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "parquet", wrap("parquet", DataFrameWriter.parquet, 1))
            m.setattr(os, "replace", wrap("rename", os.replace, 1))
            m.setattr(os, "rename", wrap("rename", os.rename, 1))
            eng.readmit(due)
        return writes

    def resumed():
        out = _run_engine(spark, wd, docs_df).run_bfs(seeds, resume=True)
        return sorted(
            (int(r["crawl_order"]), r["url"], int(r["depth"])) for r in out["seen"].collect()
        )

    restore()
    without = resumed()
    restore()
    writes = readmit()  # dry run: every state write one readmit makes
    with_readmit = resumed()
    assert with_readmit != without
    commit = writes.index(("rename", os.path.join("readmit", "_checkpoint.json")))

    bad = []
    for k, w in enumerate(writes):
        restore()
        with pytest.raises(_Crash):
            readmit(crash_at=k)
        try:
            got = resumed()
        except Exception as e:  # noqa: BLE001 — a failing resume is a finding
            bad.append((k, w, f"resume raised {type(e).__name__}"))
            continue
        if got != (with_readmit if k > commit else without):
            bad.append((k, w, "resumed state differs"))
    assert not bad, (writes, bad)


def test_readmit_requires_checkpoint(spark):
    docs_df = synth_docs_spark(spark, P)
    eng = _run_engine(spark, tempfile.mkdtemp(), docs_df)
    with pytest.raises(ValueError, match="checkpoint"):
        eng.readmit(spark.createDataFrame([("http://h0.test/p0",)], "url string"))
