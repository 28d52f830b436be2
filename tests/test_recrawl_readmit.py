"""Recrawl readmission composition (CrawlEngine.readmit): the Cho &
Garcia-Molina schedule (operators/recrawl.py) picks due URLs from capture
history; readmit retires them from the exact seen state (new StateStore
generation — Iceberg DELETE), evicts them from the cuckoo prefilter, and
re-seeds the frontier; run_bfs(resume=True) then re-fetches EXACTLY the due
set with fresh crawl_order continuing the global counter, while every other
URL stays deduplicated. This is the capability the cuckoo layout exists for
(a Bloom prefilter cannot forget)."""

import tempfile

import pyspark.sql.functions as F

from link_profiler_repo_spark.config import CrawlConfig
from link_profiler_repo_spark.operators.crawl import CrawlEngine
from link_profiler_repo_spark.operators.recrawl import change_rates, recrawl_schedule
from link_profiler_repo_spark.oracle_sim import build_fixture, simulate_bfs
from link_profiler_repo_spark.synth import SynthParams, synth_docs_spark

P = SynthParams(n_docs=100, n_hosts=6)


def _run_engine(spark, wd, docs_df, max_pages=400):
    cfg = CrawlConfig(job_id="readmit", max_depth=3, max_pages=max_pages)
    return CrawlEngine(
        spark, cfg, docs_df, wd, synth_params=P,
        prefilter="cuckoo", bloom_buckets=8,
        bloom_bits=1 << 16, metrics_enabled=False,
    )


def test_readmit_recrawls_exactly_the_due_set(spark):
    docs, seeds = build_fixture(P, n_seeds=2)
    cfg = CrawlConfig(job_id="readmit", max_depth=3, max_pages=400)
    expected = simulate_bfs(docs, seeds, cfg, P)
    docs_df = synth_docs_spark(spark, P).persist()
    docs_df.count()

    wd = tempfile.mkdtemp()
    eng = _run_engine(spark, wd, docs_df)
    out = eng.run_bfs(seeds)
    first = {
        r["url"]: int(r["crawl_order"])
        for r in out["seen"].select("url", "crawl_order").collect()
    }
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
    docs_df.unpersist()


def test_readmit_due_set_derived_from_seen_table(spark):
    """Regression: the natural caller derives the due-set FROM the seen table
    (recrawl_schedule over crawl history), so its lazy plan reads the very
    generation files retire() deletes. readmit must snapshot the keys before
    retiring or every post-retire use hits FileNotFoundException."""
    docs, seeds = build_fixture(P, n_seeds=2)
    docs_df = synth_docs_spark(spark, P).persist()
    docs_df.count()
    wd = tempfile.mkdtemp()
    eng = _run_engine(spark, wd, docs_df)
    out = eng.run_bfs(seeds)
    n1 = out["seen"].count()
    # lineage reads the seen state directly — the case the parquet snapshot exists for
    due = eng.store.read_deltas(spark, "seen", 1 << 62).orderBy("crawl_order").limit(
        3
    ).select("url")
    due_urls = sorted(r["url"] for r in due.collect())
    assert eng.readmit(due) == 3
    out2 = eng.run_bfs(seeds, resume=True)
    rows = [(r["url"], int(r["crawl_order"]))
            for r in out2["seen"].select("url", "crawl_order").collect()]
    assert len(rows) == n1
    assert sorted(u for u, o in rows if o >= n1) == due_urls
    docs_df.unpersist()


def test_readmit_requires_checkpoint(spark):
    docs_df = synth_docs_spark(spark, P)
    eng = _run_engine(spark, tempfile.mkdtemp(), docs_df)
    import pytest

    with pytest.raises(ValueError, match="checkpoint"):
        eng.readmit(spark.createDataFrame([("http://h0.test/p0",)], "url string"))
