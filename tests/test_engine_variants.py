"""Engine layout variants must be semantically invisible: bucketed seen table
and delta compaction produce the identical crawl ordering and seen set."""

import tempfile

from link_profiler_repo_spark.config import CrawlConfig
from link_profiler_repo_spark.operators.crawl import CrawlEngine
from link_profiler_repo_spark.oracle_sim import build_fixture, simulate_bfs
from link_profiler_repo_spark.synth import SynthParams, synth_docs_spark

P = SynthParams(n_docs=100, n_hosts=6)
CFG_B = CrawlConfig(job_id="bucketed", max_depth=3, max_pages=300)
CFG_C = CrawlConfig(job_id="compacted", max_depth=3, max_pages=300)


def _order(out):
    rows = out["seen"].orderBy("crawl_order").select("crawl_order", "url", "depth").collect()
    return [(int(r["crawl_order"]), r["url"], int(r["depth"])) for r in rows]


def test_bucketed_seen_layout_matches_oracle(spark):
    docs, seeds = build_fixture(P, n_seeds=2)
    expected = simulate_bfs(docs, seeds, CFG_B, P)
    docs_df = synth_docs_spark(spark, P).persist()
    eng = CrawlEngine(
        spark, CFG_B, docs_df, tempfile.mkdtemp(), synth_params=P,
        prefilter=None, seen_layout="bucketed", metrics_enabled=False,
    )
    try:
        out = eng.run_bfs(seeds)
        assert _order(out) == expected.order
    finally:
        if eng._bucketed is not None:
            eng._bucketed.drop()
        docs_df.unpersist()


def test_bucketed_docs_layout_matches_oracle(spark):
    """docs_layout='bucketed': corpus persisted once as a bucketBy(doc_id)
    table; every epoch's fetch join must produce the identical crawl."""
    cfg = CrawlConfig(job_id="docsbucketed", max_depth=3, max_pages=300)
    docs, seeds = build_fixture(P, n_seeds=2)
    expected = simulate_bfs(docs, seeds, cfg, P)
    docs_df = synth_docs_spark(spark, P).persist()
    eng = CrawlEngine(
        spark, cfg, docs_df, tempfile.mkdtemp(), synth_params=P,
        prefilter=None, docs_layout="bucketed", metrics_enabled=False,
    )
    try:
        out = eng.run_bfs(seeds)
        assert _order(out) == expected.order
        assert {r[1] for r in _order(out)} == expected.seen
    finally:
        if eng._docs_table is not None:
            eng._docs_table.drop()
        docs_df.unpersist()


def test_broadcast_fetch_join_matches_oracle(spark, monkeypatch):
    """CORPUS_BROADCAST_RATIO=0 forces the broadcast-wave fetch path (inner
    join + wave-side 404 recovery); must be semantically invisible."""
    from link_profiler_repo_spark.operators import crawl

    monkeypatch.setattr(crawl, "CORPUS_BROADCAST_RATIO", 0)
    cfg = CrawlConfig(job_id="bcastfetch", max_depth=3, max_pages=300)
    docs, seeds = build_fixture(P, n_seeds=2)
    expected = simulate_bfs(docs, seeds, cfg, P)
    docs_df = synth_docs_spark(spark, P).persist()
    eng = CrawlEngine(
        spark, cfg, docs_df, tempfile.mkdtemp(), synth_params=P,
        prefilter=None, metrics_enabled=False,
    )
    out = eng.run_bfs(seeds)
    assert _order(out) == expected.order
    assert {r[1] for r in _order(out)} == expected.seen
    docs_df.unpersist()


def test_compaction_matches_oracle(spark):
    docs, seeds = build_fixture(P, n_seeds=2)
    expected = simulate_bfs(docs, seeds, CFG_C, P)
    docs_df = synth_docs_spark(spark, P).persist()
    eng = CrawlEngine(
        spark, CFG_C, docs_df, tempfile.mkdtemp(), synth_params=P,
        prefilter=None, compact_every=2, metrics_enabled=False,
    )
    out = eng.run_bfs(seeds)
    assert _order(out) == expected.order
    assert {r[1] for r in _order(out)} == expected.seen
    docs_df.unpersist()

