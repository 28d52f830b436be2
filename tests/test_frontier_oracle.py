"""Frontier oracle equality (SURVEY §5.2-2, the north_rule correctness gate):
the Spark engine's crawl ordering and final URL-seen set must match the
pure-Python reference simulator EXACTLY — same seed list, same budgets.

BFS mode oracle implements services/crawl_service.py:487-601 verbatim;
scheduler mode oracle implements smart_crawler_queue.py semantics under
logical politeness epochs. Engine runs are module-scoped and shared across
assertions (they are the expensive part).
"""

import json
import os
import tempfile

import pytest

from link_profiler_repo_spark.config import CrawlConfig
from link_profiler_repo_spark.operators.crawl import CrawlEngine
from link_profiler_repo_spark.oracle_sim import (
    build_fixture,
    simulate_bfs,
    simulate_scheduler,
)
from link_profiler_repo_spark.synth import SynthParams, robots_rows, robots_spark, synth_docs_spark

P = SynthParams(n_docs=120, n_hosts=8)
CFG = CrawlConfig(max_depth=3, max_pages=500)


def _engine_order(out):
    rows = out["seen"].orderBy("crawl_order").select("crawl_order", "url", "depth").collect()
    return [(int(r["crawl_order"]), r["url"], int(r["depth"])) for r in rows]


@pytest.fixture(scope="module")
def docs_df(spark):
    df = synth_docs_spark(spark, P).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def bfs_run(spark, docs_df):
    docs, seeds = build_fixture(P, n_seeds=3)
    expected = simulate_bfs(docs, seeds, CFG, P)
    eng = CrawlEngine(
        spark, CFG, docs_df, tempfile.mkdtemp(), synth_params=P, bloom_bits=1 << 16
    )
    out = eng.run_bfs(seeds)
    return expected, out, eng


def test_bfs_order_matches_oracle(bfs_run):
    expected, out, _ = bfs_run
    got = _engine_order(out)
    assert got == expected.order, (
        f"order mismatch: engine {len(got)} vs oracle {len(expected.order)};"
        f" first diff: {next(((a, b) for a, b in zip(got, expected.order) if a != b), None)}"
    )


def test_bfs_seen_set_matches_oracle(bfs_run):
    expected, out, _ = bfs_run
    got_seen = {r["url"] for r in out["seen"].select("url").collect()}
    assert got_seen == expected.seen


def test_bfs_edges_match_oracle(bfs_run):
    expected, out, _ = bfs_run
    got_edges = {
        (r["src"], r["dst"], r["link_type"], int(r["pos"]))
        for r in out["edges"].select("src", "dst", "link_type", "pos").collect()
    }
    exp_edges = {(e["src"], e["dst"], e["link_type"], e["pos"]) for e in expected.edges}
    assert got_edges == exp_edges


def test_bfs_metrics_lineage_recorded(bfs_run):
    # north_rule: per-partition fetch/dedup lineage counters per epoch
    _, out, eng = bfs_run
    m = out["metrics"]
    assert m is not None
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert {"crawled", "scheduled"} <= stages
    crawled_total = sum(
        r["rows"] for r in m.filter(m["stage"] == "crawled").collect()
    )
    assert crawled_total == eng.stats.crawled


@pytest.mark.parametrize(
    "cfg,n_seeds",
    [
        # binding max_pages budget mid-wave (exercises sequential admission)
        (CrawlConfig(job_id="budget-mid", max_depth=4, max_pages=40), 3),
        # budget binds on the FIRST expansion wave
        (CrawlConfig(job_id="budget-first", max_depth=5, max_pages=8), 3),
        # allowed-domain restriction (core/models.py:118-121)
        (
            CrawlConfig(
                job_id="allow",
                max_depth=3,
                max_pages=300,
                allowed_domains=frozenset({"h000.test", "h001.test", "h002.test"}),
            ),
            3,
        ),
        # P10 content-size guard: oversized pages crawl but yield no links
        (CrawlConfig(job_id="guard", max_depth=3, max_pages=300, max_content_chars=180), 3),
    ],
    ids=["budget-mid", "budget-first", "allowlist", "content-guard"],
)
def test_bfs_variants_match_oracle(spark, docs_df, tmp_workdir, cfg, n_seeds):
    docs, seeds = build_fixture(P, n_seeds=n_seeds)
    expected = simulate_bfs(docs, seeds, cfg, P)
    eng = CrawlEngine(
        spark, cfg, docs_df, tmp_workdir, synth_params=P, prefilter=None,
        metrics_enabled=False,
    )
    out = eng.run_bfs(seeds)
    got = _engine_order(out)
    assert got == expected.order
    assert {r[1] for r in got} == expected.seen


@pytest.fixture(scope="module")
def sched_run(spark, docs_df):
    cfg = CrawlConfig(
        job_id="sched", max_depth=3, max_pages=60, host_budget=2,
        epoch_seconds=2.0, max_retries=1,
    )
    docs, seeds = build_fixture(P, n_seeds=4)
    rr = robots_rows(P)
    expected = simulate_scheduler(docs, seeds, cfg, P, robots_rows=rr)
    eng = CrawlEngine(
        spark, cfg, docs_df, tempfile.mkdtemp(), synth_params=P,
        robots_df=robots_spark(spark, P), bloom_bits=1 << 16,
        metrics_enabled=False,
    )
    # collect_waves is an oracle-test-only opt-in: the scheduler hot loop
    # itself never collects (VERDICT r01 #3)
    out = eng.run_scheduler(seeds, collect_waves=True)
    return expected, out, eng.store.dir


def test_scheduler_waves_match_oracle(sched_run):
    expected, out, _ = sched_run
    assert out["waves"] == expected.waves, (
        f"wave mismatch: engine {len(out['waves'])} epochs vs oracle {len(expected.waves)}; "
        f"first diff epoch: "
        f"{next((i for i, (a, b) in enumerate(zip(out['waves'], expected.waves)) if a != b), None)}"
    )


def test_scheduler_seen_matches_oracle(sched_run):
    expected, out, _ = sched_run
    got_seen = {r["url"] for r in out["seen"].select("url").collect()}
    assert got_seen == expected.seen


def test_scheduler_dead_letter_matches_oracle(sched_run):
    # flaky hosts (503) exhaust retries -> dead_letter (smart_crawler_queue.py:190-192)
    expected, out, _ = sched_run
    assert expected.dead_letter, "fixture should produce dead-letter entries"
    got_dead = {(r["url"], int(r["retries"])) for r in out["dead_letter"].collect()}
    assert got_dead == set(expected.dead_letter)


def test_scheduler_state_keeps_only_what_resume_reads(sched_run):
    """Every commit reclaims what its checkpoint cannot reach: after a
    many-epoch crawl only the committed epoch's frontier snapshot and one
    prefilter generation remain, no Bloom bitmap file is written, and no
    per-table generation pointer file exists (the checkpoint names each
    table's generation)."""
    _, _, state_dir = sched_run
    with open(os.path.join(state_dir, "_checkpoint.json")) as f:
        epochs = json.load(f)["epoch"]
    assert epochs > 2
    names = os.listdir(state_dir)
    assert os.listdir(os.path.join(state_dir, "frontier_sched")) == [f"epoch={epochs}"]
    assert not [n for n in names if n.startswith("bloom_epoch")]
    prefilter = os.listdir(os.path.join(state_dir, "prefilter"))
    assert len([n for n in prefilter if n.startswith("gen")]) == 1, prefilter
    assert not [n for n in names if n.startswith("_") and n.endswith(".gen")]


def test_scheduler_sitemap_seeding_matches_oracle(spark, docs_df):
    """Sitemap -> frontier wiring (robots_parser.py:149-171): robots
    `Sitemap:` URLs join the frontier as depth-0 candidates after the user
    seeds; one duplicates a seed (admission-dedup keeps the seed), one points
    at a page outside the corpus (fetch-misses but is still scheduled)."""
    from link_profiler_repo_spark.schemas import ROBOTS
    from link_profiler_repo_spark.synth import page_url

    cfg = CrawlConfig(
        job_id="smseed", max_depth=3, max_pages=50, host_budget=2,
        epoch_seconds=2.0, max_retries=1,
    )
    docs, seeds = build_fixture(P, n_seeds=2)
    rr = robots_rows(P)
    # graft sitemaps onto two hosts: a fresh deep page, a seed duplicate,
    # and a URL with no backing doc
    rr[0] = dict(rr[0], sitemaps=[page_url(5, 3), seeds[0]])
    rr[1] = dict(rr[1], sitemaps=["http://h001.test/no-such-page"])
    expected = simulate_scheduler(docs, seeds, cfg, P, robots_rows=rr)
    eng = CrawlEngine(
        spark, cfg, docs_df, tempfile.mkdtemp(), synth_params=P,
        robots_df=spark.createDataFrame(rr, schema=ROBOTS),
        prefilter=None, metrics_enabled=False,
    )
    out = eng.run_scheduler(seeds, collect_waves=True)
    assert out["waves"] == expected.waves
    got_seen = {r["url"] for r in out["seen"].select("url").collect()}
    assert got_seen == expected.seen
    # the sitemap-only page really was discovered via the sitemap path
    assert page_url(5, 3) in got_seen
