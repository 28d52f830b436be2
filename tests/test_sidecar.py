"""Bucketed prefilter table (functions/sidecar.py), every shell property
checked for both kernels: no false negatives with a per-kernel false
positive bound, bucket-pruned probe reads, untouched buckets carried over,
non-power-of-two bucket counts, one state row per bucket however many
updates fold in, no key lost to a crash at any commit step of an update, a
one-bucket probe without an exchange, the engine's bucket count from its bit
budget, and end-to-end crawl oracle equality with the prefilter active."""

import os
import shutil
import tempfile

import numpy as np
import pyspark.sql.functions as F
import pytest

from link_profiler_repo_spark.functions.sidecar import Sidecar, _positions
from link_profiler_repo_spark.operators import crawl
from link_profiler_repo_spark.plans.inspect import count_exchanges

N_BUCKETS = 8
# whole-filter bit budgets: 2^12 bits per Bloom bucket, 2^12 cuckoo slots
BITS = {"bloom": N_BUCKETS << 12, "cuckoo": N_BUCKETS << 15}
# false positives allowed among 3000 non-members: Bloom at ~90% fill is
# loose; 16-bit cuckoo fingerprints give fpp ~ 8*2/65535
FP_MAX = {"bloom": 750, "cuckoo": 10}
kernels = pytest.mark.parametrize("kernel", sorted(BITS))


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(F.xxhash64(F.col("id").cast("string")).alias("xx64"))


def _sidecar(tmp_path, kernel, n_buckets=N_BUCKETS):
    return Sidecar(str(tmp_path / kernel), kernel, n_buckets, BITS[kernel])


def _false_negatives(spark, sc, hi):
    """Keys in [0, hi) — all inserted — that the probe reports absent."""
    return sum(1 for r in sc.probe(_keys(spark, 0, hi)).collect() if not r["_maybe"])


def _rows_per_bucket(spark, sc):
    rows = spark.read.parquet(sc.live()).groupBy("bucket").count().collect()
    return {r["bucket"]: r["count"] for r in rows}


def test_positions_distinct_beyond_six_probes():
    """k > 6 must NOT reuse multipliers (reuse silently degrades the filter
    to k=6): probe positions for i=6,7 differ from i=0,1 on random keys."""
    h = np.random.default_rng(7).integers(0, 2**63, size=1000, dtype=np.int64).view(np.uint64)
    pos = _positions(h, 1 << 16, 8)
    assert not np.array_equal(pos[6], pos[0])
    assert not np.array_equal(pos[7], pos[1])


@kernels
def test_no_false_negatives_and_low_fp(spark, tmp_path, kernel):
    sc = _sidecar(tmp_path, kernel)
    sc.update(_keys(spark, 0, 2000))
    sc.update(_keys(spark, 2000, 3000))
    got = {r["xx64"]: r["_maybe"] for r in sc.probe(_keys(spark, 0, 6000)).collect()}
    member = {r["xx64"] for r in _keys(spark, 0, 3000).collect()}
    fn = sum(1 for k, m in got.items() if k in member and not m)
    fp = sum(1 for k, m in got.items() if k not in member and m)
    assert fn == 0, "false negative — contract violation"
    assert fp <= FP_MAX[kernel], f"fp rate implausibly high: {fp}"


@kernels
def test_probe_reads_only_its_bucket(spark, tmp_path, kernel):
    """File-pruning proof: after deleting every bucket directory but one,
    probing keys OF THAT BUCKET still works — so the probe never loads any
    other bucket's files. (Keys of deleted buckets report not-present, the
    empty-filter semantics.)"""
    sc = _sidecar(tmp_path, kernel)
    all_keys = _keys(spark, 0, 4000).persist()
    sc.update(all_keys)
    keep = 3
    for d in os.listdir(sc.live()):
        if d.startswith("bucket=") and d != f"bucket={keep}":
            shutil.rmtree(os.path.join(sc.live(), d))
    bucket = F.pmod(F.col("xx64"), F.lit(N_BUCKETS))
    got = sc.probe(all_keys.filter(bucket == keep)).collect()
    assert got and all(r["_maybe"] for r in got)
    other = sc.probe(all_keys.filter(bucket == (keep + 1) % N_BUCKETS)).collect()
    assert all(not r["_maybe"] for r in other)
    all_keys.unpersist()


@kernels
def test_untouched_buckets_carry_over(spark, tmp_path, kernel):
    """The second update touches one bucket; the first update's keys in
    every other bucket must survive the generation swap."""
    sc = _sidecar(tmp_path, kernel)
    sc.update(_keys(spark, 0, 2000))
    sc.update(_keys(spark, 2000, 4000).filter(F.pmod(F.col("xx64"), F.lit(N_BUCKETS)) == 0))
    assert _false_negatives(spark, sc, 2000) == 0, "carry-over lost untouched buckets"


@kernels
def test_non_power_of_two_buckets(spark, tmp_path, kernel):
    """The write path buckets with Catalyst pmod (signed), the probe in
    numpy — for a non-power-of-two n_buckets the two diverge unless the
    probe uses floored signed modulo."""
    sc = _sidecar(tmp_path, kernel, n_buckets=6)
    sc.update(_keys(spark, 0, 2000))
    assert _false_negatives(spark, sc, 2000) == 0, "false negative at non-pow2 buckets"


@kernels
def test_updates_keep_one_row_per_bucket(spark, tmp_path, kernel):
    """Every update folds into the bucket's one state row (no per-epoch
    deltas to OR at probe time), and only the live generation stays."""
    sc = _sidecar(tmp_path, kernel)
    for lo, hi in ((0, 1000), (1000, 2000), (2000, 2500)):
        sc.update(_keys(spark, lo, hi))
    assert _rows_per_bucket(spark, sc) == {b: 1 for b in range(N_BUCKETS)}
    assert [d for d in os.listdir(sc.path) if d.startswith("gen")] == ["gen2"]
    assert _false_negatives(spark, sc, 2500) == 0


class _Crash(Exception):
    pass


@kernels
def test_crash_at_any_commit_step_loses_no_key(spark, tmp_path, monkeypatch, kernel):
    """An update that dies at any rename (or carry-over link) must leave the
    previous generation live: re-running it and then one more update keeps
    every key inserted so far. The crashing update touches one of three
    buckets, so the carry-over of the other two is among the steps that
    fail."""
    calls = {"n": 0, "at": None}

    def armed(real):
        def step(*a, **kw):
            calls["n"] += 1
            if calls["n"] == calls["at"]:
                raise _Crash()
            return real(*a, **kw)

        return step

    for name in ("replace", "rename", "link"):
        monkeypatch.setattr(os, name, armed(getattr(os, name)))
    one_bucket = _keys(spark, 1000, 3000).filter(F.pmod(F.col("xx64"), F.lit(3)) == 0)

    def run(at: int | None, sub: str):
        sc = Sidecar(str(tmp_path / sub), kernel, 3, BITS[kernel])
        sc.update(_keys(spark, 0, 1000))
        calls["n"], calls["at"] = 0, at
        try:
            sc.update(one_bucket)
        except _Crash:
            pass
        n_steps, calls["at"] = calls["n"], None
        return sc, n_steps

    _, n_steps = run(None, "clean")
    assert n_steps >= 2, "an update must rename its pointer and link carried buckets"
    for at in range(1, n_steps + 1):
        sc, _ = run(at, f"crash{at}")
        sc.update(one_bucket)  # the re-run of the crashed epoch
        sc.update(_keys(spark, 3000, 3500))
        inserted = _keys(spark, 0, 1000).unionByName(one_bucket).unionByName(_keys(spark, 3000, 3500))
        lost = [r for r in sc.probe(inserted).collect() if not r["_maybe"]]
        assert not lost, f"crash at commit step {at}/{n_steps}: {len(lost)} false negatives"


@kernels
def test_one_bucket_probe_has_no_exchange(spark, tmp_path, kernel):
    """With one bucket every task loads it in place: the probe plan adds no
    Exchange (two buckets still route keys to their bucket's task), and
    every member is found."""
    sc = _sidecar(tmp_path, kernel, n_buckets=1)
    keys = _keys(spark, 0, 1000)
    sc.update(keys)
    assert count_exchanges(sc.probe(keys)) == 0
    assert _false_negatives(spark, sc, 1000) == 0
    assert count_exchanges(_sidecar(tmp_path / "two", kernel, n_buckets=2).probe(keys)) > 0


def test_engine_buckets_from_bloom_bits(tmp_path):
    """The engine splits bloom_bits into PREFILTER_BUCKET_BITS-sized buckets
    (rounded up): bench and test budgets get one bucket."""
    from link_profiler_repo_spark.config import CrawlConfig

    for bits, n in ((1 << 16, 1), (1 << 23, 1), (1 << 25, 1), ((1 << 25) + 8, 2), (1 << 30, 32)):
        eng = crawl.CrawlEngine(None, CrawlConfig(), None, str(tmp_path), bloom_bits=bits)
        assert eng._sidecar.n_buckets == n, bits


@kernels
def test_bfs_matches_oracle(spark, monkeypatch, kernel):
    """End-to-end: crawl order and seen set equal the simulator with the
    bucketed prefilter on. Six buckets of a 2^16-bit budget do not divide
    into whole bytes, so the Bloom bucket size must round; after the crawl
    each bucket holds exactly one state row."""
    from link_profiler_repo_spark.config import CrawlConfig
    from link_profiler_repo_spark.operators.crawl import CrawlEngine
    from link_profiler_repo_spark.oracle_sim import build_fixture, simulate_bfs
    from link_profiler_repo_spark.synth import SynthParams, synth_docs_spark

    monkeypatch.setattr(crawl, "PREFILTER_BUCKET_BITS", 11_000)  # ceil(2^16 / 11000) = 6
    p = SynthParams(n_docs=100, n_hosts=6)
    cfg = CrawlConfig(job_id=f"{kernel}-bfs", max_depth=3, max_pages=300)
    docs, seeds = build_fixture(p, n_seeds=2)
    expected = simulate_bfs(docs, seeds, cfg, p)
    docs_df = synth_docs_spark(spark, p).persist()
    docs_df.count()
    eng = CrawlEngine(
        spark, cfg, docs_df, tempfile.mkdtemp(), synth_params=p,
        prefilter=kernel, bloom_bits=1 << 16, metrics_enabled=False,
    )
    assert eng._sidecar.n_buckets == 6
    out = eng.run_bfs(seeds)
    got = [
        (int(r["crawl_order"]), r["url"], int(r["depth"]))
        for r in out["seen"].orderBy("crawl_order").select("crawl_order", "url", "depth").collect()
    ]
    assert got == expected.order
    assert {u for _, u, _ in got} == expected.seen
    assert set(_rows_per_bucket(spark, eng._sidecar).values()) == {1}
    docs_df.unpersist()


def test_unknown_prefilter_rejected(spark, tmp_path):
    """Only None, 'bloom' and 'cuckoo' construct; the removed single-bitmap
    value and the old name of the Bloom table fail before any state exists."""
    from link_profiler_repo_spark.config import CrawlConfig
    from link_profiler_repo_spark.operators.crawl import CrawlEngine

    for value in ("bucketed", "single", "sidecar"):
        wd = tmp_path / value
        with pytest.raises(ValueError, match=f"prefilter='{value}'"):
            CrawlEngine(spark, CrawlConfig(), None, str(wd), prefilter=value)
        assert not wd.exists()
