"""Cuckoo kernel of the bucketed prefilter table (functions/sidecar.py):
deletion semantics (the capability Bloom lacks), the no-false-negative
invariant under interleaved insert/delete epochs, the stash bound at the
design load, and the engine's eviction path. Properties shared with the
Bloom kernel are in tests/test_sidecar.py."""

import pyspark.sql.functions as F

from link_profiler_repo_spark.functions.sidecar import Sidecar

N_BUCKETS = 8
BITS = N_BUCKETS << 15  # 4096 slots (1024 inner buckets x 4) per outer bucket


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(F.xxhash64(F.col("id").cast("string")).alias("xx64"))


def _cuckoo(tmp_path):
    return Sidecar(str(tmp_path / "cuckoo"), "cuckoo", N_BUCKETS, BITS)


def _probe_map(spark, sc, lo, hi):
    return {r["xx64"]: r["_maybe"] for r in sc.probe(_keys(spark, lo, hi)).collect()}


def test_delete_forgets_only_the_deleted(spark, tmp_path):
    sc = _cuckoo(tmp_path)
    sc.update(_keys(spark, 0, 3000))
    sc.update(None, deletes=_keys(spark, 0, 1500))
    got = _probe_map(spark, sc, 0, 3000)
    kept = {r["xx64"] for r in _keys(spark, 1500, 3000).collect()}
    deleted = {r["xx64"] for r in _keys(spark, 0, 1500).collect()} - kept
    fn = sum(1 for k in kept if not got[k])
    assert fn == 0, "delete caused a false negative on a surviving key"
    still = sum(1 for k in deleted if got[k])
    # a deleted key may stay maybe-present only via a (bucket, fp) collision
    # with a surviving key — rare at 16-bit fps
    assert still <= len(deleted) * 0.05, f"{still}/{len(deleted)} survived deletion"


def test_interleaved_ops_match_set_model(spark, tmp_path):
    """Property: after any insert/delete epoch sequence (deletes only of
    live inserted keys), every live key is maybe-present."""
    sc = _cuckoo(tmp_path)
    live: set[int] = set()
    rng_ranges = [(0, 800, None), (800, 1600, (0, 400)), (1600, 2400, (800, 1200)), (2400, 2600, (1600, 2000))]
    for lo, hi, dele in rng_ranges:
        ins = _keys(spark, lo, hi)
        dels = _keys(spark, *dele) if dele else None
        sc.update(ins, dels)
        live |= {r["xx64"] for r in ins.collect()}
        if dels is not None:
            live -= {r["xx64"] for r in dels.collect()}
    got = _probe_map(spark, sc, 0, 2600)
    assert all(got[k] for k in live), "live key lost"


def test_stash_stays_empty_at_design_load(spark, tmp_path):
    """Two-choice placement without eviction must not overflow at the <= 50%
    load the sizing targets: 8 buckets x 4096 slots = 32768 slots; insert
    16000 keys and require a near-empty stash (the state bytes past the
    table)."""
    sc = _cuckoo(tmp_path)
    sc.update(_keys(spark, 0, 16000))
    rows = spark.read.parquet(sc.live()).select("state").collect()
    stashed = sum(len(r["state"]) - sc.kernel.nbytes for r in rows) // 8
    assert stashed <= 16, f"stash holds {stashed} keys at 50% load"
    got = _probe_map(spark, sc, 0, 16000)
    assert all(got.values())


def test_engine_eviction_roundtrip(spark, tmp_path, monkeypatch):
    """evict_seen_prefilter: crawled keys vanish from the prefilter (the
    recrawl-readmission path); non-evicted keys stay."""
    from link_profiler_repo_spark.config import CrawlConfig
    from link_profiler_repo_spark.operators import crawl
    from link_profiler_repo_spark.operators.crawl import CrawlEngine
    from link_profiler_repo_spark.synth import SynthParams, synth_docs_spark

    monkeypatch.setattr(crawl, "PREFILTER_BUCKET_BITS", (1 << 16) // N_BUCKETS)

    p = SynthParams(n_docs=60, n_hosts=4)
    cfg = CrawlConfig(job_id="cuckoo-evict", max_depth=2, max_pages=100)
    docs_df = synth_docs_spark(spark, p)
    eng = CrawlEngine(
        spark, cfg, docs_df, str(tmp_path / "wd"), synth_params=p,
        prefilter="cuckoo", bloom_bits=1 << 16, metrics_enabled=False,
    )
    assert eng._sidecar.n_buckets == N_BUCKETS
    keys = _keys(spark, 0, 500)
    evict = keys.filter(F.pmod(F.col("xx64"), F.lit(5)) < 2)  # ~40%, deterministic
    eng._sidecar.update(keys)
    eng.evict_seen_prefilter(evict)
    probed = eng._sidecar.probe(keys).collect()
    evicted = {r["xx64"] for r in evict.collect()}
    assert 100 < len(evicted) < 300
    live_missing = [r for r in probed if r["xx64"] not in evicted and not r["_maybe"]]
    gone = sum(1 for r in probed if r["xx64"] in evicted and not r["_maybe"])
    assert not live_missing
    assert gone >= len(evicted) * 0.95
