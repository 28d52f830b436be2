"""Per-bucket Bloom sidecar (functions/bloom_sidecar.py): membership
semantics (no false negatives), bucket-pruned probe reads (a task touches
ONLY its bucket's files), compaction equivalence, and end-to-end crawl oracle
equality with the sidecar prefilter active."""

import os
import shutil
import tempfile

import pyspark.sql.functions as F

from link_profiler_repo_spark.functions import bloom_sidecar

N_BUCKETS = 8
M_BITS = 1 << 12


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(F.xxhash64(F.col("id").cast("string")).alias("xx64"))


def test_sidecar_no_false_negatives_and_low_fp(spark, tmp_path):
    path = str(tmp_path / "sidecar")
    inserted = _keys(spark, 0, 2000)
    bloom_sidecar.append_delta(inserted, "xx64", path, N_BUCKETS, M_BITS)
    # second epoch delta
    bloom_sidecar.append_delta(_keys(spark, 2000, 3000), "xx64", path, N_BUCKETS, M_BITS)

    probe_all = bloom_sidecar.probe(
        _keys(spark, 0, 6000), "xx64", path, N_BUCKETS, M_BITS
    )
    rows = probe_all.collect()
    member = {r["xx64"] for r in _keys(spark, 0, 3000).collect()}
    fn = sum(1 for r in rows if r["xx64"] in member and not r["_maybe"])
    fp = sum(1 for r in rows if r["xx64"] not in member and r["_maybe"])
    assert fn == 0, "bloom false negative — contract violation"
    assert fp < 3000 * 0.25, f"fp rate implausibly high: {fp}"


def test_probe_reads_only_its_bucket(spark, tmp_path):
    """File-pruning proof: after deleting every bucket directory except one,
    probing keys OF THAT BUCKET still works — so the probe never loads any
    other bucket's files. (Keys of deleted buckets report not-present, which
    is the correct empty-bitmap semantics.)"""
    path = str(tmp_path / "sidecar")
    all_keys = _keys(spark, 0, 4000).persist()
    bloom_sidecar.append_delta(all_keys, "xx64", path, N_BUCKETS, M_BITS)

    keep = 3
    for d in os.listdir(path):
        if d.startswith("bucket=") and d != f"bucket={keep}":
            shutil.rmtree(os.path.join(path, d))

    in_bucket = all_keys.filter(
        F.pmod(F.col("xx64"), F.lit(N_BUCKETS)) == keep
    )
    got = bloom_sidecar.probe(in_bucket, "xx64", path, N_BUCKETS, M_BITS).collect()
    assert got and all(r["_maybe"] for r in got)

    other = bloom_sidecar.probe(
        all_keys.filter(F.pmod(F.col("xx64"), F.lit(N_BUCKETS)) == (keep + 1) % N_BUCKETS),
        "xx64", path, N_BUCKETS, M_BITS,
    ).collect()
    assert all(not r["_maybe"] for r in other)
    all_keys.unpersist()


def test_compact_preserves_membership(spark, tmp_path):
    path = str(tmp_path / "sidecar")
    for lo, hi in ((0, 1000), (1000, 2000), (2000, 2500)):
        bloom_sidecar.append_delta(_keys(spark, lo, hi), "xx64", path, N_BUCKETS, M_BITS)
    before = {
        r["xx64"]: r["_maybe"]
        for r in bloom_sidecar.probe(_keys(spark, 0, 4000), "xx64", path, N_BUCKETS, M_BITS).collect()
    }
    bloom_sidecar.compact(spark, path, N_BUCKETS, M_BITS)
    # exactly one bitmap row per bucket after compaction
    rows = spark.read.parquet(path).groupBy("bucket").count().collect()
    assert all(r["count"] == 1 for r in rows)
    after = {
        r["xx64"]: r["_maybe"]
        for r in bloom_sidecar.probe(_keys(spark, 0, 4000), "xx64", path, N_BUCKETS, M_BITS).collect()
    }
    # ORing delta bitmaps is monotone: every maybe-true stays true (members
    # can never be lost); union-induced extra false positives are allowed
    assert all(after[k] for k, v in before.items() if v)
    member = {r["xx64"] for r in _keys(spark, 0, 2500).collect()}
    assert all(after[k] for k in member)


def test_bfs_with_sidecar_matches_oracle(spark):
    from link_profiler_repo_spark.config import CrawlConfig
    from link_profiler_repo_spark.operators.crawl import CrawlEngine
    from link_profiler_repo_spark.oracle_sim import build_fixture, simulate_bfs
    from link_profiler_repo_spark.synth import SynthParams, synth_docs_spark

    p = SynthParams(n_docs=100, n_hosts=6)
    cfg = CrawlConfig(job_id="sidecar-bfs", max_depth=3, max_pages=300)
    docs, seeds = build_fixture(p, n_seeds=2)
    expected = simulate_bfs(docs, seeds, cfg, p)
    docs_df = synth_docs_spark(spark, p).persist()
    docs_df.count()
    eng = CrawlEngine(
        spark, cfg, docs_df, tempfile.mkdtemp(), synth_params=p,
        use_bloom=True, bloom_layout="sidecar", bloom_buckets=8,
        bloom_bits=1 << 16, metrics_enabled=False,
    )
    out = eng.run_bfs(seeds)
    got = [
        (int(r["crawl_order"]), r["url"], int(r["depth"]))
        for r in out["seen"].orderBy("crawl_order").select("crawl_order", "url", "depth").collect()
    ]
    assert got == expected.order
    assert {u for _, u, _ in got} == expected.seen
    assert os.path.isdir(eng._sidecar_path)
    docs_df.unpersist()


def test_sidecar_non_power_of_two_buckets(spark, tmp_path):
    """Write path buckets with Catalyst pmod (signed), probe buckets in numpy
    — for non-power-of-two n_buckets the two diverge unless the probe uses
    floored signed modulo. No false negatives allowed at n_buckets=6."""
    path = str(tmp_path / "sidecar6")
    n_buckets = 6
    inserted = _keys(spark, 0, 2000)
    bloom_sidecar.append_delta(inserted, "xx64", path, n_buckets, M_BITS)
    rows = bloom_sidecar.probe(inserted, "xx64", path, n_buckets, M_BITS).collect()
    assert rows and all(r["_maybe"] for r in rows), "false negative at non-pow2 buckets"


def test_positions_distinct_beyond_six_probes():
    """k > 6 must NOT reuse multipliers (reuse silently degrades the filter
    to k=6): probe positions for i=6,7 differ from i=0,1 on random keys."""
    import numpy as np

    from link_profiler_repo_spark.functions.bloom import _positions

    h = np.random.default_rng(7).integers(0, 2**63, size=1000, dtype=np.int64).view(np.uint64)
    pos = _positions(h, 1 << 16, 8)
    assert not np.array_equal(pos[6], pos[0])
    assert not np.array_equal(pos[7], pos[1])


def test_build_bloom_adaptive_partials_identical(spark):
    """build_bloom's adaptive partial encoding (sparse position lists vs
    dense packed bitmaps, promotion mid-partition) must yield the identical
    bitmap for every partitioning of the same keys: 1 partition (one big
    partial, promoted dense at default m), 32 partitions (sparse
    position-mode partials), and a tiny m that forces promotion after the
    first batch."""
    import numpy as np
    import pyspark.sql.functions as F

    from link_profiler_repo_spark.functions.bloom import build_bloom

    df = spark.range(0, 5000).select(F.xxhash64("id").alias("xx64"))
    m = 1 << 18
    one = build_bloom(df.coalesce(1), "xx64", m_bits=m)
    wide = build_bloom(df.repartition(32), "xx64", m_bits=m)
    assert np.array_equal(one, wide)
    tiny_m = 1 << 10  # positions (5000*4*4B) >> bits (128 B): promotes early
    t_one = build_bloom(df.coalesce(1), "xx64", m_bits=tiny_m)
    t_wide = build_bloom(df.repartition(32), "xx64", m_bits=tiny_m)
    assert np.array_equal(t_one, t_wide)
    assert one.any() and t_one.any()


def test_bloom_rejects_m_bits_beyond_uint32(spark):
    """Sparse partials carry uint32 bit positions: a filter wider than 2**32
    bits must fail before any job runs instead of wrapping positions."""
    import numpy as np
    import pyspark.sql.functions as F
    import pytest

    from link_profiler_repo_spark.functions.bloom import add_to_bloom, build_bloom

    df = spark.range(0, 10).select(F.xxhash64("id").alias("xx64"))
    too_big = (1 << 32) + 64
    jobs_before = spark.sparkContext.statusTracker().getJobIdsForGroup()
    with pytest.raises(ValueError, match="2\\*\\*32"):
        build_bloom(df, "xx64", m_bits=too_big)
    with pytest.raises(ValueError, match="2\\*\\*32"):
        add_to_bloom(np.zeros(8, dtype=np.uint8), df, "xx64", too_big)
    assert spark.sparkContext.statusTracker().getJobIdsForGroup() == jobs_before
