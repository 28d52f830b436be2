"""Single-bitmap Bloom prefilter (functions/bloom.py) pieces that the
bucketed Bloom kernel (functions/sidecar.py) reuses or that guard its
sizing: distinct probe positions beyond six probes, the adaptive partial
encoding of build_bloom, and the uint32 position bound. The bucketed table
itself is covered for both kernels in tests/test_sidecar.py."""


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
