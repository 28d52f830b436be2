"""Bloom-filter prefilter for the URL-seen anti-join (north_rule: bloom/cuckoo
URL-seen set as state tables).

The EXACT layer is the left-anti join against the `seen` table keyed by
sha2(canonical_url, 256) — required because final-seen-set equality with the
reference is part of the contract (SURVEY §4.2). The Bloom filter is a
PREFILTER: candidates whose hash is definitely absent skip the anti-join
shuffle entirely; possible-positives fall through to the exact join.

Probing is fully vectorized: positions derive from the Catalyst-computed
xxhash64(url) column via double-hashing (h_i = h1 + i*h2 mod m) in numpy
uint64 arithmetic — no per-row Python anywhere. Building runs distributed as
per-partition partial bitmaps OR-reduced on the driver (each partial is a
fixed m/8-byte array, independent of row count).

At the 10^10 design point the single bitmap becomes a bucketed table
(functions/sidecar.py; bucket = pmod(xx64, n_buckets)) so each probe task
loads only its buckets; the sizing knob is m_bits (default 2^23 ≈ 1 MiB
~ 0.5M URLs at ~1% fpp; scale m with expected |seen|).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

_MIX = np.uint64(0x9E3779B97F4A7C15)

# independent odd multipliers (splitmix64 / murmur3 finalizer constants):
# position_i = top log2(m) bits of (h * A_i) — a multiply-shift universal
# hash per probe. The classic double-hash (h1 + i*h2) mod 2^b is WRONG for
# power-of-two m: mod keeps only the LOW b bits, so all k positions collapse
# to a function of h mod m and two keys colliding there share every position
# (measured 10-50%% fp at 25%% fill instead of the theoretical 0.5%%).
_ODD_MULTS = (
    np.uint64(0x9E3779B97F4A7C15),
    np.uint64(0xBF58476D1CE4E5B9),
    np.uint64(0x94D049BB133111EB),
    np.uint64(0xFF51AFD7ED558CCD),
    np.uint64(0xC4CEB9FE1A85EC53),
    np.uint64(0xD6E8FEB86659FD93),
)


def _mult(i: int) -> np.uint64:
    """Odd multiplier for probe i, any i — the named constants for the common
    k<=6, splitmix64(i)|1 beyond (reusing multipliers silently degrades the
    filter below its configured k)."""
    if i < len(_ODD_MULTS):
        return _ODD_MULTS[i]
    with np.errstate(over="ignore"):
        z = np.uint64(i) * _MIX + np.uint64(1)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return (z ^ (z >> np.uint64(31))) | np.uint64(1)


def _positions(h: np.ndarray, m_bits: int, k: int) -> list[np.ndarray]:
    h1 = h.astype(np.uint64)
    if m_bits & (m_bits - 1) == 0:  # power of two: take TOP bits post-multiply
        shift = np.uint64(64 - (m_bits.bit_length() - 1))
        with np.errstate(over="ignore"):
            return [(h1 * _mult(i)) >> shift for i in range(k)]
    m = np.uint64(m_bits)
    with np.errstate(over="ignore"):
        return [((h1 * _mult(i)) >> np.uint64(17)) % m for i in range(k)]


def build_bloom(df: DataFrame, xx_col: str, m_bits: int = 1 << 23, k: int = 4) -> np.ndarray:
    """Distributed build: per-partition partials OR-reduced driver-side.
    Adaptive partial encoding: a partition with few rows ships its k*n SET
    POSITIONS (uint32, 'pos' kind) instead of a full m_bits/8-byte packed
    bitmap — a small crawl-wave delta then collects kilobytes instead of
    partitions x 256 KB, and skips the per-partition m-bit zeros+packbits
    pass. Dense partitions keep the fixed-size bitmap partial ('bm'), which
    is what bounds driver traffic at scale. Same resulting bitmap bit for
    bit either way. Returns the bitmap (m_bits/8 bytes)."""
    if m_bits > 1 << 32:
        # sparse partials ship positions as uint32: a wider filter would wrap
        # them silently into false negatives of the seen prefilter
        raise ValueError(f"bloom m_bits={m_bits} exceeds 2**32 (positions are uint32)")
    nbytes = m_bits // 8

    def partial(it):
        pos_parts: list[np.ndarray] = []
        n_pos = 0
        bits = None  # dense-mode accumulator, allocated on first promotion
        for pdf in it:
            if len(pdf) == 0:
                continue
            h = pdf[xx_col].to_numpy(dtype=np.int64).view(np.uint64)
            ps = _positions(h, m_bits, k)
            if bits is None:
                pos_parts.extend(p.astype(np.uint32) for p in ps)
                n_pos += len(h) * k
                # promote to bitmap once positions outweigh the packed bits
                if n_pos * 4 > nbytes:
                    bits = np.zeros(m_bits, dtype=bool)
                    for p in pos_parts:
                        bits[p] = True
                    pos_parts = []
            else:
                for p in ps:
                    bits[p] = True
        if bits is not None:
            yield pd.DataFrame(
                {"kind": ["bm"], "data": [np.packbits(bits).tobytes()]}
            )
        elif pos_parts:
            yield pd.DataFrame(
                {"kind": ["pos"], "data": [np.concatenate(pos_parts).tobytes()]}
            )

    partials = df.select(xx_col).mapInPandas(
        partial, schema="kind string, data binary"
    ).collect()
    out = np.zeros(nbytes, dtype=np.uint8)
    bits_acc = None
    for row in partials:
        if row["kind"] == "bm":
            out |= np.frombuffer(row["data"], dtype=np.uint8)
        else:
            if bits_acc is None:
                bits_acc = np.zeros(m_bits, dtype=bool)
            bits_acc[np.frombuffer(row["data"], dtype=np.uint32)] = True
    if bits_acc is not None:
        out |= np.packbits(bits_acc)
    return out


_UNPACK_CACHE: dict[int, np.ndarray] = {}
_LIVE_BROADCASTS: list = []  # driver-side: previous epochs' bitmap broadcasts


def might_contain_udf(bitmap: np.ndarray, m_bits: int, k: int = 4, spark=None):
    """pandas UDF: xxhash64 column -> bool (possible member).

    The PACKED bitmap (m_bits/8 bytes) ships via sc.broadcast when a session
    is given — one torrent-style transfer per executor instead of a copy in
    every serialized task closure (VERDICT r01 #5). Workers unpack once and
    memoize per-process keyed by the broadcast id; the memo holds ONLY the
    current epoch's bitmap (a crawl loop calls this every epoch — an unbounded
    cache would leak ~m_bits bytes per epoch per worker). Driver-side, the
    previous epoch's broadcast is unpersisted (not destroyed: a straggler task
    that still holds the old UDF can re-fetch). Closure capture remains as the
    fallback for session-less callers (tests)."""
    if spark is not None:
        while _LIVE_BROADCASTS:
            try:
                _LIVE_BROADCASTS.pop().unpersist(blocking=False)
            except Exception:
                pass
        bc = spark.sparkContext.broadcast(bitmap.tobytes())
        _LIVE_BROADCASTS.append(bc)
        key = int(bc._jbroadcast.id())  # stable across driver/worker pickling

        @F.pandas_udf(T.BooleanType())
        def probe(xx: pd.Series) -> pd.Series:
            bits = _UNPACK_CACHE.get(key)
            if bits is None:
                bits = np.unpackbits(np.frombuffer(bc.value, dtype=np.uint8)).astype(bool)
                _UNPACK_CACHE.clear()  # keep one epoch's bitmap per worker
                _UNPACK_CACHE[key] = bits
            h = xx.to_numpy(dtype=np.int64).view(np.uint64)
            res = np.ones(len(h), dtype=bool)
            for pos in _positions(h, m_bits, k):
                res &= bits[pos]
            return pd.Series(res, index=xx.index)

        return probe

    bits = np.unpackbits(bitmap).astype(bool)

    @F.pandas_udf(T.BooleanType())
    def probe_closure(xx: pd.Series) -> pd.Series:
        h = xx.to_numpy(dtype=np.int64).view(np.uint64)
        res = np.ones(len(h), dtype=bool)
        for pos in _positions(h, m_bits, k):
            res &= bits[pos]
        return pd.Series(res, index=xx.index)

    return probe_closure


def add_to_bloom(bitmap: np.ndarray, df: DataFrame, xx_col: str, m_bits: int, k: int = 4) -> np.ndarray:
    delta = build_bloom(df, xx_col, m_bits, k)
    return bitmap | delta
