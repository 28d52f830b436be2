"""Property-based tests (hypothesis) for the vectorized numpy primitives.

The dedup/fingerprint family's hot paths are heavily vectorized (bulk FNV
folds, rolling-polynomial shingle mixes, `np.minimum.reduceat` permutation
minima, prefix-sum CDC hashing). Each trick is checked here against a naive
twin written the obvious way — per-token / per-byte Python loops over plain
ints mod 2^64 — on hypothesis-generated inputs, so a future "optimization"
that changes semantics on some edge shape (empty docs, 1-2 token docs,
max-width tokens, boundary-merge tails) fails loudly. The reference repo has
no property-based tests (SURVEY.md §5.1); this layer is additive.

No SparkSession: everything under test is the pure-Python/numpy half of the
Arrow UDFs, invoked via the udf's `.func`.
"""

from __future__ import annotations

import os
import re
import sys

import numpy as np
import pandas as pd
from hypothesis import example, given, settings, strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from link_profiler_repo_spark.operators.dedup import (  # noqa: E402
    _cdc_chunk_hashes,
    _hash_tokens,
    minhash_sig_udf,
    simhash_udf,
)

M64 = (1 << 64) - 1
FNV_OFF = 1469598103934665603
FNV_P = 1099511628211


# ---- naive twins (plain-int, per-byte loops — independent of the numpy code)


def fnv1a(token: str, seed: int) -> int:
    h = (FNV_OFF ^ seed) & M64
    for byte in token.encode():
        h = ((h ^ byte) * FNV_P) & M64
    return h


def naive_tokenize(text: str) -> list[str]:
    # spec: pandas .str.lower().str.findall(r"[a-z0-9]+")
    return re.findall(r"[a-z0-9]+", (text or "").lower())


def naive_minhash(text: str, n_perm: int = 128) -> list[int]:
    th = [fnv1a(t, 7) for t in naive_tokenize(text)]
    if len(th) == 0:
        sh = [(FNV_OFF ^ 7) & M64]  # hash of no tokens
    elif len(th) == 1:
        sh = [th[0]]
    elif len(th) == 2:
        sh = [(th[0] * FNV_P + th[1]) & M64]
    else:
        sh = [
            (((th[i] * FNV_P + th[i + 1]) & M64) * FNV_P + th[i + 2]) & M64
            for i in range(len(th) - 2)
        ]
    rng = np.random.default_rng(42)  # the permutation constants are the spec
    a = rng.integers(1, 1 << 61, n_perm, dtype=np.uint64)
    b = rng.integers(0, 1 << 61, n_perm, dtype=np.uint64)
    return [
        min(((s * int(a[k]) + int(b[k])) & M64) for s in sh) >> 1
        for k in range(n_perm)
    ]


def naive_simhash(text: str) -> int:
    hs = [fnv1a(t, 11) for t in naive_tokenize(text)]
    if not hs:
        return 0
    v = [1 if 2 * sum((h >> j) & 1 for h in hs) >= len(hs) else 0 for j in range(64)]
    packed = np.packbits(np.array(v, dtype=np.uint8)).tobytes()
    return int.from_bytes(packed, "big") - (1 << 63)


def naive_cdc(
    data: bytes, window: int, mask_bits: int, min_len: int, max_len: int
) -> tuple[list[int], list[tuple[int, int]]]:
    """Per-byte rolling-hash CDC: O(n·w) window polynomials, plain ints."""
    n = len(data)
    if n == 0:
        return [], []
    pw = [1] * (n + 1)
    for i in range(1, n + 1):
        pw[i] = (pw[i - 1] * FNV_P) & M64

    def poly(s: int, e: int) -> int:
        h = 0
        for t in range(e - s):
            h = (h + data[s + t] * pw[t]) & M64
        return h

    w = min(window, n)
    mask = (1 << mask_bits) - 1
    cut_after = [
        end + 1 for end in range(w - 1, n) if (poly(end - w + 1, end + 1) & mask) == 0
    ]

    cuts: list[int] = []
    start = 0
    for c in [*cut_after, n]:
        if c - start < min_len:
            if c < n or start == n:
                continue
            if cuts:  # a short end-of-doc tail rejoins the previous chunk
                cuts.pop()
                start = cuts[-1] if cuts else 0
        while c - start >= max_len + min_len:  # clamp, never leaving < min_len
            start += max_len
            cuts.append(start)
        cuts.append(c)
        start = c
    spans = list(zip([0] + cuts[:-1], cuts))
    return [poly(s, e) >> 1 for s, e in spans], spans


# ---- strategies

token = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=12)
tokens = st.lists(token, min_size=1, max_size=40)
# full unicode text exercises the tokenizer's lower()+findall path too
doc_text = st.one_of(
    st.text(max_size=200),
    st.lists(token, max_size=30).map(" ".join),
)
cdc_params = st.fixed_dictionaries(
    {
        "window": st.integers(2, 12),
        "mask_bits": st.integers(1, 5),
        "min_len": st.integers(2, 16),
        "max_len": st.integers(16, 96),
    }
)


# ---- properties


@settings(max_examples=150, deadline=None)
@given(tokens, st.sampled_from([7, 11]))
def test_bulk_fnv_matches_scalar(toks, seed):
    """The column-wise FNV fold over the zero-padded token matrix equals the
    textbook per-byte FNV-1a on every token (incl. max-width ones, which
    exercise the `active` mask's last column)."""
    bulk = _hash_tokens(toks, np.uint64(seed))
    assert [int(h) for h in bulk] == [fnv1a(t, seed) for t in toks]


@settings(max_examples=75, deadline=None)
@given(st.lists(doc_text, min_size=1, max_size=8))
def test_minhash_vectorized_matches_naive(texts):
    """Rolling-polynomial shingle mix + grouped permute/reduceat == naive
    per-doc/per-shingle/per-permutation loops, across a whole Arrow batch
    (doc-boundary masks, <3-token docs, and empty docs all in one batch)."""
    got = minhash_sig_udf.func(pd.Series(texts))
    for sig, text in zip(got, texts):
        assert list(sig) == naive_minhash(text)


@settings(max_examples=30, deadline=None)
@given(st.lists(doc_text, min_size=1, max_size=4))
def test_minhash_batch_grouping_invariant(texts):
    """The ADVICE-r03 memory bound (grouped reduceat over <=MAX_WIN window
    blocks) must not change signatures: a doc's signature is identical
    whether it shares a batch with others or is hashed alone."""
    batch = minhash_sig_udf.func(pd.Series(texts))
    for i, text in enumerate(texts):
        alone = minhash_sig_udf.func(pd.Series([text]))
        assert list(batch[i]) == list(alone[0])


@settings(max_examples=100, deadline=None)
@given(st.lists(doc_text, min_size=1, max_size=8))
def test_simhash_matches_naive(texts):
    got = simhash_udf.func(pd.Series(texts))
    assert [int(x) for x in got] == [naive_simhash(t) for t in texts]


@settings(max_examples=75, deadline=None)
@given(st.binary(max_size=1500), cdc_params)
def test_cdc_vectorized_matches_naive(data, p):
    """Prefix-sum span hashing (S[e-1]-S[s-1] normalized by p^-s, uint64
    wraparound) == direct per-byte chunk polynomials, for random parameter
    combinations including window > len(data)."""
    got = _cdc_chunk_hashes(data, **p)
    want, _ = naive_cdc(data, **p)
    assert [int(h) for h in got] == want


@settings(max_examples=75, deadline=None)
@given(st.binary(min_size=1, max_size=1500), cdc_params)
# a max_len clamp, a merged sub-min_len remainder, then a short end-of-doc
# tail: once gave the 19-byte chunk (4, 23) against the bound of 18
@example(
    b"\x00\x00\x01\x01\x00\x00\x00\x01\x00\x00\x00\x01"
    b"\x00\x00\x00\x01\x00\x00\x00\x01\x01\x00\x00",
    {"window": 4, "mask_bits": 1, "min_len": 3, "max_len": 16},
)
def test_cdc_span_invariants(data, p):
    """Chunk spans partition the document; with the remainder-merge rule
    (ADVICE r03 #4) every chunk is >= min_len (unless the whole doc is
    shorter) and <= max_len + min_len - 1."""
    hashes, spans = naive_cdc(data, **p)
    n = len(data)
    assert spans[0][0] == 0 and spans[-1][1] == n
    assert all(e0 == s1 for (_, e0), (s1, _) in zip(spans, spans[1:]))
    assert len(hashes) == len(_cdc_chunk_hashes(data, **p))
    if n < p["min_len"]:
        assert len(spans) == 1
    else:
        for s, e in spans:
            assert p["min_len"] <= e - s <= p["max_len"] + p["min_len"] - 1


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=64, max_size=800), st.binary(min_size=1, max_size=200))
def test_cdc_append_locality(base, suffix):
    """The property that makes shared-chunk counting a partial-dup detector:
    appending content only disturbs the tail. All but the last two chunks of
    the base document survive byte-identical in base+suffix (the final chunk
    and a possible merged remainder are the only end effects)."""
    p = dict(window=8, mask_bits=4, min_len=8, max_len=64)
    h1 = [int(x) for x in _cdc_chunk_hashes(base, **p)]
    h2 = [int(x) for x in _cdc_chunk_hashes(base + suffix, **p)]
    stable = h1[:-2]
    assert h2[: len(stable)] == stable
