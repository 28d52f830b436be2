"""The URL-seen prefilter as a state table (north_rule: bloom/cuckoo URL-seen
set as state tables), with a Bloom or a cuckoo kernel.

The EXACT layer is the left-anti join against the `seen` table keyed by
sha2(canonical_url, 256): final-seen-set equality with the reference is part
of the contract (SURVEY §4.2). The prefilter only lets candidates whose key
is definitely absent skip that join; possible members fall through to it.

A single filter sized for 10^10 keys (~12 GiB at 1% fpp) cannot ride to every
task, so the table is sharded: bucket = pmod(xx64, n_buckets), and each
bucket owns one independent filter state stored as ONE row

    {path}/_gen                         generation pointer (tmp + rename)
    {path}/gen{G}/bucket=N/part-*.parquet   row: (state binary)

One layout serves every size: the engine picks n_buckets from the whole
filter's bit budget (operators/crawl.py PREFILTER_BUCKET_BITS), so a test or
bench crawl has one bucket and the 10^10 design point thousands.

The shell (class Sidecar) owns everything that does not depend on the filter:

  update  repartitions the epoch's inserts/deletes by bucket; each task loads
          ONLY its buckets' states from the live generation, folds the keys in
          with the kernel and writes the new states into generation G+1.
          Untouched buckets carry over by hard link (the files are immutable),
          so G+1 is complete before it goes live. The commit point is ONE
          atomic pointer bump, the discipline of StateStore.rewrite; older
          generations are deleted after it. A crash anywhere before the bump
          leaves G live and G+1 as garbage that the re-run overwrites; a crash
          after it leaves G+1 live.
  probe   resolves the live generation on the driver, repartitions candidates
          by bucket, and a mapInPandas pass decodes only the buckets present
          in its partition (a directory-pruned read, cached per task). With
          one bucket there is nothing to route: every task loads it in place,
          and the probe adds no exchange.

The kernels are only insert / lookup / (cuckoo) delete over a decoded state,
a writable uint8 array, vectorized in numpy over Arrow batches:

  bloom   a packed bitmap of m_bits (a whole number of bytes) probed on the
          packed bytes; k multiply-shift positions per key (_positions).
          Inserts OR in place, so a bucket's state stays one row however many
          epochs fold into it.
  cuckoo  nb inner buckets x 4 slots of 16-bit fingerprints, then the stash,
          in one blob — the DELETABLE kernel (Fan et al., "Cuckoo Filter:
          Practically Better Than Bloom", CoNEXT 2014). A crawler that
          re-admits stale URLs on a recrawl schedule (operators/recrawl.py)
          needs the prefilter to EVICT them, or every re-admitted URL pays
          the exact anti-join forever. fp(x) = ((x >> 48) mod 65535) + 1
          (never 0); i1 = (x >> 16) & (nb-1); i2 = i1 XOR (h(fp) & (nb-1)) —
          partial-key cuckoo, so a delete recovers i2 from (i1, fp). Inserts
          run round-based two-choice placement (a vectorized rank-vs-capacity
          scatter), then evicting kick chains only for the residue whose both
          buckets are full (<1% at the <= 50% design load); a chain that
          cycles lands its last victim in a small exact stash of canonical
          (min(i1, i2), fp) pairs. delete() removes ONE copy of (i1, fp):
          after a crash-replayed duplicate insert a key may survive one
          delete, which is safe for a prefilter (the seen table stays exact).

Semantics: no false negatives for inserted (and not deleted) keys; false
positives only cost exact-join work.

Scale math at the design point, |seen| = 10^10 and n_buckets = 4096: Bloom
m_bits = 2^25 per bucket => 4 MiB per probe task, ~1% fpp; cuckoo 2^23 slots
per bucket at ~0.3 load => 16 MiB per probe task, ~5 bytes/key against
Bloom's ~1.6 — the price of deletability; its fpp is ~2*4*2/65535 ~ 0.02%.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame


def read_pointer(path: str) -> int | None:
    """The generation a pointer file names; None if it was never written."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return int(f.read().strip() or 0)


def write_pointer(path: str, g: int) -> None:
    """Atomically point `path` at generation g (tmp file + rename): the
    single commit point of a generation swap."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".gen.tmp")
    with os.fdopen(fd, "w") as f:
        f.write(str(g))
    os.replace(tmp, path)


# -- Bloom kernel -----------------------------------------------------------------

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
_MIX = np.uint64(0x9E3779B97F4A7C15)


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


class BloomKernel:
    """Packed bitmap; bit p is bit (7 - p % 8) of byte p // 8 (np.packbits
    order). Sized from a per-bucket bit budget rounded down to whole bytes."""

    k = 4

    def __init__(self, bits: int):
        self.m_bits = max(64, bits // 8 * 8)
        self.nbytes = self.m_bits // 8

    def _bytes_and_masks(self, x: np.ndarray):
        for p in _positions(x.view(np.uint64), self.m_bits, self.k):
            yield p >> np.uint64(3), np.uint8(0x80) >> (p & np.uint64(7)).astype(np.uint8)

    def insert(self, state: np.ndarray, x: np.ndarray) -> np.ndarray:
        for i, m in self._bytes_and_masks(x):
            np.bitwise_or.at(state, i, m)
        return state

    def lookup(self, state: np.ndarray, x: np.ndarray) -> np.ndarray:
        hit = np.ones(x.size, dtype=bool)
        for i, m in self._bytes_and_masks(x):
            hit &= (state[i] & m) != 0
        return hit


# -- cuckoo kernel ----------------------------------------------------------------

_EMPTY = np.uint16(0)
_ROUNDS = 8  # alternating i1/i2 placement passes before kick chains


def _derive(x: np.ndarray, nb: int):
    """(fp uint16 in [1,65535], i1, i2) from int64 xx64 keys."""
    u = x.view(np.uint64)
    fp = ((u >> np.uint64(48)) % np.uint64(65535) + np.uint64(1)).astype(np.uint16)
    mask = np.uint64(nb - 1)
    i1 = ((u >> np.uint64(16)) & mask).astype(np.int64)
    h = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & mask
    return fp, i1, i1 ^ h.astype(np.int64)


def _spack(i1: np.ndarray, i2: np.ndarray, fp: np.ndarray) -> np.ndarray:
    """Canonical stash packing (min(i1, i2) << 16) | fp: the same value
    whichever of its two buckets a fingerprint was kicked from, so lookup
    and delete recompute it from the key alone."""
    return (np.minimum(i1, i2).astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64)


def _place_round(table: np.ndarray, occ: np.ndarray, b: np.ndarray, fp: np.ndarray):
    """Place as many (b, fp) as fit (rank-within-bucket < remaining capacity).
    Returns boolean placed-mask. Vectorized: sort by bucket, rank = position
    minus first-occurrence index, scatter into slot occ[b] + rank."""
    order = np.argsort(b, kind="stable")
    bs = b[order]
    ranks = np.arange(len(bs)) - np.searchsorted(bs, bs)
    fit = ranks < 4 - occ[bs]
    rows = bs[fit]
    table[rows, (occ[bs] + ranks)[fit]] = fp[order][fit]
    np.add.at(occ, rows, 1)
    placed = np.zeros(len(b), dtype=bool)
    placed[order[fit]] = True
    return placed


def _kick_chain(table: np.ndarray, nb: int, b: int, f: int, max_kicks: int = 500):
    """Classic cuckoo insertion for ONE homeless fingerprint: evict a
    deterministic victim (slot = fp mod 4), move it to its alternate bucket,
    repeat. Sequential per key by nature — called only for the residue that
    two-choice placement could not seat. Returns True once seated, else the
    stash packing of the final homeless fingerprint."""
    mask = np.uint64(nb - 1)

    def alt(b: int, f: int) -> int:
        return int(np.int64(b) ^ np.int64((np.uint64(f) * np.uint64(0x5BD1E995)) & mask))

    for _ in range(max_kicks):
        empty = np.flatnonzero(table[b] == _EMPTY)
        if empty.size:
            table[b, empty[0]] = f
            return True
        s = int(f) & 3
        victim = int(table[b, s])
        table[b, s] = f
        f, b = victim, alt(b, victim)
    return (min(b, alt(b, f)) << 16) | f


def _insert(table: np.ndarray, stash: np.ndarray, x: np.ndarray, nb: int) -> np.ndarray:
    """Insert keys into (table, stash) in place; returns the new stash."""
    x = np.unique(x)
    fp, i1, i2 = _derive(x, nb)
    occ = (table != _EMPTY).sum(axis=1).astype(np.int64)
    pending = np.ones(len(x), dtype=bool)
    for r in range(_ROUNDS):
        if not pending.any():
            break
        idx = np.flatnonzero(pending)
        placed = _place_round(table, occ, (i1 if r % 2 == 0 else i2)[idx], fp[idx])
        pending[idx[placed]] = False
    overflow = [
        res for j in np.flatnonzero(pending)
        if (res := _kick_chain(table, nb, int(i1[j]), int(fp[j]))) is not True
    ]
    if overflow:
        stash = np.union1d(stash, np.array(overflow, dtype=np.uint64))
    return stash


def _delete(table: np.ndarray, stash: np.ndarray, x: np.ndarray, nb: int) -> np.ndarray:
    """Remove one copy of each key's fp from i1, else i2, else the stash;
    returns the new stash. Distinct keys sharing (i1, fp) run one at a time
    (the rare fingerprint-collision case), the rest fully vectorized."""
    x = np.unique(x)
    fp, i1, i2 = _derive(x, nb)
    packed = (i1.astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64)
    uniq, counts = np.unique(packed, return_counts=True)
    # singles: the i2 pass reads the table AFTER the i1 scatter, so an
    # i1-removal and an i2-removal never double-spend one stored copy
    idx = np.flatnonzero(np.isin(packed, uniq[counts == 1]))
    for rows in (i1, i2):
        m = table[rows[idx]] == fp[idx, None]
        has = m.any(axis=1)
        table[rows[idx[has]], m[has].argmax(axis=1)] = _EMPTY
        idx = idx[~has]
    if idx.size and stash.size:
        stash = np.setdiff1d(stash, _spack(i1[idx], i2[idx], fp[idx]))
    for g in np.flatnonzero(counts > 1):
        for j in np.flatnonzero(packed == uniq[g]):
            for row in (i1[j], i2[j]):
                s = np.flatnonzero(table[row] == fp[j])
                if s.size:
                    table[row, s[0]] = _EMPTY
                    break
            else:
                stash = np.setdiff1d(stash, _spack(i1[j : j + 1], i2[j : j + 1], fp[j : j + 1]))
    # _place_round scatters into slot occ+rank, a free slot only while the
    # occupied slots form a prefix: left-align every row a delete touched
    rows = np.unique(np.concatenate([i1, i2]))
    sub = table[rows]
    table[rows] = np.take_along_axis(sub, np.argsort(sub == _EMPTY, axis=1, kind="stable"), axis=1)
    return stash


class CuckooKernel:
    """nb x 4 uint16 table followed by the uint64 stash, in one state blob.
    Slots sized to the key budget a Bloom bitmap of the same bits holds
    (bits/16 keys at ~1% fpp) at <= 50% load, rounded down to a power of two."""

    def __init__(self, bits: int):
        slots = max(4096, bits // 8)
        self.nb = (1 << (slots.bit_length() - 1)) // 4
        self.nbytes = self.nb * 8

    def _split(self, state: np.ndarray):
        return state[: self.nbytes].view(np.uint16).reshape(self.nb, 4), state[self.nbytes :].view(np.uint64)

    def _join(self, table: np.ndarray, stash: np.ndarray) -> np.ndarray:
        return np.concatenate([table.reshape(-1).view(np.uint8), stash.view(np.uint8)])

    def insert(self, state: np.ndarray, x: np.ndarray) -> np.ndarray:
        table, stash = self._split(state)
        return self._join(table, _insert(table, stash, x, self.nb))

    def delete(self, state: np.ndarray, x: np.ndarray) -> np.ndarray:
        table, stash = self._split(state)
        return self._join(table, _delete(table, stash, x, self.nb))

    def lookup(self, state: np.ndarray, x: np.ndarray) -> np.ndarray:
        table, stash = self._split(state)
        fp, i1, i2 = _derive(x, self.nb)
        hit = (table[i1] == fp[:, None]).any(axis=1) | (table[i2] == fp[:, None]).any(axis=1)
        if stash.size:
            hit |= np.isin(_spack(i1, i2, fp), stash)
        return hit


KERNELS = {"bloom": BloomKernel, "cuckoo": CuckooKernel}

# -- the shell --------------------------------------------------------------------


def _bucket(n_buckets: int) -> F.Column:
    return F.pmod(F.col("xx64"), F.lit(n_buckets)).cast("int")


def _load(gen_dir: str | None, b: int, kernel) -> np.ndarray:
    """Bucket b's decoded state (writable), or an empty one."""
    import pyarrow.parquet as pq

    bdir = os.path.join(gen_dir, f"bucket={b}") if gen_dir else None
    if bdir is None or not os.path.isdir(bdir):
        return np.zeros(kernel.nbytes, dtype=np.uint8)
    (blob,) = pq.read_table(bdir, columns=["state"]).column("state").to_pylist()
    return np.frombuffer(bytearray(blob), dtype=np.uint8)


class Sidecar:
    """One bucketed prefilter table at `path` over the int64 `xx64` key:
    `kernel` is 'bloom' or 'cuckoo'; `bits` is the whole filter's bit
    budget, split evenly over n_buckets."""

    def __init__(self, path: str, kernel: str, n_buckets: int, bits: int):
        self.path = path
        self.n_buckets = n_buckets
        self.kernel = KERNELS[kernel](bits // n_buckets)
        self._ptr = os.path.join(path, "_gen")

    def _gen_dir(self, g: int) -> str:
        return os.path.join(self.path, f"gen{g}")

    def live(self) -> str | None:
        """The committed generation's directory; None before the first update."""
        g = read_pointer(self._ptr)
        return None if g is None else self._gen_dir(g)

    def update(self, inserts: DataFrame | None, deletes: DataFrame | None = None) -> None:
        """Fold one epoch's inserts and deletes into the next generation and
        commit it (see the module docstring for the crash discipline)."""
        parts = [
            df.select("xx64", F.lit(op).alias("op"))
            for df, op in ((inserts, 1), (deletes, -1))
            if df is not None
        ]
        if not parts:
            return
        ups = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        g = read_pointer(self._ptr)
        live = None if g is None else self._gen_dir(g)
        new_g = 0 if g is None else g + 1
        new_dir = self._gen_dir(new_g)
        shutil.rmtree(new_dir, ignore_errors=True)  # garbage of a crash before a commit
        kernel = self.kernel

        def fold(it):
            acc: dict[int, list] = {}
            for pdf in it:
                for b, grp in pdf.groupby("bucket"):
                    acc.setdefault(int(b), []).append(grp)
            for b, grps in acc.items():
                ops = pd.concat(grps)
                state = _load(live, b, kernel)
                ins = ops.loc[ops["op"] > 0, "xx64"].to_numpy(dtype=np.int64)
                dels = ops.loc[ops["op"] < 0, "xx64"].to_numpy(dtype=np.int64)
                if ins.size:
                    state = kernel.insert(state, ins)
                if dels.size:
                    state = kernel.delete(state, dels)
                yield pd.DataFrame({"bucket": [b], "state": [state.tobytes()]})

        (
            ups.withColumn("bucket", _bucket(self.n_buckets))
            .repartition(self.n_buckets, "bucket")
            .mapInPandas(fold, schema="bucket int, state binary")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(new_dir)
        )
        if live is not None:
            touched = set(os.listdir(new_dir))
            for d in os.listdir(live):
                if d.startswith("bucket=") and d not in touched:
                    shutil.copytree(os.path.join(live, d), os.path.join(new_dir, d), copy_function=os.link)
        write_pointer(self._ptr, new_g)  # commit point
        for d in os.listdir(self.path):
            if d.startswith("gen") and d != f"gen{new_g}":
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    def probe(self, df: DataFrame) -> DataFrame:
        """df + boolean `_maybe` (possible member)."""
        gen_dir, live, kernel, n_buckets = self.live(), self.live, self.kernel, self.n_buckets
        out_schema = T.StructType(df.schema.fields + [T.StructField("_maybe", T.BooleanType(), False)])
        cols = df.columns

        def run(it):
            # a plan re-run after a later update reclaimed gen_dir reads the
            # newer generation: a superset of it for every kernel but a
            # cuckoo eviction, whose keys the seen table retired as well
            root = gen_dir if gen_dir is None or os.path.isdir(gen_dir) else live()
            cache: dict[int, np.ndarray] = {}
            for pdf in it:
                if len(pdf) == 0:
                    continue
                keys = pdf["xx64"].to_numpy(dtype=np.int64)
                # floored signed modulo == Catalyst pmod for a positive
                # divisor (unsigned modulo diverges for negative hashes
                # whenever n_buckets is not a power of two)
                buckets = keys % n_buckets
                maybe = np.zeros(len(pdf), dtype=bool)
                for b in np.unique(buckets).tolist():
                    if b not in cache:
                        cache[b] = _load(root, b, kernel)
                    sel = buckets == b
                    maybe[sel] = kernel.lookup(cache[b], keys[sel])
                out = pdf[cols].copy()
                out["_maybe"] = maybe
                yield out

        if n_buckets > 1:
            df = df.repartition(n_buckets, _bucket(n_buckets))
        return df.mapInPandas(run, schema=out_schema)
