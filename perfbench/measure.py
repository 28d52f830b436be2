"""Measurement helpers for the benchmark: percentiles with their sample
count, a /proc sampler for process-tree CPU (split by process kind) and RSS,
spans with self time, failure accounting, and the mapping from Spark job
descriptions to per-step metric names.

Nothing here imports Spark, so the helpers are testable on their own
(`python3 -m pytest perfbench -q`).
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# percentiles


def percentile(xs: list[float], q: float) -> tuple[float, int]:
    """Linear-interpolated q-quantile (0 <= q <= 1) of xs and the sample
    count it was taken over. Raises on an empty sample: a timing with no
    samples has no value, and reporting 0 would read as a real one."""
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo), len(s)


# ---------------------------------------------------------------------------
# process-tree CPU and RSS from /proc

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # utime + stime + cutime + cstime (reaped children fold in)
    rss_bytes: int


def parse_stat(text: str) -> ProcStat:
    """One /proc/<pid>/stat line. comm may hold spaces and parentheses, so
    the fields after it are split from the LAST ')'."""
    lp, rp = text.index("("), text.rindex(")")
    pid = int(text[:lp])
    f = text[rp + 2:].split()
    # f[0]=state f[1]=ppid ... f[11..14]=utime stime cutime cstime, f[21]=rss pages
    cpu = sum(int(x) for x in f[11:15]) / _TICK
    return ProcStat(pid, int(f[1]), text[lp + 1:rp], cpu, int(f[21]) * _PAGE)


def read_procs(proc_root: str = "/proc") -> dict[int, ProcStat]:
    out = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc_root, name, "stat")) as fh:
                st = parse_stat(fh.read())
        except (OSError, ValueError):
            continue  # exited between listdir and open
        out[st.pid] = st
    return out


def tree(procs: dict[int, ProcStat], root: int) -> list[ProcStat]:
    """root and every live descendant."""
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p.pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(procs[pid])
        stack.extend(kids.get(pid, ()))
    return out


def kind_of(p: ProcStat, root: int) -> str:
    """driver = the benchmark process itself; jvm = the Spark JVM; every
    other descendant is a Python worker (pyspark.daemon and its forks) or a
    helper the JVM started."""
    if p.pid == root:
        return "driver"
    if p.comm == "java":
        return "jvm"
    return "pyworker"


def cpu_by_kind(procs: dict[int, ProcStat], root: int) -> dict[str, float]:
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for p in tree(procs, root):
        out[kind_of(p, root)] += p.cpu_s
    return out


def exe_of(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def rss_total(procs: dict[int, ProcStat], root: int, exe=exe_of) -> int:
    """Summed RSS of the tree. A child of the JVM still running the JVM's
    binary is a process being spawned that has not exec'd yet: it shares
    the JVM's memory and reports all of it, so it is skipped."""
    total = 0
    for p in tree(procs, root):
        parent = procs.get(p.ppid)
        if p.pid != root and parent is not None and parent.comm == "java":
            mine = exe(p.pid)
            if mine is not None and mine == exe(parent.pid):
                continue
        total += p.rss_bytes
    return total


class TreeSampler:
    """Process-tree CPU by kind and peak summed RSS over a set of windows:
    open() and close() bracket each window, so checks run between windows
    stay out of both figures. RSS is sampled every `interval` seconds by a
    background thread while a window is open; shutdown() stops the thread.
    The benchmark process's own CPU includes that thread."""

    def __init__(self, root: int | None = None, interval: float = 0.25,
                 read=read_procs):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self._read = read
        self._open = threading.Event()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0: dict[str, float] = {}
        self.cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        self.peak_rss = 0

    def _sample_rss(self, procs=None) -> None:
        procs = self._read() if procs is None else procs
        self.peak_rss = max(self.peak_rss, rss_total(procs, self.root))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self._open.is_set():
                self._sample_rss()

    def open(self) -> None:
        if self._thread is None:
            self._thread = threading.Thread(target=self._loop, daemon=True)
            self._thread.start()
        procs = self._read()
        self._cpu0 = cpu_by_kind(procs, self.root)
        self._sample_rss(procs)
        self._open.set()

    def close(self) -> None:
        self._open.clear()
        procs = self._read()
        self._sample_rss(procs)
        cpu1 = cpu_by_kind(procs, self.root)
        # a worker that exited unreaped takes its CPU with it; clamp so a
        # kind never reads negative
        for k, v in cpu1.items():
            self.cpu[k] += max(0.0, v - self._cpu0.get(k, 0.0))

    def shutdown(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# failure accounting


@dataclass
class Tally:
    """Operations attempted and failed. A failed operation contributes no
    measurement: its wall time, items and CPU are dropped from every
    metric, and only its reason is kept."""

    attempted: int = 0
    failed: int = 0
    ok: list[dict] = field(default_factory=list)
    reasons: list[str] = field(default_factory=list)

    def record(self, error: str | None, **measures: float) -> None:
        self.attempted += 1
        if error:
            self.failed += 1
            self.reasons.append(error)
        else:
            self.ok.append(measures)

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """In-memory spans with a per-thread parent stack. A span opened in a
    thread with no open span has no parent."""

    def __init__(self, clock=time.monotonic):
        self.clock = clock
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn):
        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return wrapped

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.by_name(name))

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval its direct children cover (overlapping children, e.g. from
        a thread pool, count once)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(i, [])]
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        st = self.t._stack()
        parent = st[-1] if st else None
        with self.t._lock:
            self.idx = len(self.t.spans)
            self.t.spans.append(Span(self.name, self.t.clock(), float("nan"), parent))
        st.append(self.idx)
        return self.t.spans[self.idx]

    def __exit__(self, *exc):
        self.t.spans[self.idx].end = self.t.clock()
        self.t._stack().pop()
        return False


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark job descriptions -> per-step metric names

_STEP_RE = re.compile(r"^epoch (\d+): (.+)$")


def step_label(description: str | None) -> str | None:
    """'epoch 3: fetch_join+seen_write' -> 'fetch_join_seen_write'; None for
    a job the crawl loop did not label."""
    if not description:
        return None
    m = _STEP_RE.match(description.strip())
    if m is None:
        return None
    return re.sub(r"[^0-9A-Za-z_]+", "_", m.group(2).replace("+", "_")).strip("_")


def step_metric(description: str | None) -> str | None:
    lab = step_label(description)
    return None if lab is None else f"crawl.{lab}.wall_s"
