"""Tests for the benchmark's own helpers: `python3 -m pytest perfbench -q`."""

import os
import threading

import pytest

import measure as M


# -- percentile with its sample count ----------------------------------------

def test_percentile_returns_value_and_count():
    assert M.percentile([3.0, 1.0, 2.0], 0.5) == (2.0, 3)
    assert M.percentile([1.0, 2.0, 3.0, 4.0], 0.5) == (2.5, 4)
    assert M.percentile([5.0], 0.9) == (5.0, 1)
    assert M.percentile([0.0, 10.0], 0.25) == (2.5, 2)


def test_percentile_rejects_empty_and_bad_quantile():
    with pytest.raises(ValueError):
        M.percentile([], 0.5)
    with pytest.raises(ValueError):
        M.percentile([1.0], 1.5)


# -- process-tree CPU and RSS -------------------------------------------------

def _stat_line(pid, comm, ppid, utime, stime, cutime=0, cstime=0, rss_pages=0):
    # fields after comm: state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime prio nice threads
    # itreal starttime vsize rss
    rest = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, utime, stime, cutime, cstime,
            20, 0, 1, 0, 0, 0, rss_pages]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest)


def test_parse_stat_handles_spaces_and_parens_in_comm():
    tick, page = os.sysconf("SC_CLK_TCK"), os.sysconf("SC_PAGE_SIZE")
    st = M.parse_stat(_stat_line(42, "py (worker) x", 7, 3 * tick, tick, tick, 0, 10))
    assert (st.pid, st.ppid, st.comm) == (42, 7, "py (worker) x")
    assert st.cpu_s == pytest.approx(5.0)
    assert st.rss_bytes == 10 * page


def _procs(rows):
    return {r[0]: M.ProcStat(*r) for r in rows}


# pid, ppid, comm, cpu_s, rss
TREE = _procs([
    (10, 1, "python3", 2.0, 100),       # the benchmark (root)
    (11, 10, "java", 30.0, 1000),        # the JVM
    (12, 11, "python3", 4.0, 50),        # pyspark.daemon
    (13, 12, "python3", 6.0, 40),        # a forked worker
    (20, 1, "other", 99.0, 5000),        # not ours
])


def test_tree_cpu_split_by_kind_and_rss_sum():
    assert sorted(p.pid for p in M.tree(TREE, 10)) == [10, 11, 12, 13]
    assert M.cpu_by_kind(TREE, 10) == {"driver": 2.0, "jvm": 30.0, "pyworker": 10.0}
    assert M.rss_total(TREE, 10) == 1190


def test_rss_skips_a_jvm_child_that_has_not_execd():
    spawning = dict(TREE)
    # cloned by a JVM thread, so it carries that thread's name and the JVM's
    # binary, and reports the JVM's pages as its own
    spawning[14] = M.ProcStat(14, 11, "Executor task l", 0.0, 1000)
    exe = {10: "/usr/bin/python3", 11: "/usr/bin/java", 12: "/usr/bin/python3",
           13: "/usr/bin/python3", 14: "/usr/bin/java"}.get
    assert M.rss_total(spawning, 10, exe=exe) == 1190
    spawning[14] = M.ProcStat(14, 11, "python3", 0.0, 30)  # after its exec
    exe = lambda pid: "/usr/bin/python3" if pid != 11 else "/usr/bin/java"  # noqa: E731
    assert M.rss_total(spawning, 10, exe=exe) == 1220


def test_tree_sampler_accumulates_windows_and_keeps_peak():
    states = iter([
        TREE,  # open 1
        _procs([(10, 1, "python3", 3.0, 100), (11, 10, "java", 40.0, 3000)]),  # close 1
        _procs([(10, 1, "python3", 3.5, 100), (11, 10, "java", 41.0, 1000)]),  # open 2
        _procs([(10, 1, "python3", 4.0, 100), (11, 10, "java", 45.0, 1000)]),  # close 2
    ])
    lock = threading.Lock()

    def read():
        with lock:
            return next(states)

    s = M.TreeSampler(root=10, interval=3600, read=read)
    s.open()
    s.close()
    s.open()
    s.close()
    s.shutdown()
    # window 1: driver +1, jvm +10, workers vanished (clamped at 0);
    # the gap between windows (driver +0.5, jvm +1) is not counted
    assert s.cpu == pytest.approx({"driver": 1.5, "jvm": 14.0, "pyworker": 0.0})
    assert s.peak_rss == 3100


def test_tree_sampler_on_live_proc_counts_own_cpu():
    s = M.TreeSampler(interval=0.01)
    s.open()
    x = 0
    for i in range(2_000_000):
        x += i
    s.close()
    s.shutdown()
    assert s.cpu["driver"] > 0
    assert s.peak_rss > 0


# -- job label -> layer metric --------------------------------------------------

@pytest.mark.parametrize("desc,metric", [
    ("epoch 3: rank_wave", "crawl.rank_wave.wall_s"),
    ("epoch 1: fetch_join+seen_write", "crawl.fetch_join_seen_write.wall_s"),
    ("epoch 12: extract+edges_write", "crawl.extract_edges_write.wall_s"),
    ("epoch 2: commit+next_wave_count", "crawl.commit_next_wave_count.wall_s"),
    ("epoch 0: bloom_insert", "crawl.bloom_insert.wall_s"),
    (None, None),
    ("", None),
    ("count at Something.scala:12", None),
])
def test_step_metric_mapping(desc, metric):
    assert M.step_metric(desc) == metric


# -- failure accounting -------------------------------------------------------

def test_tally_drops_failed_operations_from_measures():
    t = M.Tally()
    t.record(None, wall_s=2.0, items=100, cpu_s=5.0)
    t.record("pairs differ", wall_s=9.0, items=100, cpu_s=50.0)
    t.record(None, wall_s=3.0, items=100, cpu_s=6.0)
    assert (t.attempted, t.failed) == (3, 1)
    assert not t.correct
    assert [m["wall_s"] for m in t.ok] == [2.0, 3.0]
    assert t.reasons == ["pairs differ"]


def test_tally_correct_needs_an_attempt():
    t = M.Tally()
    assert not t.correct
    t.record(None, wall_s=1.0)
    assert t.correct


# -- spans --------------------------------------------------------------------

def test_tracer_self_time_subtracts_covered_child_time():
    now = [0.0]
    tr = M.Tracer(clock=lambda: now[0])
    with tr.span("rep"):
        now[0] = 1.0
        with tr.span("state.write_epoch"):
            now[0] = 3.0
        with tr.span("state.read"):
            now[0] = 4.0
        now[0] = 10.0
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    assert tr.total("rep") == 10.0
    assert tr.self_times() == {"rep": 7.0, "state.write_epoch": 2.0, "state.read": 1.0}


def test_tracer_wrap_records_and_returns():
    tr = M.Tracer()
    f = tr.wrap("bloom.insert", lambda a, b=1: a + b)
    assert f(2, b=3) == 5
    assert len(tr.by_name("bloom.insert")) == 1


def test_union_length_merges_overlaps():
    assert M.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert M.union_length([]) == 0
