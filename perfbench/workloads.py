"""The benchmark's workloads. Each one makes its input from the seed, warms
its entry point at small size, runs timed reps of a fixed amount of work,
and checks every rep against an oracle that does not share the code path
under test. The package is called only through its public entry points.

Interface (driven by run.py):
  generate(ctx)     build the input (timed as input.gen_s, outside setup_s)
  register(ctx)     attach stored state tables (part of setup_s)
  warmup(ctx)       one call of the entry point at small size (setup_s),
                    followed by PRIME_REPS full-size reps (setup_s too)
  expected(ctx)     the oracle's answer, cached where it is program-independent
  rep(ctx) -> dict  one timed unit of work: items, epoch walls
  check(ctx) -> str | None   compare the last rep's output with the oracle
  trace_on(ctx) / trace_off(ctx)   install / remove the traced-run wrappers
  layers(ctx, spark_stats, reps) -> dict   per-layer figures of the traced
                    run from the timed reps' dicts, named in LAYER_METRICS
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

import pyspark.sql.functions as F

PKG = "link_profiler_repo_spark"


def _source_hash(root: str, rels: list[str]) -> str:
    h = hashlib.sha256()
    for rel in rels:
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(rel.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def cached(ctx, key: dict, compute):
    """Oracle results kept across runs, keyed by workload, seed, size and the
    hash of every source file that produced them (the benchmark's generator
    and the oracle's own code), so an edit to either recomputes."""
    name = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:24]
    path = os.path.join(ctx.cache_dir, f"{key['workload']}-{name}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    val = compute()
    os.makedirs(ctx.cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(val, fh)
    os.replace(tmp, path)
    return val


def _dir_size(path: str) -> tuple[int, int]:
    n = b = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            n += 1
            b += os.path.getsize(os.path.join(d, f))
    return n, b


class Workload:
    """Defaults for the optional steps."""

    # full-size reps after the warm-up, counted in set-up: the JIT keeps
    # compiling a kernel's full plan over its first two reps (frontier_epoch
    # rep CPU fell from 4.6 to 3.8 s over its first four on a 4-core VM)
    PRIME_REPS = 2
    LAYER_METRICS: dict[str, str] = {}  # name -> unit

    def register(self, ctx) -> None:
        pass

    def trace_on(self, ctx) -> None:
        pass

    def trace_off(self, ctx) -> None:
        pass


# ---------------------------------------------------------------------------
# bfs_crawl


class BfsCrawl(Workload):
    """run_bfs over a synthetic web, one epoch per engine. The warm-up
    crawls the first wave (the 200 seeds) and pauses; the paused state is
    kept. Each rep restores that state, and a fresh engine resumes it with
    resume=True and crawls the second wave. That completes the crawl: the
    third wave is all at max_depth, so a third epoch would crawl nothing.

    MAX_PAGES caps the second wave at 450 queued children, about 415
    distinct pages for every seed. Without the cap the seeds' children
    number 540-660 depending on the seed, and pages per rep would vary
    with the seed as much as with the program."""

    name = "bfs_crawl"
    # resumed epochs kept getting faster over the first two or three reps
    # (6.7, 5.8, 5.7, 5.0 s on a 4-core VM)
    PRIME_REPS = 2
    partitions = 4
    N_DOCS, N_HOSTS, N_SEEDS = 4_000, 40, 200
    MAX_DEPTH, MAX_PAGES = 2, 650
    BLOOM_BITS = 1 << 21

    def __init__(self):
        self._patched: list = []
        self._tracer = None  # set between trace_on and trace_off only

    def _engine(self, ctx, marks: list[float], resume: dict):
        """A CrawlEngine on the run's state dir that pauses after each epoch
        and whose commits are timed into `marks`. Once resume["t"] is set,
        the first control-file read (the top of the epoch loop) is timed
        into resume["loop"]."""
        from link_profiler_repo_spark.operators.crawl import CrawlEngine

        eng = CrawlEngine(ctx.spark, self.cfg, self.docs, self._workdir(ctx),
                          synth_params=self.p, bloom_bits=self.BLOOM_BITS)
        st = eng.store
        if self._tracer is not None:
            tr = self._tracer
            st.write_epoch = tr.wrap("state.write_epoch", st.write_epoch)
            st.read_epoch = tr.wrap("state.read", st.read_epoch)
            st.read_deltas = tr.wrap("state.read", st.read_deltas)
            st.commit = tr.wrap("state.commit", st.commit)
        commit, read_control = st.commit, st.read_control

        def marked_commit(meta):
            commit(meta)
            marks.append(time.monotonic())
            if meta["epoch"] > 0:  # not the seed commit
                st.write_control("paused")

        def marked_read_control():
            if "t" in resume and "loop" not in resume:
                resume["loop"] = time.monotonic()
            return read_control()

        st.commit, st.read_control = marked_commit, marked_read_control
        st.write_control("running")  # reset() keeps the control file
        return eng

    def _workdir(self, ctx) -> str:
        return os.path.join(ctx.run_dir, "state")

    def warmup(self, ctx) -> None:
        """The first wave, crawled and paused; its state is the start of
        every rep."""
        self._engine(ctx, [], {}).run_bfs(self.seeds)
        shutil.copytree(self._workdir(ctx), self._workdir(ctx) + ".paused")

    def rep(self, ctx) -> dict:
        """Restore the paused state (about 1 MB of files, outside wall_s),
        then resume it for one epoch. The epoch runs from the top of the
        epoch loop to its commit, so the checkpoint read is in resume_s and
        not in the epoch."""
        shutil.rmtree(self._workdir(ctx))
        shutil.copytree(self._workdir(ctx) + ".paused", self._workdir(ctx))
        marks: list[float] = []
        resume: dict[str, float] = {}
        eng = self._engine(ctx, marks, resume)
        resume["t"] = time.monotonic()
        self._last_out = eng.run_bfs(self.seeds, resume=True)
        wall = time.monotonic() - resume["t"]
        assert len(marks) == len(eng.stats.per_epoch) == 1, (marks, eng.stats.per_epoch)
        files, nbytes = _dir_size(eng.store.dir)
        return {
            "wall_s": wall, "items": eng.stats.crawled - eng.stats.crawled_at_resume,
            "epoch_walls": [marks[0] - resume["loop"]],
            "per_epoch": eng.stats.per_epoch,
            "resume_s": marks[0] - resume["t"],
            "state_files": files, "state_mb": nbytes / 2**20,
        }

    def generate(self, ctx) -> None:
        from link_profiler_repo_spark.config import CrawlConfig
        from link_profiler_repo_spark.synth import (
            SynthParams,
            doc_index_to_host_page,
            page_url,
            synth_docs_spark,
        )

        self.p = SynthParams(seed=ctx.seed, n_docs=self.N_DOCS, n_hosts=self.N_HOSTS)
        stride = self.N_DOCS // self.N_SEEDS
        self.seeds = [page_url(*doc_index_to_host_page(i, self.p))
                      for i in range(0, self.N_DOCS, stride)][:self.N_SEEDS]
        self.cfg = CrawlConfig(job_id="bench", max_depth=self.MAX_DEPTH,
                               max_pages=self.MAX_PAGES)
        self.docs = synth_docs_spark(ctx.spark, self.p).persist()
        self.docs.count()

    def expected(self, ctx):
        from link_profiler_repo_spark.oracle_sim import simulate_bfs
        from link_profiler_repo_spark.synth import gen_all_docs

        key = {
            "workload": self.name, "seed": ctx.seed,
            "size": [self.N_DOCS, self.N_HOSTS, self.N_SEEDS, self.MAX_DEPTH, self.MAX_PAGES],
            "src": _source_hash(ctx.root, [
                "perfbench/workloads.py", f"{PKG}/oracle_sim.py", f"{PKG}/synth.py",
                f"{PKG}/config.py", f"{PKG}/functions/extract.py", f"{PKG}/functions/urls.py",
            ]),
        }

        def compute():
            res = simulate_bfs(gen_all_docs(self.p), self.seeds, self.cfg, self.p)
            return [list(t) for t in res.order]

        self.oracle = [tuple(t) for t in cached(ctx, key, compute)]

    def check(self, ctx) -> str | None:
        got = [
            (int(r["crawl_order"]), r["url"], int(r["depth"]))
            for r in self._last_out["seen"].select("crawl_order", "url", "depth")
            .orderBy("crawl_order").collect()
        ]
        if got == self.oracle:
            return None
        if {u for _, u, _ in got} != {u for _, u, _ in self.oracle}:
            return f"seen set differs from simulate_bfs ({len(got)} vs {len(self.oracle)} pages)"
        return "crawl order differs from simulate_bfs"

    def trace_on(self, ctx) -> None:
        import link_profiler_repo_spark.operators.crawl as crawl_mod

        self._tracer = ctx.tracer
        for attr, span in (("add_to_bloom", "bloom.insert"),
                           ("with_global_index", "order.with_global_index")):
            orig = getattr(crawl_mod, attr)
            self._patched.append((crawl_mod, attr, orig))
            setattr(crawl_mod, attr, ctx.tracer.wrap(span, orig))

    def trace_off(self, ctx) -> None:
        self._tracer = None
        while self._patched:
            mod, attr, orig = self._patched.pop()
            setattr(mod, attr, orig)

    STEPS = ("rank_wave", "fetch_join_seen_write", "extract_edges_write", "rank_candidates",
             "sequential_admission", "frontier_write", "metrics", "bloom_insert",
             "commit_next_wave_count")
    LAYER_METRICS = {
        **{f"crawl.{s}.wall_s": "s" for s in STEPS},
        "crawl.jobs_per_epoch": "count", "crawl.driver_gap_s": "s", "crawl.packing": "ratio",
        "crawl.admit_frac": "ratio", "state.write_epoch.calls": "count",
        "state.write_epoch.wall_s": "s", "state.read.wall_s": "s", "state.commit.wall_s": "s",
        "state.files": "count", "state.mb": "MB", "state.resume_s": "s",
        "order.calls": "count", "order.wall_s": "s", "bloom.insert.wall_s": "s",
    }

    def layers(self, ctx, spark_stats: dict, reps: list[dict]) -> dict:
        tr = ctx.tracer
        epochs = sum(len(r["per_epoch"]) for r in reps)  # every epoch the engines ran
        crawled = sum(e["crawled"] for r in reps for e in r["per_epoch"])
        cands = sum(e["candidates"] for r in reps for e in r["per_epoch"])
        m = {
            f"crawl.{s}.wall_s": spark_stats["steps"].get(f"crawl.{s}.wall_s", 0.0) / epochs
            for s in self.STEPS
        }
        m.update({
            "crawl.jobs_per_epoch": spark_stats["spark.jobs"] / epochs,
            "crawl.driver_gap_s": spark_stats["spark.driver_gap_s"] / epochs,
            "crawl.packing": spark_stats["spark.packing"],
            "crawl.admit_frac": crawled / cands if cands else 0.0,
            # walls and call counts per epoch, like the steps; sizes per rep
            "state.write_epoch.calls": len(tr.by_name("state.write_epoch")) / epochs,
            "state.write_epoch.wall_s": tr.total("state.write_epoch") / epochs,
            "state.read.wall_s": tr.total("state.read") / epochs,
            "state.commit.wall_s": tr.total("state.commit") / epochs,
            "state.files": statistics.median(r["state_files"] for r in reps),
            "state.mb": statistics.median(r["state_mb"] for r in reps),
            "state.resume_s": statistics.median(r["resume_s"] for r in reps),
            "order.calls": len(tr.by_name("order.with_global_index")) / epochs,
            "order.wall_s": tr.total("order.with_global_index") / epochs,
            "bloom.insert.wall_s": tr.total("bloom.insert") / epochs,
        })
        return m


# ---------------------------------------------------------------------------
# frontier_epoch


def _frontier_url(idcol, seed: int, n_hosts: int, hot_frac: float):
    """URL and host of frontier id `idcol`: a hot host holds ~hot_frac of
    the ids, the rest spread over n_hosts-1 hosts by a seeded hash."""
    h = F.xxhash64(idcol, F.lit(seed))
    host_idx = F.when(F.pmod(h, F.lit(1000)) < int(1000 * hot_frac), F.lit(0)).otherwise(
        F.pmod(F.xxhash64(h), F.lit(n_hosts - 1)) + 1
    )
    host = F.concat(F.lit("h"), F.lpad(host_idx.cast("string"), 4, "0"), F.lit(".test"))
    url = F.concat(F.lit("http://"), host, F.lit(f"/p/{seed}/"), idcol.cast("string"))
    return url, host


class FrontierEpoch(Workload):
    """schedule_epoch over a co-bucketed stored frontier and seen table."""

    name = "frontier_epoch"
    BUCKETS = 32
    partitions = BUCKETS  # partitions != buckets would re-shuffle both sides
    N_FRONTIER, N_SEEN, N_HOSTS, HOT_FRAC = 400_000, 200_000, 1000, 0.3
    BUDGET, N_SALT = 2, 32

    def _dirs(self, ctx):
        d = os.path.join(ctx.run_dir, "input")
        return os.path.join(d, "frontier"), os.path.join(d, "seen")

    def generate(self, ctx) -> None:
        spark, seed = ctx.spark, ctx.seed
        fdir, sdir = self._dirs(ctx)
        url, host = _frontier_url(F.col("id"), seed, self.N_HOSTS, self.HOT_FRAC)
        frontier = spark.range(0, self.N_FRONTIER).select(
            url.alias("url"), F.unhex(F.sha2(url, 256)).alias("url_hash"), host.alias("host"),
            (F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(4)) + 1).cast("int").alias("priority"),
            F.col("id").alias("arrival_seq"),
        )
        # seen = every even frontier id: half the frontier is already seen
        surl, _ = _frontier_url(F.col("id") * 2, seed, self.N_HOSTS, self.HOT_FRAC)
        seen = spark.range(0, self.N_SEEN).select(F.unhex(F.sha2(surl, 256)).alias("url_hash"))
        for name, df, loc in (("frontier_gen", frontier, fdir), ("seen_gen", seen, sdir)):
            # one sorted file per bucket: the compacted state-table layout
            (df.repartition(self.BUCKETS, "url_hash").write.mode("overwrite")
             .bucketBy(self.BUCKETS, "url_hash").sortBy("url_hash")
             .option("path", loc).saveAsTable(name))

    def register(self, ctx) -> None:
        from link_profiler_repo_spark.sources.bucketed import register_external_bucketed

        spark = ctx.spark
        fdir, sdir = self._dirs(ctx)
        self.frontier, self.seen = (
            register_external_bucketed(spark, name, loc, spark.read.parquet(loc),
                                       buckets=self.BUCKETS)
            for name, loc in (("frontier", fdir), ("seen", sdir))
        )

    def _epoch(self, frontier, seen):
        from link_profiler_repo_spark.operators.frontier import schedule_epoch

        return schedule_epoch(frontier, seen, host_budget=self.BUDGET, n_salt=self.N_SALT,
                              co_bucketed=True)

    def warmup(self, ctx) -> None:
        self._epoch(self.frontier.limit(10_000), self.seen.limit(10_000)).collect()

    def expected(self, ctx) -> None:
        fdir, sdir = self._dirs(ctx)
        key = {
            "workload": self.name, "seed": ctx.seed,
            "size": [self.N_FRONTIER, self.N_SEEN, self.N_HOSTS, self.HOT_FRAC,
                     self.BUDGET, self.BUCKETS],
            "src": _source_hash(ctx.root, ["perfbench/workloads.py"]),
        }

        def compute():
            # the issued wave re-derived by DuckDB from the same parquet:
            # exact anti-join, then the first BUDGET rows per host in
            # (priority, arrival_seq) order
            con = ctx.duckdb()
            rows = con.execute(f"""
                WITH f AS (SELECT url, url_hash, host, priority, arrival_seq
                           FROM read_parquet('{fdir}/*.parquet')),
                     s AS (SELECT url_hash FROM read_parquet('{sdir}/*.parquet')),
                     n AS (SELECT * FROM f WHERE NOT EXISTS
                           (SELECT 1 FROM s WHERE s.url_hash = f.url_hash)),
                     r AS (SELECT url, row_number() OVER
                           (PARTITION BY host ORDER BY priority, arrival_seq) - 1 AS rank
                           FROM n)
                SELECT url, rank FROM r WHERE rank < {self.BUDGET} ORDER BY url
            """).fetchall()
            con.close()
            return [list(r) for r in rows]

        self.oracle = sorted(tuple(r) for r in cached(ctx, key, compute))

    def rep(self, ctx) -> dict:
        t0 = time.monotonic()
        df = self._epoch(self.frontier, self.seen)
        self._last = sorted((r["url"], int(r["rank"])) for r in df.select("url", "rank").collect())
        wall = time.monotonic() - t0
        self._last_df = df
        return {"wall_s": wall, "items": self.N_FRONTIER, "epoch_walls": [wall]}

    def check(self, ctx) -> str | None:
        if self._last == self.oracle:
            return None
        return (f"issued wave differs from DuckDB ({len(self._last)} vs "
                f"{len(self.oracle)} rows, {len(set(self._last) ^ set(self.oracle))} differ)")

    LAYER_METRICS = {"frontier.anti_join_s": "s", "frontier.topk_s": "s",
                     "frontier.new_frac": "ratio", "frontier.issued_rows": "count",
                     "frontier.exchanges": "count"}

    def layers(self, ctx, spark_stats: dict, reps: list[dict]) -> dict:
        """The epoch's two halves measured apart after the timed reps: the
        anti-join alone (materialized in memory), then per_host_topk over
        its cached survivors."""
        import re

        from link_profiler_repo_spark.operators.frontier import per_host_topk

        plan = self._last_df._jdf.queryExecution().executedPlan().toString()
        t0 = time.monotonic()
        new = self.frontier.join(self.seen.select("url_hash"), "url_hash", "left_anti").persist()
        n_new = new.count()
        t1 = time.monotonic()
        issued = per_host_topk(new, F.lit(self.BUDGET), n_salt=self.N_SALT).select("url").collect()
        t2 = time.monotonic()
        new.unpersist()
        return {
            "frontier.anti_join_s": t1 - t0,
            "frontier.topk_s": t2 - t1,
            "frontier.new_frac": n_new / self.N_FRONTIER,
            "frontier.issued_rows": len(issued),
            "frontier.exchanges": len(re.findall(r"\bExchange\b", plan)),
        }


# ---------------------------------------------------------------------------
# near_dup


def near_dup_docs(seed: int, n_docs: int, cluster: int = 16, vocab: int = 8_000,
                  edit_frac: tuple[float, float] = (0.02, 0.2)):
    """n_docs texts in clusters of `cluster` near-duplicates: each cluster
    has a random base text of 60-139 tokens, and each member replaces a
    share of the base's tokens drawn from `edit_frac`, so some members
    collide in a band without passing the agreement threshold."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    words = np.array([f"w{i:04x}" for i in range(vocab)])
    ids, texts = [], []
    for c in range(n_docs // cluster):
        base = rng.integers(0, vocab, int(rng.integers(60, 140)))
        for m in range(cluster):
            k = max(1, int(len(base) * rng.uniform(*edit_frac)))
            doc = base.copy()
            doc[rng.choice(len(doc), k, replace=False)] = rng.integers(0, vocab, k)
            ids.append(c * cluster + m)
            texts.append(" ".join(words[doc]))
    return pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts})


class NearDup(Workload):
    """minhash_signatures to a stored signature table, then
    minhash_pairs_from_sigs over it, in the gate's exact-bucket form."""

    name = "near_dup"
    partitions = 8
    N_DOCS, CLUSTER, THRESHOLD = 4_000, 16, 0.5

    def _p(self, ctx, name: str) -> str:
        return os.path.join(ctx.run_dir, name)

    def generate(self, ctx) -> None:
        pdf = near_dup_docs(ctx.seed, self.N_DOCS, self.CLUSTER)
        (ctx.spark.createDataFrame(pdf).repartition(ctx.cores * 2)
         .write.mode("overwrite").parquet(self._p(ctx, "docs")))
        self.docs = ctx.spark.read.parquet(self._p(ctx, "docs"))

    def _run(self, ctx, docs, sig_dir: str, pairs_dir: str) -> tuple[float, float]:
        from link_profiler_repo_spark.operators.dedup import (
            minhash_pairs_from_sigs,
            minhash_signatures,
        )

        t0 = time.monotonic()
        minhash_signatures(docs).write.mode("overwrite").parquet(sig_dir)
        t1 = time.monotonic()
        pairs = minhash_pairs_from_sigs(ctx.spark.read.parquet(sig_dir),
                                        threshold=self.THRESHOLD, exact_buckets=True)
        pairs.select("a", "b", "n_agree").write.mode("overwrite").parquet(pairs_dir)
        return t1 - t0, time.monotonic() - t1

    def warmup(self, ctx) -> None:
        self._run(ctx, self.docs.limit(32 * self.CLUSTER),
                  self._p(ctx, "warm_sig"), self._p(ctx, "warm_pairs"))

    def expected(self, ctx) -> None:
        # derived from the first rep's stored signatures (see check), so it
        # depends on program output and is never cached across runs
        self.con = ctx.duckdb()
        self.oracle_ready = False

    def rep(self, ctx) -> dict:
        sig_s, pairs_s = self._run(ctx, self.docs, self._p(ctx, "sig"), self._p(ctx, "pairs"))
        return {"wall_s": sig_s + pairs_s, "items": self.N_DOCS, "epoch_walls": [sig_s + pairs_s],
                "sig_s": sig_s, "pairs_s": pairs_s}

    def check(self, ctx) -> str | None:
        """The minhash_near_dup gate's SQL re-derives band -> bucket ->
        candidate pairs -> agreement count from the stored signatures. The
        first rep's signatures and pairs become the reference; every rep
        must reproduce both exactly."""
        con, sig, pairs = self.con, self._p(ctx, "sig"), self._p(ctx, "pairs")
        cur_sig = f"(SELECT doc_id, sig FROM read_parquet('{sig}/*.parquet'))"
        cur_pairs = f"(SELECT a, b, n_agree FROM read_parquet('{pairs}/*.parquet'))"
        if not self.oracle_ready:
            con.execute(f"CREATE TABLE sig0 AS {cur_sig}")
            min_agree = int(self.THRESHOLD * 128)
            # the gate's CTEs, with the band table materialized: inlined,
            # DuckDB re-plans the self-join ~40x slower
            con.execute("""
                CREATE TABLE bands AS
                SELECT doc_id, i AS band,
                       array_to_string(sig[i * 4 + 1 : i * 4 + 4], ',') AS bucket
                FROM sig0, UNNEST(range(0, 32)) AS t(i)""")
            con.execute(f"""
                CREATE TABLE expected AS
                WITH cand AS (
                  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                  FROM bands l JOIN bands r
                    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
                SELECT c.a, c.b,
                       CAST(len(list_filter(range(1, 129), i -> sa.sig[i] = sb.sig[i])) AS BIGINT)
                         AS n_agree
                FROM cand c JOIN sig0 sa ON sa.doc_id = c.a JOIN sig0 sb ON sb.doc_id = c.b
                WHERE len(list_filter(range(1, 129), i -> sa.sig[i] = sb.sig[i])) >= {min_agree}
            """)
            self.oracle_ready = True
            self.n_pairs = con.execute("SELECT count(*) FROM expected").fetchone()[0]
        bad_sig = con.execute(
            f"SELECT count(*) FROM ({cur_sig} EXCEPT SELECT * FROM sig0)").fetchone()[0]
        n_sig = con.execute(f"SELECT count(*) FROM {cur_sig}").fetchone()[0]
        if bad_sig or n_sig != self.N_DOCS:
            return f"signatures differ from the first rep's ({bad_sig} rows, {n_sig} docs)"
        extra = con.execute(
            f"SELECT count(*) FROM ({cur_pairs} EXCEPT SELECT * FROM expected)").fetchone()[0]
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM expected EXCEPT {cur_pairs})").fetchone()[0]
        n_got = con.execute(f"SELECT count(*) FROM {cur_pairs}").fetchone()[0]
        if extra or missing or n_got != self.n_pairs:
            return f"pairs differ from the gate SQL ({extra} extra, {missing} missing)"
        return None

    LAYER_METRICS = {"dedup.sig_s": "s", "dedup.pairs_s": "s", "dedup.candidates": "count",
                     "dedup.pairs": "count", "dedup.confirm_frac": "ratio"}

    def layers(self, ctx, spark_stats: dict, reps: list[dict]) -> dict:
        from link_profiler_repo_spark.operators.dedup import minhash_pairs_from_sigs

        sig = ctx.spark.read.parquet(self._p(ctx, "sig"))
        n_cand = minhash_pairs_from_sigs(sig, threshold=0.0, exact_buckets=True).count()
        return {
            "dedup.sig_s": statistics.median(r["sig_s"] for r in reps),
            "dedup.pairs_s": statistics.median(r["pairs_s"] for r in reps),
            "dedup.candidates": n_cand,
            "dedup.pairs": self.n_pairs,
            "dedup.confirm_frac": self.n_pairs / n_cand if n_cand else 0.0,
        }


WORKLOADS = {w.name: w for w in (BfsCrawl, FrontierEpoch, NearDup)}
