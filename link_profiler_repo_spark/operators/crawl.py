"""The crawl engine: iterative BFS / priority-frontier epochs as DataFrame plans.

One checkpoint-resumable epoch loop (CrawlEngine._run) drives both modes;
both are oracle-verified against oracle_sim.py. Every epoch runs the same
steps, each labelled `epoch N: <step>` on the Spark jobs it issues:

  control-file check --wave selection (per mode)--> ranked wave
  --left join docs (the 'fetch'; deterministic status)--> seen write
  --Arrow-batched link extraction--> per-page edge dedup --> edges write
  --child admission (per mode)--> frontier write --> metrics (overlapped)
  + prefilter fold --> commit --> next frontier

A mode contributes only its wave selection and its child admission:

run_bfs (_Bfs) — exact ordering-equality mode. Reproduces the reference BFS
loop (services/crawl_service.py:487-601) wave-by-wave. Wave: first
occurrence within the wave (min_by hash aggregate) + Bloom-prefiltered
anti-join vs seen, dense rank (order.with_global_index) and the max_pages
cut. Admission: anti-join vs seen, not crawled earlier in this wave, dense
rank in (parent, link position) order, and — only on the single wave where
the budget can bind — the sequential `crawled + qsize < max_pages` budget
scan (crawl_service.py:599-600), rendered distributed (an upper bound on
crawled+qsize is checked first; every other wave admits everything).

run_scheduler (_Scheduler) — priority-frontier mode (the north_rule
scheduler). Wave: circuit breaker, per-host FIFO-within-priority ranks under
per-epoch politeness budgets min(host_budget, floor(epoch_seconds/
crawl_delay)) (salted per_host_topk; smart_crawler_queue.py:76-103), global
wave order (priority, host, rank) (:163) and the max_pages overflow.
Admission: inbound-link count, robots disallow + domain filters
(robots_parser.py semantics), anti-join vs the `enqueued` set, W4 priority,
retry demotion + dead-letter (:182-192), unioned with the leftover frontier.

The seen anti-join is hash-partitioned with a Bloom/cuckoo prefilter table
(functions/sidecar.py), the dense ordering index uses range-partition +
per-partition offsets (no global window), and skew from hot hosts rides on
AQE skew-join handling.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession, Window

from ..config import CrawlConfig
from ..functions.extract import with_links
from ..functions.localdf import local_df
from ..functions.sidecar import Sidecar
from ..functions.urls import canonicalize, url_host, url_sha256
from ..state import StateStore
from ..synth import SynthParams
from .frontier import per_host_topk
from .order import track_persist, unpersist_all, with_global_index

_FRONTIER_COLS = ["url", "url_hash", "xx64", "host", "depth", "wave_seq"]
_SCHED_COLS = ["url", "url_hash", "xx64", "host", "depth", "priority", "retries", "arrival_seq"]
_LINK_FIELDS = ("anchor_text", "rel", "link_type", "context_text", "pos", "from_tag", "first")

# Waves below this row count use single-partition ordering + writes (1 job
# instead of 3; identical semantics — see order.with_global_index). Crossover
# measured on local[32]: the serial window loses above a few thousand rows
# (a 100k threshold cost 1.7x end-to-end), so it covers only genuinely tiny
# waves (seed ramps, tails).
SMALL_WAVE_ROWS = 2_000
# Largest wave the in-memory fetch join broadcasts, and how many times the
# wave the corpus must outnumber for the broadcast to win (see _fetch_join).
BROADCAST_WAVE_MAX = 2_000_000
CORPUS_BROADCAST_RATIO = 50
# Prefilter bits per bucket: the bucket count is ceil(bloom_bits / this), so
# a probe task loads at most 4 MiB of Bloom state. Crawls up to 2^25 bits
# (~3M URLs at 1% fpp) get one bucket; 10^10 URLs get thousands.
PREFILTER_BUCKET_BITS = 1 << 25

# Every prefilter fold goes through this module-level name: a traced
# benchmark run wraps it by name to time the fold.
add_to_bloom = Sidecar.update


def _first_occurrence(df: DataFrame, key: str, order: F.Column) -> DataFrame:
    """One row per `key`: the row with the least `order`, which must be
    unique per row (so ties are impossible and the pick is deterministic).
    A min_by HASH aggregation, not a ranking window: the partial (map-side)
    combine collapses duplicates before the exchange and no per-partition
    sort runs."""
    other = [c for c in df.columns if c != key]
    return (
        df.groupBy(key)
        .agg(F.min_by(F.struct(*other), order).alias("_r"))
        .select(key, *[F.col(f"_r.{c}").alias(c) for c in other])
        .select(*df.columns)
    )


@dataclass
class CrawlStats:
    """Mixed scopes on resume, by design: epochs/crawled are CUMULATIVE over
    the whole job (they come from the checkpoint), while scheduled/per_epoch/
    wall_seconds cover only THIS process's run (resumed_from marks the split —
    0 for a fresh run). Rate computations must pair same-scope fields:
    pages/sec of this run = (crawled - crawled_at_resume) / wall_seconds."""

    epochs: int = 0
    crawled: int = 0
    scheduled: int = 0  # candidate URLs pushed through schedule+dedup (bench metric)
    wall_seconds: float = 0.0
    per_epoch: list = field(default_factory=list)
    stopped: str = ""  # ''|'paused'|'cancelled' — job-control interruption
    resumed_from: int = 0  # checkpoint epoch this run resumed at (0 = fresh)
    crawled_at_resume: int = 0  # pages already crawled at that checkpoint


@dataclass
class _Epoch:
    """What a mode's wave selection and child admission read of one epoch."""

    n: int  # this epoch's number
    crawled: int  # pages crawled before it
    n_front: int  # rows of the frontier it starts from
    small: bool  # n_front < SMALL_WAVE_ROWS
    seen: DataFrame | None  # pages crawled through the previous epoch
    n_crawl: int = 0  # pages this epoch crawls (set after wave selection)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig,
        docs_df: DataFrame,
        workdir: str,
        synth_params: SynthParams | None = None,
        robots_df: DataFrame | None = None,
        prefilter: str | None = "bloom",
        bloom_bits: int = 1 << 23,
        compact_every: int = 0,
        seen_layout: str = "delta",
        metrics_enabled: bool = True,
        docs_layout: str = "inmem",
        docs_buckets: int = 32,
    ):
        if prefilter not in (None, "bloom", "cuckoo"):
            raise ValueError(f"prefilter={prefilter!r}: expected None, 'bloom' or 'cuckoo'")
        self.spark = spark
        self.cfg = cfg
        self.p = synth_params or SynthParams()
        self.docs = docs_df
        self.robots = robots_df
        self.store = StateStore(workdir, cfg.job_id)
        # None: exact anti-join only. 'bloom' / 'cuckoo': a table of Bloom /
        # cuckoo filters sharing bloom_bits over ceil(bloom_bits /
        # PREFILTER_BUCKET_BITS) buckets, whose probe tasks load only their
        # buckets; cuckoo can also DELETE (recrawl eviction).
        self.prefilter = prefilter
        self._sidecar = None
        self._layout = "none"  # recorded in every checkpoint
        if prefilter is not None:
            n_buckets = -(-bloom_bits // PREFILTER_BUCKET_BITS)
            self._sidecar = Sidecar(
                os.path.join(self.store.dir, "prefilter"), prefilter, n_buckets, bloom_bits
            )
            self._layout = f"{prefilter}, {bloom_bits} bits, n_buckets={n_buckets}"
        # fold seen/edges deltas every k epochs (0 = off); Iceberg snapshot
        # compaction equivalent — keeps the per-wave delta-union scan bounded
        self.compact_every = compact_every
        # 'delta' = union of epoch deltas (default); 'bucketed' = probe a
        # bucketBy(url_hash) managed table so the BFS anti-join never
        # re-shuffles the accumulated side (sources/bucketed.py; the 10^10-
        # scale layout). The scheduler dedups against `enqueued` instead.
        self.seen_layout = seen_layout
        self.metrics_enabled = metrics_enabled
        # Fetch-join strategy (driver-known cardinalities pick the plan):
        #   docs_layout='bucketed': corpus persisted ONCE as a
        #     bucketBy(doc_buckets, doc_id) table (Iceberg bucket-transform
        #     equivalent); per-epoch joins exchange only the wave — the
        #     10^10 layout, plan-locked in tests.
        #   docs_layout='inmem' (default): corpus is a caller-persisted
        #     DataFrame. A wave <= BROADCAST_WAVE_MAX rows is broadcast
        #     against a streamed corpus scan when the corpus outnumbers the
        #     wave by CORPUS_BROADCAST_RATIO (the regime where re-shuffling
        #     the corpus loses); comparable-size corpora (local bench: 3x
        #     the wave) measure FASTER under the plain shuffle join, so the
        #     ratio gate keeps that plan where it wins.
        self.docs_layout = docs_layout
        self._n_docs: int | None = None
        self._docs_table = None
        if docs_layout == "bucketed":
            from ..sources.bucketed import BucketedSeenTable

            self._docs_table = BucketedSeenTable(
                spark,
                name=f"docs_{cfg.job_id}".replace("-", "_"),
                buckets=docs_buckets,
                key="doc_id",
            )
        self._bucketed = None
        if seen_layout == "bucketed":
            from ..sources.bucketed import BucketedSeenTable

            self._bucketed = BucketedSeenTable(
                spark, name=f"seen_{cfg.job_id}".replace("-", "_"), buckets=64
            )
        self.stats = CrawlStats()

    # -- shared helpers --------------------------------------------------------

    def _with_keys(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        # BOTH keys derive from the canonicalized URL: the bloom prefilter
        # (xx64) and the exact anti-join (url_hash) must agree on identity,
        # else a raw-spelling variant absent from the bloom would take the
        # sure_new fast path around the exact join (ADVICE r01)
        c = F.col(url_col)
        canon = canonicalize(c)
        return (
            df.withColumn("url_hash", url_sha256(canon))
            .withColumn("xx64", F.xxhash64(canon))
            .withColumn("host", url_host(c))
        )

    # logical time base for discovered_at (epoch-pinned, deterministic): the
    # reference Backlink.crawl_timestamp / discovered_date (core/models.py:
    # 332-380) is wall clock; runs here must be replayable, so timestamps
    # derive from the epoch counter and the configured epoch duration.
    BASE_EPOCH_SECONDS = 1704067200  # 2024-01-01T00:00:00Z

    def _edge_analytics_cols(self, epoch: int) -> list[F.Column]:
        """Analytics-surface columns on every edge (VERDICT r01 missing #3):
        discovered_at (epoch-pinned logical timestamp), http_status of the
        SOURCE page fetch (a link row exists only for a 200 fetch —
        crawl_service persists links_found of successful results), and a
        deterministic spam_level classification (core/models.py spam ladder;
        sponsored/ugc machine-tagged links start at 'suspicious')."""
        ts = self.BASE_EPOCH_SECONDS + int(epoch * self.cfg.epoch_seconds)
        spam = (
            F.when(F.col("link_type").isin("sponsored", "ugc"), F.lit("suspicious"))
            .otherwise(F.lit("clean"))
        )
        return [
            F.timestamp_seconds(F.lit(ts)).alias("discovered_at"),
            F.lit(200).alias("http_status"),
            spam.alias("spam_level"),
        ]

    def _pages_for_extraction(self, fetched: DataFrame, cols: list[str]) -> DataFrame:
        """Successful fetches eligible for link extraction; the P10
        content-size guard drops oversized pages here (they stay crawled and
        counted — only their links are discarded, mirroring the reference's
        response-size bail-out in crawlers/web_crawler.py)."""
        pages = fetched.filter(F.col("status_code") == 200)
        if self.cfg.max_content_chars is not None:
            size = F.aggregate(
                F.transform(F.col("spans"), lambda s: F.coalesce(F.length(s["text"]), F.lit(0))),
                F.lit(0),
                lambda a, x: a + x,
            )
            pages = pages.filter(size <= F.lit(self.cfg.max_content_chars))
        return pages.select(*cols)

    def _fetch_join(self, wave: DataFrame, n_wave: int) -> DataFrame:
        """'Fetch' a ranked wave: join it against the docs corpus and attach
        the deterministic status_code.

        Scale contract: never move the corpus per epoch. The plan is chosen
        from driver-known cardinalities (wave counts are exact by this
        point):

        - 'bucketed' corpus layout: plain left join against the
          bucketBy(doc_id) table — only the wave side exchanges, the corpus
          reads co-located and pre-sorted (zero Exchange, zero Sort on the
          big side; plan-locked in tests). The 10^10 design point.
        - in-memory corpus, corpus >> wave (ratio gate): inner join with the
          wave broadcast, corpus streamed through the BHJ probe with zero
          Exchange. Misses (dangling URLs -> 404) can't come out of the
          inner join, so they are recovered wave-side: wave ANTI hit-urls,
          both wave-sized broadcasts.
        - otherwise: Spark's own shuffle join (LeftOuter can only build the
          docs side, so both sides exchange) — measured fastest when corpus
          and wave are comparable sizes, where 'protecting' the corpus from
          a shuffle buys nothing.
        """
        if self._docs_table is not None:
            if not getattr(self, "_docs_table_ready", False):
                # one-time corpus materialization in bucket layout (the
                # Iceberg-ingest step); replaces any stale table from a
                # previous run of the same job_id
                self._docs_table.init(self.docs)
                self._docs_table_ready = True
            docs = self._docs_table.df()
            return (
                wave.join(docs, wave["url"] == docs["doc_id"], "left")
                .withColumn("status_code", self._status_col())
            )
        docs = self.docs
        if self._n_docs is None:
            self._n_docs = docs.count()  # cached corpus: cheap, once per run
        if (
            n_wave > BROADCAST_WAVE_MAX
            or self._n_docs < CORPUS_BROADCAST_RATIO * max(n_wave, 1)
        ):
            return (
                wave.join(docs, wave["url"] == docs["doc_id"], "left")
                .withColumn("status_code", self._status_col())
            )
        hit = (
            docs.join(F.broadcast(wave), docs["doc_id"] == wave["url"], "inner")
            .select(*[wave[c] for c in wave.columns], *[docs[c] for c in docs.columns])
        )
        # cached so the miss anti-join's broadcast materialization is the ONE
        # corpus scan of the epoch; released at the epoch unpersist barrier
        hit.persist()
        track_persist(hit)
        miss = wave.join(
            F.broadcast(hit.select(F.col("url").alias("_hit_url"))),
            F.col("url") == F.col("_hit_url"),
            "left_anti",
        )
        for fld in docs.schema.fields:
            miss = miss.withColumn(fld.name, F.lit(None).cast(fld.dataType))
        return hit.unionByName(miss).withColumn("status_code", self._status_col())

    def _status_col(self) -> F.Column:
        """Deterministic fetch outcome, mirroring synth.fetch_status: flaky
        host -> 503, absent from docs -> 404, else 200. Pure Catalyst."""
        hidx = F.regexp_extract(F.col("host"), r"^h(\d+)\.", 1).cast("int")
        cond_flaky = (
            F.lit(self.p.flaky_host_mod > 0)
            & (hidx % F.lit(max(self.p.flaky_host_mod, 1)) == F.lit(3))
        )
        return (
            F.when(cond_flaky, F.lit(503))
            .when(F.col("doc_id").isNull(), F.lit(404))
            .otherwise(F.lit(200))
        )

    def _not_seen(self, df: DataFrame, seen: DataFrame | None) -> DataFrame:
        """Exact anti-join vs seen, Bloom-prefiltered: definite-new rows skip
        the shuffle; possible-positives fall through to the exact join.
        False positives only cost join work; false negatives are impossible,
        so the exact-seen-set contract is unaffected by the prefilter."""
        if seen is None:
            return df
        seen_keys = seen.select("url_hash")
        if self._sidecar is not None and self._sidecar.live():
            flagged = self._sidecar.probe(df)
            sure_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
            maybe = (
                flagged.filter(F.col("_maybe"))
                .drop("_maybe")
                .join(seen_keys, "url_hash", "left_anti")
            )
            return sure_new.unionByName(maybe)
        return df.join(seen_keys, "url_hash", "left_anti")

    def _bloom_insert(self, df: DataFrame) -> None:
        """Fold df's xx64 keys into the prefilter table, if one is on."""
        if self._sidecar is not None:
            add_to_bloom(self._sidecar, df.select("xx64"))

    def evict_seen_prefilter(self, df: DataFrame) -> None:
        """Recrawl eviction (operators/recrawl.py composition): remove url
        keys from the cuckoo prefilter so re-admitted URLs flow through the
        sure-new fast path again. Only the cuckoo layout can forget; callers
        must also retire the rows from the exact seen table."""
        if self.prefilter != "cuckoo":
            raise ValueError("prefilter eviction requires prefilter='cuckoo'")
        self._sidecar.update(None, deletes=df.select("xx64"))

    def readmit(self, urls: DataFrame, depth: int | None = None) -> int:
        """Recrawl readmission — the operators/recrawl.py composition made a
        durable engine action. Given due URLs (e.g. recrawl_schedule rows
        whose revisit interval has elapsed), one StateStore.rewrite retires
        them from the exact seen state (a new seen generation — the Iceberg
        DELETE equivalent; the bucketed seen layout rebuilds from the seen
        deltas on resume) and re-seeds them into the current frontier epoch
        (a new frontier generation: leftover frontier + due URLs, wave_seq
        re-densified). One checkpoint rename commits both, so a crash leaves
        the crawl as it was before or after the readmission, and
        run_bfs(resume=True) re-fetches them with fresh crawl_order
        continuing the global counter. After the commit they are evicted
        from the cuckoo prefilter to ride the sure-new fast path again; a
        crash before that only costs them the exact anti-join, as on the
        Bloom kernel, which cannot forget.

        By default each URL re-enters at its ORIGINAL depth (carried from the
        seen state), so the resumed expansion exactly mirrors the first crawl
        — every outlink it re-emits was already admitted (or depth-pruned)
        the first time, and the recrawl refreshes content without widening
        the BFS horizon. Pass an explicit `depth` to deliberately re-expand
        (e.g. depth=0 treats the due set as fresh seeds).

        Returns the number of frontier rows admitted for the next resume.
        The caller raises cfg.max_pages if the original budget is spent —
        readmission never silently widens a budget."""
        store, spark = self.store, self.spark
        ckpt = store.read_checkpoint()
        if ckpt is None:
            raise ValueError("readmit requires a checkpointed crawl to resume from")
        epoch = int(ckpt["epoch"])

        # Snapshot the due-set first: the natural caller derives `urls` from
        # the seen table itself (e.g. recrawl_schedule over crawl history),
        # whose generation the commit below deletes, yet the eviction reads
        # the keys after it. One tiny write severs that lineage and gives the
        # retirement, the re-seed and the eviction the same rows.
        snap_dir = os.path.join(store.dir, "_readmit_keys")
        shutil.rmtree(snap_dir, ignore_errors=True)
        seen = store.read_deltas(spark, "seen", 1 << 62)
        keyed = self._with_keys(urls.select("url").distinct())
        if depth is None:
            # left join: a URL never crawled (not in seen) readmits at depth 0
            keyed = (
                keyed.join(seen.select("url_hash", "depth"), "url_hash", "left")
                .withColumn("depth", F.coalesce(F.col("depth"), F.lit(0)))
            )
        else:
            keyed = keyed.withColumn("depth", F.lit(int(depth)))
        keyed.write.parquet(snap_dir)
        keyed = spark.read.parquet(snap_dir)

        leftover = store.read_epoch(spark, "frontier", epoch)
        n_left = leftover.count()
        small = n_left + 1 < SMALL_WAVE_ROWS
        readd, n_new = with_global_index(keyed, ["url"], "wave_seq", small=small)
        readd = readd.withColumn("wave_seq", F.col("wave_seq") + F.lit(n_left))
        merged = leftover.select(*_FRONTIER_COLS).unionByName(
            readd.select(*_FRONTIER_COLS)
        )
        tables = {"frontier": (epoch, merged)}
        if seen is not None:  # a due-set is tiny next to seen: broadcast it
            due = F.broadcast(keyed.select("url_hash"))
            tables["seen"] = (0, seen.join(due, "url_hash", "left_anti"))
        store.rewrite(tables, {**ckpt, "readmitted": n_new})
        if self.prefilter == "cuckoo" and self._sidecar.live():
            self.evict_seen_prefilter(keyed)
        shutil.rmtree(snap_dir, ignore_errors=True)
        return n_left + n_new

    def _step(self, epoch: int, label: str) -> None:
        """Tag the Spark jobs this thread issues next with the loop step that
        issues them, so an event log attributes wall time per step."""
        self.spark.sparkContext.setJobDescription(f"epoch {epoch}: {label}")

    def _log_metrics(self, epoch: int, stages: list[tuple[str, DataFrame]]) -> None:
        """Per-partition lineage counters (north_rule): one write per epoch,
        all stages unioned. Runs on the metrics thread, which labels its own
        jobs (job descriptions are per thread)."""
        if not self.metrics_enabled:
            return
        self._step(epoch, "metrics")
        parts = []
        for stage, df in stages:
            parts.append(
                df.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(F.count("*").alias("rows"))
                .withColumn("epoch", F.lit(epoch))
                .withColumn("stage", F.lit(stage))
                .select("epoch", "partition_id", "stage", "rows")
            )
        m = parts[0]
        for x in parts[1:]:
            m = m.unionByName(x)
        # overwrite like every other epoch table: a mid-epoch crash + re-run
        # must not append a second copy of the epoch's counters (ADVICE r01)
        self.store.write_epoch("metrics", epoch, m, coalesce=1)

    # -- the epoch loop -----------------------------------------------------------

    def run_bfs(self, seeds: list[str], resume: bool = False) -> dict:
        return self._run(_Bfs(self), seeds, resume)

    def run_scheduler(
        self,
        seeds: list[str],
        resume: bool = False,
        max_epochs: int = 10_000,
        collect_waves: bool = False,
    ) -> dict:
        out = self._run(_Scheduler(self), seeds, resume, max_epochs)
        if collect_waves:
            # oracle-equality diagnostics only: one driver collect at the END
            # of the run, reconstructed from the epoch-stamped seen deltas.
            # The hot loop itself never collects (at the 10^10 design point
            # this opt-in is a test-scale tool, never production state).
            rows = (
                out["seen"]
                .select("epoch", "crawl_order", "url", "depth")
                .orderBy("crawl_order")
                .collect()
            )
            by_epoch: dict[int, list[tuple[str, int]]] = {}
            for r in rows:
                by_epoch.setdefault(int(r["epoch"]), []).append((r["url"], int(r["depth"])))
            out["waves"] = [
                by_epoch.get(e["epoch"], []) for e in self.stats.per_epoch
            ]
        return out

    def _run(
        self, mode: _Bfs | _Scheduler, seeds: list[str], resume: bool,
        max_epochs: float = float("inf"),
    ) -> dict:
        cfg, spark, store = self.cfg, self.spark, self.store
        t0 = time.monotonic()

        ckpt = store.read_checkpoint() if resume else None
        if ckpt is not None:
            # the prefilter holds the keys of every page crawled before the
            # checkpoint; another layout would let those pages skip the exact
            # anti-join and be crawled again
            saved = ckpt.get("prefilter", "unrecorded")
            if saved != self._layout:
                raise ValueError(
                    f"checkpoint prefilter layout {saved!r} differs from this "
                    f"engine's {self._layout!r}: resume with the layout it was crawled with"
                )
            epoch = int(ckpt["epoch"])
            crawled = int(ckpt["crawled"])
            self.stats.resumed_from = epoch
            self.stats.crawled_at_resume = crawled
            self._step(epoch, "resume")
            mode.resume(ckpt)
            frontier = store.read_epoch(spark, mode.table, epoch)
        else:
            store.reset()  # a fresh run must not inherit prior generations
            epoch = 0
            crawled = 0
            self._step(epoch, "seed")
            store.write_epoch(mode.table, 0, mode.seed_frontier(seeds))
            frontier = store.read_epoch(spark, mode.table, 0)
            mode.seed_prefilter(frontier)
            store.commit({"epoch": 0, "crawled": 0, "prefilter": self._layout, **mode.ckpt()})

        bucketed = self._bucketed if mode.probes_seen else None
        if bucketed is not None:
            bucketed.drop()
            if ckpt is not None:
                prior = store.read_deltas(spark, "seen", epoch)
                if prior is not None:
                    bucketed.init(prior.select("url_hash"))

        n_front = frontier.count()
        # the metrics write only READS the already-filled fetched cache and
        # the stored frontier file, so it rides next to the prefilter fold on
        # its own thread — measured ~0.8 s/epoch of pure serial wall otherwise
        with ThreadPoolExecutor(max_workers=1) as mpool:
            while n_front and crawled < cfg.max_pages and epoch < max_epochs:
                ctl = store.read_control()  # pause/cancel (job_coordinator.py:282-369)
                if ctl in ("paused", "cancelled"):
                    self.stats.stopped = ctl
                    break
                epoch += 1
                self._step(epoch, "rank_wave")
                if bucketed is not None and bucketed.exists():
                    seen = bucketed.df()
                else:
                    seen = store.read_deltas(spark, "seen", epoch - 1)
                ep = _Epoch(epoch, crawled, n_front, n_front < SMALL_WAVE_ROWS, seen)
                coalesce = 1 if ep.small else None
                wave = mode.select_wave(ep, frontier)
                if wave is None:
                    break
                ranked, ep.n_crawl = wave

                fetched = self._fetch_join(
                    ranked.withColumn("crawl_order", F.col("crawl_idx") + F.lit(crawled)),
                    ep.n_crawl,
                )
                fetched.persist()
                seen_delta = fetched.select(
                    "url_hash", "url", "xx64", "depth", "crawl_order", "status_code",
                    F.lit(epoch).alias("epoch"),
                )
                self._step(epoch, "fetch_join+seen_write")
                store.write_epoch("seen", epoch, seen_delta, coalesce=coalesce)

                # each link carries its page's depth and the mode's parent columns
                # (the page's wave position, renamed)
                parents = list(mode.parents.values())
                pages = self._pages_for_extraction(
                    fetched, ["url", *mode.parents, "depth", "spans"]
                )
                links = (
                    with_links(pages, doc_col="url")
                    .select(
                        F.col("url").alias("src"),
                        *[F.col(c).alias(a) for c, a in mode.parents.items()],
                        "depth",
                        F.explode("links").alias("l"),
                    )
                    .select(
                        "src", *parents, "depth",
                        F.col("l.href").alias("dst"),
                        *[F.col(f"l.{f}").alias(f) for f in _LINK_FIELDS],
                    )
                )
                links.persist()

                # edges: (src,dst) dedup == within-page first occurrence, because a
                # page is crawled exactly once (crawl_service.py:95-116 Redis pair
                # set). The extraction UDF marks first occurrences per page
                # (LINK.first), so this is a filter — no (src,dst) shuffle of the
                # widest frame in the loop (anchor/context strings).
                edges_new = links.filter(F.col("first")).select(
                    "src", "dst",
                    url_host("src").alias("src_host"),
                    url_host("dst").alias("dst_host"),
                    "anchor_text", "link_type", "rel", "context_text", "pos", "depth",
                    *self._edge_analytics_cols(epoch),
                    F.lit(epoch).alias("epoch"),
                )
                self._step(epoch, "extract+edges_write")
                store.write_epoch("edges", epoch, edges_new, coalesce=coalesce)

                cand = links.filter(F.col("from_tag") == "a").select(
                    F.col("dst").alias("url"), *parents, "pos",
                    (F.col("depth") + 1).alias("depth"),
                )
                nxt, prefilter_keys = mode.admit(ep, fetched, cand)

                self._step(epoch, "frontier_write")
                store.write_epoch(mode.table, epoch, nxt, coalesce=coalesce)
                # metrics BEFORE the bucketed append: the metrics job re-evaluates
                # plans whose lineage anti-joins the bucketed seen table; after the
                # append, a cache eviction would recompute them against a table
                # that already contains this wave's own rows. 'scheduled' counts
                # the frontier table just WRITTEN, not the live plan (whose
                # lineage is the whole extraction->admission pipeline).
                self._step(epoch, "metrics")
                stored = store.read_epoch(spark, mode.table, epoch)
                fut_metrics = mpool.submit(
                    self._log_metrics, epoch, [("crawled", fetched), ("scheduled", stored)]
                )
                self._step(epoch, "bloom_insert")
                self._bloom_insert(prefilter_keys)
                fut_metrics.result()
                if bucketed is not None:
                    # append AFTER all of this wave's anti-join consumers ran —
                    # spark.table() is lazy, so an earlier append would leak this
                    # wave's seen rows into its own candidate filtering
                    self._step(epoch, "seen_append")
                    keys = seen_delta.select("url_hash")
                    if bucketed.exists():
                        bucketed.append(keys)
                    else:
                        bucketed.init(keys)

                self._step(epoch, "commit+next_wave_count")
                crawled += ep.n_crawl
                meta = {
                    "epoch": epoch, "crawled": crawled, "prefilter": self._layout, **mode.ckpt(),
                }
                if self.compact_every and epoch % self.compact_every == 0:
                    # fold the seen deltas into one, committed with the epoch
                    store.rewrite({"seen": (0, store.read_deltas(spark, "seen", epoch))}, meta)
                else:
                    store.commit(meta)
                self.stats.per_epoch.append(mode.epoch_stats(ep))
                fetched.unpersist()
                links.unpersist()
                unpersist_all()
                frontier = store.read_epoch(spark, mode.table, epoch)
                n_front = mode.next_count(frontier) if crawled < cfg.max_pages else 0

        self._step(epoch, "end")
        self.stats.epochs = epoch
        self.stats.crawled = crawled
        self.stats.wall_seconds = time.monotonic() - t0
        return self._outputs(epoch)

    def _sequential_admission(self, cand_indexed: DataFrame, crawled: int, n_wave: int) -> DataFrame:
        """Boundary-wave-only exact replay of the reference's enqueue budget:
        admit candidate c (in queue order) iff
          (crawled_before + k_c + 1) + (n_wave - q_c - 1) + admitted_so_far < max_pages
        which is crawled_count + qsize at the enqueue moment (:599-600).

        DISTRIBUTED rendering (no driver materialization of the wave): with
        1-based position j = wave_seq + 1 and per-candidate threshold
          t_j = max_pages - crawled - n_wave - parent_k + parent_q,
        the sequential loop is A(j) = A(j-1) + [A(j-1) < t_j]. Candidates are
        ordered by (parent_q, pos), so parent_k - parent_q is non-increasing
        and t is NONDECREASING, which gives the closed form
          A(j) = j + min(0, min_{l<=j}(max(t_l, 0) - l))
        (proved by induction: in an admit step the running min is unchanged,
        in a skip step it drops by exactly 1 because A(j-1) = max(t_j, 0)).
        The running min is per-partition cumulative state over data the
        caller's with_global_index already range-partitioned and sorted
        (keep_pid=True), plus tiny per-partition offsets — nothing
        wave-sized ever reaches the driver and NO re-shuffle happens:
        one tiny aggregate (per-partition min/count of _s) then one
        Arrow mapInPandas pass that flags admits, assigns the re-densified
        wave_seq in place (rank among admitted = A(j-1), derived from the
        same recurrence), and drops rejected rows. The driver also derives
        each partition's admitted-count offset in closed form:
        A(last j of prior partitions) = cum_rows + min(0, running min)."""
        import pandas as pd

        BIG = 1 << 62
        max_pages = self.cfg.max_pages

        if "_pid" not in cand_indexed.columns:
            # small-wave path: with_global_index scrambled placement on its
            # fan-out, so rebuild the (single) sorted partition — a 1-partition
            # shuffle of a sub-threshold wave, upstream stays parallel
            cand_indexed = (
                cand_indexed.repartition(1)
                .sortWithinPartitions("wave_seq")
                .withColumn("_pid", F.spark_partition_id())
            )

        s_expr = (
            F.greatest(
                F.lit(max_pages).cast("long")
                - F.lit(crawled)
                - F.lit(n_wave)
                - F.col("parent_k")
                + F.col("parent_q"),
                F.lit(0).cast("long"),
            )
            - (F.col("wave_seq") + F.lit(1))
        )
        stats = {
            int(r["_pid"]): (int(r["m"]), int(r["c"]))
            for r in cand_indexed.withColumn("_s", s_expr)
            .groupBy("_pid")
            .agg(F.min("_s").alias("m"), F.count("*").alias("c"))
            .collect()
        }
        prefix: dict[int, int] = {}  # min of _s over all partitions BEFORE pid
        row_off: dict[int, int] = {}  # total rows in partitions BEFORE pid
        accmin, cum = BIG, 0
        for pid in sorted(stats):
            prefix[pid] = accmin
            row_off[pid] = cum
            accmin = min(accmin, stats[pid][0])
            cum += stats[pid][1]

        out_schema = T.StructType(
            [f for f in cand_indexed.schema.fields if f.name != "_pid"]
        )
        cols = [f.name for f in out_schema.fields]

        def admit(it):
            # a task holds one or more whole buckets (sorted by _pid, then
            # wave_seq); per-bucket state restarts from the driver-derived
            # prefix/row offsets at each bucket boundary
            cur = None
            carry_min = BIG  # min of _s over all rows globally before this one
            j0 = 0  # global rows before the current bucket
            local = 0  # rows of the current bucket already processed
            for pdf in it:
                if len(pdf) == 0:
                    continue
                pids = pdf["_pid"].to_numpy()
                keep_all = np.zeros(len(pdf), dtype=bool)
                ws_all = np.empty(len(pdf), dtype=np.int64)
                t_all = (
                    np.int64(max_pages - crawled - n_wave)
                    - pdf["parent_k"].to_numpy(np.int64)
                    + pdf["parent_q"].to_numpy(np.int64)
                )
                starts = np.flatnonzero(
                    np.concatenate(([True], pids[1:] != pids[:-1]))
                )
                for i, st in enumerate(starts):
                    en = starts[i + 1] if i + 1 < len(starts) else len(pdf)
                    b = int(pids[st])
                    if b != cur:
                        cur = b
                        carry_min = prefix.get(b, BIG)
                        j0 = row_off.get(b, 0)
                        local = 0
                    t = t_all[st:en]
                    j = j0 + local + np.arange(1, en - st + 1, dtype=np.int64)
                    s = np.maximum(t, 0) - j
                    # M_{j-1}: running min of s over all rows strictly before j
                    run = np.minimum.accumulate(
                        np.concatenate(([np.int64(carry_min)], s[:-1]))
                    )
                    a_prev = (j - 1) + np.minimum(np.int64(0), run)
                    keep_all[st:en] = a_prev < t
                    # rank among admitted, 0-based == A(j-1) at an admit step
                    ws_all[st:en] = a_prev
                    carry_min = int(min(carry_min, s.min()))
                    local += en - st
                out = pdf.loc[keep_all, cols].copy()
                out["wave_seq"] = pd.array(ws_all[keep_all], dtype="int64")
                yield out

        return cand_indexed.mapInPandas(admit, schema=out_schema)

    # -- outputs ----------------------------------------------------------------

    def _outputs(self, upto_epoch: int) -> dict:
        """Never returns None for a table: a zero-epoch run (pause/cancel
        before the first wave, empty seeds, BFS mode's absent dead_letter)
        yields properly-TYPED empty DataFrames so downstream consumers
        (jobs.link_health_audit, the gate queries) can join/select without
        special-casing."""
        from .. import schemas

        spark = self.spark
        out = {"stats": self.stats}
        for name, schema in (
            ("seen", schemas.SEEN),
            ("edges", schemas.EDGES_STORED),
            ("metrics", schemas.METRICS),
            ("dead_letter", schemas.DEAD_LETTER),
        ):
            df = self.store.read_deltas(spark, name, upto_epoch)
            out[name] = df if df is not None else spark.createDataFrame([], schema)
        return out

    def _admission_filters(self, df: DataFrame) -> DataFrame:
        """Domain allowlist (core/models.py:118-121) + robots disallow
        path-prefix filter (robots_parser semantics; missing row => allow)."""
        cfg = self.cfg
        out = df
        if cfg.allowed_domains:
            out = out.filter(F.col("host").isin(*sorted(cfg.allowed_domains)))
        if cfg.respect_robots_txt and self.robots is not None:
            from ..functions.robots import disallowed_catalyst

            r = F.broadcast(self.robots.select("host", "disallow"))
            out = out.join(r, "host", "left")
            out = out.filter(
                ~disallowed_catalyst(F.col("url"), F.col("disallow"))
            ).drop("disallow")
        return out


# -- crawl modes: wave selection + child admission -------------------------------
#
# A mode is what the epoch loop asks of it:
#   table / parents / probes_seen   frontier table; page columns each link
#                                   carries (renamed); whether the anti-joins
#                                   probe `seen` (so the bucketed layout applies)
#   seed_frontier, seed_prefilter   the epoch-0 frontier and prefilter state
#   ckpt, resume                    mode keys of the checkpoint manifest
#   select_wave(ep, frontier)       (ranked wave with crawl_idx, its size),
#                                   or None to stop
#   admit(ep, fetched, cand)        (next frontier, keys for the prefilter)
#   epoch_stats, next_count         stats.per_epoch row; next frontier's size


class _Bfs:
    """Exact BFS (crawl_service.py:487-601): the frontier is one depth wave."""

    table = "frontier"
    parents = {"wave_seq": "parent_q", "crawl_idx": "parent_k"}
    probes_seen = True

    def __init__(self, eng: CrawlEngine):
        self.eng = eng

    def ckpt(self) -> dict:
        return {"mode": "bfs"}

    def resume(self, ckpt: dict) -> None:
        pass

    def seed_frontier(self, seeds: list[str]) -> DataFrame:
        rows = [(u, i) for i, u in enumerate(seeds)]
        df = local_df(self.eng.spark, rows, "url string, wave_seq long")
        return self.eng._with_keys(df).withColumn("depth", F.lit(0)).select(*_FRONTIER_COLS)

    def seed_prefilter(self, frontier: DataFrame) -> None:
        pass  # the prefilter holds crawled pages; none yet

    def select_wave(self, ep: _Epoch, frontier: DataFrame):
        cfg = self.eng.cfg
        # dequeue-time skips: depth >= max_depth (crawl_service.py:499-501),
        # seen (:497-498), first-occurrence within the wave (dup enqueues).
        # Dedup on url_hash, the canonical identity every seen check keys on
        # (sha256 of canonicalize(url)). wave_seq is dense-unique, so the
        # first occurrence is well defined.
        elig = frontier.filter(F.col("depth") < F.lit(cfg.max_depth))
        elig = _first_occurrence(elig, "url_hash", F.col("wave_seq"))
        elig = self.eng._not_seen(elig, ep.seen)
        # bucket_by: wave_seq is dense in [0, n_front) by construction
        # (seed/admission/indexing all emit dense indexes), so the global
        # index needs no range-sampling pass over the filter lineage
        ranked, n_elig = with_global_index(
            elig, ["wave_seq"], "crawl_idx", small=ep.small,
            bucket_by=("wave_seq", ep.n_front),
        )
        cut = cfg.max_pages - ep.crawled
        if n_elig > cut:
            ranked = ranked.filter(F.col("crawl_idx") < F.lit(cut))
        return ranked, min(n_elig, cut)

    def admit(self, ep: _Epoch, fetched: DataFrame, cand: DataFrame):
        eng, cfg = self.eng, self.eng.cfg
        # children admission (enqueue checks, crawl_service.py:595-601)
        cand = eng._with_keys(cand)
        if cfg.allowed_domains:
            cand = cand.filter(F.col("host").isin(*sorted(cfg.allowed_domains)))
        cand = eng._not_seen(cand, ep.seen)
        # not crawled earlier in THIS wave (seen set grows during the wave);
        # keyed on url_hash for the same canonical-identity reason as above
        cw = fetched.select(F.col("url_hash").alias("_cu"), F.col("crawl_idx").alias("_ck"))
        cand = (
            cand.join(cw, cand["url_hash"] == cw["_cu"], "left")
            .filter(F.col("_ck").isNull() | (F.col("_ck") > F.col("parent_k")))
            .drop("_cu", "_ck")
        )

        eng._step(ep.n, "rank_candidates")
        # keep_pid: budget admission below reuses this pass's partitioning
        # + in-partition order, so it needs no re-shuffle of its own
        nxt, self.n_cand = with_global_index(
            cand, ["parent_q", "pos"], "wave_seq", small=ep.small, keep_pid=True,
            # parent_q (the parent's dense wave position) is the leading
            # order column and lives in [0, n_front)
            bucket_by=("parent_q", ep.n_front),
        )
        eng.stats.scheduled += self.n_cand

        # max_pages admission budget (crawl_service.py:599-600). Fast path:
        # upper bound of crawled+qsize over the whole wave can't reach the
        # budget => everything admitted, no sequential work.
        self.bound = ep.crawled + ep.n_crawl + ep.n_front + self.n_cand
        if self.bound >= cfg.max_pages:
            eng._step(ep.n, "sequential_admission")
            nxt = eng._sequential_admission(nxt, ep.crawled, ep.n_front)
        return nxt.select(*_FRONTIER_COLS), fetched.select("xx64")

    def epoch_stats(self, ep: _Epoch) -> dict:
        return {"epoch": ep.n, "wave": ep.n_front, "crawled": ep.n_crawl, "candidates": self.n_cand}

    def next_count(self, frontier: DataFrame) -> int:
        # all admitted (fast path): the rank pass already counted them
        return self.n_cand if self.bound < self.eng.cfg.max_pages else frontier.count()


class _Scheduler:
    """Priority frontier (smart_crawler_queue.py) under logical politeness
    epochs; the frontier carries every queued task across epochs."""

    table = "frontier_sched"
    parents = {"wave_idx": "wave_idx"}
    probes_seen = False  # admission dedups against `enqueued`

    def __init__(self, eng: CrawlEngine):
        self.eng = eng
        self.seq = 0  # arrival_seq of the next admitted task

    def ckpt(self) -> dict:
        return {"seq": self.seq, "mode": "sched"}

    def resume(self, ckpt: dict) -> None:
        self.seq = int(ckpt["seq"])

    def seed_frontier(self, seeds: list[str]) -> DataFrame:
        eng, cfg, robots = self.eng, self.eng.cfg, self.eng.robots
        rows = [(u, i) for i, u in enumerate(seeds)]
        df = local_df(eng.spark, rows, "url string, arrival_seq long")
        # sitemap -> frontier wiring (robots_parser.py:149-171 discovery
        # path): robots `Sitemap:` URLs are depth-0 candidates admitted
        # after the user seeds, deterministically ordered by
        # (host, position-in-robots-row)
        if robots is not None and cfg.sitemap_seeding:
            sm = robots.select(
                "host",
                F.posexplode(
                    F.coalesce("sitemaps", F.array().cast("array<string>"))
                ).alias("sm_pos", "url"),
            )
            sm_idx, n_sm = with_global_index(sm, ["host", "sm_pos"], "sm_seq", small=True)
            if n_sm:
                df = df.unionByName(
                    sm_idx.select(
                        "url",
                        (F.col("sm_seq") + F.lit(len(seeds))).alias("arrival_seq"),
                    )
                )
        df = (
            eng._with_keys(df)
            .withColumn("depth", F.lit(0))
            .withColumn("priority", F.lit(1))
            .withColumn("retries", F.lit(0))
        )
        df = eng._admission_filters(df)
        # admission-dedup WITHIN the initial set (sim's `enqueued` set
        # skips a sitemap URL that equals a seed, and duplicate seeds):
        # keep the first arrival per canonical identity
        df = _first_occurrence(df, "url_hash", F.col("arrival_seq"))
        # re-sequence densely over the ADMITTED set, so absolute
        # arrival_seq matches the sim (which only advances seq for
        # admitted URLs) and seq == admitted count — a filtered seed no
        # longer leaves a gap that a later admission could never share but
        # an absolute-seq consumer would see (ADVICE r03 #5)
        df, self.seq = with_global_index(df, ["arrival_seq"], out_col="_seq_dense", small=True)
        df = df.drop("arrival_seq").withColumnRenamed("_seq_dense", "arrival_seq")
        return df.select(*_SCHED_COLS)

    def seed_prefilter(self, frontier: DataFrame) -> None:
        # 'enqueued' admission-dedup state (scheduler mode dedups at admission)
        self.eng.store.write_epoch(
            "enqueued", 0, frontier.select("url_hash", "xx64", F.lit(0).alias("epoch"))
        )
        self.eng._bloom_insert(frontier)

    def select_wave(self, ep: _Epoch, frontier: DataFrame):
        cfg, robots = self.eng.cfg, self.eng.robots
        base = frontier
        # circuit breaker (distributed_circuit_breaker.py:22-118 via
        # streaming/stream.py host_state semantics): hosts whose cumulative
        # fetch failures BEFORE this epoch reached the threshold are not
        # issued; their queued tasks stay in the frontier (leftover keeps
        # them automatically)
        if ep.seen is not None:
            from ..streaming.stream import FAILURE_THRESHOLD

            open_hosts = (
                ep.seen.select(url_host("url").alias("host"), "status_code")
                .groupBy("host")
                .agg(F.sum(F.when(F.col("status_code") >= 400, 1).otherwise(0)).alias("_fails"))
                .filter(F.col("_fails") >= F.lit(FAILURE_THRESHOLD))
                .select("host")
            )
            base = base.join(F.broadcast(open_hosts), "host", "left_anti")

        # W2+W3: politeness-budget wave via salted per-host top-k
        # (skew-safe; identical result to the naive host window)
        delay = F.lit(cfg.delay_seconds)
        if robots is not None:
            base = base.join(F.broadcast(robots.select("host", "crawl_delay")), "host", "left")
            delay = F.coalesce(F.col("crawl_delay"), delay)
        budget = F.least(
            F.lit(cfg.host_budget),
            F.floor(F.lit(cfg.epoch_seconds) / F.greatest(delay, F.lit(1e-9))).cast("int"),
        )
        issued = per_host_topk(base.withColumn("_budget", budget), F.col("_budget")).drop(
            "_budget", "crawl_delay"
        )
        self.leftover = frontier.join(
            issued.select("arrival_seq"), "arrival_seq", "left_anti"
        ).select(*_SCHED_COLS)

        # W1: global wave order (priority, host, rank) (:163)
        issued, self.n_issued = with_global_index(
            issued, ["priority", "host", "rank"], "wave_idx", small=ep.small
        )
        if self.n_issued == 0:
            return None
        remaining = cfg.max_pages - ep.crawled
        self.overflow = None
        if self.n_issued > remaining:
            over = F.col("wave_idx") >= F.lit(remaining)
            self.overflow = issued.filter(over).select(*_SCHED_COLS)
            issued = issued.filter(~over)
        crawlable = issued.filter(F.col("depth") < F.lit(cfg.max_depth))
        return with_global_index(crawlable, ["wave_idx"], "crawl_idx", small=ep.small)

    def admit(self, ep: _Epoch, fetched: DataFrame, cand: DataFrame):
        from .frontier import priority_score, score_to_priority

        eng, cfg, store, spark = self.eng, self.eng.cfg, self.eng.store, self.eng.spark
        eng._step(ep.n, "rank_candidates")
        # W4 input: inbound-link count across the WHOLE wave, counted
        # before any admission filter (ai/crawl_optimizer.py backlink
        # boost; oracle_sim counts the same pre-filter link events)
        cand = cand.withColumn("_bl", F.count("*").over(Window.partitionBy("url")))
        cand = eng._admission_filters(eng._with_keys(cand))
        cand = eng._not_seen(cand, store.read_deltas(spark, "enqueued", ep.n - 1))
        # first occurrence within the wave (the enqueued set updates
        # sequentially); (wave_idx, pos) is unique per link row
        cand = _first_occurrence(cand, "url_hash", F.struct("wave_idx", "pos"))
        # W4: priority from the crawl-optimizer score (depth decay +
        # backlink boost + target-host error rate through THIS epoch, read
        # back from the seen delta written above), wired into admission
        # (VERDICT r01 #7; frontier.py:57-89)
        host_err = (
            store.read_deltas(spark, "seen", ep.n)
            .select(url_host("url").alias("host"), "status_code")
            .groupBy("host")
            .agg(
                (
                    F.sum(F.when(F.col("status_code") >= 400, 1).otherwise(0)) / F.count("*")
                ).alias("_err")
            )
        )
        cand = (
            cand.join(F.broadcast(host_err), "host", "left")
            .withColumn(
                "priority",
                score_to_priority(
                    priority_score(
                        F.col("depth"),
                        backlink_count=F.col("_bl"),
                        error_rate=F.coalesce(F.col("_err"), F.lit(0.0)),
                    )
                ),
            )
            .drop("_bl", "_err")
            .withColumn("retries", F.lit(0))
        )
        # three consumers (admissions index, enqueued write, prefilter fold)
        # — persist once, released at the epoch's unpersist_all barrier
        cand.persist()
        track_persist(cand)

        # retries: failed fetch with retryable status (W5, :182-192)
        retry_src = fetched.filter(F.col("status_code").isin(408, 500, 502, 503, 504))
        retries_df = retry_src.filter(F.col("retries") < F.lit(cfg.max_retries)).select(
            "url", "url_hash", "xx64", "host", "depth",
            F.least(F.lit(4), F.col("priority") + 1).alias("priority"),
            (F.col("retries") + 1).alias("retries"),
            "wave_idx", F.lit(-1).alias("pos"),
        )
        admissions = cand.select(
            "url", "url_hash", "xx64", "host", "depth", "priority", "retries", "wave_idx", "pos",
        ).unionByName(retries_df)
        admissions, self.n_adm = with_global_index(
            admissions, ["wave_idx", "pos"], "_seq", small=ep.small
        )
        eng.stats.scheduled += self.n_adm
        admissions = admissions.withColumn(
            "arrival_seq", F.col("_seq") + F.lit(self.seq)
        ).select(*_SCHED_COLS)
        self.seq += self.n_adm

        eng._step(ep.n, "dead_letter+enqueued_write")
        coalesce = 1 if ep.small else None
        dead = retry_src.filter(F.col("retries") >= F.lit(cfg.max_retries)).select(
            "url", "host", "retries",
            F.col("status_code").alias("last_status"),
            F.lit(ep.n).alias("epoch"),
        )
        store.write_epoch("dead_letter", ep.n, dead, coalesce=coalesce)
        store.write_epoch(
            "enqueued", ep.n,
            cand.select("url_hash", "xx64").withColumn("epoch", F.lit(ep.n)),
            coalesce=coalesce,
        )

        nxt = self.leftover.unionByName(admissions)
        if self.overflow is not None:
            nxt = nxt.unionByName(self.overflow)
        return nxt, cand.select("xx64")

    def epoch_stats(self, ep: _Epoch) -> dict:
        return {
            "epoch": ep.n, "issued": self.n_issued, "crawled": ep.n_crawl, "admitted": self.n_adm,
        }

    def next_count(self, frontier: DataFrame) -> int:
        return frontier.count()
