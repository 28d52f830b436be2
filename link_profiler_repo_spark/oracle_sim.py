"""Pure-Python reference simulators (the correctness oracles).

`simulate_bfs` reimplements the reference BFS crawl loop VERBATIM
(services/crawl_service.py:487-601):

  - seeds enqueued in list order at depth 0 (:487-489), seen-set starts empty (:491)
  - loop while queue nonempty AND crawled < max_pages (:493)
  - dequeue (url, depth); skip if seen (:497-498); skip if depth >= max_depth
    (:499-501, NOT marked seen); mark seen + count (:503-504)
  - fetch: deterministic status (synth.fetch_status); any error (404/503 after
    retries) => crawl_result None => no links, but the URL stays seen+counted
    (retry loop :511-543 sets crawl_result=None on every failure path)
  - links extracted in document order (web_crawler regex scan :330-376 —
    our canonical extraction, functions/extract.py, from_tag='a' only)
  - enqueue child iff domain allowed (:597-598) AND target not in seen AND
    crawled + qsize < max_pages (:599-600); duplicates MAY be enqueued
    (the queue is not a set) and are skipped at dequeue.

`simulate_scheduler` reimplements the smart-queue frontier under logical
epochs (queue_system/smart_crawler_queue.py):

  - per-host buckets; insertion sorted by priority, FIFO within priority (:81-103)
  - per epoch each host may issue min(host_budget, floor(epoch_seconds /
    crawl_delay(host))) tasks (logical-time rendering of the
    can_crawl_now gate :76-79; deterministic — see CrawlConfig.epoch_seconds)
  - the epoch's issued wave is ordered by (priority, host, within-host rank)
    (eligible-host sort :163: (next_priority, domain) stable order)
  - robots disallow path-prefix filter at admission (robots_parser semantics;
    missing robots row => allow-all :120-125)
  - failure => retries+1, priority demoted one level (cap LOW=4), requeued;
    after max_retries => dead-letter (:182-192 + job_coordinator DLQ)
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field

from .config import CrawlConfig
from .functions.extract import parse_links
from .synth import SynthParams, fetch_status, gen_all_docs


def _host(url: str) -> str:
    from urllib.parse import urlparse

    return urlparse(url).netloc


def _host_idx(url: str) -> int:
    h = _host(url)
    try:
        return int(h.split(".")[0][1:])
    except (ValueError, IndexError):
        return -1


@dataclass
class BfsResult:
    order: list[tuple[int, str, int]]  # (crawl_order, url, depth)
    seen: set[str]
    edges: list[dict]  # deduped on (src,dst), first occurrence
    status: dict[str, int]


def simulate_bfs(
    docs: dict[str, list],
    seeds: list[str],
    cfg: CrawlConfig,
    p: SynthParams,
) -> BfsResult:
    doc_urls = set(docs)
    queue: deque[tuple[str, int]] = deque()
    for url in seeds:
        queue.append((url, 0))
    seen: set[str] = set()
    crawled = 0
    order: list[tuple[int, str, int]] = []
    edges: list[dict] = []
    edge_pairs: set[tuple[str, str]] = set()
    status: dict[str, int] = {}

    while queue and crawled < cfg.max_pages:
        url, depth = queue.popleft()
        if url in seen:
            continue
        if depth >= cfg.max_depth:
            continue
        seen.add(url)
        crawled += 1
        order.append((crawled - 1, url, depth))

        st = fetch_status(url, doc_urls, _host_idx(url), p)
        status[url] = st
        links = []
        if st == 200 and cfg.max_content_chars is not None:
            # P10 content-size guard: oversized page stays crawled/counted,
            # yields no links or edges (web_crawler.py size bail-out)
            if sum(len(t) for (_k, t, _m, _o) in docs[url]) > cfg.max_content_chars:
                st = -200  # sentinel: skip extraction below
        if st == 200:
            all_links = parse_links(url, docs[url])
            # crawl path extracts only <a> tags (web_crawler.py:335 regex)
            links = [l for l in all_links if l["from_tag"] == "a"]
            # edge persistence: global (src,dst) pair dedup
            # (crawl_service.py:95-116 Redis SADD), all extracted links incl.
            # canonical (links_found from the rich extractor semantics)
            for l in all_links:
                pair = (url, l["href"])
                if pair not in edge_pairs:
                    edge_pairs.add(pair)
                    edges.append(
                        {
                            "src": url,
                            "dst": l["href"],
                            "src_host": _host(url),
                            "dst_host": _host(l["href"]),
                            "anchor_text": l["anchor_text"],
                            "context_text": l["context_text"],
                            "link_type": l["link_type"],
                            "rel": l["rel"],
                            "pos": l["pos"],
                            "depth": depth,
                        }
                    )

        for l in links:
            target = l["href"]
            if cfg.is_domain_allowed(_host(target)):
                if target not in seen and crawled + len(queue) < cfg.max_pages:
                    queue.append((target, depth + 1))

    return BfsResult(order=order, seen=seen, edges=edges, status=status)


# ---------------------------------------------------------------------------
# Priority-frontier (scheduler mode) oracle
# ---------------------------------------------------------------------------

PRIORITY_LOW = 4
CB_FAILURE_THRESHOLD = 5  # utils/distributed_circuit_breaker.py default


def default_priority(depth: int) -> int:
    """Depth-decayed priority, lower = sooner (reference Priority enum values;
    ai/crawl_optimizer.py:41-103 base score decays 10/depth — rendered as an
    integer priority ladder here)."""
    return min(PRIORITY_LOW, 1 + depth)


def scored_priority(depth: int, backlink_count: int, error_rate: float) -> int:
    """W4 — the deterministic rendering of ai/crawl_optimizer.py:41-103
    wired into admission (VERDICT r01 #7): base 100, -10 per depth level,
    +20 backlink boost, -error_rate*100; mapped onto the 1..4 Priority
    ladder (operators/frontier.py score_to_priority, kept in exact lockstep
    with this function)."""
    score = 100.0 - 10.0 * depth
    if backlink_count > 0:
        score += 20.0
    score -= error_rate * 100.0
    if score >= 90:
        return 1
    if score >= 70:
        return 2
    if score >= 50:
        return 3
    return PRIORITY_LOW


@dataclass
class SchedTask:
    url: str
    depth: int
    priority: int
    retries: int = 0
    seq: int = 0  # global arrival sequence (FIFO tiebreak within priority)


@dataclass
class SchedResult:
    waves: list[list[tuple[str, int]]]  # per epoch: [(url, depth) issued in order]
    order: list[tuple[int, str, int]]
    seen: set[str]
    dead_letter: list[tuple[str, int]]  # (url, retries)


def _robots_disallowed(url: str, robots: dict[str, dict]) -> bool:
    h = _host(url)
    row = robots.get(h)
    if not row:
        return False  # no robots row => allow-all (robots_parser.py:120-125)
    from urllib.parse import urlparse

    path = urlparse(url).path or "/"
    for pref in row.get("disallow") or []:
        if pref and path.startswith(pref):
            return True
    return False


def _crawl_delay(host: str, robots: dict[str, dict], cfg: CrawlConfig) -> float:
    row = robots.get(host)
    if row and row.get("crawl_delay"):
        return float(row["crawl_delay"])
    return cfg.delay_seconds


def simulate_scheduler(
    docs: dict[str, list],
    seeds: list[str],
    cfg: CrawlConfig,
    p: SynthParams,
    robots_rows: list[dict] | None = None,
    max_epochs: int = 10_000,
) -> SchedResult:
    from .functions.urls import canonicalize_str

    robots = {r["host"]: r for r in (robots_rows or [])}
    doc_urls = set(docs)
    buckets: dict[str, list[SchedTask]] = {}
    seen: set[str] = set()
    # admission-dedup sets are keyed on the CANONICAL form — the same
    # identity rule as the engine's url_hash (sha256 of canonicalize(url))
    # so a raw-spelling variant dedups identically in both (ADVICE r03 #5)
    seen_keys: set[str] = set()
    enqueued: set[str] = set()  # scheduler mode dedups at admission
    seq = 0
    dead: list[tuple[str, int]] = []
    waves: list[list[tuple[str, int]]] = []
    order: list[tuple[int, str, int]] = []
    crawled = 0
    # per-host cumulative fetch/failure counters (circuit breaker + W4 input)
    host_fetches: dict[str, int] = {}
    host_failures: dict[str, int] = {}

    def admit(url: str, depth: int, priority: int, retries: int = 0) -> None:
        nonlocal seq
        h = _host(url)
        if not cfg.is_domain_allowed(h):
            return
        if cfg.respect_robots_txt and _robots_disallowed(url, robots):
            return
        if retries == 0:
            key = canonicalize_str(url)
            if key in enqueued or key in seen_keys:
                return
            enqueued.add(key)
        buckets.setdefault(h, []).append(
            SchedTask(url=url, depth=depth, priority=priority, retries=retries, seq=seq)
        )
        seq += 1

    for s in seeds:
        admit(s, 0, scored_priority(0, 0, 0.0))
    # sitemap -> frontier (robots_parser.py:149-171): robots `Sitemap:` URLs
    # admitted as depth-0 candidates after the user seeds, in (host,
    # position) order — the engine's exact twin (crawl.py scheduler init)
    if cfg.sitemap_seeding and robots_rows:
        for r in sorted(robots_rows, key=lambda x: x["host"]):
            for sm in r.get("sitemaps") or []:
                admit(sm, 0, scored_priority(0, 0, 0.0))

    for _epoch in range(max_epochs):
        if crawled >= cfg.max_pages or not any(buckets.values()):
            break
        # budget per host this epoch; circuit-breaker-open hosts (cumulative
        # failures BEFORE this epoch >= threshold) are not issued — their
        # queued tasks stay put (distributed_circuit_breaker.py:22-118)
        issued: list[tuple[int, str, int, SchedTask]] = []  # (priority, host, rank, task)
        for h, tasks in buckets.items():
            if not tasks:
                continue
            if host_failures.get(h, 0) >= CB_FAILURE_THRESHOLD:
                continue
            d = _crawl_delay(h, robots, cfg)
            budget = min(cfg.host_budget, int(cfg.epoch_seconds // max(d, 1e-9)))
            if budget <= 0:
                budget = 1 if cfg.epoch_seconds >= d else 0
            ranked = sorted(tasks, key=lambda t: (t.priority, t.seq))
            for rank, t in enumerate(ranked[:budget]):
                issued.append((t.priority, h, rank, t))
        if not issued:
            break
        issued.sort(key=lambda x: (x[0], x[1], x[2]))
        remaining = cfg.max_pages - crawled
        issued = issued[:remaining]
        wave: list[tuple[str, int]] = []
        # first pass: fetch the wave, record outcomes + admission EVENTS in
        # order; W4 inputs (wave backlink counts, post-wave error rates) are
        # wave-global, so admission priorities are computed after the pass
        events: list[tuple] = []  # ("link", url, depth) | ("retry", task)
        for _, h, _, t in issued:
            buckets[h].remove(t)
            if t.depth >= cfg.max_depth:
                continue
            seen.add(t.url)
            seen_keys.add(canonicalize_str(t.url))
            crawled += 1
            order.append((crawled - 1, t.url, t.depth))
            wave.append((t.url, t.depth))
            st = fetch_status(t.url, doc_urls, _host_idx(t.url), p)
            th = _host(t.url)
            host_fetches[th] = host_fetches.get(th, 0) + 1
            if st >= 400:
                host_failures[th] = host_failures.get(th, 0) + 1
            if st == 200 and cfg.max_content_chars is not None:
                if sum(len(tx) for (_k, tx, _m, _o) in docs[t.url]) > cfg.max_content_chars:
                    st = -200  # P10: crawled but yields no links
            if st == 200:
                for l in parse_links(t.url, docs[t.url]):
                    if l["from_tag"] != "a":
                        continue
                    events.append(("link", l["href"], t.depth + 1))
            elif st in (408, 500, 502, 503, 504):
                if t.retries < cfg.max_retries:
                    events.append(("retry", t))
                else:
                    dead.append((t.url, t.retries))
        # W4 inputs over the whole wave
        bl_count: dict[str, int] = {}
        for kind, *rest in events:
            if kind == "link":
                bl_count[rest[0]] = bl_count.get(rest[0], 0) + 1
        # second pass: admit in event order with scored priorities
        for ev in events:
            if ev[0] == "link":
                _, url, depth = ev
                h = _host(url)
                err = host_failures.get(h, 0) / host_fetches.get(h, 1) if host_fetches.get(h, 0) else 0.0
                admit(url, depth, scored_priority(depth, bl_count.get(url, 0), err))
            else:
                t = ev[1]
                admit(t.url, t.depth, min(PRIORITY_LOW, t.priority + 1), retries=t.retries + 1)
        waves.append(wave)

    return SchedResult(waves=waves, order=order, seen=seen, dead_letter=dead)


def build_fixture(p: SynthParams, n_seeds: int = 3):
    """Convenience: (docs dict, seed urls) for oracle + tests."""
    from .synth import default_seeds

    docs = gen_all_docs(p)
    seeds = [u for _, u, _ in default_seeds(p, n_seeds)]
    return docs, seeds
