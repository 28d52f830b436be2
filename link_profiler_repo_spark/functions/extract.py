"""Outlink / media-ref extraction from interleaved spans — Arrow-batched.

Canonical extraction semantics (this engine's single contract, replacing the
reference's two divergent extractors):

- Scan `<a ...>anchor</a>` elements in document order across text spans taken
  in `offset` order (reference: regex scan over HTML in document order,
  crawlers/web_crawler.py:330-376; BeautifulSoup find_all order,
  crawlers/link_extractor.py:31).
- Drop empty hrefs (web_crawler.py:337); strip whitespace
  (link_extractor.py:32).
- Resolve with urljoin(base, href) (both extractors); then require scheme in
  {http, https} AND non-empty netloc (web_crawler.py:344-347 requires
  scheme+netloc; link_extractor.py:86-92 drops non-web schemes).
- rel attribute split on whitespace, empties removed (link_extractor.py:40-42).
- link_type priority chain: sponsored > ugc > nofollow > canonical > redirect >
  dofollow (link_extractor.py:94-109). NOTE the reference's own test
  (tests/link_extractor_test.py:69-70) contradicts its implementation for
  multi-rel links; we follow the implementation (FIXTURES.md §6).
- `<link rel="canonical" href>` extracted as one extra link with
  anchor_text="canonical" (link_extractor.py:60-75), flagged from_tag='link'
  so the crawl path can exclude it (the reference crawl path's regex only
  matches `<a` tags — web_crawler.py:335).
- Media refs: every span with kind='media' contributes its media_ref in span
  order (reference: images_found, core/models.py:390).

Span order is NEVER mutated: extraction reads spans; the per-row invariant
(kind, text, media_ref, offset) sequence equality is asserted in tests via
posexplode (BASELINE.json input_hint).
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlparse

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T

from ..schemas import LINK

A_TAG_RE = re.compile(r"<a\s+([^>]*?)>(.*?)</a>", re.IGNORECASE | re.DOTALL)
HREF_RE = re.compile(r'href="([^"]*)"', re.IGNORECASE)
REL_RE = re.compile(r'rel="([^"]*)"', re.IGNORECASE)
CANONICAL_RE = re.compile(
    r'<link\s+(?=[^>]*rel="canonical")[^>]*href="([^"]*)"[^>]*>', re.IGNORECASE
)

LINK_TYPE_PRIORITY = ("sponsored", "ugc", "nofollow", "canonical", "redirect")

def determine_link_type(rel: list[str]) -> str:
    # reference: link_extractor.py:94-109 — order of checks is the contract
    for t in LINK_TYPE_PRIORITY:
        if t in rel:
            return t
    return "dofollow"


def resolve_url(base: str, href: str) -> str | None:
    """urljoin + scheme/netloc validation (web_crawler.py:341-347)."""
    try:
        full = urljoin(base, href)
        parsed = urlparse(full)
        if parsed.scheme not in ("http", "https") or not parsed.netloc:
            return None
        return full
    except ValueError:
        return None


def _context_text(text: str, a_start: int, a_end: int, anchor: str, max_length: int = 100) -> str:
    """Surrounding text for a link (link_extractor.py:111-132
    _get_context_text): previous sibling text + anchor text + next sibling
    text, stripped and truncated to max_length. Regex analogue of the
    BeautifulSoup sibling walk: the 'previous sibling' is the raw text
    between the preceding tag boundary and the <a> tag; the 'next sibling'
    is the raw text from </a> to the next tag."""
    prev = text[text.rfind(">", 0, a_start) + 1 : a_start].strip()
    nxt_lt = text.find("<", a_end)
    nxt = text[a_end : nxt_lt if nxt_lt != -1 else len(text)].strip()
    ctx = (prev + " " if prev else "") + anchor + (" " + nxt if nxt else "")
    return ctx.strip()[:max_length]


def parse_links(base_url: str, spans: list) -> list[dict]:
    """Extract links from one document's spans, in document order.

    Accepts spans as sequence of dict/Row/tuple with fields
    (kind, text, media_ref, offset). Returns list of LINK dicts.
    """
    out: list[dict] = []
    pos = 0
    seen_hrefs: set[str] = set()  # per-page (src,dst) pair dedup, see LINK.first
    ordered = sorted(spans, key=lambda s: _f(s, "offset", 3))
    for s in ordered:
        if _f(s, "kind", 0) != "text":
            continue
        text = _f(s, "text", 1) or ""
        for m in A_TAG_RE.finditer(text):
            attrs, inner = m.group(1), m.group(2)
            hm = HREF_RE.search(attrs)
            if not hm:
                continue
            href = hm.group(1).strip()
            if not href:
                continue  # web_crawler.py:337
            full = resolve_url(base_url, href)
            if full is None:
                continue
            rm = REL_RE.search(attrs)
            rel = [r for r in rm.group(1).split() if r] if rm else []
            anchor = re.sub(r"<[^>]+>", "", inner).strip()
            out.append(
                {
                    "href": full,
                    "anchor_text": anchor,
                    "rel": rel,
                    "link_type": determine_link_type(rel),
                    "context_text": _context_text(text, m.start(), m.end(), anchor),
                    "pos": pos,
                    "from_tag": "a",
                    "first": full not in seen_hrefs,
                }
            )
            seen_hrefs.add(full)
            pos += 1
        cm = CANONICAL_RE.search(text)
        if cm:
            full = resolve_url(base_url, cm.group(1).strip())
            if full is not None:
                out.append(
                    {
                        "href": full,
                        "anchor_text": "canonical",
                        "rel": ["canonical"],
                        "link_type": "canonical",
                        "context_text": "",  # link_extractor.py:72 (canonical rows)
                        "pos": pos,
                        "from_tag": "link",
                        "first": full not in seen_hrefs,
                    }
                )
                seen_hrefs.add(full)
                pos += 1
    return out


def extract_media_refs_py(spans: list) -> list[str]:
    ordered = sorted(spans, key=lambda s: _f(s, "offset", 3))
    return [
        _f(s, "media_ref", 2)
        for s in ordered
        if _f(s, "kind", 0) == "media" and _f(s, "media_ref", 2)
    ]


def _f(s, name, idx):
    if isinstance(s, dict):
        return s[name]
    try:
        return getattr(s, name)
    except AttributeError:
        return s[idx]


# ---------------------------------------------------------------------------
# Arrow-batched UDFs (the only Python touchpoints in the crawl plan)
# ---------------------------------------------------------------------------

@F.pandas_udf(T.ArrayType(LINK))
def extract_links_udf(doc_id: pd.Series, spans: pd.Series) -> pd.Series:
    return pd.Series(
        [parse_links(b, s if s is not None else []) for b, s in zip(doc_id, spans)],
        index=doc_id.index,
        dtype=object,
    )


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_media_refs_udf(spans: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_media_refs_py(s if s is not None else []) for s in spans],
        index=spans.index,
        dtype=object,
    )


def with_links(df, doc_col: str = "doc_id", spans_col: str = "spans", out: str = "links"):
    """docs -> docs + links array column. Column-pruned: only (doc_id, spans)
    cross the Arrow boundary."""
    return df.withColumn(out, extract_links_udf(F.col(doc_col), F.col(spans_col)))
