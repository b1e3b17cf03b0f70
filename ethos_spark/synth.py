"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1, §4).

Generates the canonical ``pages`` input table
``(url, warc_ts, html, text, lang)`` for a miniature web:

- H hosts ``news-{h}.example.org`` with **Zipfian** article counts (hot host
  0 dominates → exercises skew salting, FIXTURES.md §6);
- per host, a listing chain ``/list/{p}`` (next-button pagination,
  PaginationHandler analogue) whose items link to article pages;
- dirty cases baked in at fixed deterministic positions: within-page
  duplicate URLs, cross-page duplicates, excluded items (external marker /
  press-release path), items missing required fields, relative hrefs,
  unparseable dates — each exercising a reference behavior
  (UrlFilter.ts:23-37, ListingPageExtractor.ts:224-297, access_now.ts:14-23).

Everything is a pure function of ``(seed, host, index)`` via SHA-1-based
hashing — no RNG state — so generation is embarrassingly parallel
(``spark.range → mapInPandas``) and identical at any partitioning.

The ``text`` column is the golden extracted Markdown per url (the
byte-identical invariant): computed with the same pure extraction code the
engine's UDFs use (extraction.content.extract_content_fields).
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone
from typing import Iterator

import pandas as pd

from ethos_spark.schemas import PAGES_INPUT
from ethos_spark.sources.config import SYNTH_SOURCE

import os

SEED = 42
# multiplies paragraphs per article (heavier, realistic page sizes for
# benchmarking); must be identical at generation and consumption time —
# the golden text is computed at generation so correctness is unaffected
PARA_BOOST = int(os.environ.get("ETHOS_SYNTH_PARA_BOOST", "1"))
LANGS = ["en"] * 19 + ["sv"] * 1  # 95% en
SECTIONS = ["tech", "policy", "privacy", "security"]
ADJ = "quick quiet bright hidden open silent global local digital private".split()
NOUN = "network archive ledger protocol courts filter signal browser key vault".split()

ITEMS_PER_LISTING = 10


def _h(*keys) -> int:
    raw = ":".join(str(k) for k in (SEED, *keys)).encode()
    return int.from_bytes(hashlib.sha1(raw).digest()[:8], "big")


def zipf_article_counts(n_hosts: int, total_articles: int, s: float = 1.1) -> list[int]:
    weights = [1.0 / (i + 1) ** s for i in range(n_hosts)]
    norm = sum(weights)
    counts = [max(1, int(total_articles * w / norm)) for w in weights]
    return counts


def host_name(h: int) -> str:
    return f"news-{h}.example.org"


def article_url(h: int, i: int) -> str:
    sec = SECTIONS[_h(h, i, "sec") % len(SECTIONS)]
    slug = f"{ADJ[_h(h, i, 'a') % len(ADJ)]}-{NOUN[_h(h, i, 'n') % len(NOUN)]}"
    return f"https://{host_name(h)}/{sec}/{slug}-{i}"


def listing_url(h: int, p: int) -> str:
    return f"https://{host_name(h)}/list/{p}"


def article_title(h: int, i: int) -> str:
    return (
        f"{ADJ[_h(h, i, 't1') % len(ADJ)].capitalize()} "
        f"{NOUN[_h(h, i, 't2') % len(NOUN)]} report {i}"
    )


def article_author(h: int, i: int) -> str | None:
    if _h(h, i, "auth") % 5 == 0:
        return None  # optional field missing sometimes
    return f"Reporter {(_h(h, i, 'auth2') % 20)}"


def article_date_raw(h: int, i: int) -> str:
    """Raw published-date string as rendered on the listing page. Always
    parseable: an unparseable listing date crashes the reference crawl
    (ListingPageExtractor.ts:313-323 throws out of the page loop), so the
    bad-date path is exercised by unit tests, not the corpus."""
    base = datetime(2025, 1, 1)
    d = base + timedelta(days=_h(h, i, "d") % 500)
    style = _h(h, i, "ds") % 4
    if style == 0:
        return d.strftime("%B %-d, %Y") if hasattr(d, "strftime") else str(d)
    if style == 1:
        return "Published " + d.strftime("%B %-d, %Y")
    if style == 2:
        return d.strftime("%Y-%m-%d")
    return d.strftime("%-d %B %Y")


def _paragraph(h: int, i: int, j: int) -> str:
    words = [
        f"{ADJ[_h(h, i, j, k, 'w1') % len(ADJ)]} {NOUN[_h(h, i, j, k, 'w2') % len(NOUN)]}"
        for k in range(12)
    ]
    sent = " ".join(words)
    # deterministic inline decorations
    r = _h(h, i, j, "deco") % 6
    if r == 0:
        sent = sent.replace(" ", " <strong>bold term</strong> ", 1)
    elif r == 1:
        sent = sent.replace(" ", " <em>emphasis</em> ", 1)
    elif r == 2:
        sent += ' See <a href="/ref/%d">the reference</a>.' % (j,)
    elif r == 3:
        sent += " It said â€œso it goesâ€ indeed."
    return f"<p>{sent}.</p>"


def article_body_html(h: int, i: int) -> str:
    blocks = [f"<h2>Background {i % 7}</h2>"]
    for j in range(((_h(h, i, "np") % 3) + 2) * PARA_BOOST):
        blocks.append(_paragraph(h, i, j))
    if _h(h, i, "list") % 3 == 0:
        lis = "".join(
            f"<li>point {k} of {NOUN[_h(h, i, k, 'li') % len(NOUN)]}</li>"
            for k in range(3)
        )
        blocks.append(f"<ul>{lis}</ul>")
    if _h(h, i, "bq") % 4 == 0:
        blocks.append("<blockquote><p>a quoted passage</p></blockquote>")
    # excluded subtrees (must disappear from extraction)
    blocks.append('<div class="share">Share on socials</div>')
    blocks.append('<div class="related"><a href="/rel">related</a></div>')
    return "".join(blocks)


def content_extraction_fails(h: int, i: int) -> bool:
    """Fixed positions where the article page lacks the required
    ``.article-body`` → content extraction error for the item; the reference
    still stores it with hadContentExtractionError=true
    (extractContentForSingleItem catch → updateItemMetadata;
    SessionMetadataStore.ts:16-21)."""
    return _h(h, i, "noc") % 29 == 0


def article_html(h: int, i: int) -> str:
    title = article_title(h, i)
    author = article_author(h, i)
    byline = f'<div class="byline">By {author}</div>' if author else ""
    body = (
        '<div class="article-teaser">teaser only, body withheld</div>'
        if content_extraction_fails(h, i)
        else f'<div class="article-body">{article_body_html(h, i)}</div>'
    )
    return (
        "<html><body>"
        '<nav class="topnav"><a href="/">home</a></nav>'
        '<div id="main">'
        f"<header><h1>  {title}  </h1></header>"
        f"{byline}"
        f"{body}"
        "</div>"
        '<footer id="footer">footer text</footer>'
        "</body></html>"
    )


# ---------------------------------------------------------------------------
# Listing pages
# ---------------------------------------------------------------------------


def n_listing_pages(article_count: int) -> int:
    return (article_count + ITEMS_PER_LISTING - 1) // ITEMS_PER_LISTING


def listing_items_spec(h: int, p: int, article_count: int) -> list[dict]:
    """The items that appear on listing page p (1-based) of host h, in page
    order, including dirty entries at fixed positions."""
    start = (p - 1) * ITEMS_PER_LISTING
    idxs = list(range(start, min(start + ITEMS_PER_LISTING, article_count)))
    items: list[dict] = []
    for pos, i in enumerate(idxs):
        it = {
            "article_idx": i,
            "url": article_url(h, i),
            "href": article_url(h, i),
            "title": article_title(h, i),
            "author": article_author(h, i),
            "date_raw": article_date_raw(h, i),
            "external": False,
            "omit_url": False,
            "omit_title": False,
        }
        k = _h(h, p, pos, "dirty") % 23
        if k == 0:
            it["href"] = "/%s" % it["url"].split("/", 3)[3]  # relative href
        elif k == 1 and pos > 0:
            prev = items[pos - 1]
            it = dict(prev)  # within-page duplicate of previous item
        elif k == 2:
            it["external"] = True  # exclusion marker on container
        elif k == 3:
            it = {
                **it,
                "url": f"https://{host_name(h)}/press-release/pr-{i}",
                "href": f"https://{host_name(h)}/press-release/pr-{i}",
            }  # excluded path
        elif k == 4:
            it["omit_url"] = True  # missing required field → validation reject
        elif k == 5:
            it["omit_title"] = True
        elif k == 6:
            # dead link: content page does not exist → fetch miss, item
            # stored with extraction error (ContentPageExtractor.ts:137-140)
            ghost = f"https://{host_name(h)}/tech/ghost-{i}"
            it = {**it, "url": ghost, "href": ghost}
        items.append(it)
    return items


def listing_html(h: int, p: int, article_count: int) -> str:
    items_html = []
    for it in listing_items_spec(h, p, article_count):
        cls = "post-item post-item--external" if it["external"] else "post-item"
        link = (
            f'<a class="post-link" href="{it["href"]}">read</a>'
            if not it["omit_url"]
            else ""
        )
        title = (
            f'<span class="post-title">{it["title"]}</span>'
            if not it["omit_title"]
            else ""
        )
        author = (
            f'<span class="post-author">{it["author"]}</span>' if it["author"] else ""
        )
        items_html.append(
            f'<div class="{cls}">{title}{link}'
            f'<span class="post-date">{it["date_raw"]}</span>{author}</div>'
        )
    last = p >= n_listing_pages(article_count)
    nxt = (
        ""
        if last
        else f'<div class="pagination"><a class="next" href="/list/{p + 1}">next</a></div>'
    )
    return (
        "<html><body>"
        f'<div class="post-list">{"".join(items_html)}</div>{nxt}'
        "</body></html>"
    )


def warc_ts(h: int, i: int) -> datetime:
    return datetime(2025, 6, 1, tzinfo=timezone.utc) + timedelta(
        seconds=(h * 100000 + i * 13 + _h(h, i, "jit") % 11)
    )


def lang_of(h: int, i: int) -> str:
    return LANGS[_h(h, i, "lang") % len(LANGS)]


# ---------------------------------------------------------------------------
# Corpus → Spark DataFrame (distributed generation)
# ---------------------------------------------------------------------------


def build_pages_df(
    spark,
    n_hosts: int,
    total_articles: int,
    parallelism: int = 0,
    golden_text: bool = True,
):
    """Distributed generation of the canonical pages table.

    ``golden_text=False`` skips computing the expected-markdown ``text``
    column (the most expensive generation step) — for benchmark corpora
    where only the crawl path runs, not the byte-identity check."""
    from ethos_spark.extraction.content import extract_content_fields

    import pyspark.sql.functions as F

    counts = zipf_article_counts(n_hosts, total_articles)
    n_parts = parallelism or spark.sparkContext.defaultParallelism
    counts_b = spark.sparkContext.broadcast(counts)

    # expand (host, count) → (kind, h, i) JVM-side: the driver ships only
    # the per-host spec, never a row-per-page list
    spec = spark.createDataFrame(
        [(h, c, n_listing_pages(c)) for h, c in enumerate(counts)],
        "h int, n_articles int, n_listings int",
    )
    articles = spec.select(
        F.lit(0).alias("kind"), "h",
        F.explode(F.sequence(F.lit(0), F.col("n_articles") - 1)).alias("i"),
    )
    listings = spec.select(
        F.lit(1).alias("kind"), "h",
        F.explode(F.sequence(F.lit(1), F.col("n_listings"))).alias("i"),
    )
    task_df = articles.unionByName(listings).repartition(n_parts)

    def gen(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            rows = []
            for kind, h, i in pdf[["kind", "h", "i"]].itertuples(index=False):
                if kind == 0:
                    html = article_html(h, i)
                    text = (
                        extract_content_fields(html, SYNTH_SOURCE.content).get(
                            "content"
                        )
                        if golden_text
                        else None
                    )
                    rows.append(
                        {
                            "url": article_url(h, i),
                            "warc_ts": warc_ts(h, i),
                            "html": html.encode("utf-8"),
                            "text": text,
                            "lang": lang_of(h, i),
                        }
                    )
                else:
                    html = listing_html(h, i, counts_b.value[h])
                    rows.append(
                        {
                            "url": listing_url(h, i),
                            "warc_ts": warc_ts(h, 10_000_000 + i),
                            "html": html.encode("utf-8"),
                            "text": None,
                            "lang": "en",
                        }
                    )
            yield pd.DataFrame(rows)

    return task_df.mapInPandas(gen, PAGES_INPUT)
