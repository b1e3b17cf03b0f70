"""Sitemap parsing (sitemaps.org XML protocol — public spec): seed
discovery for the crawl frontier. A production crawl bootstraps its seed
list from robots.txt ``Sitemap:`` lines and the referenced
``<urlset>``/``<sitemapindex>`` documents; this module parses both forms
with stdlib ElementTree over a DataFrame of fetched sitemap bodies.

Scale shape: sitemaps are fetched like any other page (url, body rows);
parsing is an Arrow-batched flatMap (one row in → many url rows out, the
listing-extraction shape). Index files yield child sitemap URLs with
``kind='sitemap'`` so the caller loops fetch→parse until only page URLs
remain — the same frontier-round iteration the crawl loop uses.
"""

from __future__ import annotations

import io
import re
from typing import Callable, Iterator

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame

_NS = re.compile(r"\{[^}]*\}")  # strip xmlns prefixes

# Untrusted-input bounds: a sitemap is web content fetched from arbitrary
# hosts, so inflation and entity expansion must be capped executor-side.
MAX_INFLATED_BYTES = 64 * 1024 * 1024  # sitemaps.org caps files at 50 MB
_DTD_TOKEN = re.compile(rb"<!(?:DOCTYPE|ENTITY)", re.IGNORECASE)


def parse_sitemap_bytes(body: bytes) -> list[tuple[str, str, str | None]]:
    """One sitemap document → [(url, kind, lastmod)]; kind is 'page' for
    <urlset> entries, 'sitemap' for <sitemapindex> children. Gzipped
    bodies (the .xml.gz convention) are inflated transparently, capped at
    ``MAX_INFLATED_BYTES`` (a .xml.gz bomb returns [] instead of OOMing
    the task). DTDs / entity declarations are rejected outright
    (billion-laughs / quadratic-blowup guard — the sitemap protocol never
    needs them). Malformed XML yields [] (a fetch-quarantine case, not a
    crash)."""
    import gzip
    import xml.etree.ElementTree as ET

    if body[:2] == b"\x1f\x8b":
        try:
            # bounded streaming inflate: never materialize more than the cap
            body = gzip.GzipFile(fileobj=io.BytesIO(body)).read(
                MAX_INFLATED_BYTES + 1
            )
        except OSError:
            return []
        if len(body) > MAX_INFLATED_BYTES:
            return []

    # defusedxml-style pre-check: the sitemap protocol never uses DTDs, so
    # any DOCTYPE/ENTITY token means a hostile or broken document — reject
    # before expat ever sees it (the C XMLParser exposes no EntityDecl
    # hook to abort from inside the parse)
    if _DTD_TOKEN.search(body):
        return []
    try:
        root = ET.fromstring(body)
    except ET.ParseError:
        return []
    tag = _NS.sub("", root.tag).lower()
    kind = {"urlset": "page", "sitemapindex": "sitemap"}.get(tag)
    if kind is None:
        return []
    out: list[tuple[str, str, str | None]] = []
    for child in root:
        loc = lastmod = None
        for f in child:
            name = _NS.sub("", f.tag).lower()
            if name == "loc":
                loc = (f.text or "").strip()
            elif name == "lastmod":
                lastmod = (f.text or "").strip() or None
        if loc:
            out.append((loc, kind, lastmod))
    return out


SITEMAP_SCHEMA = T.StructType(
    [
        T.StructField("source_url", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("lastmod", T.StringType()),
    ]
)


def extract_sitemap_urls(
    fetched: DataFrame, url_col: str = "url", body_col: str = "html"
) -> DataFrame:
    """(url, body) rows of fetched sitemap documents → exploded
    (source_url, url, kind, lastmod) rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            src, urls, kinds, mods = [], [], [], []
            for su, body in zip(pdf[url_col], pdf[body_col]):
                if body is None:
                    continue
                for loc, kind, lastmod in parse_sitemap_bytes(bytes(body)):
                    src.append(su)
                    urls.append(loc)
                    kinds.append(kind)
                    mods.append(lastmod)
            yield pd.DataFrame(
                {
                    "source_url": src,
                    "url": urls,
                    "kind": kinds,
                    "lastmod": mods,
                }
            )

    return fetched.select(url_col, body_col).mapInPandas(run, SITEMAP_SCHEMA)


def discover_seed_urls(
    spark,
    fetcher,
    sitemap_urls: list[str],
    max_depth: int = 3,
    persist: Callable[[DataFrame], DataFrame] = DataFrame.cache,
) -> DataFrame:
    """Iteratively resolve sitemap indexes down to page URLs through any
    Fetcher (corpus, HTTP, WARC gateway): fetch the current sitemap set,
    parse, recurse into 'sitemap' children up to ``max_depth``; returns
    the distinct page-URL frontier (url, lastmod).

    ``persist`` caches each depth's parsed rows (read by both the page
    and the child-sitemap branch); a caller that owns the lifetime of its
    cached relations (the crawl round's ``RoundScope.cache``) passes its
    own, so the caches are released with it."""
    import pyspark.sql.functions as F

    pending = spark.createDataFrame(
        [(u,) for u in sitemap_urls], "url string"
    )
    pages = None
    for _ in range(max_depth):
        if not pending.take(1):
            break
        fetched = fetcher.fetch(pending, stage="listing").where(
            F.col("html").isNotNull()
        )
        parsed = persist(extract_sitemap_urls(fetched))
        got_pages = parsed.where(F.col("kind") == "page").select(
            "url", "lastmod"
        )
        pages = got_pages if pages is None else pages.unionByName(got_pages)
        pending = parsed.where(F.col("kind") == "sitemap").select("url")
    if pages is None:
        return spark.createDataFrame([], "url string, lastmod string")
    return pages.distinct()
