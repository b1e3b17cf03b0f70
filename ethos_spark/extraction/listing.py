"""Listing-page item extraction (the reference's in-browser pass).

Parity targets: ListingPageExtractor.ts:50-348 —
- wait-for-container → here: container missing ⇒ zero items
- per-container field projection (P1), whitespace text normalize (P2/F4),
  URL resolution for href/src (P4)
- ``shouldExcludeItem`` exclusion predicate (P5, declarative rules)
- required-field validation with per-item reject reasons (P6,
  ListingPageExtractor.ts:224-297)

The Spark stage plays the UDTF role: one listing page row in → an
``array<struct>`` of item rows out, exploded downstream (SURVEY.md §2.10).
Pure function + vectorized wrapper, same pattern as content.py. The stage
also parses each item's raw date (strict parse, NULL = quarantine) in the
same batch, so a listing page crosses into Python once per round.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from ethos_spark.extraction.html import (
    extract_text_with_exclusions,
    parse_html,
)
from ethos_spark.functions.datefns import parse_published_dates_series
from ethos_spark.functions.urlfns import resolve_url_lenient
from ethos_spark.sources.config import ListingConfig


def extract_listing_items(html: str, config: ListingConfig, page_url: str) -> dict:
    """Return {items, excluded_urls, filtered_count, filtered_reasons,
    next_url} for one listing page."""
    root = parse_html(html)
    containers = root.query_selector_all(config.container_selector)

    items: list[dict] = []
    excluded_urls: list[str] = []
    filtered_reasons: list[str] = []
    # per-field stats over NON-EXCLUDED containers, local 1-based indices
    # (ListingPageExtractor.ts:299-309: totalAttempts++ per field per
    # result, missingItems gets currentItemOffset + itemIndex + 1 where
    # itemIndex counts ALL containers; the offset is added Spark-side)
    stats = {name: [0, 0, []] for name in config.fields}

    for idx, el in enumerate(containers):
        values: dict[str, str | None] = {}
        missing_required: list[str] = []
        for name, fc in config.fields.items():
            child = el.query_selector(fc.selector) if fc.selector else el
            if child is None:
                value = None
            elif fc.attribute == "text":
                value = extract_text_with_exclusions(
                    child, list(fc.exclude_selectors)
                )
            elif fc.attribute in ("href", "src"):
                value = resolve_url_lenient(child.get(fc.attribute), page_url)
            else:
                value = child.get(fc.attribute)
            value = value if value else None
            values[name] = value
            if not fc.optional and value is None:
                missing_required.append(name)

        # exclusion predicate runs over the container outerHTML + values,
        # before validation (ListingPageExtractor.ts:197-205)
        if config.exclusions.matches(el.outer_html, values.get("url")):
            if values.get("url"):
                excluded_urls.append(values["url"])
            continue

        for name in config.fields:
            st = stats[name]
            st[1] += 1
            if values[name] is not None:
                st[0] += 1
            else:
                st[2].append(idx + 1)

        if missing_required:
            # reference reason format, ListingPageExtractor.ts:254-260
            ident = values.get("url") or values.get("title") or "Unknown item"
            filtered_reasons.append(
                f'Item "{ident}" missing required fields: '
                + ", ".join(missing_required)
                + f". Seen at {page_url}"
            )
            continue

        items.append(
            {
                "url": values.get("url"),
                "title": values.get("title"),
                "author": values.get("author"),
                "published_raw": values.get("publishedDate"),
                "item_index": idx,
            }
        )

    # pagination: next button present, not disabled (PaginationHandler.ts:15-48)
    next_url = None
    nb_sel = config.pagination.next_button_selector
    if nb_sel:
        btn = root.query_selector(nb_sel)
        if btn is not None and not (
            btn.get("disabled") is not None
            or "disabled" in btn.classes
            or btn.get("aria-disabled") == "true"
        ):
            next_url = resolve_url_lenient(btn.get("href"), page_url)

    return {
        "items": items,
        "excluded_urls": excluded_urls,
        "filtered_count": len(filtered_reasons),
        "filtered_reasons": filtered_reasons,
        "next_url": next_url,
        "field_stats": [
            {"field": n, "success": s[0], "attempts": s[1], "missing": s[2]}
            for n, s in stats.items()
        ],
    }


LISTING_RESULT_DDL = (
    "url string, items array<struct<url:string,"
    "title:string,author:string,published_raw:string,published_date:string,"
    "item_index:int>>, "
    "excluded_urls array<string>, filtered_count int, "
    "filtered_reasons array<string>, next_url string, "
    "field_stats array<struct<field:string,success:int,attempts:int,"
    "missing:array<int>>>"
)


def extract_listing_stage(df, config: ListingConfig):
    """Vectorized stage over listing-page rows (url, html binary). Each
    item's ``published_date`` is its ``published_raw`` parsed by the
    batch date kernel (ISO string; NULL when the raw date does not parse)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pages = [
                (url, None)
                if html is None
                else (
                    url,
                    extract_listing_items(
                        bytes(html).decode("utf-8", "replace"), config, url
                    ),
                )
                for url, html in zip(pdf["url"], pdf["html"])
            ]
            # one date-kernel call per batch over every item of its pages
            raws = pd.Series(
                [
                    i["published_raw"]
                    for _, r in pages
                    if r is not None
                    for i in r["items"]
                ],
                dtype=object,
            )
            dates = iter(parse_published_dates_series(raws) if len(raws) else [])
            out = []
            for url, r in pages:
                if r is None:
                    out.append((url, [], [], 0, [], None, []))
                    continue
                out.append(
                    (
                        url,
                        [
                            (
                                i["url"],
                                i["title"],
                                i["author"],
                                i["published_raw"],
                                next(dates),
                                i["item_index"],
                            )
                            for i in r["items"]
                        ],
                        r["excluded_urls"],
                        r["filtered_count"],
                        r["filtered_reasons"],
                        r["next_url"],
                        [
                            (s["field"], s["success"], s["attempts"], s["missing"])
                            for s in r["field_stats"]
                        ],
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "url",
                    "items",
                    "excluded_urls",
                    "filtered_count",
                    "filtered_reasons",
                    "next_url",
                    "field_stats",
                ],
            )

    return df.select("url", "html").mapInPandas(run, LISTING_RESULT_DDL)
