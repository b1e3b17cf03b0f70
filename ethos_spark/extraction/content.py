"""Content-page field extraction + Markdown conversion.

Parity targets:
- field extraction dispatch: BrowserFieldExtractor.ts:63-133 (empty selector
  → container itself; attribute ∈ {text, href, src, node, <attr>}; required
  missing → extractionError)
- markdown post-processing of the ``content`` field:
  ContentPageExtractor.ts:104-135 (Turndown + substitutions + textContent
  fallback)

``extract_content_fields`` is a pure function (used by synth.py to produce
the golden ``text`` column and by tests); ``extract_content_stage`` is the
Arrow-vectorized Spark stage applying it over fetched page batches.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from ethos_spark.extraction.html import (
    Node,
    extract_node_with_exclusions,
    extract_text_with_exclusions,
    parse_html,
)
from ethos_spark.functions.markdown import html_to_markdown, MOJIBAKE_SUBS, TurndownPy
from ethos_spark.functions.urlfns import resolve_url_lenient
from ethos_spark.sources.config import ContentConfig, FieldConfig


def _extract_field_value(
    element: Node | None, fc: FieldConfig, page_url: str | None
) -> str | None:
    if element is None:
        return None
    if fc.attribute == "text":
        return extract_text_with_exclusions(element, list(fc.exclude_selectors))
    if fc.attribute in ("href", "src"):
        return resolve_url_lenient(element.get(fc.attribute), page_url or "")
    if fc.attribute == "node":
        return extract_node_with_exclusions(element, list(fc.exclude_selectors))
    return element.get(fc.attribute)


def extract_content_fields(
    html: str, config: ContentConfig, page_url: str | None = None
) -> dict[str, str | None]:
    """Extract all content fields; the ``content`` field is converted to
    Markdown. Extraction errors go under the ``"_errors"`` key (list[str])."""
    results: dict = {name: None for name in config.fields}
    errors: list[str] = []
    results["_errors"] = errors

    root = parse_html(html)
    container = root.query_selector(config.container_selector)
    if container is None:
        errors.append(
            f'Container selector "{config.container_selector}" not found'
        )
        return results

    for name, fc in config.fields.items():
        try:
            if not fc.selector or not fc.selector.strip():
                element: Node | None = container
            else:
                element = container.query_selector(fc.selector)
            value = _extract_field_value(element, fc, page_url)
            value = value if value else None
            if name == "content" and isinstance(value, str):
                value = _content_html_to_markdown(value)
            results[name] = value
            if not fc.optional and not value:
                errors.append(
                    f"Required field '{name}' not found: selector "
                    f"'{fc.selector}' returned no results"
                )
        except Exception as e:  # parity: per-field try/catch
            errors.append(f"Failed to extract {name}: {e}")
            results[name] = None
    return results


_TD = TurndownPy()


def _content_html_to_markdown(value: str) -> str:
    """ContentPageExtractor.ts:110-131: jsdom-parse the field HTML, turndown,
    apply substitutions; on conversion error fall back to textContent."""
    try:
        md = _TD.convert(value)
        for old, new in MOJIBAKE_SUBS:
            md = md.replace(old, new)
        return md
    except Exception:
        root = parse_html(value)
        body = root.query_selector("body") or root
        return body.text_content.strip()


def extract_content_stage(df, config: ContentConfig):
    """Vectorized Spark stage: (url, html binary) → extracted fields.

    Input df must have columns ``url`` (string) and ``html`` (binary); any
    other column passes through. Output is the input columns minus
    ``html``, plus ``title_x, author_x, content_x, extraction_errors,
    parse_ms, partition_id``: the page body crosses into the Python worker
    once and does not come back. Select only what downstream reads before
    calling — every input column crosses the boundary twice."""
    import pyspark.sql.types as T

    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != "html"]
        + [
            T.StructField("title_x", T.StringType()),
            T.StructField("author_x", T.StringType()),
            T.StructField("content_x", T.StringType()),
            T.StructField("extraction_errors", T.ArrayType(T.StringType())),
            T.StructField("parse_ms", T.DoubleType()),
            T.StructField("partition_id", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for pdf in batches:
            t0 = time.monotonic()
            titles, authors, contents, errs = [], [], [], []
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    titles.append(None)
                    authors.append(None)
                    contents.append(None)
                    errs.append([f"Failed to load content page {url}"])
                    continue
                f = extract_content_fields(
                    bytes(html).decode("utf-8", "replace"), config, url
                )
                titles.append(f.get("title"))
                authors.append(f.get("author"))
                contents.append(f.get("content"))
                errs.append(f["_errors"])
            elapsed = (time.monotonic() - t0) * 1000.0
            pdf = pdf.drop(columns="html")
            pdf["title_x"] = titles
            pdf["author_x"] = authors
            pdf["content_x"] = contents
            pdf["extraction_errors"] = errs
            pdf["parse_ms"] = elapsed / max(1, len(pdf))
            pdf["partition_id"] = pid
            yield pdf

    return df.mapInPandas(run, out_schema)
