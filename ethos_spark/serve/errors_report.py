"""Crawl-errors report (reference src/commands/errors.ts:8-120).

Renders the reference's plain-text report from a session row's metadata
JSON plus the session's listing-stage field stats:

- LISTING EXTRACTION ERRORS: required-field issues first (non-optional
  fields with successCount < totalAttempts, ui/utils.ts:107-113), then
  the general listing error messages, with the reference's continued
  numbering
- CONTENT EXTRACTION ERRORS: the session's contentErrors list
- SUMMARY: the three counts + total

The reference pipes through `less`; here the text is returned (the CLI
prints it — the reference's own console fallback, errors.ts:110-116).
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ethos_spark.ui.menus import required_field_issues

_RULE = "=" * 63 + "\n"


def _listing_field_issues(field_stats: DataFrame, session_id: str) -> list[dict]:
    """``required_field_issues`` over the session's LISTING-stage stats,
    summed per field across rounds (one row per field, as the
    reference's session fieldStats)."""
    rows = (
        field_stats.where(
            (F.col("session_id") == session_id) & (F.col("stage") == "listing")
        )
        .groupBy("field_name")
        .agg(
            F.sum("success_count").alias("success_count"),
            F.sum("total_attempts").alias("total_attempts"),
            F.max("is_optional").alias("is_optional"),
        )
        .orderBy("field_name")
        .collect()
    )
    return [
        {
            "fieldName": r["field_name"],
            "successCount": int(r["success_count"]),
            "totalAttempts": int(r["total_attempts"]),
        }
        for r in required_field_issues([r.asDict() for r in rows])
    ]


def render_errors_report(
    session_row, field_stats: DataFrame, generated: str
) -> str:
    """errors.ts:29-89 — session_row: a sessions-table Row (metadata JSON
    carries listing_error_messages / content_error_messages)."""
    meta = json.loads(session_row.metadata or "{}")
    listing_errors = meta.get("listing_error_messages") or []
    content_errors = meta.get("content_error_messages") or []
    field_issues = _listing_field_issues(field_stats, session_row.id)

    if not listing_errors and not content_errors and not field_issues:
        return "No errors found during crawling!"

    out = (
        f"Crawling Errors Report for {session_row.source_name} "
        f"({session_row.source_id})\n"
        f"Generated: {generated}\n\n"
    )
    if listing_errors or field_issues:
        out += _RULE + "LISTING EXTRACTION ERRORS\n" + _RULE + "\n"
        if field_issues:
            out += "Required Field Extraction Issues:\n\n"
            for i, stat in enumerate(field_issues):
                missing = stat["totalAttempts"] - stat["successCount"]
                out += (
                    f"{i + 1}. {missing} item(s) missing required field: "
                    f"{stat['fieldName']}\n\n"
                )
        if listing_errors:
            start = len(field_issues) + 1 if field_issues else 1
            if field_issues:
                out += "General Listing Errors:\n\n"
            for i, err in enumerate(listing_errors):
                out += f"{start + i}. {err}\n\n"
    if content_errors:
        out += _RULE + "CONTENT EXTRACTION ERRORS\n" + _RULE + "\n"
        for i, err in enumerate(content_errors):
            out += f"{i + 1}. {err}\n\n"
    out += _RULE + "SUMMARY\n" + _RULE + "\n"
    out += f"Field extraction issues: {len(field_issues)}\n"
    out += f"Listing errors: {len(listing_errors)}\n"
    out += f"Content errors: {len(content_errors)}\n"
    out += (
        "Total errors: "
        f"{len(field_issues) + len(listing_errors) + len(content_errors)}\n"
    )
    return out
