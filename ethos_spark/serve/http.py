"""HTTP serve layer (reference entry point §3.2: src/server/index.ts:14-46).

A stdlib ``http.server`` front end over the serve-layer Spark queries — no
web framework exists in this container, and the reference's express app is
a thin JSON shim over the stores anyway. Route surface and response shapes
mirror the reference:

- ``GET /api/health``                    → index.ts:24-26
- ``GET /api/sources``                   → routes/api/sources.ts:6-18
- ``GET /api/publications``              → routes/api/publications.ts:22-113
  (page/limit/source/startPublishedDate/endPublishedDate; limit default 10
  clamped to [1,100], meta = calculatePagination, pagination.ts:11-23)
- ``GET /api/publications/<hash>``       → publications.ts:115-168
  (invalid hash → empty 404, publications.ts:122-126; missing row → ApiError
  NOT_FOUND which the reference errorHandler serves as **400** with
  ``{"error": {"type", "message"}}`` — middleware/error.ts:19-35; mirrored
  verbatim, quirk included)
- ``GET /``                              → HTML listing view
  (routes/listing-handler.ts:68-92, views/listing.ts: 250-char stripped
  preview + "...", source select nav, pagination links)
- ``GET /<hash>``                        → HTML detail view
  (routes/detail-handler.ts:21-47, views/detail.ts: marked-rendered
  content, back link propagating page/source; invalid hash → empty 404,
  missing metadata/content → the 400 ApiError quirk)
- unknown multi-segment route → 404 ``{"error":{"type":"NOT_FOUND",...}}``
  (middleware/error.ts:38-41)
- ``GET /api/sessions`` — repo extension (the reference lists sessions via
  CLI only); paged ``{results, meta}`` (50/page, the viewer's page size,
  ui/viewer.ts:81-120) so the driver never collects the full table.

Request handling is driver-side, a reader of committed snapshots: each call
runs a small pushed-filter Spark query. An app built by ``from_warehouse``
follows HEAD, comparing the snapshot version per request (one small file
read, no Spark job) and re-resolving pages and sessions when it moved.
"""

from __future__ import annotations

import json
import re
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ethos_spark import schemas
from ethos_spark.catalog import Warehouse
from ethos_spark.functions.mdrender import markdown_to_html
from ethos_spark.functions.urlfns import is_hash_valid
from ethos_spark.serve.queries import (
    PublicationsQuery,
    publications,
    sessions_page,
)
from ethos_spark.serve.views import preview_250, render_detail, render_listing


class Html(str):
    """Marker type: the body is a rendered HTML page (text/html), not JSON."""


def _err(type_: str, message: str) -> dict:
    # server/utils/response.ts:4-11
    return {"error": {"type": type_, "message": message}}


def _pub_json(row) -> dict:
    # PublicationResponse shape, publications.ts:76-86
    return {
        "url": row["url"],
        "title": row["title"],
        "content": row["content"],
        "author": row["author"],
        "publishedDate": row["published_date"],
        "source": row["source"],
        "crawledAt": row["crawled_at"].isoformat() if row["crawled_at"] else None,
        "hash": row["hash"],
    }


def _int_param(params: dict, key: str) -> int | None:
    # parseQueryParams: non-numeric / non-positive values are IGNORED
    # (fall back to defaults), pagination.ts:29-44. The reference uses JS
    # parseInt, which accepts a leading-digits prefix ('12abc' → 12) —
    # mirror that rather than Python int()'s strictness.
    vals = params.get(key)
    if not vals:
        return None
    m = re.match(r"\s*[+-]?\d+", vals[0])
    if not m:
        return None
    v = int(m.group())
    return v if v > 0 else None


def _pub_query(params: dict) -> PublicationsQuery:
    # the publications route and the listing view read the same params
    return PublicationsQuery(
        source=(params.get("source") or [None])[0],
        start_published=(params.get("startPublishedDate") or [None])[0],
        end_published=(params.get("endPublishedDate") or [None])[0],
        order_by="published_date",
        page=_int_param(params, "page") or 1,
        limit=_int_param(params, "limit") or 10,  # publications.ts:31
    )


class ApiApp:
    """Transport-free request handling (unit-testable without sockets)."""

    def __init__(
        self,
        pages: DataFrame,
        sessions: DataFrame,
        sources: list,  # SourceConfig-likes with .id / .name
    ):
        self._rel = (None, pages, sessions)  # (HEAD version, pages, sessions)
        self._wh: Warehouse | None = None
        self.sources = sources

    @classmethod
    def from_warehouse(
        cls, spark: SparkSession, warehouse_path: str, sources: list
    ) -> "ApiApp":
        app = cls(None, None, sources)
        app._wh = Warehouse(spark, warehouse_path)
        return app

    def _relations(self) -> tuple:
        """Re-resolved when HEAD moved; one tuple, as requests run concurrently."""
        rel, wh = self._rel, self._wh
        snap = wh.snapshot() if wh is not None else None
        if snap is not None and snap.version != rel[0]:
            pages = snap.read("pages", schemas.PAGES_OUT)
            sessions = snap.read("sessions", schemas.SESSIONS)
            rel = self._rel = (snap.version, pages, sessions)
        return rel

    def handle(self, path: str, params: dict) -> tuple[int, object | None]:
        """→ (http status, json-serializable body | None for empty)."""
        if path == "/api/health":
            return 200, {
                "status": "ok",
                "timestamp": datetime.now(timezone.utc).isoformat(),
            }
        if path == "/api/sources":
            return 200, [{"id": s.id, "name": s.name} for s in self.sources]
        _, pages, sessions = self._relations()
        if path == "/api/sessions":
            # paged (50/page, viewer page size) — the driver never
            # materializes the full sessions table
            rows, meta = sessions_page(
                sessions,
                page=_int_param(params, "page") or 1,
                limit=_int_param(params, "limit") or 50,
            )
            return 200, {
                "results": [
                    {
                        "id": r["id"],
                        "sourceId": r["source_id"],
                        "sourceName": r["source_name"],
                        "startTime": r["start_time"].isoformat()
                        if r["start_time"]
                        else None,
                        "endTime": r["end_time"].isoformat()
                        if r["end_time"]
                        else None,
                        "stoppedReason": r["stopped_reason"],
                    }
                    for r in rows.collect()
                ],
                "meta": meta,
            }
        if path == "/api/publications":
            return self._publications(pages, params)
        if path.startswith("/api/publications/"):
            return self._by_hash(
                pages, path.split("/", 3)[3], lambda r: (200, _pub_json(r))
            )
        # HTML web views, wired AFTER the api routes like the reference
        # (index.ts:38-39): "/" = listing, any other single segment is
        # treated as "/:hash" (so even /api alone hits the hash validator)
        if path == "/":
            return self._listing_view(pages, params)
        if re.fullmatch(r"/[^/]+", path):
            return self._by_hash(
                pages, path[1:], lambda r: self._detail_view(r, params)
            )
        return 404, _err("NOT_FOUND", f"Route {path} not found")

    def _publications(self, pages: DataFrame, params: dict) -> tuple[int, object]:
        rows, meta = publications(pages, _pub_query(params))
        return 200, {"results": [_pub_json(r) for r in rows.collect()], "meta": meta}

    def _by_hash(self, pages: DataFrame, h: str, respond) -> tuple[int, object | None]:
        """``respond(row)`` for the page with hash ``h``. An invalid hash is
        an empty 404 (publications.ts:122-126, detail-handler.ts:23-26); a
        missing row is ApiError(NOT_FOUND), which the errorHandler serves
        as 400 (error.ts:27-31)."""
        if not is_hash_valid(h):
            return 404, None
        rows = pages.where(F.col("hash") == h).limit(1).collect()
        if not rows:
            return 400, _err("NOT_FOUND", "Metadata not found")
        return respond(rows[0])

    # -- HTML web views (listing-handler.ts / detail-handler.ts) ------------

    def _source_names(self) -> dict:
        return {s.id: s.name for s in self.sources}

    def _listing_view(self, pages: DataFrame, params: dict) -> tuple[int, object]:
        try:
            q = _pub_query(params)
            rows, meta = publications(pages, q)
            names = self._source_names()
            pubs = [
                {
                    "hash": r["hash"],
                    "title": r["title"],
                    "author": r["author"],
                    "source": names.get(r["source"], "Undefined"),
                    "publishedDate": r["published_date"],
                    "content": preview_250(r["content"]),
                }
                for r in rows.collect()
                # rows whose content never stored are dropped from the view
                # but still counted in the pagination total (the reference
                # filters null contentStore.retrieve results AFTER counting,
                # listing-handler.ts:59-80)
                if r["content"] is not None
            ]
            return 200, Html(render_listing(pubs, meta, self.sources, q.source))
        except Exception as e:
            # listing-handler.ts:95-103: wrapped as ApiError(INTERNAL_ERROR)
            # which the errorHandler serves as 400 (quirk mirrored)
            return 400, _err("INTERNAL_ERROR", str(e))

    def _detail_view(self, r, params: dict) -> tuple[int, object]:
        content = markdown_to_html(r["content"]) if r["content"] else ""
        if not content:
            # detail-handler.ts:33-36
            return 400, _err("NOT_FOUND", "Content not found")
        names = self._source_names()
        pub = {
            "url": r["url"],
            "title": r["title"],
            "author": r["author"],
            "source": names.get(r["source"], "Undefined"),
            "publishedDate": r["published_date"],
            "content": content,
        }
        return 200, Html(
            render_detail(
                pub,
                _int_param(params, "page"),
                (params.get("source") or [None])[0],
            )
        )


def make_server(app: ApiApp, host: str = "127.0.0.1", port: int = 0):
    """Build (not start) a ThreadingHTTPServer around the app. port=0 binds
    an ephemeral port (server.server_address[1] has the real one)."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib API name)
            u = urlparse(self.path)
            try:
                status, body = app.handle(u.path, parse_qs(u.query))
            except Exception as e:  # errorHandler catch-all, error.ts:33-35
                status, body = 500, _err("INTERNAL_ERROR", str(e))
            if isinstance(body, Html):
                payload, ctype = body.encode("utf-8"), "text/html; charset=utf-8"
            else:
                payload = b"" if body is None else json.dumps(body).encode("utf-8")
                ctype = "application/json"
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):  # quiet test output
            pass

    return ThreadingHTTPServer((host, port), Handler)


def serve_background(app: ApiApp, host: str = "127.0.0.1", port: int = 0):
    """Start the server on a daemon thread; → (server, base_url)."""
    srv = make_server(app, host, port)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://{srv.server_address[0]}:{srv.server_address[1]}"
