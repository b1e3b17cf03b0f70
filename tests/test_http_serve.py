"""HTTP serve layer over a crawled warehouse: route surface, response
shapes, pagination meta and error semantics vs the reference express app
(src/server/index.ts, routes/api/publications.ts, middleware/error.ts);
an app that follows HEAD; the driver-side cost of each route."""

import json
import urllib.error
import urllib.request

import pytest

from ethos_spark.catalog import Warehouse
from ethos_spark.crawl.fetcher import CorpusFetcher
from ethos_spark.crawl.runner import CrawlOptions, CrawlRunner
from ethos_spark.serve.http import ApiApp, serve_background
from ethos_spark.session import get_spark
from ethos_spark.sources.config import SYNTH_SOURCE
from ethos_spark.synth import build_pages_df, listing_url


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-http", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    corpus = build_pages_df(spark, 2, 40).cache()
    corpus.count()
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("http") / "wh"))
    runner = CrawlRunner(
        spark, wh, CorpusFetcher(corpus), SYNTH_SOURCE, CrawlOptions()
    )
    runner.seed([listing_url(h, 1) for h in range(2)])
    summary = runner.run()
    app = ApiApp.from_warehouse(spark, wh.path, [SYNTH_SOURCE])
    srv, base = serve_background(app)
    yield base, wh, summary
    srv.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url, timeout=60) as r:
            body = r.read()
            return r.status, json.loads(body) if body else None
    except urllib.error.HTTPError as e:
        body = e.read()
        return e.code, json.loads(body) if body else None


def test_health_and_sources(served):
    base, _, _ = served
    status, body = _get(base + "/api/health")
    assert status == 200 and body["status"] == "ok"
    status, body = _get(base + "/api/sources")
    assert status == 200
    assert body == [{"id": SYNTH_SOURCE.id, "name": SYNTH_SOURCE.name}]


def test_publications_list_and_meta(served):
    base, wh, _ = served
    total = wh.read("pages").count()
    status, body = _get(base + "/api/publications?limit=7&page=2")
    assert status == 200
    meta = body["meta"]
    assert meta["total"] == total
    assert meta["page"] == 2 and meta["limit"] == 7
    assert meta["totalPages"] == -(-total // 7)
    assert len(body["results"]) == 7
    pub = body["results"][0]
    assert set(pub) == {
        "url", "title", "content", "author", "publishedDate",
        "source", "crawledAt", "hash",
    }
    # default limit 10 (publications.ts:31), bad params ignored
    status, body = _get(base + "/api/publications?limit=abc&page=-3")
    assert status == 200 and body["meta"]["limit"] == 10
    assert body["meta"]["page"] == 1
    # source filter
    status, body = _get(base + "/api/publications?source=" + SYNTH_SOURCE.id)
    assert body["meta"]["total"] == total
    status, body = _get(base + "/api/publications?source=nope")
    assert body["meta"]["total"] == 0 and body["results"] == []


def test_publication_by_hash(served):
    base, wh, _ = served
    row = wh.read("pages").limit(1).collect()[0]
    status, body = _get(base + f"/api/publications/{row.hash}")
    assert status == 200
    assert body["url"] == row.url and body["hash"] == row.hash
    # invalid hash → empty 404 (publications.ts:122-126)
    status, body = _get(base + "/api/publications/nothex")
    assert status == 404 and body is None
    # valid-but-absent hash → reference errorHandler quirk: 400 + typed
    # error body (middleware/error.ts:27-31)
    status, body = _get(base + "/api/publications/" + "f" * 40)
    assert status == 400
    assert body["error"]["type"] == "NOT_FOUND"


def test_unknown_route_and_sessions(served):
    base, _, summary = served
    status, body = _get(base + "/api/nope")
    assert status == 404 and body["error"]["type"] == "NOT_FOUND"
    status, body = _get(base + "/api/sessions")
    assert status == 200
    assert [s["id"] for s in body["results"]] == [summary.session_id]
    assert body["results"][0]["stoppedReason"] == summary.stopped_reason
    assert body["meta"]["total"] == 1 and body["meta"]["limit"] == 50
    # paging: an offset past the data yields an empty page, same meta total
    status, body = _get(base + "/api/sessions?page=2&limit=1")
    assert status == 200 and body["results"] == []
    assert body["meta"]["total"] == 1
    # parseInt parity: trailing garbage on a numeric param is accepted
    status, body = _get(base + "/api/sessions?limit=1abc")
    assert status == 200 and body["meta"]["limit"] == 1


def _get_text(url):
    try:
        with urllib.request.urlopen(url, timeout=60) as r:
            return r.status, r.headers.get("Content-Type", ""), r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.headers.get("Content-Type", ""), e.read().decode()


def test_listing_view_html(served):
    """HTML listing view: preview truncation, source nav, pagination,
    article links (listing-handler.ts:68-92, views/listing.ts)."""
    from ethos_spark.serve.views import preview_250

    base, wh, _ = served
    status, ctype, html = _get_text(base + "/")
    assert status == 200 and ctype.startswith("text/html")
    assert "<h1>Publications</h1>" in html
    # source select with the synth source as an option
    assert f'<option value="{SYNTH_SOURCE.id}">{SYNTH_SOURCE.name}</option>' in html
    # the newest-published stored row with content leads the page; its link
    # and 250-char stripped preview must both appear
    rows = [
        r for r in wh.read("pages").collect() if r.content is not None
    ]
    rows.sort(key=lambda r: (r.published_date or "", r.id), reverse=True)
    top = rows[0]
    assert f'<a href="/{top.hash}">' in html
    prev = preview_250(top.content)
    assert prev.endswith("...") and len(prev) <= 253
    assert f"<p>{prev}</p>" in html.replace("&#x27;", "'").replace("&quot;", '"')
    # pagination nav: page 1 of ceil(total/10); "Next" present, no "Previous"
    total = wh.read("pages").count()
    assert f"<span>Page 1 of {-(-total // 10)}</span>" in html
    assert 'rel="next"' in html and 'rel="prev"' not in html
    # page 2 carries both links and the article urls keep the page param
    status, _, html2 = _get_text(base + "/?page=2&source=" + SYNTH_SOURCE.id)
    assert 'rel="prev"' in html2
    assert f"?page=2&source={SYNTH_SOURCE.id}" in html2
    # selected source sticks in the select
    assert f'<option value="{SYNTH_SOURCE.id}" selected>' in html2
    # extraction-error rows (no stored content) are not rendered
    err_rows = [r for r in wh.read("pages").collect() if r.content is None]
    assert err_rows, "corpus should plant extraction-error items"
    status, _, big = _get_text(base + "/?limit=100")
    assert all(f'/{r.hash}"' not in big for r in err_rows)


def test_detail_view_html(served):
    """HTML detail view: rendered markdown, back-link param propagation,
    invalid/missing-hash behaviors (detail-handler.ts:21-47)."""
    base, wh, _ = served
    rows = [r for r in wh.read("pages").collect() if r.content]
    row = rows[0]
    status, ctype, html = _get_text(base + f"/{row.hash}")
    assert status == 200 and ctype.startswith("text/html")
    esc_title = row.title.replace("&", "&amp;")
    assert f"<h1>{esc_title}</h1>" in html
    assert f'href="{row.url}" target="_blank">View Original' in html
    # content is marked-rendered markdown, unescaped: the synthetic
    # articles carry '## Background N' headings -> <h2>
    assert "<h2>Background" in html
    assert 'aria-label="Home">← Back to Publications</a>' in html
    # back link propagates page/source
    status, _, html2 = _get_text(
        base + f"/{row.hash}?page=3&source=" + SYNTH_SOURCE.id
    )
    assert f'<a href="/?page=3&source={SYNTH_SOURCE.id}"' in html2
    # invalid hash -> empty 404 (even '/api' alone hits the validator)
    status, _, body = _get_text(base + "/nothex")
    assert status == 404 and body == ""
    status, _, body = _get_text(base + "/api")
    assert status == 404 and body == ""
    # valid-but-absent hash -> 400 ApiError quirk (JSON body)
    status, body = _get(base + "/" + "f" * 40)
    assert status == 400 and body["error"]["type"] == "NOT_FOUND"
    # stored-but-contentless row -> 'Content not found' 400
    err = [r for r in wh.read("pages").collect() if r.content is None][0]
    status, body = _get(base + f"/{err.hash}")
    assert status == 400 and body["error"]["message"] == "Content not found"


def test_app_follows_head_through_compact_and_vacuum(spark, tmp_path):
    """A from_warehouse app serves a crawl session committed after it was
    built, and still answers after the pages dirs it had resolved are
    compacted away and vacuumed."""
    from datetime import datetime, timezone

    corpus = build_pages_df(spark, 2, 20)
    wh = Warehouse(spark, str(tmp_path / "wh_head"))

    def crawl(host, day):
        start = datetime(2025, 7, day, tzinfo=timezone.utc)
        runner = CrawlRunner(
            spark, wh, CorpusFetcher(corpus), SYNTH_SOURCE,
            CrawlOptions(max_pages=1), start_time=start,
        )
        runner.seed([listing_url(host, 1)])
        runner.run()

    def served_urls():
        status, body = app.handle("/api/publications", {"limit": ["100"]})
        assert status == 200
        return {p["url"] for p in body["results"]}

    crawl(0, 1)
    app = ApiApp.from_warehouse(spark, wh.path, [SYNTH_SOURCE])
    first = served_urls()
    assert first and all(listing_url(0, 1).split("/")[2] in u for u in first)

    crawl(1, 2)
    both = served_urls()
    assert first < both
    assert {r.url for r in wh.read("pages").collect()} == both
    status, body = app.handle("/api/sessions", {})
    assert status == 200 and len(body["results"]) == 2

    with wh.transaction():
        assert wh.compact("pages")
        wh.commit("compact")
    wh.vacuum(keep_last=1)
    assert served_urls() == both


# (Spark jobs, Py4J commands) the driver thread spends on one request per
# route over the module's 2-host crawl, measured identically in repeated
# runs. A request may cost less, never more.
ROUTE_COST_CEILING = {
    "/api/health": (0, 0),
    "/api/sources": (0, 0),
    "/api/sessions": (3, 23),
    "/api/publications": (3, 23),
    "/api/publications/{hash}": (1, 33),
    "/": (3, 23),
    "/{hash}": (1, 33),
}


def test_serve_route_cost_pinned(spark, served, monkeypatch):
    """Driver-thread Spark jobs and Py4J commands of one request per
    route. An app that follows HEAD pays, at an unchanged HEAD, exactly
    what an app over fixed relations pays: the HEAD check is a file
    read, no Spark job and no Py4J command."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    _, wh, _ = served
    sc = spark.sparkContext
    live = ApiApp.from_warehouse(spark, wh.path, [SYNTH_SOURCE])
    _, pages, sessions = live._relations()
    fixed = ApiApp(pages, sessions, [SYNTH_SOURCE])
    h = wh.read("pages").where("content IS NOT NULL").first().hash
    counting = []
    send = ClientServerConnection.send_command

    def counted_send(self, command):
        if counting and threading.current_thread() is threading.main_thread():
            counting[0] += 1
        return send(self, command)

    def cost(app, route, tag):
        group = f"serve-{tag}-{route}"
        sc.setJobGroup(group, group)
        # a cyclic collection would send Py4J reference deletes at a random
        # point; reference counting frees the request's objects the same way
        # on every run
        gc.disable()
        counting.append(0)
        try:
            status, _ = app.handle(route.format(hash=h), {})
        finally:
            n_cmds = counting.pop()
            gc.enable()
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert status == 200, route
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), n_cmds

    monkeypatch.setattr(ClientServerConnection, "send_command", counted_send)
    got = {}
    for route in ROUTE_COST_CEILING:
        cost(live, route, "warm")  # the first request resolves HEAD
        got[route] = (cost(live, route, "live"), cost(fixed, route, "fixed"))
    monkeypatch.undo()
    assert all(a == b for a, b in got.values()), got
    assert all(
        jobs <= ROUTE_COST_CEILING[r][0] and cmds <= ROUTE_COST_CEILING[r][1]
        for r, ((jobs, cmds), _) in got.items()
    ), got
