"""crawl_deep: a few hosts crawled one listing page per host per round, so a
run is many narrow rounds whose cost is per-round driver jobs, driver gaps
and catalog commits rather than fetch/extract kernels.

Inputs come from ``synth``'s pure per-page functions at a host-id offset
derived from the seed (``pick_hosts``), so seeds 0..4095 are 4096 different
corpora of the same shape: ``N_HOSTS`` hosts, each ``MAX_PAGES`` listing
pages of 10 items deep, picked so that every timed round crawls the same
number of URLs (a seed changes the pages, not the amount of work). Set-up makes the
corpus and its golden text, seeds the crawl and runs its first
``WARM_ROUNDS`` rounds untimed (JIT, codegen, Python-worker imports: the
first round of a session runs ~1.5x slower than the second). The timed part
is the same session's next rounds, at least ``MIN_TIMED_ROUNDS``, run until
``--seconds`` have passed or the page cap is reached and stopped through
``CrawlRunner.interrupt()`` after the round in flight.

Checks, all untimed, over the whole session: stored content byte-identical
to the corpus golden text; per-host order, payloads and counters equal to
``reference_sim.simulate_crawl`` for the same number of listing pages; a
global ``processed_order`` of exactly 1..N; and serve requests over the
crawled warehouse (statuses, ``meta.total`` against a count of the pages
table). The traced run adds standalone fetch/extract probes.
"""

from __future__ import annotations

import dataclasses
import os
import random
import statistics
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from ethos_spark import schemas, synth
from ethos_spark.catalog import Warehouse
from ethos_spark.crawl.fetcher import CorpusFetcher
from ethos_spark.crawl.reference_sim import simulate_crawl
from ethos_spark.crawl.runner import CrawlOptions, CrawlRunner
from ethos_spark.extraction.content import extract_content_fields, extract_content_stage
from ethos_spark.extraction.listing import extract_listing_stage
from ethos_spark.functions.datefns import parse_published_dates_series
from ethos_spark.functions.markdown import html_to_markdown
from ethos_spark.serve import http
from ethos_spark.sources.config import SYNTH_SOURCE
from harness import Ctx, Outcome, Spans, now_ms

N_HOSTS = 4
N_ARTICLES = 800  # Zipf over 4 hosts: 87..403 articles, all deeper than MAX_PAGES
MAX_PAGES = 3  # listing pages per host kept in the corpus, and the crawl's cap
WARM_ROUNDS = 1
MIN_TIMED_ROUNDS = 2
# URLs (listing page + content pages) a picked host yields in the timed
# rounds: the most common count over pages 2..MAX_PAGES
TIMED_URLS_PER_HOST = 18
SERVE_ROUTES = ("publications", "publication_by_hash", "listing_view", "detail_view")


def host_rows(h: int, count: int) -> list[tuple]:
    """(url, warc_ts, html, text, lang) rows of host ``h`` with ``count``
    articles, the rows ``synth.build_pages_df`` generates, cut to the first
    MAX_PAGES listing pages."""
    rows = []
    for i in range(min(count, MAX_PAGES * synth.ITEMS_PER_LISTING)):
        html = synth.article_html(h, i)
        text = extract_content_fields(html, SYNTH_SOURCE.content).get("content")
        url, ts = synth.article_url(h, i), synth.warc_ts(h, i)
        rows.append((url, ts, html, text, synth.lang_of(h, i)))
    for p in range(1, MAX_PAGES + 1):
        url, ts = synth.listing_url(h, p), synth.warc_ts(h, 10_000_000 + p)
        rows.append((url, ts, synth.listing_html(h, p, count), None, "en"))
    return rows


def pick_hosts(seed: int) -> tuple[list[int], list[tuple]]:
    """The seed's N_HOSTS hosts and their corpus rows: the first host ids
    from the seed's offset whose pages 2..MAX_PAGES yield
    TIMED_URLS_PER_HOST URLs (about one host in five). Seeds 4096 apart
    share a corpus: ``synth.warc_ts`` adds ``h * 100000`` seconds to 2025,
    so host ids stay below ~270k (timestamps before 2900) for any seed."""
    hosts, rows = [], []
    h = 1000 + (seed % 4096) * 64
    for count in synth.zipf_article_counts(N_HOSTS, N_ARTICLES):
        while True:
            mine = host_rows(h, count)
            sims = [expected({r[0]: r[2] for r in mine}, [h], p)[h] for p in (1, MAX_PAGES)]
            urls = [s.pages_processed + s.contents_crawled for s in sims]
            h += 1
            if urls[1] - urls[0] == TIMED_URLS_PER_HOST:
                break
        hosts.append(h - 1)
        rows += mine
    return hosts, rows


def write_corpus(rows: list[tuple], path: str, files: int) -> None:
    """Write the rows as ``files`` parquet files, without Spark."""
    os.makedirs(path)
    url, ts, html, text, lang = zip(*rows)
    table = pa.table(
        {
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array([h.encode("utf-8") for h in html], pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
        }
    )
    step = -(-len(rows) // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


class Crawl:
    """One crawl session over a corpus, its rounds recorded as spans."""

    def __init__(self, ctx: Ctx, corpus, hosts: list[int], spans: Spans):
        self.ctx, self.spans, self.hosts = ctx, spans, hosts
        self.wh_path = os.path.join(ctx.rundir, "wh")
        self.wh = Warehouse(ctx.spark, self.wh_path)
        self.fetcher = CorpusFetcher(corpus)
        self.runner = CrawlRunner(
            ctx.spark, self.wh, self.fetcher, SYNTH_SOURCE, CrawlOptions(max_pages=MAX_PAGES)
        )
        self.runner.seed([synth.listing_url(h, 1) for h in self.hosts])

    def instrument(self) -> None:
        """Layer spans around the injected Warehouse and Fetcher."""
        for attr in ("append", "replace", "commit", "read", "upsert_rows"):
            self.spans.wrap(self.wh, attr, f"catalog.{attr}")
        self.spans.wrap(self.fetcher, "fetch", "fetcher.fetch")

    def run(self, on_warm):
        """Run WARM_ROUNDS untimed rounds, call ``on_warm()``, then timed
        rounds until ``ctx.seconds`` have passed and MIN_TIMED_ROUNDS are
        done, or the page cap is reached (the runner would add one empty
        round). Returns the summary and the URLs (listing + content pages)
        the warm rounds processed."""
        runner, spans, ctx = self.runner, self.spans, self.ctx
        round_fn = runner.run_round
        t_warm = []

        def run_round(r: int) -> bool:
            with spans.span("round" if r > WARM_ROUNDS else "warm_round"):
                more = round_fn(r)
            if r == WARM_ROUNDS:
                s = runner.summary
                t_warm.append((now_ms(), s.pages_processed + s.contents_crawled))
                on_warm()
            elif r == MAX_PAGES or (
                r >= WARM_ROUNDS + MIN_TIMED_ROUNDS
                and now_ms() - t_warm[0][0] >= ctx.seconds * 1000
            ):
                runner.interrupt()
            return more

        runner.run_round = run_round
        summary = runner.run()
        spans.rows.append(("crawl", t_warm[0][0], now_ms()))
        return summary, t_warm[0][1]


def expected(corpus: dict[str, str], hosts: list[int], pages: int):
    return {
        h: simulate_crawl(
            corpus,
            dataclasses.replace(
                SYNTH_SOURCE,
                listing=dataclasses.replace(SYNTH_SOURCE.listing, url=synth.listing_url(h, 1)),
            ),
            max_pages=pages,
        )
        for h in hosts
    }


def check_crawl(summary, pages: list, sims: dict, golden: dict[str, str]) -> list[str]:
    errors = []
    if sorted(p.processed_order for p in pages) != list(range(1, len(pages) + 1)):
        errors.append("processed_order is not 1..N")
    for h, sim in sims.items():
        mine = sorted(
            (p for p in pages if p.host == synth.host_name(h)), key=lambda p: p.processed_order
        )
        if [p.url for p in mine] != [s.url for s in sim.items]:
            errors.append(f"host {h}: order differs from reference_sim")
        elif [p.content or None for p in mine] != [s.content for s in sim.items]:
            errors.append(f"host {h}: content differs from reference_sim")
    bad = [p.url for p in pages if (p.content or None) != (golden.get(p.url) or None)]
    if bad:
        errors.append(f"{len(bad)} pages differ from golden text, e.g. {bad[0]}")
    for counter in (
        "items_processed",
        "pages_processed",
        "duplicates_skipped",
        "urls_excluded",
        "total_filtered",
        "contents_crawled",
    ):
        want = sum(getattr(s, counter) for s in sims.values())
        if getattr(summary, counter) != want:
            errors.append(f"{counter}: {getattr(summary, counter)} != {want}")
    return errors


def serve_requests(
    rng: random.Random, pages: pd.DataFrame, source_id: str, reps: int
) -> list[tuple]:
    """(route, path, params, expected status, expected meta.total) — ``reps``
    of each route, parameters drawn from the crawled pages."""
    with_content = pages[pages.content.notna()]
    dates = sorted(pages.published_date.dropna())
    reqs = []
    for _ in range(reps):
        lo, hi = sorted(rng.sample(dates, 2))
        dated = ((pages.published_date >= lo) & (pages.published_date <= hi)).sum()
        params = rng.choice(
            [
                ({"source": [source_id]}, len(pages)),
                ({"startPublishedDate": [lo], "endPublishedDate": [hi]}, int(dated)),
                ({"page": [str(rng.randint(1, 3))]}, len(pages)),
            ]
        )
        reqs.append(("publications", "/api/publications", *params))
        h = rng.choice(list(pages.hash))
        reqs.append(("publication_by_hash", f"/api/publications/{h}", {}, None))
        reqs.append(("listing_view", "/", {"page": [str(rng.randint(1, 3))]}, None))
        h = rng.choice(list(with_content.hash))
        reqs.append(("detail_view", f"/{h}", {}, None))
    return reqs


def run_serve(spans: Spans, app, reqs: list[tuple]) -> list[str]:
    errors = []
    for route, path, params, total in reqs:
        with spans.span(f"serve.{route}"):
            status, body = app.handle(path, params)
        if status != 200:
            errors.append(f"{path}: status {status}")
        elif total is not None and body["meta"]["total"] != total:
            errors.append(f"{path} {params}: total {body['meta']['total']} != {total}")
        elif route == "publication_by_hash" and body["hash"] != path.rsplit("/", 1)[1]:
            errors.append(f"{path}: wrong row")
    return errors


def probes(ctx: Ctx, spans: Spans, crawl: Crawl, corpus, sims: dict) -> dict[str, float]:
    """Standalone calls into the fetch and extract layers over this run's
    corpus, written to Spark's no-op sink, plus driver-only kernels."""

    def sink(name: str, df) -> None:
        with spans.span(name):
            df.write.format("noop").mode("overwrite").save()

    urls = [
        synth.listing_url(h, p) for h, s in sims.items() for p in range(1, s.pages_processed + 1)
    ] + [i.url for s in sims.values() for i in s.items]
    cand = ctx.spark.createDataFrame([(u,) for u in urls], "url string")
    fetched = crawl.fetcher.fetch(cand, size_hint=len(urls))
    sink("probe.fetch", fetched)
    hits = fetched.count()
    listing = corpus.where(F.col("url").contains("/list/"))
    sink("probe.listing", extract_listing_stage(listing, SYNTH_SOURCE.listing))
    articles = corpus.where(~F.col("url").contains("/list/")).select("url", "html")
    sink("probe.content", extract_content_stage(articles, SYNTH_SOURCE.content))

    bodies = [bytes(r.html).decode() for r in articles.limit(200).collect()]
    mb = sum(map(len, bodies)) / 1e6
    t0, n = time.monotonic(), 0
    while n == 0 or time.monotonic() - t0 < 0.5:
        for b in bodies:
            html_to_markdown(b)
        n += 1
    md_rate = n * mb / (time.monotonic() - t0)
    dates = pd.Series(
        [
            synth.article_date_raw(h, i)
            for h, count in zip(crawl.hosts, synth.zipf_article_counts(N_HOSTS, N_ARTICLES))
            for i in range(count)
        ]
        * 20
    )
    t0 = time.monotonic()
    parse_published_dates_series(dates)
    return {
        "fetcher.probe_s": spans.total_s("probe.fetch"),
        "fetcher.hit_ratio": hits / len(urls),
        "extraction.listing_probe_s": spans.total_s("probe.listing"),
        "extraction.content_probe_s": spans.total_s("probe.content"),
        "extraction.md_kernel_mb_per_s": md_rate,
        "extraction.date_kernel_per_s": len(dates) / (time.monotonic() - t0),
    }


def prepare(seed: int, rundir: str) -> tuple[list[int], list[tuple], str]:
    """The seeded hosts and corpus rows, also written as parquet for the crawl."""
    hosts, rows = pick_hosts(seed)
    path = os.path.join(rundir, "corpus")
    write_corpus(rows, path, files=len(os.sched_getaffinity(0)))
    return hosts, rows, path


def run(ctx: Ctx, inputs: tuple[list[int], list[tuple], str]) -> Outcome:
    hosts, rows, corpus_path = inputs
    spark, spans = ctx.spark, Spans()
    t = time.monotonic()
    corpus = spark.read.parquet(corpus_path)
    crawl = Crawl(ctx, corpus, hosts, spans)
    seed_s = time.monotonic() - t
    if ctx.trace:
        crawl.instrument()
        for fn in ("markdown_to_html", "render_listing", "render_detail"):
            spans.wrap(http, fn, "serve.render")
    summary, warm_urls = crawl.run(on_warm=ctx.measure_start)

    # -- untimed checks -------------------------------------------------
    rounds = spans.of("round")
    crawl_wall = spans.total_s("crawl")
    urls = summary.pages_processed + summary.contents_crawled
    golden = {r[0]: r[3] for r in rows}
    sims = expected({r[0]: r[2] for r in rows}, crawl.hosts, summary.rounds)
    pages_df = crawl.wh.read("pages", schemas.PAGES_OUT)
    pages = pages_df.select("url", "host", "content", "processed_order").collect()
    crawl_errors = check_crawl(summary, pages, sims, golden)

    app = http.ApiApp(pages_df, crawl.wh.read("sessions", schemas.SESSIONS), [SYNTH_SOURCE])
    served = pages_df.select("hash", "content", "published_date").toPandas()
    # the traced run times each route three times; the untimed check needs one
    reqs = serve_requests(random.Random(ctx.seed), served, SYNTH_SOURCE.id, 3 if ctx.trace else 1)
    serve_errors = run_serve(spans, app, reqs)
    probe = probes(ctx, spans, crawl, corpus, sims) if ctx.trace else {}

    def layers(events) -> dict[str, float]:
        window = spans.of("crawl")
        start, end = window[0]
        in_crawl = [(n, t0, t1) for n, t0, t1 in spans.rows if start <= t0 <= end]
        walls = [t1 - t0 for t0, t1 in rounds]
        gaps = [(t1 - t0) - events.busy_ms([(t0, t1)]) for t0, t1 in rounds]
        writes = [r for r in in_crawl if r[0] in ("catalog.append", "catalog.replace")]
        per_round = max(1, len(rounds))

        def total(name: str) -> float:
            return sum(t1 - t0 for n, t0, t1 in in_crawl if n == name) / 1000.0

        wh_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(crawl.wh_path) for f in fs
        )
        serve_reqs = [w for r in SERVE_ROUTES for w in spans.of(f"serve.{r}")]
        return {
            "runner.rounds": len(rounds),
            "runner.round_s": statistics.median(walls) / 1000.0,
            "runner.jobs_per_round": len(events.jobs_in(rounds)) / per_round,
            "runner.driver_gap_s": statistics.median(gaps) / 1000.0,
            "runner.job_busy_s": statistics.median(w - g for w, g in zip(walls, gaps)) / 1000.0,
            "runner.span_coverage": sum(walls) / 1000.0 / crawl_wall,
            "fetcher.calls": sum(1 for r in in_crawl if r[0] == "fetcher.fetch"),
            "catalog.commit_s": total("catalog.commit") / per_round,
            "catalog.write_s": sum(t1 - t0 for _, t0, t1 in writes) / 1000.0 / per_round,
            "catalog.writes_per_round": len(writes) / per_round,
            "catalog.read_s": total("catalog.read") / per_round,
            "catalog.bytes_per_url": wh_bytes / max(1, urls),
            **{f"serve.{r}_s": spans.median_s(f"serve.{r}") for r in SERVE_ROUTES},
            "serve.jobs_per_request": len(events.jobs_in(serve_reqs)) / max(1, len(serve_reqs)),
            "serve.render_s": spans.total_s("serve.render") / max(1, len(serve_reqs)),
            **{f"spark.{k}": v for k, v in events.fold(window).items()},
            **probe,
        }

    return Outcome(
        throughput_per_s=(urls - warm_urls) / crawl_wall,
        op_p50_ms=statistics.median(t1 - t0 for t0, t1 in rounds),
        # a wrong crawl output fails every round that produced it
        attempted=len(rounds) + len(reqs),
        failed=(len(rounds) if crawl_errors else 0) + len(serve_errors),
        errors=crawl_errors + serve_errors,
        detail={
            "warm_rounds_ms": [round(t1 - t0, 1) for t0, t1 in spans.of("warm_round")],
            "rounds_ms": [round(t1 - t0, 1) for t0, t1 in rounds],
            "crawl_wall_s": crawl_wall,
            "urls": urls - warm_urls,
            "seed_s": seed_s,
            "stopped_reason": summary.stopped_reason,
        },
        layers=layers,
    )
