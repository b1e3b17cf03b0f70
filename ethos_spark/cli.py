"""spark-submit entry point mirroring the reference CLI (src/index.ts):

  spark-submit --py-files ethos_spark.zip -m ethos_spark.cli crawl \
      --source synthetic_news --warehouse /data/wh --corpus /data/pages \
      [--max-pages N] [--recrawl] [--resume] [--budget K] \
      [--rank-priority] [--round-budget K] [--fetch-robots]
  ... sessions --warehouse /data/wh
  ... publications --warehouse /data/wh [--source S] [--page N] [--limit K]
  ... clean --warehouse /data/wh --hashes h1,h2
  ... serve --warehouse /data/wh [--host H] [--port P]

`crawl` maps to crawlWithOptions (src/commands/crawl.ts:16-66): --max-pages
/ --recrawl (skipExistingUrls=false, index.ts:39) keep the reference flag
semantics; `sessions` and `publications` are the §3.2/§3.3 serve paths.
"""

from __future__ import annotations

import argparse
import json
import sys


def _session_field_rows(wh, session_id: str) -> list[dict]:
    """The session's field_stats rows summed per (stage, field) across
    rounds: one row per field, as the reference's session fieldStats."""
    import pyspark.sql.functions as F

    from ethos_spark import schemas

    return [
        r.asDict()
        for r in wh.read("field_stats", schemas.FIELD_STATS)
        .where(F.col("session_id") == session_id)
        .groupBy("stage", "field_name", "is_optional")
        .agg(
            F.sum("success_count").alias("success_count"),
            F.sum("total_attempts").alias("total_attempts"),
        )
        .collect()
    ]


def _crawl_summary_block(field_rows, config, summary) -> str:
    """The reference's post-crawl console summary (ui/summary.ts via
    display.ts displayResults) over ``_session_field_rows``, in config
    field order."""
    from ethos_spark.ui.summary import render_crawl_summary

    def ordered(stage: str, field_order: list[str]):
        order = {n: i for i, n in enumerate(field_order)}
        sel = [r for r in field_rows if r["stage"] == stage]
        return sorted(sel, key=lambda r: order.get(r["field_name"], len(order)))

    return render_crawl_summary(
        summary,
        config.name,
        ordered("listing", list(config.listing.fields)),
        ordered("content", list(config.content.fields)),
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ethos-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl")
    c.add_argument("--source", default="synthetic_news")
    c.add_argument("--warehouse", required=True)
    c.add_argument("--corpus", required=True, help="parquet dir of pages input")
    c.add_argument("--seeds", default="", help="comma-separated seed urls")
    c.add_argument("--max-pages", type=int, default=None)
    c.add_argument("--recrawl", action="store_true")
    c.add_argument("--resume", action="store_true")
    c.add_argument("--budget", type=int, default=10_000, help="per-host per-round")
    c.add_argument("--no-stop-on-all-duplicates", action="store_true")
    c.add_argument(
        "--rank-priority", action="store_true",
        help="PageRank over the discovered host link graph feeds frontier "
        "priority (high-value hosts crawl first)",
    )
    c.add_argument(
        "--round-budget", type=int, default=None,
        help="global per-round content-fetch cap ACROSS hosts (top-K by "
        "priority; overflow carries)",
    )
    c.add_argument(
        "--fetch-robots", action="store_true",
        help="fetch+parse robots.txt per newly discovered host; gate "
        "candidates and bootstrap Sitemap: lines into the frontier",
    )

    s = sub.add_parser("sessions")
    s.add_argument("--warehouse", required=True)

    e = sub.add_parser("errors")  # reference `errors` (commands/errors.ts)
    e.add_argument("--warehouse", required=True)
    e.add_argument(
        "--session", default=None, help="session id (default: latest)"
    )

    q = sub.add_parser("publications")
    q.add_argument("--warehouse", required=True)
    q.add_argument("--source", default=None)
    q.add_argument("--page", type=int, default=1)
    q.add_argument("--limit", type=int, default=20)

    d = sub.add_parser("clean")
    d.add_argument("--warehouse", required=True)
    d.add_argument("--hashes", required=True)

    v = sub.add_parser("serve")  # reference `ethos serve` (server/index.ts)
    v.add_argument("--warehouse", required=True)
    v.add_argument("--host", default="127.0.0.1")
    v.add_argument("--port", type=int, default=3000)

    mm = sub.add_parser("menu")  # reference interactive entry (ui/menus.ts)
    mm.add_argument("--warehouse", required=True)
    mm.add_argument("--corpus", default=None, help="pages input for crawl")
    mm.add_argument("--source", default="synthetic_news")

    w = sub.add_parser("view")  # reference interactive viewer (ui/viewer.ts)
    w.add_argument("--warehouse", required=True)
    w.add_argument("--session", default=None, help="session id (default: latest)")
    w.add_argument("--max-items", type=int, default=10_000)

    # warehouse maintenance (Iceberg: rewrite_data_files / expire_snapshots
    # / remove_orphan_files — the ops cadence a long-lived corpus needs)
    m = sub.add_parser("maintain")
    m.add_argument("--warehouse", required=True)
    m.add_argument(
        "--compact",
        default="",
        help="comma-separated tables to compact into one data dir",
    )
    m.add_argument("--vacuum", type=int, default=None, metavar="KEEP_LAST",
                   help="expire data dirs outside the last N snapshots")
    m.add_argument("--gc-orphans", action="store_true",
                   help="remove data dirs no committed snapshot references")

    x = sub.add_parser("export-warc")  # pages -> ISO 28500 segments
    x.add_argument("--warehouse", required=True)
    x.add_argument("--out", required=True, help="output dir for .warc.gz segments")
    x.add_argument("--segments", type=int, default=None,
                   help="number of segment files (default: pages partitioning)")

    iw = sub.add_parser("import-warc")  # ISO 28500 segments -> corpus parquet
    iw.add_argument("--in", dest="warc_in", required=True,
                    help="dir of .warc.gz segment files")
    iw.add_argument("--out", required=True, help="output parquet dir (url, html)")

    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from ethos_spark.session import get_spark

    # a caller's session (a test, a notebook) is used as it is — its conf
    # untouched — and outlives the command; stop only a session this
    # command started
    active = SparkSession.getActiveSession()
    spark = active or get_spark(f"ethos-{args.cmd}")
    try:
        return _run(args, spark)
    finally:
        if active is None:
            spark.stop()


def _run(args, spark) -> int:
    from ethos_spark.catalog import Warehouse

    if args.cmd == "import-warc":
        from ethos_spark.sources.warc import read_warc

        read_warc(spark, args.warc_in).select("url", "html").write.mode(
            "overwrite"
        ).parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"records": n, "out": args.out}))
        return 0
    wh = Warehouse(spark, args.warehouse)

    if args.cmd == "crawl":
        from ethos_spark.crawl.fetcher import CorpusFetcher
        from ethos_spark.crawl.runner import CrawlOptions, CrawlRunner
        from ethos_spark.sources.config import SOURCES

        if args.source not in SOURCES:
            print(
                f"unknown source {args.source!r}; available: "
                + ", ".join(sorted(SOURCES)),
                file=sys.stderr,
            )
            return 2
        config = SOURCES[args.source]
        runner = CrawlRunner(
            spark,
            wh,
            CorpusFetcher(spark.read.parquet(args.corpus)),
            config,
            CrawlOptions(
                max_pages=args.max_pages,
                skip_existing_urls=not args.recrawl,
                stop_on_all_duplicates=not args.no_stop_on_all_duplicates,
                per_host_budget=args.budget,
                prioritize_by_rank=args.rank_priority,
                round_content_budget=args.round_budget,
                fetch_robots=args.fetch_robots,
            ),
        )
        runner.install_sigint_handler()  # Ctrl-C → process_interrupted
        if args.resume:
            runner.resume()
        else:
            seeds = [u for u in args.seeds.split(",") if u] or [config.listing.url]
            runner.seed(seeds)
        summary = runner.run()
        print(
            _crawl_summary_block(
                _session_field_rows(wh, runner.session_id), config, summary
            )
        )
        print(summary.to_json())
    elif args.cmd == "sessions":
        from ethos_spark import schemas
        from ethos_spark.serve.queries import sessions_list

        for row in sessions_list(wh.read("sessions", schemas.SESSIONS)).collect():
            print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    elif args.cmd == "errors":
        from datetime import datetime, timezone

        from ethos_spark import schemas
        from ethos_spark.serve.errors_report import render_errors_report
        from ethos_spark.serve.queries import sessions_list

        sessions = wh.read("sessions", schemas.SESSIONS)
        if args.session:
            rows = sessions.where(
                sessions["id"] == args.session
            ).collect()
        else:
            rows = sessions_list(sessions).limit(1).collect()
        if not rows:
            print("no sessions found", file=sys.stderr)
            return 2
        fs = wh.read("field_stats", schemas.FIELD_STATS)
        print(
            render_errors_report(
                rows[0], fs, datetime.now(timezone.utc).isoformat()
            )
        )
    elif args.cmd == "publications":
        from ethos_spark.serve.queries import PublicationsQuery, publications

        rows, meta = publications(
            wh.read("pages"),
            PublicationsQuery(source=args.source, page=args.page, limit=args.limit),
        )
        print(json.dumps(meta))
        for row in rows.select("url", "title", "published_date").collect():
            print(json.dumps(row.asDict()))
    elif args.cmd == "clean":
        from ethos_spark.serve.admin import delete_content_by_hash

        print(json.dumps(delete_content_by_hash(wh, args.hashes.split(","))))
    elif args.cmd == "menu":
        import pyspark.sql.functions as F

        from ethos_spark import schemas
        from ethos_spark.serve.queries import sessions_list
        from ethos_spark.ui.menus import show_main_menu

        def _crawl():
            if not args.corpus:
                print("No --corpus given; crawl unavailable in this menu.")
                return None
            from datetime import datetime, timezone

            from ethos_spark.crawl.fetcher import CorpusFetcher
            from ethos_spark.crawl.runner import CrawlOptions, CrawlRunner
            from ethos_spark.serve.errors_report import render_errors_report
            from ethos_spark.sources.config import SOURCES
            from ethos_spark.ui.menus import (
                calculate_total_errors,
                show_post_crawl_menu,
            )

            config = SOURCES[args.source]
            runner = CrawlRunner(
                spark,
                wh,
                CorpusFetcher(spark.read.parquet(args.corpus)),
                config,
                CrawlOptions(),
            )
            runner.seed([config.listing.url])
            summary = runner.run()
            field_rows = _session_field_rows(wh, runner.session_id)
            print(_crawl_summary_block(field_rows, config, summary))
            action = show_post_crawl_menu(
                summary.items_found,
                # LISTING-stage fields only, as the errors report counts
                # them: the reference's summary.fieldStats is built from
                # config.listing.fields (MetadataTracker)
                calculate_total_errors(
                    summary.listing_error_messages,
                    summary.content_error_messages,
                    [r for r in field_rows if r["stage"] == "listing"],
                ),
                stored_count=summary.contents_crawled,
            )
            if action == "view":
                print("run: ethos-spark view --warehouse", args.warehouse)
                return None
            if action == "errors":
                srow = (
                    wh.read("sessions", schemas.SESSIONS)
                    .where(F.col("id") == runner.session_id)
                    .collect()
                )
                fs = wh.read("field_stats", schemas.FIELD_STATS)
                if srow:
                    print(
                        render_errors_report(
                            srow[0],
                            fs,
                            datetime.now(timezone.utc).isoformat(),
                        )
                    )
                return None
            return action if action in ("crawl", "exit") else None

        def _sessions():
            for row in (
                sessions_list(wh.read("sessions", schemas.SESSIONS))
                .limit(50)
                .collect()
            ):
                print(
                    f"{row['id']}  {row['source_id']}  "
                    f"{row['start_time']}  {row['stopped_reason']}"
                )
            return None

        def _clean():
            hashes = input("hashes to delete (comma-separated, empty=abort): ")
            if hashes.strip():
                from ethos_spark.serve.admin import delete_content_by_hash

                print(json.dumps(delete_content_by_hash(wh, hashes.split(","))))
            return None

        show_main_menu({"crawl": _crawl, "sessions": _sessions, "clean": _clean})
    elif args.cmd == "view":
        from datetime import datetime

        from ethos_spark import schemas
        from ethos_spark.serve.queries import session_contents, sessions_list
        from ethos_spark.ui.viewer import ViewerItem, run_viewer

        sessions = wh.read("sessions", schemas.SESSIONS)
        if args.session:
            sid_rows = sessions.where(sessions["id"] == args.session).collect()
        else:
            sid_rows = sessions_list(sessions).limit(1).collect()
        if not sid_rows:
            print("No crawl session available for viewing.", file=sys.stderr)
            return 2
        rows = (
            session_contents(
                wh.read("session_content", schemas.SESSION_CONTENT),
                wh.read("pages", schemas.PAGES_OUT),
                sid_rows[0]["id"],
            )
            .select("title", "hash", "url", "published_date", "content")
            .limit(args.max_items)  # terminal pager bound, not a query bound
            .collect()
        )
        run_viewer(
            [
                ViewerItem(
                    title=r.title or "(untitled)",
                    hash=r.hash,
                    url=r.url,
                    published_date=(
                        datetime.fromisoformat(r.published_date)
                        if r.published_date
                        else None
                    ),
                    content=r.content,
                )
                for r in rows
            ]
        )
    elif args.cmd == "export-warc":
        import pyspark.sql.functions as F

        from ethos_spark.sources.warc import write_warc

        pages = wh.read("pages").where(F.col("content").isNotNull()).select(
            "url", F.encode(F.col("content"), "UTF-8").alias("html")
        )
        if args.segments:
            pages = pages.repartition(args.segments, "url")
        manifest = write_warc(pages, args.out).collect()
        print(json.dumps({
            "files": len(manifest),
            "records": sum(m.n_records for m in manifest),
            "bytes": sum(m.n_bytes for m in manifest),
            "out": args.out,
        }))
    elif args.cmd == "maintain":
        out: dict = {}
        if args.gc_orphans:
            out["gc_orphans_removed"] = len(wh.gc_orphans())
        with wh.transaction():
            compacted = [t for t in args.compact.split(",") if t and wh.compact(t)]
            if compacted:
                wh.commit("compact")
        out["compacted"] = compacted
        if args.vacuum is not None:
            wh.vacuum(keep_last=args.vacuum)
            out["vacuum_keep_last"] = args.vacuum
        print(json.dumps(out))
    elif args.cmd == "serve":
        from ethos_spark.serve.http import ApiApp, make_server
        from ethos_spark.sources.config import SOURCES

        app = ApiApp.from_warehouse(spark, args.warehouse, list(SOURCES.values()))
        srv = make_server(app, args.host, args.port)
        print(
            f"Ethos API running at http://{args.host}:{srv.server_address[1]}"
            "/api/publications",
            flush=True,
        )
        try:
            srv.serve_forever()
        except KeyboardInterrupt:
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
