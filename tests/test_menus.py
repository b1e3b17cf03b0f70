"""Menu parity (reference src/ui/menus.ts + utils.ts): error totals,
post-crawl choice labels and gating, main-menu loop semantics."""

from ethos_spark.ui.menus import (
    calculate_total_errors,
    post_crawl_choices,
    required_field_issues,
    show_main_menu,
    show_post_crawl_menu,
)


def _fs(name, opt, ok, att):
    return {
        "field_name": name,
        "is_optional": opt,
        "success_count": ok,
        "total_attempts": att,
    }


def test_required_field_issues_filters_like_reference():
    stats = [
        _fs("title", False, 9, 10),   # required, lossy -> issue
        _fs("author", True, 0, 10),   # optional -> never an issue
        _fs("url", False, 10, 10),    # required, clean -> no issue
    ]
    assert [s["field_name"] for s in required_field_issues(stats)] == ["title"]


def test_calculate_total_errors_sums_three_sources():
    stats = [_fs("title", False, 9, 10), _fs("date", False, 2, 10)]
    assert calculate_total_errors(["l1", "l2"], ["c1"], stats) == 5
    assert calculate_total_errors([], [], []) == 0


def test_post_crawl_choices_labels_and_error_gating():
    # junction count wins over itemsFound (menus.ts:31-45)
    c = post_crawl_choices(items_found=80, total_errors=0, stored_count=42)
    assert c[0] == ("View extracted data (42)", "view")
    assert all(v != "errors" for _, v in c)  # no errors -> no error entry
    c2 = post_crawl_choices(items_found=80, total_errors=3)
    assert c2[0] == ("View extracted data (80)", "view")
    assert ("View crawling errors (3)", "errors") in c2


class Script:
    def __init__(self, cmds):
        self.cmds = list(cmds)
        self.out = []

    def input(self, _p=""):
        if not self.cmds:
            raise EOFError
        return self.cmds.pop(0)

    def print(self, *a):
        self.out.append(" ".join(str(x) for x in a))
        return None


def test_post_crawl_menu_numeric_and_value_input():
    s = Script(["2"])
    got = show_post_crawl_menu(10, 1, None, s.input, s.print)
    assert got == "errors"
    s2 = Script(["exit"])
    assert show_post_crawl_menu(10, 0, None, s2.input, s2.print) == "exit"


def test_main_menu_dispatch_and_goodbye():
    calls = []

    def mk(name, ret=None):
        def h():
            calls.append(name)
            return ret

        return h

    s = Script(["sessions", "bogus", "exit"])
    show_main_menu(
        {"crawl": mk("crawl"), "sessions": mk("sessions"), "clean": mk("clean")},
        s.input,
        s.print,
    )
    assert calls == ["sessions"]
    assert "Unknown command" in s.out
    assert s.out[-1] == "Goodbye!"


def test_main_menu_crawl_again_loop_then_exit_action():
    seq = iter(["crawl", None])  # first crawl returns 'crawl' again, then stop

    calls = []

    def crawl():
        calls.append("crawl")
        return next(seq)

    def sessions():
        calls.append("sessions")
        return "exit"  # handler-driven exit (menus.ts:126-129)

    s = Script(["crawl", "sessions"])
    show_main_menu({"crawl": crawl, "sessions": sessions}, s.input, s.print)
    assert calls == ["crawl", "crawl", "sessions"]
    assert s.out[-1] == "Goodbye!"


def test_menu_error_total_matches_errors_report(tmp_path, monkeypatch, capsys):
    """A required field short in two rounds is ONE issue, in the
    post-crawl menu total as in the errors report (menus.ts:11-22 counts
    the session's fieldStats, one entry per field)."""
    import io
    import re

    from ethos_spark import cli, schemas
    from ethos_spark.catalog import Warehouse
    from ethos_spark.serve.errors_report import render_errors_report
    from ethos_spark.session import get_spark
    from ethos_spark.synth import build_pages_df, listing_items_spec

    # one host, 50 articles: listing pages 4 and 5 (rounds 4 and 5) each
    # hold an item without a url, a required listing field
    assert [
        p for p in range(1, 6)
        if any(it["omit_url"] for it in listing_items_spec(0, p, 50))
    ] == [4, 5]
    spark = get_spark("test-menu-errors", master="local[2]", shuffle_partitions=2)
    corpus, wh_dir = str(tmp_path / "corpus"), str(tmp_path / "wh")
    build_pages_df(spark, 1, 50).write.parquet(corpus)

    monkeypatch.setattr("sys.stdin", io.StringIO("crawl\nexit\n"))
    cli.main(["menu", "--warehouse", wh_dir, "--corpus", corpus])
    menu_total = int(
        re.search(r"View crawling errors \((\d+)\)", capsys.readouterr().out)[1]
    )

    try:
        wh = Warehouse(spark, wh_dir)
        fs = wh.read("field_stats", schemas.FIELD_STATS)
        url_rounds = {
            r["round"]
            for r in fs.where(
                (fs.stage == "listing") & (fs.field_name == "url")
                & (fs.success_count < fs.total_attempts)
            ).collect()
        }
        assert len(url_rounds) == 2, url_rounds
        session = wh.read("sessions", schemas.SESSIONS).collect()[0]
        report = render_errors_report(session, fs, "now")
        assert "missing required field: url" in report
        assert f"Total errors: {menu_total}\n" in report, (menu_total, report)
    finally:
        spark.stop()


def test_cli_leaves_a_callers_session_running(tmp_path):
    """A command run inside a caller's session (a test, a notebook) must
    not stop it, nor rewrite its runtime conf: the CLI uses an active
    session as it is and stops only a session it started."""
    from pyspark.sql import SparkSession

    from ethos_spark import cli
    from ethos_spark.session import get_spark

    spark = get_spark("test-cli-session", master="local[2]", shuffle_partitions=2)
    try:
        assert cli.main(["sessions", "--warehouse", str(tmp_path / "wh")]) == 0
        assert SparkSession.getActiveSession() is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
        assert spark.range(3).count() == 3
    finally:
        spark.stop()
