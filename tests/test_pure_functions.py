"""Unit invariants ported from the reference's pure-function tests
(SURVEY.md §5: date table, whitespace table, sha1, url resolution, dedup)."""

from datetime import datetime, timezone

import pytest

from ethos_spark.extraction.html import normalize_ws, parse_html
from ethos_spark.functions.datefns import (
    DateParseError,
    parse_published_date,
    parse_published_date_or_none,
)
from ethos_spark.functions.urlfns import (
    canonicalize_url,
    is_hash_valid,
    resolve_absolute_url,
    sha1_hex,
)

NOW = datetime(2025, 7, 10, 15, 30, tzinfo=timezone.utc)


# FIXTURES.md §5 / reference src/tests/utils/date.test.ts:6-58
@pytest.mark.parametrize(
    "raw,expected",
    [
        ("July 10, 2025", "2025-07-10T00:00:00.000Z"),
        ("  July 10, 2025  ", "2025-07-10T00:00:00.000Z"),
        ("Published July 10, 2025", "2025-07-10T00:00:00.000Z"),
        ("Posted on May 30, 2025", "2025-05-30T00:00:00.000Z"),
        ("On May 30, 2025", "2025-05-30T00:00:00.000Z"),
        ("2025-07-10", "2025-07-10T00:00:00.000Z"),
        ("10 July 2025", "2025-07-10T00:00:00.000Z"),
        ("3 July 2025", "2025-07-03T00:00:00.000Z"),
        ("2025-07-25T12:00:00-07:00", "2025-07-25T19:00:00.000Z"),
        ("2025-07-25T12:00:00Z", "2025-07-25T12:00:00.000Z"),
        ("published   July  10,   2025", "2025-07-10T00:00:00.000Z"),
    ],
)
def test_date_parse_table(raw, expected):
    assert parse_published_date(raw, NOW) == expected


@pytest.mark.parametrize("raw", ["not a date", "", None, "July 45, 2025", "Smarch 1, 2025"])
def test_date_parse_errors(raw):
    with pytest.raises(DateParseError):
        parse_published_date(raw, NOW)
    assert parse_published_date_or_none(raw, NOW) is None


def test_date_relative_with_injected_clock():
    assert parse_published_date("today", NOW) == "2025-07-10T15:30:00.000Z"
    assert parse_published_date("yesterday", NOW) == "2025-07-09T15:30:00.000Z"
    assert parse_published_date("Posted on today", NOW) == "2025-07-10T15:30:00.000Z"


# reference src/tests/crawlers/extractors/BrowserFieldExtractor.whitespace.test.ts:6-41
@pytest.mark.parametrize(
    "raw,expected",
    [
        ("  Hello    World  \n  \t  Test  ", "Hello World Test"),
        ("a b", "a b"),  # \s matches NBSP in JS and Python re
        ("", None),
        ("   \n\t  ", None),
        (None, None),
        ("single", "single"),
    ],
)
def test_whitespace_normalize(raw, expected):
    assert normalize_ws(raw) == expected


# reference src/utils/hash.ts (sha1 of URL) — byte parity with node crypto
def test_sha1_parity():
    assert sha1_hex("") == "da39a3ee5e6b4b0d3255bfef95601890afd80709"
    assert sha1_hex("abc") == "a9993e364706816aba3e25717850c26c9cd0d89d"
    assert is_hash_valid(sha1_hex("x"))
    assert not is_hash_valid("zz")
    assert not is_hash_valid(None)


# reference src/utils/url.ts
def test_url_resolution():
    assert resolve_absolute_url("https://a.b/c", "https://x.y") == "https://a.b/c"
    assert (
        resolve_absolute_url("/p/q", "https://a.b/list/1") == "https://a.b/p/q"
    )
    assert (
        resolve_absolute_url("p2", "https://a.b/list/1") == "https://a.b/list/p2"
    )
    with pytest.raises(ValueError):
        resolve_absolute_url("notaurl", "alsonotaurl")


def test_canonicalize_url():
    assert (
        canonicalize_url("HTTPS://News.Example.ORG:443/x?b=2&a=1#frag")
        == "https://news.example.org/x?a=1&b=2"
    )
    assert canonicalize_url("http://h.example.com") == "http://h.example.com/"
    assert canonicalize_url("http://h.example.com:8080/p") == "http://h.example.com:8080/p"


def test_html_selector_engine():
    root = parse_html(
        '<div id="main"><header><h1>T</h1></header>'
        '<div class="a b"><a href="/x" disabled>l</a></div>'
        "<ul><li>1</li><li>2</li></ul></div>"
    )
    assert root.query_selector("#main header h1").text_content == "T"
    assert root.query_selector(".a.b > a").get("href") == "/x"
    assert root.query_selector("[disabled]") is not None
    assert len(root.query_selector_all("ul li")) == 2
    assert root.query_selector(".missing") is None


def test_vectorized_date_parse_equivalence():
    """The Arrow-batch kernel (ISO fast path + per-row tail) must match the
    per-row parser exactly, including invalid-calendar and NULL handling."""
    import pandas as pd

    from ethos_spark.functions.datefns import parse_published_dates_series

    cases = [
        "July 10, 2025", "2025-07-10", "2025-02-29",  # invalid: not a leap year
        "2024-02-29", "2025-13-01", "2025-00-10", "2025-07-32",
        "2025-07-25T12:00:00-07:00", "2025-07-25T12:00:00Z",
        "10 July 2025", "not a date", "", None, "Published 2025-01-05",
        "  2025-03-04  ", "2025-3-4",
    ]
    s = pd.Series(cases, dtype=object)
    vec = list(parse_published_dates_series(s, NOW))
    ref = [parse_published_date_or_none(x, NOW) for x in cases]
    assert vec == ref


def test_dup_cluster_summary_semantics():
    """dup_clusters over a known pair graph: two chains and an isolated
    pair -> min-id labels."""
    from ethos_spark.ops.dedup import dup_clusters
    from ethos_spark.session import get_spark

    spark = get_spark("test-cc", master="local[2]", shuffle_partitions=2)
    # components: {1,2,3,9} (chain 1-2, 2-3, 3-9), {5,6}, {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 6), (10, 11)],
        "doc_a long, doc_b long",
    )
    cl = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert cl == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5, 10: 10, 11: 10}


def test_dup_clusters_long_chain_pointer_doubling():
    """A 40-edge path graph has diameter 40 — plain min-label propagation
    needs ~40 rounds; pointer doubling converges in O(log d). max_iter=8
    would silently mislabel without doubling (ADVICE r2)."""
    from ethos_spark.ops.dedup import dup_clusters
    from ethos_spark.session import get_spark

    spark = get_spark("test-cc", master="local[2]", shuffle_partitions=2)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    cl = {r.doc_id: r.cluster_id for r in dup_clusters(pairs, max_iter=8).collect()}
    assert cl == {i: 0 for i in range(41)}


def test_dup_clusters_nonconvergence_raises():
    """max_iter too small for the diameter -> RuntimeError, never a silent
    wrong answer."""
    import pytest

    from ethos_spark.ops.dedup import dup_clusters
    from ethos_spark.session import get_spark

    spark = get_spark("test-cc", master="local[2]", shuffle_partitions=2)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, max_iter=1).count()


def test_cavnar_trenkle_langid():
    """The real classifier (ops/langid.py): correct labels on all held-out
    paragraphs, and on non-stopword-bearing text where the 3-language
    stopword voter fails (VERDICT r2 item 5)."""
    from ethos_spark.ops.langid import HELD_OUT_SAMPLES, classify

    for lang, text in HELD_OUT_SAMPLES.items():
        assert classify(text) == lang, lang
    # the stopword voter's blind spot: German/Spanish text containing NO
    # en/sv/fr stopwords — predict_lang can only ever answer en/sv/fr
    assert classify(
        "Geschwindigkeitsbegrenzung überschritten, Führerschein entzogen, "
        "Bußgeldbescheid zugestellt."
    ) == "de"
    assert classify(
        "Ayuntamiento anunció construcción: añadirán carreteras pequeñas "
        "y ensancharán caminos municipales."
    ) == "es"
    assert classify(None) is None and classify("") is None
    assert classify("12345 67890 !!!") is None


def test_langid_batch_equals_scalar_and_nonlatin_coverage():
    """classify_batch (vectorized profile match, VERDICT r3 item 8) is
    result-identical to the scalar kernel, and the profile set now covers
    the non-Latin scripts (item 3) — all 15 held-out paragraphs correct,
    including zh/ja/ru/ar/ko."""
    from ethos_spark.ops.langid import (
        HELD_OUT_SAMPLES,
        LANG_SAMPLES,
        classify,
        classify_batch,
    )

    assert {"zh", "ja", "ru", "ar", "ko"} <= set(LANG_SAMPLES)
    for lang in ("zh", "ja", "ru", "ar", "ko"):
        assert classify(HELD_OUT_SAMPLES[lang]) == lang, lang
    cases = (
        list(HELD_OUT_SAMPLES.values())
        + list(LANG_SAMPLES.values())
        + [None, "", "12345 !!!", "mixed text avec des mots und wörter",
           "漢字とひらがなの混在テキスト with english words"]
    )
    assert classify_batch(cases) == [classify(t) for t in cases]


def test_cavnar_trenkle_spark_udf():
    """Arrow-batched UDF path returns the same labels as the pure kernel."""
    from ethos_spark.ops.langid import HELD_OUT_SAMPLES, predict_lang_ct
    from ethos_spark.session import get_spark

    spark = get_spark("test-ct", master="local[2]", shuffle_partitions=2)
    rows = [(l, t) for l, t in sorted(HELD_OUT_SAMPLES.items())]
    df = spark.createDataFrame(rows, "lang_true string, text string")
    out = predict_lang_ct(df).collect()
    assert all(r.lang_ct == r.lang_true for r in out)
