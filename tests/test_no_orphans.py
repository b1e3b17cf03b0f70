"""Orphan guard: every top-level function or class in ``ethos_spark/``,
and every public method or property of a top-level ``ethos_spark/`` class,
is used by some non-test module of the repo, or is listed in ``KEEP`` /
``KEEP_METHODS`` with the reason it stays without such a caller.

"Used" is syntactic: a ``Name``, an ``Attribute`` or an import alias with
the def's name anywhere in a non-test ``.py`` file. Docstrings and
comments do not count; names inside f-string expressions do. A new def
that only tests call fails here until it gets a production caller, is
deleted, or earns a ``KEEP`` entry."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

KEEP = {
    "Fetcher": "the fetch protocol CorpusFetcher and HttpFetcher implement",
    "HttpFetcher": "the real-network fetch path (tests/test_http_fetcher_e2e.py)",
    "classify": "scalar langid oracle the batch classifier is tested against",
    "build_corpus": "reference simulator's in-memory corpus for parity tests",
    "read_metrics_stream": "file-source stream over the metrics table",
    "rolling_crawl_counters": "the A4 counters as a streaming aggregation",
    "counts_by_source": "reference serve query (ContentMetadataStore counts)",
    "count_by_source": "reference serve query (ContentMetadataStore count)",
    "session_error_counts": "reference analytics query A9 (per-session errors)",
    "resolve_absolute_url": "strict resolver with parity to the reference url.ts",
    "read_warc_record": "CDX random access into a WARC segment",
    "serve_background": "starts the HTTP API on a daemon thread (HTTP serve tests)",
    "decontaminate": "drop policy applied to a contamination_report",
    "deterministic_sample": "unstratified form of stratified_sample",
    "host_link_graph": "host-level PageRank input from the outlinks table",
    "streaming_exact_dedup_within": "watermark-bounded variant of stream dedup",
}

KEEP_METHODS = {
    "seen_hashes": "reference-simulator output the parity tests compare",
    "handle_starttag": "HTMLParser callback",
    "handle_endtag": "HTMLParser callback",
    "handle_startendtag": "HTMLParser callback",
    "handle_data": "HTMLParser callback",
    "register_bucketed_corpus": "only caller is the child-script string in "
    "BENCH/bench_scaling.py",
}


def _sources():
    for path in sorted(ROOT.rglob("*.py")):
        parts = path.relative_to(ROOT).parts
        if parts[0] == "tests" or any(
            p.startswith(".") or p == "__pycache__" for p in parts
        ):
            continue
        yield parts, ast.parse(path.read_text(), str(path))


def _orphans() -> tuple[set[str], set[str]]:
    """(unused top-level defs, unused public methods) of ``ethos_spark/``."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    used: set[str] = set()
    defs: set[str] = set()
    methods: set[str] = set()
    for parts, tree in _sources():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
        if parts[0] == "ethos_spark":
            defs.update(
                n.name
                for n in tree.body
                if isinstance(n, (*funcs, ast.ClassDef))
                and not n.name.startswith("__")
            )
            methods.update(
                m.name
                for n in tree.body
                if isinstance(n, ast.ClassDef)
                for m in n.body
                if isinstance(m, funcs) and not m.name.startswith("_")
            )
    return defs - used, methods - used


def _check_keeps(orphans: set[str], keep: dict[str, str], name: str) -> None:
    assert not orphans - keep.keys(), (
        f"no non-test caller; delete, wire up, or add to {name} with a reason: "
        f"{sorted(orphans - keep.keys())}"
    )
    assert not keep.keys() - orphans, (
        f"now used outside tests; drop from {name}: {sorted(keep.keys() - orphans)}"
    )


def test_unused_defs_are_exactly_the_deliberate_keeps():
    _check_keeps(_orphans()[0], KEEP, "KEEP")


def test_unused_methods_are_exactly_the_deliberate_keeps():
    _check_keeps(_orphans()[1], KEEP_METHODS, "KEEP_METHODS")


def test_store_primitives_only_in_artifacts_and_catalog():
    """Derived stores key, publish and check through ``ethos_spark.artifacts``
    (the warehouse manifest in ``catalog.py`` is the other publisher): no
    other module of the library or the entry calls ``os.replace``,
    ``os.stat`` or ``tempfile.gettempdir`` to build a store of its own."""
    primitives = {("os", "replace"), ("os", "stat"), ("tempfile", "gettempdir")}
    allowed = {("ethos_spark", "artifacts.py"), ("ethos_spark", "catalog.py")}
    calls = sorted(
        "/".join(parts) + f": {node.func.value.id}.{node.func.attr}"
        for parts, tree in _sources()
        if (parts[0] == "ethos_spark" or parts == ("__spark_entry__.py",))
        and parts not in allowed
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and (node.func.value.id, node.func.attr) in primitives
    )
    assert not calls, f"store primitives outside artifacts.py/catalog.py: {calls}"
