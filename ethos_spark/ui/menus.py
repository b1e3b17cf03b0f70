"""Post-crawl / main menus — parity with the reference's inquirer menus
(src/ui/menus.ts, src/ui/utils.ts), as stdin-driven line prompts like
ui/viewer.py so every path is script-testable.

Pure pieces ported exactly:
- ``calculate_total_errors`` (menus.ts:11-22): listing error messages +
  content error messages + required-field issues.
- ``required_field_issues`` (utils.ts:107-113): non-optional fields with
  successCount < totalAttempts.
- ``post_crawl_choices`` (menus.ts:24-61): ``View extracted data (N)``
  with N from the session junction when available (itemsFound fallback),
  ``View crawling errors (M)`` only when M > 0.
- main-menu command table + exit flow (menus.ts:90-131, "Goodbye!").
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence


def required_field_issues(field_stats: Sequence[Mapping]) -> list[Mapping]:
    """utils.ts:107-113 — rows are dict-likes with is_optional /
    success_count / total_attempts (the FIELD_STATS table's columns), one
    per field: a session's per-round rows summed first, or a field short
    in k rounds counts k times. The menu total and the errors report
    both filter through here."""
    return [
        s
        for s in field_stats
        if not s["is_optional"] and s["success_count"] < s["total_attempts"]
    ]


def calculate_total_errors(
    listing_error_messages: Sequence[str],
    content_error_messages: Sequence[str],
    field_stats: Sequence[Mapping],
) -> int:
    """menus.ts:11-22."""
    return (
        len(listing_error_messages or [])
        + len(content_error_messages or [])
        + len(required_field_issues(field_stats))
    )


def post_crawl_choices(
    items_found: int,
    total_errors: int,
    stored_count: int | None = None,
    extra: Sequence[tuple[str, str]] = (),
) -> list[tuple[str, str]]:
    """menus.ts:24-61: (label, value) pairs; stored junction count wins
    over itemsFound when known."""
    available = stored_count if stored_count is not None else items_found
    choices = [(f"View extracted data ({available})", "view")]
    if total_errors > 0:
        choices.append((f"View crawling errors ({total_errors})", "errors"))
    choices.extend(extra)
    return choices


POST_CRAWL_EXTRA = [
    ("Crawl another source", "crawl"),
    ("Return to main menu", "main"),
    ("Exit", "exit"),
]

MAIN_COMMANDS = [
    ("crawl", "Start crawling a source"),
    ("sessions", "Browse previous crawl sessions"),
    ("clean", "Clean stored data"),
    ("exit", "Exit program"),
]


def _pick(
    message: str,
    choices: list[tuple[str, str]],
    input_fn,
    print_fn,
) -> str:
    """Numbered line-prompt stand-in for inquirer's list prompt."""
    while True:
        print_fn(message)
        for i, (label, _) in enumerate(choices, 1):
            print_fn(f"{i}. {label}")
        try:
            cmd = input_fn("> ").strip()
        except EOFError:
            return "exit"
        if cmd.isdigit() and 1 <= int(cmd) <= len(choices):
            return choices[int(cmd) - 1][1]
        if cmd in {v for _, v in choices}:
            return cmd
        print_fn("Unknown command")


def show_post_crawl_menu(
    items_found: int,
    total_errors: int,
    stored_count: int | None = None,
    input_fn=input,
    print_fn=print,
) -> str:
    return _pick(
        "What would you like to do next:",
        post_crawl_choices(
            items_found, total_errors, stored_count, POST_CRAWL_EXTRA
        ),
        input_fn,
        print_fn,
    )


def show_main_menu(
    handlers: Mapping[str, Callable[[], str | None]],
    input_fn=input,
    print_fn=print,
) -> None:
    """menus.ts:99-131: loop the command table; handlers return the next
    action ('crawl' re-enters the crawl flow, 'exit' leaves, anything
    else returns to the menu)."""
    choices = [(f"{n} - {d}", n) for n, d in MAIN_COMMANDS]
    while True:
        command = _pick("Select a command:", choices, input_fn, print_fn)
        if command == "exit":
            print_fn("Goodbye!")
            return
        handler = handlers.get(command)
        action = handler() if handler else print_fn("Unknown command")
        while action == "crawl":
            action = handlers["crawl"]()
        if action == "exit":
            print_fn("Goodbye!")
            return
