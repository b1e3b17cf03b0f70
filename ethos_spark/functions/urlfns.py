"""URL resolution, canonicalization, hashing.

Reference parity:
- ``resolveAbsoluteUrl`` strict variant (src/utils/url.ts:1-14): absolute
  http(s) passthrough, else RFC-3986 join, raise on failure.
- lenient browser variant (BrowserFieldExtractor.ts:11-23): return raw value
  on failure.
- ``generateStringHash`` = SHA-1 hex of the URL (src/utils/hash.ts:3-7,
  applied to URLs at ContentStore.ts:106).

Canonicalization (``url_canon``) is OUR addition required by the north_rule
("bloom/cuckoo URL-seen set over canonicalized+hashed URLs"): lowercase
scheme+host, strip fragment, drop default ports, sort query params, keep
path verbatim. The seen-set keys on sha1(url_canon).
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import urljoin, urlsplit, urlunsplit

_HASH_RE = re.compile(r"^[a-f0-9]{40}$", re.IGNORECASE)


def sha1_hex(s: str) -> str:
    return hashlib.sha1(s.encode("utf-8")).hexdigest()


def is_hash_valid(h: str | None) -> bool:
    return bool(h) and _HASH_RE.match(h) is not None


def resolve_absolute_url(url: str, base_url: str) -> str:
    """Strict resolver (throws), parity with utils/url.ts:1-14."""
    if url.startswith("http://") or url.startswith("https://"):
        return url
    try:
        resolved = urljoin(base_url, url)
    except Exception as e:  # pragma: no cover - urljoin rarely raises
        raise ValueError(
            f'Failed to resolve URL "{url}" against base "{base_url}": {e}'
        ) from e
    if not resolved.startswith(("http://", "https://")):
        raise ValueError(
            f'Failed to resolve URL "{url}" against base "{base_url}": '
            "Invalid URL"
        )
    return resolved


def resolve_url_lenient(url: str | None, base_url: str) -> str | None:
    """Browser-context resolver: original value on failure
    (BrowserFieldExtractor.ts:11-23)."""
    if not url:
        return None
    try:
        return urljoin(base_url, url)
    except Exception:
        return url


_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_url(url: str) -> str:
    """Deterministic canonical form for seen-set membership.

    Query params sort on the RAW ``k=v`` byte strings (no decode/re-encode
    round trip — lossless, and exactly reproducible JVM-side in
    CrawlRunner._with_url_cols; a pytest asserts the two agree)."""
    parts = urlsplit(url.strip())
    scheme = parts.scheme.lower()
    host = parts.hostname.lower() if parts.hostname else ""
    port = parts.port
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    query = "&".join(sorted(p for p in parts.query.split("&") if p))
    return urlunsplit((scheme, netloc, path, query, ""))

