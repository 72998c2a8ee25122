"""URL / key / hash column functions — SURVEY §2.2 (P1, P4, P6) and §2.5
(T2, T3, image keying of T1).

Everything here is a pure Column expression (JVM-side, whole-stage codegen);
the only pandas UDF is the *full* canonicalizer (query-param sort), which the
hot path avoids by using :func:`canonicalize` — the column version covers the
reference's behavior exactly (the reference never sorts query params).

Reference cites:
- URL validity regex: /root/reference/plugin/public/tools.go:188-193
- image key = urlsafe-base64(url), md5 hex when b64 > 200 chars:
  tools.go:228-231 (markdown pass) and tools.go:268-271 (html pass)
- extension = split on '.'/'?', reject ext > 5 chars: tools.go:176-186
- oversized link guard (>1000 chars skipped): tools.go:210-212, 250-252
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Full-match URL validity rule, transcribed from tools.go:188 (Go regexp,
# anchored by IsUrl's MatchString over the whole input via ^...$).
URL_RE = r"^(https?|ftp|file)://[-A-Za-z0-9+&@#/%?=~_|!:,.;]+[-A-Za-z0-9+&@#/%=~_|]$"


def is_url(col: Column) -> Column:
    """P1 — URL validity predicate (tools.go:188-193)."""
    return col.rlike(URL_RE)


def url_host(col: Column) -> Column:
    """Host (lowercased, port stripped) of a URL column.

    ``\\z`` not ``$``: Java's ``$`` also matches before a trailing newline,
    RE2's (the Arrow path) only at end of text — ``\\z`` means end-of-input
    in both, so the two canonicalizers agree on garbage input.
    """
    host = F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    host = F.regexp_replace(host, r":\d+\z", "")
    return F.lower(host)


def url_scheme(col: Column) -> Column:
    return F.lower(F.regexp_extract(col, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))


def url_target(col: Column) -> Column:
    """Path plus ``?query`` of an absolute URL, fragment dropped: what robots
    rules are matched against (RFC 9309 §2.2.2)."""
    return F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)", 1)


def canonicalize(col: Column) -> Column:
    """Canonical URL, pure column expressions (the frontier hot path).

    lowercases scheme+host, strips the fragment, strips default ports
    (:80 http, :443 https), collapses an empty path to '/'.  Rows without a
    ``scheme://hostport`` shape come back NULL — byte-aligned with the
    Arrow path (operators.arrow_frontier.canonicalize_arrays), including on
    malformed input: ``(?s)``/``\\z`` pin the Java-vs-RE2 newline semantics
    and tests/test_properties.py fuzzes the two paths against each other.
    """
    no_frag = F.regexp_replace(col, r"(?s)#.*\z", "")
    scheme = url_scheme(no_frag)
    host = url_host(no_frag)
    # Default-port strip is host-level; non-default ports survive.
    rawhost = F.regexp_extract(no_frag, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    port = F.regexp_extract(rawhost, r"(?s):(\d+)\z", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    hostport = F.when(keep_port, F.concat(host, F.lit(":"), port)).otherwise(host)
    rest = F.regexp_extract(
        no_frag, r"(?s)^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(.*)\z", 1
    )
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.when(
        no_frag.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+"),
        F.concat(scheme, F.lit("://"), hostport, rest),
    ).otherwise(F.lit(None).cast("string"))


def canonicalize_full():
    """Full canonicalizer UDF (adds sorted query params) — Arrow-vectorized.

    Not on the hot path; provided for sources whose URLs carry unordered
    query strings. Built lazily because pandas_udf needs an active session.
    """

    @F.pandas_udf("string")
    def _canon_udf(urls: pd.Series) -> pd.Series:
        from urllib.parse import parse_qsl, urlencode, urlsplit, urlunsplit

        def canon(u: str | None) -> str | None:
            if u is None:
                return None
            try:
                p = urlsplit(u)
                host = (p.hostname or "").lower()
                port = p.port
                if port and not (
                    (p.scheme == "http" and port == 80)
                    or (p.scheme == "https" and port == 443)
                ):
                    host = f"{host}:{port}"
                q = urlencode(sorted(parse_qsl(p.query, keep_blank_values=True)))
                return urlunsplit((p.scheme.lower(), host, p.path or "/", q, ""))
            except ValueError:
                return u

        return urls.map(canon)

    return _canon_udf


def url_hash64(col: Column) -> Column:
    """64-bit URL hash (xxhash64 built-in) — the membership key."""
    return F.xxhash64(col)


def md5_hex(col: Column) -> Column:
    """T2 — CalcMD5 (tools.go:195-198)."""
    return F.md5(col)


def urlsafe_b64(col: Column) -> Column:
    """T3 — URL-safe base64 (tools.go:228,268: base64.URLEncoding).

    Spark's base64 is standard-alphabet + padded; translate to the URL-safe
    alphabet for parity. Spark also MIME-wraps at 76 chars on some codepaths,
    so strip CR/LF defensively.
    """
    b64 = F.base64(col.cast("binary"))
    b64 = F.regexp_replace(b64, r"[\r\n]", "")
    return F.translate(b64, "+/", "-_")


def image_key(url: Column) -> Column:
    """Image/content key: urlsafe_b64(url), or md5 hex when b64 > 200 chars
    (tools.go:228-231, 268-271)."""
    b64 = urlsafe_b64(url)
    return F.when(F.length(b64) > 200, md5_hex(url)).otherwise(b64)


def file_extension(url: Column) -> Column:
    """P6 — extension after last '.', cut at '?', empty if >5 chars or none
    (tools.go:176-186)."""
    base = F.regexp_replace(url, r"\?.*$", "")
    ext = F.regexp_extract(base, r"\.([^./]*)$", 1)
    return F.when((F.length(ext) > 0) & (F.length(ext) <= 5), ext).otherwise(F.lit(""))


def oversized_link(url: Column, limit: int = 1000) -> Column:
    """P4 — oversized-link guard (tools.go:210-212): True ⇒ skip download."""
    return F.length(url) > limit


def resolve_link(src: Column, page_url: Column) -> Column:
    """Relative-URL resolution as in DownloadImage (tools.go:216-221,256-261):

    - absolute (has scheme) → as-is
    - root-relative ('/x')  → scheme://host + src
    - relative ('x')        → page URL directory + src
    """
    scheme_host = F.regexp_extract(page_url, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)", 1)
    page_dir = F.regexp_replace(
        F.regexp_replace(page_url, r"[?#].*$", ""), r"/[^/]*$", "/"
    )
    return (
        F.when(src.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), src)
        .when(src.startswith("/"), F.concat(scheme_host, src))
        .otherwise(F.concat(page_dir, src))
    )
