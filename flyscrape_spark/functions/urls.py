"""URL column builders: host extraction, canonicalization, validation.

The reference keeps URLs as exact strings (TrimSpace only,
/root/reference/scrape.go:271) and resolves relative links with Go's
net/url ResolveReference (modules/followlinks/followlinks.go:70).
We expose:

- ``host_of`` / ``scheme_of``  — JVM-side parse_url (no Python),
- ``host_of_str``              — ``host_of`` for Python strings,
- ``canonicalize``             — RFC-3986-lite canonical form as a pure
  Column expression chain, with a DuckDB rendering
  (``canonicalize_sql``) kept step-for-step identical so the driver's
  oracle reproduces it,
- ``resolve`` — full RFC 3986 relative-reference resolution (urljoin)
  used inside extraction UDFs; Python, but always Arrow-batched.

Canonical steps (applied only to http/https absolute URLs):
  1. trim surrounding whitespace           (scrape.go:271 semantics)
  2. strip the fragment
  3. lowercase scheme + authority
  4. drop default ports (:80 http, :443 https)
  5. empty path -> '/'
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlparse, urlsplit

from pyspark.sql import Column
from pyspark.sql import functions as F

_ABS = r"^[a-zA-Z][a-zA-Z0-9+.-]*://"
_PREFIX = r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)"
# java.net.URI: characters no URI may hold, and the server-based host
# forms (IPv4, or DNS labels whose last one starts with a letter)
_URI_ILLEGAL = re.compile(r'[\x00-\x20"<>\\^`{|}]')
_LABEL = r"[a-z0-9](?:[a-z0-9-]*[a-z0-9])?"
_SERVER_HOST = re.compile(
    rf"^(?:\d{{1,3}}(?:\.\d{{1,3}}){{3}}"
    rf"|(?:{_LABEL}\.)*[a-z](?:[a-z0-9-]*[a-z0-9])?\.?)$"
)


def host_of(url: Column | str) -> Column:
    """Lowercased URI host: no userinfo, no port. NULL for a URL that
    does not parse (a link with a raw space), also under ANSI mode,
    where plain ``parse_url`` raises and would fail the whole job."""
    u = F.col(url) if isinstance(url, str) else url
    return F.lower(F.try_parse_url(u, F.lit("HOST")))


def host_of_str(url: str) -> str | None:
    """Python twin of :func:`host_of` for plain strings (list
    seeds): lowercased host without userinfo or port, IPv6 literals
    bracketed as ``java.net.URI`` returns them. None where the JVM
    side gives NULL: no host, a non-numeric port, a character URI
    syntax forbids, or a host that is no IP address or DNS name."""
    if _URI_ILLEGAL.search(url):
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    port = parts.netloc.rpartition("@")[2].rpartition("]")[2].partition(":")[2]
    if port and not port.isdigit():
        return None
    host = parts.hostname
    if host and ":" in host:
        return f"[{host}]"
    return host if host and _SERVER_HOST.match(host) else None


def scheme_of(url: Column | str) -> Column:
    u = F.col(url) if isinstance(url, str) else url
    return F.lower(F.parse_url(u, F.lit("PROTOCOL")))


def canonicalize(url: Column | str) -> Column:
    """Canonical URL as a single JVM-side expression chain.

    This is the per-URL hot path (every frontier row, every
    generation), so regex is kept to ONE op — the scheme://authority
    prefix extraction. Fragment strip is a delimiter scan
    (substring_index), default-port strip and the http(s) test are
    substring compares on the already-lowercased prefix; all are
    provably equivalent to the regex forms they replaced because the
    prefix by construction contains no ``/?#`` (property-pinned
    Spark==DuckDB in tests/test_url_properties.py)."""
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    nofrag = F.substring_index(u, "#", 1)
    prefix = F.regexp_extract(nofrag, _PREFIX, 1)
    rest = nofrag.substr(F.length(prefix) + F.lit(1), F.lit(1 << 20))
    lp = F.lower(prefix)
    lp = F.when(
        lp.startswith("http://") & lp.endswith(":80"),
        lp.substr(F.lit(1), F.length(lp) - F.lit(3)),
    ).when(
        lp.startswith("https://") & lp.endswith(":443"),
        lp.substr(F.lit(1), F.length(lp) - F.lit(4)),
    ).otherwise(lp)
    rest = F.when(rest == "", F.lit("/")).when(
        F.substring(rest, 1, 1) == "?", F.concat(F.lit("/"), rest)
    ).otherwise(rest)
    scheme8 = F.lower(F.substring(u, 1, 8))
    is_http = scheme8.startswith("http://") | (scheme8 == "https://")
    return F.when(is_http, F.concat(lp, rest)).otherwise(u)


def canonicalize_sql(expr: str) -> str:
    """DuckDB SQL mirroring :func:`canonicalize` step-for-step."""
    u = f"trim({expr})"
    nofrag = f"split_part({u}, '#', 1)"
    prefix = f"regexp_extract({nofrag}, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)"
    rest = f"substr({nofrag}, length({prefix}) + 1)"
    lp = f"lower({prefix})"
    lp = (
        f"CASE WHEN starts_with({lp}, 'http://') AND ends_with({lp}, ':80') "
        f"THEN substr({lp}, 1, length({lp}) - 3) "
        f"WHEN starts_with({lp}, 'https://') AND ends_with({lp}, ':443') "
        f"THEN substr({lp}, 1, length({lp}) - 4) "
        f"ELSE {lp} END"
    )
    rest = (
        f"CASE WHEN {rest} = '' THEN '/' "
        f"WHEN substr({rest}, 1, 1) = '?' THEN '/' || {rest} "
        f"ELSE {rest} END"
    )
    is_http = (
        f"(starts_with(lower(substr({u}, 1, 8)), 'http://') "
        f"OR lower(substr({u}, 1, 8)) = 'https://')"
    )
    return f"CASE WHEN {is_http} THEN ({lp}) || ({rest}) ELSE {u} END"


def _has_dot_segments(path: str) -> bool:
    # any '.' or '..' path segment triggers RFC 3986 §5.2.4 removal —
    # those links take the general urljoin path
    return (
        "/./" in path or "/../" in path or path.endswith(("/.", "/.."))
        or path.startswith(("./", "../")) or path in (".", "..")
    )


def _plain(link: str) -> bool:
    """True when string concat reproduces urljoin byte-for-byte for
    this link: no empty-but-present query/fragment markers (urlsplit→
    urlunsplit drops a bare '?' or '#') and no WHATWG-stripped control
    chars (urlsplit removes tab/CR/LF, bpo-43882)."""
    return not (
        link.endswith(("?", "#")) or "?#" in link
        or "\t" in link or "\r" in link or "\n" in link
    )


_PREFIX_MEMO: tuple[str, str | None] = ("", None)


def _origin_prefix(origin: str) -> str | None:
    """scheme://authority of an http(s) origin; None when the origin
    isn't a plain absolute http(s) URL (general path handles it).
    Single-slot memo: the extraction UDF resolves every link of a
    page against one origin, so consecutive calls repeat the key."""
    global _PREFIX_MEMO
    if _PREFIX_MEMO[0] == origin:
        return _PREFIX_MEMO[1]
    out = _origin_prefix_uncached(origin)
    _PREFIX_MEMO = (origin, out)
    return out


def _origin_prefix_uncached(origin: str) -> str | None:
    if origin.startswith(("http://", "https://")) and _plain(origin):
        sep = origin.index("//") + 2
        if len(origin) <= sep:
            return None  # empty authority: urljoin inherits differently
        end = len(origin)
        for ch in "/?#":
            i = origin.find(ch, sep)
            if i != -1 and i < end:
                end = i
        return origin[:end] if end > sep else None
    return None


def resolve(origin: str, link: str) -> str | None:
    """RFC 3986 resolution + the reference's link validity rule:
    scheme must be http/https/empty *after* resolution
    (modules/followlinks/followlinks.go:88-94).

    Hot path of the extraction UDF (one call per extracted link).
    The two shapes that dominate real pages — absolute http(s) links
    and root-relative paths without dot segments — short-circuit to
    string ops; everything else (relative paths, dot segments,
    protocol-relative, other schemes, empty/None components, junk)
    takes the general urljoin path. Byte-for-byte equivalence with
    the general path over all shapes is property-pinned
    (tests/test_url_properties.py)."""
    if link.startswith(("http://", "https://")) and _plain(link):
        # absolute lowercase-http(s) link with a real authority:
        # urljoin returns it verbatim (same-scheme rebuild is the
        # identity; dot segments are checked because root-relative
        # rebuilds remove them — keep absolute fast-path symmetric)
        rest = link[link.index("//") + 2:]
        slash = rest.find("/")
        if rest and rest[0] not in "/?#" and (
            slash == -1
            or not _has_dot_segments(
                rest[slash:].split("?", 1)[0].split("#", 1)[0])
        ):
            return link
    elif link.startswith("/") and not link.startswith("//") and _plain(link):
        path = link.split("?", 1)[0].split("#", 1)[0]
        if not _has_dot_segments(path):
            prefix = _origin_prefix(origin)
            if prefix is not None:
                return prefix + link
    try:
        absolute = urljoin(origin, link)
        scheme = urlparse(absolute).scheme
    except ValueError:
        return None
    if scheme not in ("", "http", "https"):
        return None
    return absolute


# --------------------------------------------------- registrable domain

#: Default public-suffix subset for tests/fixtures. In production the
#: full Mozilla Public Suffix List (publicsuffix.org, ~9k rules) is
#: loaded from its published file and passed in — the expression size
#: stays linear in the list and lives entirely in the plan, so even
#: the full PSL compiles to one codegen'd per-row expression with
#: zero shuffles and zero Python.
DEFAULT_PUBLIC_SUFFIXES = [
    "com", "org", "net", "io", "example", "test", "uk", "co.uk",
    "org.uk", "ac.uk", "jp", "co.jp", "github.io", "edu", "gov",
]


def registrable_domain(
    host: Column | str,
    suffixes: list[str] | None = None,
    max_suffix_labels: int | None = None,
) -> Column:
    """eTLD+1 (the "registrable domain") of a hostname: the public
    suffix matched longest-first plus one more label — the unit at
    which crawl policy applies (per-site budgets, dedup of mirrors,
    ownership rollups; hosts ``www.x.co.uk`` and ``blog.x.co.uk``
    both roll up to ``x.co.uk``).

    Pure higher-order array expressions (split → candidate suffixes
    of 1..k trailing labels → longest member of the suffix list →
    slice one extra label): 0 shuffles, 0 Python, whole-stage
    codegen. NULL when the host IS a public suffix or matches no
    listed suffix (unknown TLD) — callers decide the fallback.
    """
    sfx = suffixes if suffixes is not None else DEFAULT_PUBLIC_SUFFIXES
    k = max_suffix_labels or max(s.count(".") + 1 for s in sfx)
    h = F.lower(host if isinstance(host, Column) else F.col(host))
    labels = F.split(h, r"\.")
    n = F.size(labels)
    cands = F.transform(
        F.sequence(F.lit(1), F.least(F.lit(k), n)),
        lambda i: F.array_join(F.slice(labels, n - i + 1, i), "."),
    )
    matched = F.filter(cands, lambda c: c.isin(*sfx))
    # longest match wins (PSL rule); candidates are ordered by label
    # count ascending, so the last match is the longest.
    # try_element_at: plain element_at(-1) on a no-match empty array
    # throws under Spark 4's default ANSI mode.
    best = F.try_element_at(matched, F.lit(-1))
    sfx_labels = F.size(F.split(best, r"\."))
    return F.when(
        (F.size(matched) > 0) & (n > sfx_labels),
        F.array_join(F.slice(labels, n - sfx_labels, sfx_labels + 1), "."),
    )


# ----------------------------------------------- tracking-param strip

#: Query parameters that identify campaigns/clicks, not resources.
#: Stripping them is standard crawl canonicalization (they explode
#: the URL space without changing content — the same page under
#: thousands of utm permutations).
TRACKING_PARAMS_PATTERN = (
    r"^(utm_[^=]*|gclid|fbclid|msclkid|yclid|igshid|mc_eid|spm|ref_src)="
)


def strip_tracking_params(
    url: Column | str, pattern: str = TRACKING_PARAMS_PATTERN
) -> Column:
    """Remove tracking query parameters from a URL, keeping the rest
    of the query string in order; drops the ``?`` entirely when
    nothing survives. Pure higher-order array expressions (split on
    ``?`` then ``&``, filter, re-join): 0 shuffles, 0 Python, fully
    codegen — composes with :func:`canonicalize` in the same
    projection. Fragments are assumed already removed (canonicalize
    does); a trailing ``#...`` would be treated as query content.
    """
    u = F.col(url) if isinstance(url, str) else url
    qpos = F.instr(u, "?")
    base = F.when(qpos > 0, F.substring(u, F.lit(1), qpos - 1)).otherwise(u)
    query = F.when(qpos > 0, F.substr(u, qpos + 1)).otherwise(F.lit(""))
    kept = F.filter(
        F.split(query, "&"),
        lambda p: ~F.lower(p).rlike(pattern) & (p != ""),
    )
    return F.when(
        (qpos == 0) | (F.size(kept) == 0), base
    ).otherwise(F.concat(base, F.lit("?"), F.array_join(kept, "&")))


def strip_tracking_params_sql(
    expr: str, pattern: str = TRACKING_PARAMS_PATTERN
) -> str:
    """DuckDB twin of :func:`strip_tracking_params`."""
    qpos = f"instr({expr}, '?')"
    base = f"CASE WHEN {qpos} > 0 THEN substr({expr}, 1, {qpos} - 1) ELSE {expr} END"
    query = f"CASE WHEN {qpos} > 0 THEN substr({expr}, {qpos} + 1) ELSE '' END"
    kept = (
        f"list_filter(string_split({query}, '&'), "
        f"p -> NOT regexp_matches(lower(p), '{pattern}') AND p <> '')"
    )
    return (
        f"CASE WHEN {qpos} = 0 OR len({kept}) = 0 THEN {base} "
        f"ELSE ({base}) || '?' || array_to_string({kept}, '&') END"
    )


def surt_key(url: Column | str) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key for a
    CANONICAL http(s) URL: host labels reversed and comma-joined
    (leading ``www`` dropped), then ``)`` + path, then the query with
    its ``&``-separated params sorted — the Internet Archive / pywb
    index key (public CDX(J) convention: e.g.
    ``com,example)/path?a=1&b=2``). Same-site URLs become
    lexicographic neighbors, which is exactly what makes a CDX index
    range-scannable per site.

    Pure column expressions — 0 shuffles, 0 Python; safe in the
    per-URL hot path next to :func:`canonicalize`.
    """
    u = F.col(url) if isinstance(url, str) else url
    host = F.lower(F.parse_url(u, F.lit("HOST")))
    host = F.when(
        host.startswith("www."), F.substring(host, 5, 1 << 20)
    ).otherwise(host)
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    prefix = F.regexp_extract(u, _PREFIX, 1)
    rest = u.substr(F.length(prefix) + F.lit(1), F.lit(1 << 20))
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    path = F.substring_index(rest, "?", 1)
    has_q = F.instr(rest, "?") > 0
    # Query = everything after the FIRST '?' (a second '?' is legal and
    # belongs inside the query), matching surt_key_sql's strpos split.
    query = rest.substr(F.instr(rest, "?") + F.lit(1), F.lit(1 << 20))
    qsorted = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        rev,
        F.lit(")"),
        path,
        F.when(has_q, F.concat(F.lit("?"), qsorted)).otherwise(F.lit("")),
    )


def surt_key_sql(expr: str) -> str:
    """DuckDB SQL mirroring :func:`surt_key` step-for-step (canonical
    http(s) input: ``scheme://host/path[?query]``, no port/fragment)."""
    prefix = f"regexp_extract({expr}, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)"
    host = f"lower(substr({prefix}, strpos({prefix}, '://') + 3))"
    host = (
        f"CASE WHEN starts_with({host}, 'www.') "
        f"THEN substr({host}, 5) ELSE {host} END"
    )
    rev = f"array_to_string(list_reverse(string_split({host}, '.')), ',')"
    rest = f"substr({expr}, length({prefix}) + 1)"
    rest = f"CASE WHEN {rest} = '' THEN '/' ELSE {rest} END"
    path = f"split_part({rest}, '?', 1)"
    q = (
        f"CASE WHEN strpos({rest}, '?') > 0 THEN '?' || "
        f"array_to_string(list_sort(string_split("
        f"substr({rest}, strpos({rest}, '?') + 1), '&')), '&') "
        f"ELSE '' END"
    )
    return f"({rev}) || ')' || ({path}) || ({q})"
