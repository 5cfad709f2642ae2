"""URL column functions — validation, normalization, host/path parsing,
hash-prefix binning.

Reference parity:
  * URL validation + host/path mapping — Downloader.cs:246-279 (O24)
  * SHA-256 hash-prefix directory binning — DirectoryBins.cs:18-38 (O27);
    here the same trick becomes the salt/partition key that kills host
    skew in the frontier shuffle.

All pure built-in expressions (JVM-side, whole-stage-codegen friendly);
``regexp_extract`` rather than ``parse_url`` so the DuckDB oracle can run
the byte-identical expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_HOST_RE = r"https?://([^/?#]+)"
_PATH_RE = r"https?://[^/?#]+(/[^?#]*)"


def host_of(url: Column | str) -> Column:
    return F.regexp_extract(url, _HOST_RE, 1)


def path_of(url: Column | str) -> Column:
    return F.regexp_extract(url, _PATH_RE, 1)


def is_valid_http_url(url: Column | str) -> Column:
    """Reference rules (Downloader.cs:252-266): https scheme, non-empty
    host, non-empty path, no query string."""
    c = F.col(url) if isinstance(url, str) else url
    return (
        c.startswith("https://")
        & (host_of(c) != "")
        & (path_of(c) != "")
        & ~c.contains("?")
    )


def hash_prefix_bin(key: Column | str, levels: int = 1) -> Column:
    """SHA-256 hex prefix bins, 2 hex chars (≤256 fanout) per level —
    DirectoryBins.cs:16-38. Returns e.g. '2c/4c' for levels=2."""
    h = F.sha2(F.col(key) if isinstance(key, str) else key, 256)
    parts = [F.substring(h, 1 + 2 * i, 2) for i in range(levels)]
    return F.concat_ws("/", *parts)


def normalize_url(url: Column | str) -> Column:
    """RFC-3986-style safe normalization, as pure regexp expressions
    (every step dialect-portable — the oracle runs the same chain):

      1. lowercase the scheme and host (path/query case is significant
         and preserved);
      2. strip the fragment (``#...`` is never sent to the server);
      3. drop the default port (``:443`` for https, ``:80`` for http);
      4. drop a trailing FQDN dot on the host;
      5. empty path → ``/``.

    Extends the reference's validation-only O24 (Downloader.cs:246-279)
    with the dedup-critical canonical form: at 10^10 frontier scale,
    un-normalized variants of one URL multiply the seen-set and defeat
    politeness accounting."""
    c = F.col(url) if isinstance(url, str) else url
    # 1. lowercase scheme+host: split at the path start, lower the head
    head = F.regexp_extract(c, r"^([^/]*//[^/?#]*)", 1)
    tail = F.regexp_replace(c, r"^[^/]*//[^/?#]*", "")
    out = F.concat(F.lower(head), tail)
    # 2. fragment
    out = F.regexp_replace(out, r"#.*$", "")
    # 3. default ports (only when followed by path-or-end)
    out = F.regexp_replace(out, r"^(https://[^/?#:]+):443(?=[/?#]|$)", r"$1")
    out = F.regexp_replace(out, r"^(http://[^/?#:]+):80(?=[/?#]|$)", r"$1")
    # 4. trailing host dot
    out = F.regexp_replace(out, r"^(https?://[^/?#]*?)\.(?=[:/?#]|$)", r"$1")
    # 5. empty path
    return F.when(
        F.regexp_extract(out, r"^https?://[^/?#]+(/|\?|#|$)", 1) == "",
        F.concat(out, F.lit("/")),
    ).otherwise(out)


def normalize_url_sql(col: str) -> str:
    """DuckDB twin of :func:`normalize_url` (RE2 lacks lookahead, so the
    port/dot rules capture the boundary char and restore it)."""
    head = f"lower(regexp_extract({col}, '^([^/]*//[^/?#]*)', 1))"
    tail = f"regexp_replace({col}, '^[^/]*//[^/?#]*', '')"
    out = f"({head} || {tail})"
    out = f"regexp_replace({out}, '#.*$', '')"
    out = f"regexp_replace({out}, '^(https://[^/?#:]+):443([/?#]|$)', '\\1\\2')"
    out = f"regexp_replace({out}, '^(http://[^/?#:]+):80([/?#]|$)', '\\1\\2')"
    out = f"regexp_replace({out}, '^(https?://[^/?#]*?)\\.([:/?#]|$)', '\\1\\2')"
    return (
        f"CASE WHEN regexp_extract({out}, '^https?://[^/?#]+(/|\\?|#|$)', 1) = '' "
        f"THEN {out} || '/' ELSE {out} END"
    )


def surt_key(url: Column | str) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) — the canonical
    key web-archive tooling (wayback CDX, Common Crawl indexes) sorts
    and groups by: host labels lowercased and REVERSED, comma-joined,
    then ``)`` + path — ``https://www.Example.org/a?b=1`` →
    ``org,example,www)/a?b=1``. Reversing the host puts a registrable
    domain's every subdomain in one contiguous key range, so domain
    scans are range scans and per-domain grouping is a prefix match.
    Scheme and fragment are dropped (SURT convention); query order is
    preserved (sorting it is normalize_url-family work). Pure
    expressions, zero shuffle."""
    c = F.col(url) if isinstance(url, str) else url
    host = F.lower(F.regexp_extract(c, _HOST_RE, 1))
    # strip an explicit port: the key must range-group with portless
    host = F.regexp_replace(host, r":[0-9]+$", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    tail = F.regexp_replace(
        F.regexp_replace(c, r"^[^/]*//[^/?#]*", ""), r"#.*$", ""
    )
    return F.concat(rev, F.lit(")"), F.when(tail == "", "/").otherwise(tail))


def surt_key_sql(col: str) -> str:
    """DuckDB twin of :func:`surt_key` — identical regexp chain;
    list_reverse + array_to_string for the label flip."""
    # same _HOST_RE the Spark side uses (unanchored https? search)
    host = f"regexp_replace(lower(regexp_extract({col}, 'https?://([^/?#]+)', 1)), ':[0-9]+$', '')"
    rev = f"array_to_string(list_reverse(string_split({host}, '.')), ',')"
    tail = f"regexp_replace(regexp_replace({col}, '^[^/]*//[^/?#]*', ''), '#.*$', '')"
    return (
        f"({rev} || ')' || CASE WHEN {tail} = '' THEN '/' ELSE {tail} END)"
    )
