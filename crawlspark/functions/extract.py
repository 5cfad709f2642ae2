"""html→text extraction and outlink parsing.

The reference's only extension point is the per-page visitor callback
(IVisitor.cs:5-8, invoked Downloader.cs:148). The crawl loop extracts
with Catalyst expressions (``extract_page``/``extract_text``), which run
in the JVM and start no Python worker. The expressions read the payload
as UTF-8 text, so a payload that is not valid UTF-8 — which includes
every gzip member, see ``needs_python`` — is left to the Arrow-batched
pandas UDFs below (``python=True``): they gunzip and degrade corrupt
bytes row by row. Callers count ``needs_python`` rows and redo the batch
with the UDFs when the count is not zero.

Determinism contract: both paths must reproduce the corpus ``text``
column **byte-identically** (BASELINE.json: "byte-identical extracted
text per url"), and agree with each other on every payload the
expressions accept (tests/test_extract_props.py). The implementation is
locale-free pure byte/str slicing — no parser library, no unicode
normalization — so the output is stable across pandas/Arrow versions.
"""

from __future__ import annotations

import re
import zlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, StringType, StructField, StructType

_P_OPEN = b"<p>"
_P_CLOSE = b"</p>"
# bytes-level regex: no whole-document utf-8 decode (corrupt/binary
# payloads must degrade, not fail the task), and only matched hrefs are
# decoded — identical output for valid utf-8 documents. The same pattern
# drives the expression path (Java regex over the decoded string).
_HREF = 'href="([^"]+)"'
_HREF_RE = re.compile(_HREF.encode())
_GZIP_MAGIC = b"\x1f\x8b"


def _maybe_gunzip(b: bytes | None) -> bytes | None:
    """Transparent gzip-member decompression (Common Crawl WARC payloads
    arrive gzipped): payloads starting with the gzip magic are inflated
    with stdlib zlib; anything else — including a corrupt gzip stream —
    passes through unchanged, so a poison blob degrades to "no <p> tag"
    instead of failing the fetch task. Uncompressed payloads take one
    two-byte compare, keeping the byte-identical extraction contract
    untouched for them."""
    if b is None or b[:2] != _GZIP_MAGIC:
        return b
    try:
        return zlib.decompress(b, 16 + zlib.MAX_WBITS)
    except zlib.error:
        return b


def _extract_text_bytes(html: bytes | None) -> str | None:
    if html is None:
        return None
    i = html.find(_P_OPEN)
    if i < 0:
        return ""
    j = html.find(_P_CLOSE, i)
    if j < 0:
        j = len(html)
    body = html[i + len(_P_OPEN) : j]
    try:
        return body.decode("utf-8")
    except UnicodeDecodeError:
        # poison blob that happens to contain b"<p>": degrade per-row
        # (valid corpus text is utf-8, so the strict path is unchanged)
        return body.decode("utf-8", "replace")


def _extract_links_bytes(html: bytes | None) -> list[str]:
    if html is None:
        return []
    out = []
    for m in _HREF_RE.findall(html):
        try:
            out.append(m.decode("utf-8"))
        except UnicodeDecodeError:
            continue  # non-utf8 href in a poison blob: drop that link
    return out


@F.pandas_udf(BinaryType())
def gunzip_udf(payload: pd.Series) -> pd.Series:
    """Standalone transparent-decompression column for pipelines that
    materialize inflated html (the extraction UDFs below already gunzip
    inline, so the fetch path never needs this extra pass)."""
    return payload.map(_maybe_gunzip)


@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda b: _extract_text_bytes(_maybe_gunzip(b)))


@F.pandas_udf(ArrayType(StringType()))
def extract_links_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda b: _extract_links_bytes(_maybe_gunzip(b)))


@F.pandas_udf(StructType([
    StructField("text", StringType()),
    StructField("links", ArrayType(StringType())),
]))
def extract_page_udf(html: pd.Series) -> pd.DataFrame:
    """Single-pass extraction: decode (gunzip at most once) each html
    payload once, produce both the text and the outlink list. The fetch
    path uses this so the (large) html column is read exactly once and
    never cached."""
    inflated = html.map(_maybe_gunzip)
    return pd.DataFrame({
        "text": inflated.map(_extract_text_bytes),
        "links": inflated.map(_extract_links_bytes),
    })


def needs_python(html: Column) -> Column:
    """True where the expressions below may differ from the UDFs: the
    payload is not valid UTF-8. That covers gzip members too: their magic
    ``1f 8b`` puts a continuation byte after an ASCII byte, which is never
    valid UTF-8. False for a NULL payload."""
    return html.isNotNull() & ~F.is_valid_utf8(html.cast("string"))


def extract_text(html: Column) -> Column:
    """``_extract_text_bytes`` for valid UTF-8 payloads: the text between
    the first ``<p>`` and the next ``</p>`` (or the end), "" without a
    ``<p>``, NULL for a NULL payload. Both tags are ASCII, so the
    character positions of the string functions cut the same bytes."""
    s = html.cast("string")
    start = F.instr(s, "<p>")
    body = F.substring_index(F.substr(s, start + 3), "</p>", 1)
    return F.when(start == 0, F.lit("")).otherwise(body)


def extract_links(html: Column) -> Column:
    """``_extract_links_bytes`` for valid UTF-8 payloads (an empty list
    for a NULL payload)."""
    links = F.regexp_extract_all(html.cast("string"), F.lit(_HREF), 1)
    return F.coalesce(links, F.array().cast("array<string>"))


def extract_page(html: Column, python: bool = False) -> Column:
    """struct<text, links> of each payload, from the expressions or, with
    ``python``, from ``extract_page_udf``."""
    if python:
        return extract_page_udf(html)
    return F.struct(extract_text(html).alias("text"), extract_links(html).alias("links"))
