"""Differential property test (hypothesis): the expression extraction
agrees byte for byte with the Python reference (``_extract_text_bytes`` /
``_extract_links_bytes``) on every payload it accepts, and flags exactly
the payloads it must leave to the Python UDF."""

import gzip

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crawlspark.functions.extract import (
    _extract_links_bytes,
    _extract_text_bytes,
    _maybe_gunzip,
    extract_page,
    needs_python,
)

VALID = st.sampled_from([
    b"<p>", b"</p>", b'href="', b'"', b" ", b"\n", b"ab", b"x/y",
    "é".encode(), "€".encode(), "😀".encode(), b"\x00",
])
INVALID = st.sampled_from([
    b"\xff", b"\x80", b"\xc3", b"\xe2\x82", b"\xc0\x80", b"\xed\xa0\x80", b"\xf4\x90\x80\x80",
])
DOC = st.lists(VALID, max_size=12).map(b"".join)
POISONED = st.tuples(DOC, INVALID, DOC).map(b"".join)
PAYLOAD = st.one_of(
    DOC,
    POISONED,
    DOC.map(lambda b: gzip.compress(b, mtime=0)),
    DOC.map(lambda b: b"\x1f\x8b" + b),  # gzip magic, corrupt stream
    st.none(),
)


def _needs_python(b: bytes | None) -> bool:
    if b is None:
        return False
    try:
        b.decode("utf-8")
    except UnicodeDecodeError:
        return True
    return b[:2] == b"\x1f\x8b"


# every payload class at least once, whatever hypothesis draws
EDGES = [
    b"<p>", b"</p>", b"x<p>", b"<p>y", b"no tags", b"</p><p>a", b"<p>a</p>b</p>",
    '<p>é€😀</p><a href="/é">'.encode(), b'<p>a\x00b</p> href="\x00"', b'href=""',
    b"<p>\xff</p>", b"\xed\xa0\x80", gzip.compress(b'<p>z</p> href="q"', mtime=0),
    b"\x1f\x8b<p>z</p>", None,
]


@given(payloads=st.lists(PAYLOAD, min_size=1, max_size=8))
@example(payloads=EDGES)
@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_expression_extraction_matches_python(spark, payloads):
    df = spark.createDataFrame(list(enumerate(payloads)), "i int, html binary")
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            extract_page(F.col("html")).alias("page"),
            needs_python(F.col("html")).alias("py"),
        ).collect()
    }
    for i, b in enumerate(payloads):
        assert got[i]["py"] == _needs_python(b), repr(b)
        if got[i]["py"]:
            continue
        page = got[i]["page"]
        inflated = _maybe_gunzip(b)
        assert page["text"] == _extract_text_bytes(inflated), repr(b)
        assert list(page["links"]) == _extract_links_bytes(inflated), repr(b)
