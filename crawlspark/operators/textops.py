"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, fingerprinting, simhash.

All pure built-in column expressions (JVM-side, codegen'd, no UDFs), and
all deterministic + dialect-portable: the same logic is expressible in
ANSI SQL for the DuckDB oracle (md5 / replace / length / ascii /
substring agree byte-for-byte between engines).

Design note: everything aggregates *within* the row's token array
(``aggregate``/``transform``) rather than exploding — one narrow
projection, no shuffle, scales linearly with corpus size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# tiny fixed marker-word lists for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "value", "table"],
    "de": ["der", "und", "nicht", "das"],
    "fr": ["les", "une", "est", "pas"],
    "es": ["los", "una", "que", "por"],
}
STOPWORDS = ["the", "a", "and", "of", "to", "in", "value", "table"]


def words_of(text: Column | str) -> Column:
    return F.split(text, " ")


def token_count(text: Column | str) -> Column:
    """Whitespace token count via the replace trick — identical in any
    SQL dialect: len(text) - len(replace(text,' ','')) + 1."""
    c = F.col(text) if isinstance(text, str) else text
    return (F.length(c) - F.length(F.replace(c, F.lit(" "), F.lit(""))) + 1).cast("long")


# BPE-style pre-tokenization (the GPT-2 pre-tokenizer's shape without
# byte-level merges): alphabetic runs, digit runs, and single
# punctuation marks each count as one token. Spaces only as separators
# — [^...0-9 ] instead of \s keeps Java-regex and RE2/DuckDB semantics
# byte-identical for the oracle.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_count_bpe(text: Column | str) -> Column:
    """Subword-ish token count via the BPE pre-tokenizer regex — the
    training-cost estimator (whitespace ``token_count`` underestimates
    code/punctuation-heavy docs). Pure JVM regexp, no UDF.
    ``regexp_count`` (r6) walks the same Matcher.find() loop as
    ``size(regexp_extract_all(...))`` — identical counts — without
    materializing an array of every matched token per row."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE)).cast("long")


def occurrences(text: Column | str, token: str) -> Column:
    """Count occurrences of ``' token '`` in ``' text '`` (word-bounded)."""
    padded = F.concat(F.lit(" "), F.col(text) if isinstance(text, str) else text, F.lit(" "))
    needle = f" {token} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def quality_micro(text: Column | str) -> Column:
    """Length / mean-word-length / stopword-ratio quality composite in
    integer micro-units (0..10^6), exact arithmetic:
      0.5·min(n_tok/400,1) + 0.3·min(mean_word_len/8,1) + 0.2·min(5·stop_ratio,1)
    with every term as floor-divided integers."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c)
    chars = F.length(c) - (n_tok - 1)  # chars sans separators
    hits = sum((occurrences(c, w) for w in STOPWORDS), F.lit(0))
    t1 = F.least(n_tok, F.lit(400)) * 1250                       # ≤ 500_000
    t2 = F.least(F.floor(chars * 37_500 / n_tok), F.lit(300_000))
    t3 = F.least(F.floor(hits * 1_000_000 / n_tok), F.lit(200_000))
    return (t1 + t2 + t3).cast("long")


def lang_scores(text: Column | str) -> dict[str, Column]:
    return {
        lang: sum((occurrences(text, w) for w in markers), F.lit(0))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_pred_from_scores(s: dict[str, Column]) -> Column:
    """Argmax of the per-language marker counts with the fixed
    tie-break order (en > de > fr > es) — deterministic and
    SQL-portable as a CASE. Each score column is referenced up to
    2·(#langs−1) times by the CASE ladder, so bulk callers should
    STAGE the scores in their own projection first (the 16-replace
    occurrence battery otherwise re-runs per reference — the repo's
    CollapseProject staging rule) and pass ``F.col`` references here."""
    langs = list(LANG_MARKERS)
    expr = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = s[lang] >= s[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, lang).otherwise(expr)
    return expr


def lang_id(text: Column | str) -> Column:
    """Argmax of marker-word counts — single-expression convenience
    form; see :func:`lang_pred_from_scores` for the staged bulk path."""
    return lang_pred_from_scores(lang_scores(text))


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the lowercased text (the rolling-hash
    analog; md5 keeps it byte-identical across engines)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(c))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, MOSS): hash
    every k-char gram of the lowercased text (the rolling-hash pass —
    md5 of each window keeps it byte-identical across engines), then
    keep the minimum hash of every window of ``w`` consecutive grams.
    Guarantees: any shared substring of length >= k+w-1 yields at least
    one shared selected fingerprint, so LOCAL overlap (quotes,
    containment, partial plagiarism) is caught — which whole-document
    MinHash/SimHash signatures miss by design.

    Output: (id, fp) — the doc's distinct selected fingerprints,
    exploded. Pure column expressions (transform/sequence/slice/
    array_min), no UDF, no shuffle; docs shorter than ``k`` contribute
    their single whole-text gram.
    """
    # the lowered text is staged too (r6): the gram lambda references it
    # per element, and an inlined lower() re-copies the whole text once
    # per gram — O(chars²) per row (same CollapseProject staging rule
    # as __grams below)
    c = F.col("__lc")
    n_grams = F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: F.md5(F.substring(c, i, k))
    )
    # grams MUST materialize once per row: stage it in its own projection
    # and reference it twice downstream (size + slice) so CollapseProject
    # cannot inline the O(n) md5 transform into every window lambda —
    # inlined, the plan degrades to O(n²·k) hashing per row.
    g = F.col("__grams")
    n_wins = F.greatest(F.size(g) - F.lit(w - 1), F.lit(1))
    sels = F.transform(
        F.sequence(F.lit(1), n_wins), lambda j: F.array_min(F.slice(g, j, w))
    )
    return (
        df.select(F.col(id_col), F.lower(F.col(text_col)).alias("__lc"))
        .select(F.col(id_col), grams.alias("__grams"))
        .select(F.col(id_col), F.explode(F.array_distinct(sels)).alias("fp"))
    )


def winnow_fingerprints_sql(
    id_col: str = "doc_id", text_col: str = "text", *, k: int = 8, w: int = 4,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` (list lambdas mirror
    transform/slice/array_min 1:1)."""
    c = f"lower({text_col})"
    n_grams = f"greatest(length({c}) - {k - 1}, 1)"
    grams = f"list_transform(range(1, {n_grams} + 1), i -> md5(substring({c}, i, {k})))"
    sels = (
        f"list_transform(range(1, greatest(len(g) - {w - 1}, 1) + 1), "
        f"j -> list_min(list_slice(g, j, j + {w - 1})))"
    )
    return (
        f"SELECT {id_col}, unnest(list_distinct({sels})) AS fp "
        f"FROM (SELECT {id_col}, {grams} AS g FROM {table})"
    )


def _nibble_val(ch: Column) -> Column:
    a = F.ascii(ch)
    return F.when(a >= 97, a - 87).otherwise(a - 48)


# 64-bit SimHash bit mapping: bit b of a token's hash = bit (b & 3) of
# hex nibble (b >> 2) of md5(token) — the first 16 hex chars carry 64
# bits. The fingerprint packs into ONE signed 64-bit integer; bit 63's
# term is -(2^63) (two's complement), which keeps the composition a
# plain SUM that is exact in both Spark (bigint) and DuckDB (cast).
_POW64 = [2 ** b for b in range(63)] + [-(2 ** 63)]


def simhash64(text: Column | str) -> Column:
    """64-bit SimHash over whitespace tokens, as a single column
    expression (for inline per-row analysis). For corpus-level
    signatures prefer ``simhash64_agg`` (the explode+aggregate shape
    scales better than HOFs; ROUND_NOTES.md).

    Evaluation-cost note: lambda bodies inside higher-order functions
    are RE-EVALUATED per element — an earlier shape closed over
    ``split(md5(t), '')`` from 64 bit-lambdas and silently computed 64
    md5s per token instead of one. The fix materializes each token's 16
    hex nibbles ONCE as an int array (outer transform), so the per-token
    cost is 1 md5 + 1 split + 16 nibble decodes + 64 adds."""
    toks = words_of(text)
    zero64 = F.array_repeat(F.lit(0).cast("long"), 64)

    # one md5 + split per token, materialized: array of 16 nibble ints
    tok_nibs = F.transform(
        toks,
        lambda t: F.transform(
            F.slice(F.split(F.substring(F.md5(t), 1, 16), ""), 1, 16),
            _nibble_val,
        ),
    )

    pow2_nib = F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8))

    def bit_weights(nb):
        # bit b of the token hash = bit (b & 3) of nibble (b >> 2)
        # (shift-by-column isn't expressible, hence the pow2 divide)
        def w_of(b):
            nibble = F.element_at(nb, (F.shiftright(b, 2) + 1).cast("int"))
            bit = F.floor(nibble / F.element_at(pow2_nib, F.pmod(b, 4).cast("int") + 1)) % 2
            return F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)).cast("long")

        return F.transform(F.sequence(F.lit(0), F.lit(63)), w_of)

    acc = F.aggregate(
        tok_nibs, zero64, lambda a, nb: F.zip_with(a, bit_weights(nb), lambda x, y: x + y)
    )
    pow64 = F.array(*[F.lit(v).cast("long") for v in _POW64])
    terms = F.zip_with(acc, pow64, lambda w, p: F.when(w >= 0, p).otherwise(F.lit(0).cast("long")))
    return F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)


import numpy as _np

_SIM_IDX = _np.arange(64)
_SIM_POW = _np.array(_POW64, dtype=_np.int64)
# token → ±1 weight vector memo. Natural text is Zipfian, so the md5 +
# bit-unpack for a token amortizes to ~zero across a batch; bounded so
# an adversarial all-unique-token corpus can't grow worker memory.
_SIM_TOK_CACHE: dict[str, "_np.ndarray"] = {}
# ~64 int16 + dict overhead ≈ 300 B/token → ~60 MB per python worker at
# the cap; Zipf heads dominate hits long before it fills
_SIM_TOK_CACHE_MAX = 200_000


def _sim_tok_weights(tok: str) -> "_np.ndarray":
    w = _SIM_TOK_CACHE.get(tok)
    if w is None:
        import hashlib

        d = _np.frombuffer(hashlib.md5(tok.encode()).digest()[:8], dtype=_np.uint8)
        nibs = _np.empty(16, dtype=_np.uint8)
        nibs[0::2] = d >> 4  # hex char 2k = high nibble of byte k
        nibs[1::2] = d & 15
        bits = (nibs[_SIM_IDX >> 2] >> (_SIM_IDX & 3)) & 1
        w = (2 * bits.astype(_np.int16) - 1)
        if len(_SIM_TOK_CACHE) < _SIM_TOK_CACHE_MAX:
            _SIM_TOK_CACHE[tok] = w
    return w


def _simhash64_py(t: str | None):
    """Python twin of :func:`simhash64` — identical tokenization
    (split on single space, empties included), identical bit mapping
    (bit b = bit (b&3) of hex nibble (b>>2) of md5(token)), identical
    two's-complement packing. Duplicate tokens multiply their cached
    weight vector instead of re-accumulating."""
    if t is None:
        return None
    counts: dict[str, int] = {}
    for tok in t.split(" "):
        counts[tok] = counts.get(tok, 0) + 1
    acc = _np.zeros(64, dtype=_np.int64)
    for tok, n in counts.items():
        w = _sim_tok_weights(tok)
        # accumulate in int64: int16 multiply silently overflows (or, on
        # NumPy>=2, raises) when one token repeats >32767 times in a doc
        acc += w if n == 1 else w.astype(_np.int64) * n
    return int(_SIM_POW[acc >= 0].sum())


@pandas_udf(T.LongType())
def simhash64_udf(s: pd.Series) -> pd.Series:
    """Arrow-vectorized simhash for HOT paths (the crawl's inline
    analyze): hashlib's C md5 + numpy bit math instead of the
    interpreted 64-lane HOF expression — Catalyst evaluates
    higher-order-function lambdas per element with per-token array
    allocation, which made analyze=True several times slower than off.
    Bit-exact with :func:`simhash64`/`simhash64_agg`
    (pinned by test_analyze_inline.py and test_textops_props.py)."""
    import pandas as pd

    return pd.Series((_simhash64_py(t) for t in s), dtype="object").astype("Int64")


def simhash64_agg(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """DataFrame-level 64-bit simhash. Same result as ``simhash64``,
    computed from per-(doc, token) COUNTS instead of per occurrence:
    sum over occurrences of ±1 == sum over distinct tokens of
    ±count, so the md5 and the 64 bit-vote sums run once per distinct
    (doc, token) — on natural text a small fraction of the token
    stream. The exploded stream is repartitioned by doc id up front:
    hash-partitioning on the id subset satisfies both the (id, token)
    count and the per-id bit-vote grouping, so the token count, the
    hash, and the 64 sums all ride ONE exchange of narrow (id, token)
    rows (guide §2.4) — never the texts."""
    w = (
        df.select(F.col(id_col), F.explode(words_of(F.col(text_col))).alias("t"))
        .repartition(F.col(id_col))
        .groupBy(id_col, "t")
        .agg(F.count("*").alias("__c"))
        .withColumn("h", F.md5("t"))
    )
    nib = [_nibble_val(F.substring("h", i + 1, 1)) for i in range(16)]
    aggs = [
        F.sum(
            ((F.shiftright(nib[b >> 2], b & 3) % 2) * 2 - 1) * F.col("__c")
        ).alias(f"w{b}")
        for b in range(64)
    ]
    g = w.groupBy(id_col).agg(*aggs)
    bits = [
        F.when(F.col(f"w{b}") >= 0, F.lit(_POW64[b]).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ]
    return g.select(F.col(id_col), sum(bits[1:], bits[0]).cast("long").alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Popcount of a XOR b for 64-bit fingerprints (JVM bit_count)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_band_keys(sh: Column, n_bands: int) -> list[Column]:
    """Split a 64-bit fingerprint into ``n_bands`` disjoint bit segments
    (unsigned shifts — the sign bit is data). Pigeonhole: two
    fingerprints within hamming distance n_bands-1 share at least one
    identical band, so banding with n_bands = max_hamming+1 has EXACT
    recall for the candidate join."""
    width = 64 // n_bands
    keys = []
    for k in range(n_bands):
        shifted = F.shiftrightunsigned(sh, k * width)
        if k < n_bands - 1:
            shifted = shifted.bitwiseAND(F.lit((1 << width) - 1))
        keys.append(shifted)
    return keys


# ---------------------------------------------------------------------------
# Repetition signals (the Gopher/MassiveText quality-filter family:
# repeated n-grams and dominant-token share mark boilerplate, keyword
# stuffing, and generation loops). No reference twin — task-brief scope.
# ---------------------------------------------------------------------------

def repetition_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", *, n: int = 2
) -> DataFrame:
    """Per-document duplicate-n-gram share: (id, n_ngrams, n_distinct,
    dup_frac_micro) where dup_frac_micro = floor((total − distinct)·10⁶
    / total) — integer micro-units for engine-exact comparison.

    Pure per-row expressions, zero shuffle. The n-gram array is staged
    in its own projection and referenced twice (size + distinct-size) so
    CollapseProject doesn't inline the transform into both consumers —
    the same barrier trick as ``winnow_fingerprints``."""
    toks = words_of(F.col(text_col))
    n_grams = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    g = F.col("__grams")
    total = F.size(g)
    distinct = F.size(F.array_distinct(g))
    return df.select(F.col(id_col), grams.alias("__grams")).select(
        F.col(id_col),
        total.cast("long").alias("n_ngrams"),
        distinct.cast("long").alias("n_distinct"),
        F.floor((total - distinct) * 1_000_000 / total).cast("long").alias("dup_frac_micro"),
    )


def repetition_profile_sql(
    id_col: str = "doc_id", text_col: str = "text", *, n: int = 2,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`repetition_profile` (list lambdas mirror
    transform/slice/concat_ws 1:1; DuckDB slices are inclusive index
    ranges, hence i .. i+n-1)."""
    toks = f"string_split({text_col}, ' ')"
    return f"""
        WITH g AS (
          SELECT {id_col},
                 list_transform(
                   range(1, greatest(len({toks}) - {n - 1}, 1) + 1),
                   i -> array_to_string({toks}[i:i+{n - 1}], ' ')
                 ) AS grams
          FROM {table})
        SELECT {id_col},
               CAST(len(grams) AS BIGINT) AS n_ngrams,
               CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
               CAST(floor((len(grams) - len(list_distinct(grams))) * 1000000.0
                          / len(grams)) AS BIGINT) AS dup_frac_micro
        FROM g"""


def top_token_fraction(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Dominant-token share per document: (id, top_token_micro) =
    floor(max token count · 10⁶ / total tokens). Computed WITHIN the
    row (r6): the max token count is the longest equal-run of the
    SORTED token array, folded by one `aggregate` HOF — zero shuffles
    and zero exploded rows, vs the old explode + two-level aggregate
    that exchanged every (id, token, count) row. Values unchanged: the
    run-length max over the sorted array IS the per-token occurrence
    max, total = array size, and the final floor(double-division)
    expression is identical."""
    w = F.col("__w")
    return (
        df.select(F.col(id_col), words_of(F.col(text_col)).alias("__w"))
        # NULL text produced no exploded rows in the old shape — keep
        # those docs absent from the output here too
        .where(w.isNotNull())
        .select(F.col(id_col), top_token_micro_of(w).alias("top_token_micro"))
    )


def top_token_micro_of(w: Column) -> Column:
    """floor(max token count · 10⁶ / total tokens) as one expression
    over a PRE-STAGED token-array column (the caller projects
    ``words_of(text)`` first — see dedup.shingles_of for the staging
    rule). Max token count = longest equal-run of the sorted array,
    folded by one `aggregate` HOF. Fold state: (prev token, current
    run, best run); tokens are never null (split() output), so prev IS
    NULL marks only the first element."""
    best = F.aggregate(
        F.array_sort(w),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc.prev.isNotNull() & (acc.prev == x), acc.run + 1)
            .otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc.best,
                F.when(acc.prev.isNotNull() & (acc.prev == x), acc.run + 1)
                .otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return F.floor(best * 1_000_000 / F.size(w)).cast("long")


def top_token_fraction_sql(
    id_col: str = "doc_id", text_col: str = "text", table: str = "documents"
) -> str:
    """DuckDB twin of :func:`top_token_fraction`."""
    return f"""
        WITH w AS (
          SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS t
          FROM {table}),
        c AS (SELECT {id_col}, t, count(*) AS c FROM w GROUP BY 1, 2)
        SELECT {id_col},
               CAST(floor(max(c) * 1000000.0 / sum(c)) AS BIGINT) AS top_token_micro
        FROM c GROUP BY {id_col}"""


# ---------------------------------------------------------------------------
# PII scrubbing (training-data hygiene: emails / NANP-style phone numbers /
# IPv4 literals redacted to typed placeholders before corpus export).
# Patterns restricted to constructs with identical semantics in Java
# regex and RE2/DuckDB, so the oracle runs the byte-identical chain.
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
# NANP-ish 3-3-4 shape with optional +1 / parens; deliberately NOT a
# bare digit-run matcher, so dates/ids/timestamps never redact
PII_PHONE_RE = r"(\+1[- ]?)?\(?\d{3}\)?[- ]\d{3}[- ]\d{4}\b"


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, text_redacted, n_emails, n_phones, n_ips): replace each PII
    class with a typed placeholder and count the hits. Emails first (so
    their digits can't feed the phone pattern), then IPs (dotted quads
    are never phones), then phones. Pure regexp expressions — one
    narrow projection, no UDF, no shuffle."""
    c = F.col(text_col)
    after_email = F.regexp_replace(c, PII_EMAIL_RE, "[EMAIL]")
    after_ip = F.regexp_replace(after_email, PII_IPV4_RE, "[IP]")
    after_phone = F.regexp_replace(after_ip, PII_PHONE_RE, "[PHONE]")
    return df.select(
        F.col(id_col),
        after_phone.alias("text_redacted"),
        F.regexp_count(c, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(after_ip, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(after_email, F.lit(PII_IPV4_RE)).cast("long").alias("n_ips"),
    )


def redact_pii_sql(
    id_col: str = "doc_id", text_col: str = "text", table: str = "documents"
) -> str:
    """DuckDB twin of :func:`redact_pii` (RE2: same classes, same
    ordering; counts via len(regexp_extract_all))."""
    email, ip, phone = PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE
    ae = f"regexp_replace({text_col}, '{email}', '[EMAIL]', 'g')"
    ai = f"regexp_replace({ae}, '{ip}', '[IP]', 'g')"
    ap = f"regexp_replace({ai}, '{phone}', '[PHONE]', 'g')"
    return f"""
        SELECT {id_col},
               {ap} AS text_redacted,
               CAST(len(regexp_extract_all({text_col}, '{email}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all({ai}, '{phone}')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all({ae}, '{ip}')) AS BIGINT) AS n_ips
        FROM {table}"""
