"""LSH bucket-cap guardrail under boilerplate skew: a corpus where
thousands of docs share identical text must NOT produce a quadratic
band bucket — the cap drops the degenerate bucket (its members belong
to exact dedup) while distinct near-dup pairs still come through."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from crawlspark.operators.dedup import exact_dedup, minhash_bands, minhash_lsh_pairs


def _skew_corpus(spark, n_boiler=2000, n_unique=60):
    """n_boiler identical boilerplate docs + n_unique distinct docs, of
    which pairs (2i, 2i+1) are near-duplicates (one word appended)."""
    boiler = spark.range(n_boiler).select(
        F.col("id").alias("doc_id"),
        F.lit("lorem ipsum dolor sit amet consectetur adipiscing elit sed do").alias("text"),
    )
    common = " ".join(
        f"w{i} alpha bravo charlie delta echo foxtrot golf hotel" for i in range(6)
    )
    uniq = spark.range(n_unique).select(
        (F.col("id") + n_boiler).alias("doc_id"),
        F.concat(
            F.lit(common + " pair"),
            F.floor(F.col("id") / 2).cast("string"),
            # near-dup pair (2i, 2i+1): one trailing word differs out of
            # ~55 — Jaccard ~0.95, so every band collides w.h.p. and the
            # md5-fixed outcome is deterministic
            F.when(F.col("id") % 2 == 1, F.lit(" extra")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return boiler.unionByName(uniq)


def test_bucket_cap_bounds_boilerplate_buckets(spark):
    docs = _skew_corpus(spark)
    bands = minhash_bands(docs)
    top = (
        bands.groupBy("band_idx", "band_key").count()
        .agg(F.max("count")).first()[0]
    )
    assert top >= 2000  # the skew is real: one band key holds all boilerplate

    pairs = minhash_lsh_pairs(docs, max_bucket_size=100).collect()
    ids = {i for r in pairs for i in (r["id_a"], r["id_b"])}
    # no boilerplate doc survives into the candidate join …
    assert all(i >= 2000 for i in ids), "boilerplate bucket leaked through the cap"
    # … but the distinct near-dup pairs are all found
    expect = {(2000 + 2 * i, 2000 + 2 * i + 1) for i in range(30)}
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert expect <= got
    # and the dropped boilerplate is exactly what exact dedup owns
    clusters = exact_dedup(docs).where(F.col("n_dups") > 1).collect()
    assert any(r["n_dups"] == 2000 for r in clusters)


def test_cap_none_keeps_exact_semantics_on_small_corpus(spark):
    docs = _skew_corpus(spark, n_boiler=30, n_unique=20)
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, max_bucket_size=10_000).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    assert capped == uncapped


def test_xxhash64_variant_matches_md5_on_planted_dups(spark):
    """The narrow-shuffle xxhash64 signature path (8-byte keys instead
    of 32-char hex) must find every planted near-dup pair the md5 path
    finds on this corpus: pairs differ by 1 word in ~55 (Jaccard ~0.95),
    so all bands collide w.h.p. under ANY uniform hash; identical docs
    collide with certainty. Also pins the key dtypes the 4x shuffle
    saving comes from."""
    docs = _skew_corpus(spark, n_boiler=200, n_unique=60)
    expect = {(200 + 2 * i, 200 + 2 * i + 1) for i in range(30)}
    for hash_fn, key_type in (("md5", "string"), ("xxhash64", "bigint")):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(
                docs, max_bucket_size=100, hash_fn=hash_fn
            ).collect()
        }
        assert expect <= pairs, hash_fn
        bands = minhash_bands(docs, hash_fn=hash_fn)
        assert dict(bands.dtypes)["band_key"] == key_type


def test_connected_components_goldens(spark):
    from pyspark.sql import Row

    from crawlspark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    pairs = spark.createDataFrame([
        Row(id_a=2, id_b=1), Row(id_a=2, id_b=3), Row(id_a=3, id_b=4),
        Row(id_a=10, id_b=11), Row(id_a=11, id_b=12), Row(id_a=10, id_b=12),
        Row(id_a=21, id_b=20),
    ])
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_path_converges(spark):
    from pyspark.sql import Row

    from crawlspark.operators.dedup import connected_components

    n = 18  # path graph: worst-case diameter for label propagation
    pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(n)])
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_raises_on_non_convergence(spark):
    """A diameter > max_iter graph must fail loudly, not silently
    return split clusters (ADVICE r3)."""
    import pytest
    from pyspark.sql import Row

    from crawlspark.operators.dedup import connected_components

    pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(12)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


# -- exact substring dedup (ExactSubstr, Lee et al. 2022) --------------------


def _substr_corpus(spark):
    """Four docs: 0 and 1 share a planted 60-char block at known
    offsets; 2 is unique; 3 is shorter than k (never grams)."""
    planted = "the quick brown fox jumps over the lazy dog again and again!"  # 60 chars
    assert len(planted) == 60
    rows = [
        (0, "a" * 25 + planted + "b" * 25),          # span at [25, 85)
        # NOTE: fillers must not self-repeat — a run like "z"*60 contains
        # duplicated 40-grams WITHIN one doc, which ExactSubstr counts
        (1, planted + "pad without any internal forty-char repeat"),
        (2, "totally unique content with no repeated forty-char block anywhere"),
        (3, "short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_spans_planted_block(spark):
    from crawlspark.operators.dedup import duplicate_spans

    docs = _substr_corpus(spark)
    got = {
        r.doc_id: (r.span_start, r.span_end, r.span_len)
        for r in duplicate_spans(docs, k=40).collect()
    }
    # the planted 60-char block yields 21 duplicated 40-gram starts that
    # merge into ONE maximal span covering exactly the block
    assert got == {0: (25, 85, 60), 1: (0, 60, 60)}


def test_duplicate_spans_hash_path_matches_string_path(spark):
    from crawlspark.operators.dedup import duplicate_spans

    docs = _substr_corpus(spark)
    a = sorted(map(tuple, duplicate_spans(docs, k=40, use_hash=False).collect()))
    b = sorted(map(tuple, duplicate_spans(docs, k=40, use_hash=True).collect()))
    assert a == b


def test_strip_duplicate_spans_accounting(spark):
    from crawlspark.operators.dedup import strip_duplicate_spans

    docs = _substr_corpus(spark)
    orig = {r.doc_id: r.text for r in docs.collect()}
    out = {r.doc_id: r for r in strip_duplicate_spans(docs, k=40).collect()}
    assert set(out) == set(orig)  # every doc emits exactly one row
    for i, r in out.items():
        # removed_chars is exact: cleaned length + removed == original
        assert len(r.text_clean) + r.removed_chars == len(orig[i])
    assert out[0].text_clean == "a" * 25 + "b" * 25
    assert out[1].text_clean == "pad without any internal forty-char repeat"
    assert out[2].n_spans == 0 and out[2].text_clean == orig[2]
    assert out[3].n_spans == 0 and out[3].text_clean == orig[3]


def test_duplicate_spans_merges_overlapping_islands(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from crawlspark.operators.dedup import duplicate_spans

    # two copies of an 80-char block: duplicated 40-grams start at every
    # offset 0..40 — all overlap, ONE span per doc, not 41
    block = ("pack my box with five dozen liquor jugs " * 2)  # 80 chars
    docs = spark.createDataFrame(
        [(0, block + "tail one"), (1, block + "other tail")],
        "doc_id long, text string",
    )
    spans = duplicate_spans(docs, k=40).collect()
    per_doc = {}
    for r in spans:
        per_doc.setdefault(r.doc_id, []).append(r)
    for i, ss in per_doc.items():
        assert len(ss) == 1, f"doc {i}: expected one merged span, got {ss}"
        assert (ss[0].span_start, ss[0].span_end) == (0, 80)


def test_paragraph_dedup_first_occurrence_golden(spark):
    from crawlspark.operators.dedup import paragraph_dedup

    boiler = "accept our cookies"
    docs = spark.createDataFrame([
        Row(doc_id=0, text=f"{boiler}\n\nunique zero\n\nshared tail"),
        Row(doc_id=1, text=f"{boiler}\n\nunique one"),
        Row(doc_id=2, text=f"shared tail\n\n{boiler}\n\nunique two"),
        Row(doc_id=3, text=boiler),                      # fully boilerplate
        Row(doc_id=4, text=f"unique four\n\n\n\nunique four b"),  # empty para dropped
    ])
    out = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert out[0]["text_dedup"] == f"{boiler}\n\nunique zero\n\nshared tail"
    assert (out[0]["n_paras"], out[0]["n_kept"]) == (3, 3)   # first doc keeps all
    assert out[1]["text_dedup"] == "unique one"              # boiler seen in doc 0
    assert (out[1]["n_paras"], out[1]["n_kept"]) == (2, 1)
    assert out[2]["text_dedup"] == "unique two"              # both repeats dropped
    assert out[3]["text_dedup"] == ""                        # reduced to nothing,
    assert (out[3]["n_paras"], out[3]["n_kept"]) == (1, 0)   # ...but still emitted
    assert out[4]["text_dedup"] == "unique four\n\nunique four b"
    assert (out[4]["n_paras"], out[4]["n_kept"]) == (2, 2)
