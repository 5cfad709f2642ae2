"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Web-scale training-data dedup over a ``documents(doc_id, text, ...)``
table. Every operator is a composition of built-in DataFrame ops —
shingling/hashing happen inside array expressions (no explode until the
final candidate-pair join), so the expensive part is one narrow
signature projection plus a self-equi-join on band keys.

Determinism/portability: hashes are md5 hex strings and "min" is the
*lexicographic* string min — identical in Spark and the DuckDB oracle,
no 64-bit integer conversion games.

Scale notes:
  * MinHash-LSH candidate join is an equi-join on (band_idx, band_key):
    shuffle partitions spread evenly unless one band key is degenerate
    (all-identical docs) — the classic fix (salting the reduce side /
    capping bucket size) applies; bucket sizes are observable via
    ``groupBy(band_key).count()``.
  * Exact dedup is a single hash-aggregate on md5(text) — map-side
    partial, one shuffle of (hash, id) pairs, never the texts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shingles_of(w: Column, k: int = 3) -> Column:
    """k-word shingles from a PRE-STAGED token-array column reference;
    docs shorter than k words yield one shingle = the whole text
    (``array_join(w, ' ')`` — split-then-join on the same separator is
    the identity). The caller must project ``split(text, ' ')`` into
    its own column first: the slice lambda references ``w`` per
    element, so an inlined split() subtree re-splits the text once per
    shingle — O(words²) string work per doc (the repo's HOF gotcha,
    see textops.winnow_fingerprints). A staged
    reference used >= 2 times survives CollapseProject and splits
    once per row."""
    return F.when(
        F.size(w) < k,
        F.array(F.array_join(w, " ")),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, k)),
        )
    )


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles as strings from a raw text column; docs shorter
    than k words yield one shingle = the whole text. NOTE: only for
    single-expression contexts (the array-expression signature path) —
    the split() here is re-evaluated per shingle when inlined into the
    transform lambda, so every EXPLODE-shaped consumer must stage the
    token array and use :func:`shingles_of` instead."""
    w = F.split(text, " ")
    return F.when(
        F.size(w) < k,
        F.array(F.col(text) if isinstance(text, str) else text),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, k)),
        )
    )


def minhash_signature_agg(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                          num_hashes: int = 8, k: int = 3,
                          hash_fn: str = "md5") -> DataFrame:
    """Signature via explode + min-aggregate: the shingle array is built
    ONCE per doc (vs once per signature column), the per-shingle hash
    work distributes across cores after the explode, and the groupBy
    mins are map-side partial: for seed i, the min over shingles of
    md5('{i}|' || shingle).

    ``hash_fn``: ``"md5"`` (default) keeps 32-char hex strings — the
    dialect-portable choice the DuckDB oracle can replay exactly.
    ``"xxhash64"`` uses Spark's seeded 64-bit hash: signature and band
    keys become 8-byte longs, cutting signature-shuffle and band-join
    key bytes ~4x — the 100 TB configuration. Same LSH collision
    semantics (uniform hash, per-seed independence); the min lands on a
    different shingle, so pair sets differ statistically but identical
    docs always collide under either.

    (Measured dead end, r6: hashing once per DISTINCT shingle + join
    back is exact but slower here — the extra explode + join machinery
    costs more than the duplicate-occurrence hashes it saves, 17.1 s
    vs 11.3 s at sf1.0 — so the per-occurrence min-agg stays.)"""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    # explode_OUTER + null filter: plain explode triggers
    # InferFiltersFromGenerate, cloning the whole shingle battery into
    # a size()>0 pre-filter — one extra array build per row; the
    # arrays carry no null elements, so this is identical
    sh = (
        df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
        .select(F.col(id_col), F.explode_outer(shingles_of(F.col("__w"), k)).alias("sh"))
        .where(F.col("sh").isNotNull())
    )
    if hash_fn == "md5":
        slots = [
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    else:
        # seed via xxhash64's own seed slot (F.lit(i) first arg feeds the
        # multi-arg chain) — one JVM intrinsic per shingle per slot
        slots = [
            F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    return sh.groupBy(id_col).agg(*slots)


def minhash_bands(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  num_hashes: int = 8, band_size: int = 2, k: int = 3,
                  hash_fn: str = "md5") -> DataFrame:
    """(id, band_idx, band_key) — one row per band; band_key hashes the
    band's signature slots (md5 hex string, or xxhash64 long for the
    narrow-shuffle variant)."""
    sigs = minhash_signature_agg(df, id_col, text_col, num_hashes, k, hash_fn=hash_fn)
    n_bands = num_hashes // band_size

    def band_key(b: int) -> Column:
        cols = [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        if hash_fn == "md5":
            return F.md5(F.concat_ws("|", *cols))
        return F.xxhash64(*cols)

    bands = F.array(*[
        F.struct(F.lit(b).alias("band_idx"), band_key(b).alias("band_key"))
        for b in range(n_bands)
    ])
    return sigs.select(id_col, F.explode(bands).alias("b")).select(
        id_col, F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key")
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 8, band_size: int = 2, k: int = 3,
                      max_bucket_size: int | None = None,
                      hash_fn: str = "md5") -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band. Output
    (id_a, id_b) with id_a < id_b, distinct.

    ``max_bucket_size`` is the web-scale guardrail: a degenerate band
    key (boilerplate text shared by millions of docs) turns the
    self-join quadratic. Buckets above the cap are dropped — their
    members are near-identical boilerplate better handled by exact
    dedup on the fingerprint; this is the standard cap-and-spill policy
    for LSH at corpus scale. None (default) keeps exact semantics."""
    bands = minhash_bands(df, id_col, text_col, num_hashes, band_size, k, hash_fn=hash_fn)
    if max_bucket_size is not None:
        # three consumers below (size count, semi-join probe, self-join
        # both sides) would each recompute the signature aggregation;
        # truncate once. lazy localCheckpoint = first action materializes,
        # the rest reuse (13% end-to-end at sf0.1, values unchanged)
        bands = bands.localCheckpoint(eager=False)
        sizes = bands.groupBy("band_idx", "band_key").agg(F.count("*").alias("__n"))
        bands = (
            bands.join(sizes.where(F.col("__n") <= max_bucket_size), ["band_idx", "band_key"], "left_semi")
        )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band_idx", "band_key"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate clusters by content hash: (text_hash, n_dups,
    keeper) where keeper is the min id — the canonical representative."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keeper"))
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        k: int = 3, max_id: int | None = None,
                        threshold: float = 0.0) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (optionally
    restricted to ids < max_id for the quadratic verify stage after LSH).
    Computed by exploding distinct shingles and counting co-occurrences:
    |A∩B| from the shingle self-join, |A∪B| = |A|+|B|-|A∩B|."""
    base = df if max_id is None else df.where(F.col(id_col) < max_id)
    sh = (
        base.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
        .select(
            F.col(id_col),
            F.explode_outer(F.array_distinct(shingles_of(F.col("__w"), k))).alias("sh"),
        )
        .where(F.col("sh").isNotNull())
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    inter = (
        sh.alias("a").join(sh.alias("b"), "sh")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "nb"), "id_b")
        .select(
            "id_a", "id_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_verify(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         k: int = 3, threshold: float = 0.0) -> DataFrame:
    """Exact n-gram Jaccard for a GIVEN candidate-pair set — the verify
    stage of the standard LSH candidate→verify→keeper pipeline. Work is
    bounded by the candidates (never all-pairs): each pair costs one
    shingle-intersection count via two equi-joins. Pairs sharing no
    shingle at all drop out (their Jaccard is 0 — below any positive
    threshold; LSH candidates always share a band, so in the composed
    pipeline this loses nothing)."""
    sh = (
        df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
        .select(
            F.col(id_col),
            F.explode_outer(F.array_distinct(shingles_of(F.col("__w"), k))).alias("sh"),
        )
        .where(F.col("sh").isNotNull())
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), "sh")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        pairs.select("id_a", "id_b")
        .join(sh_a, "id_a")
        .join(sh_b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "nb"), "id_b")
        .select(
            "id_a", "id_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def lsh_dedup_keepers(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 8, band_size: int = 2, k: int = 3,
                      threshold: float = 0.6,
                      max_bucket_size: int | None = None) -> DataFrame:
    """The composed near-dup pipeline: LSH candidates → exact Jaccard
    verify → greedy keeper set (drop every doc that has a verified
    near-dup with a smaller id; the min-id representative survives).
    Greedy-by-id is the standard single-pass policy — it equals the
    transitive-closure representative for clique-like duplicate clusters
    and never drops a doc without a verified twin."""
    cands = minhash_lsh_pairs(df, id_col, text_col, num_hashes, band_size, k, max_bucket_size)
    verified = ngram_jaccard_verify(df, cands, id_col, text_col, k, threshold)
    dropped = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.select(id_col).join(dropped, id_col, "left_anti")


def lsh_bucket_keepers(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       num_hashes: int = 8, band_size: int = 2, k: int = 3) -> DataFrame:
    """Collision-only LSH admission: ``(id, admitted)`` where a doc is
    dropped iff ANY of its band buckets (band_idx, band_key) contains a
    smaller doc id — the pure min-per-bucket rule, no Jaccard verify.
    Order-independent by construction (a min over each bucket): a
    first-arrival-wins stream equals this rule exactly when docs arrive
    in id order. Use :func:`lsh_dedup_keepers`
    when you want verified (higher-precision) batch dedup; this rule
    trades false drops for a verify-free single aggregate.

    Bands are localCheckpoint-materialized: the bucket-min aggregate
    and the collision join are two consumers, and without the barrier
    Catalyst re-runs the whole shingle→signature build per consumer
    (the repo's multi-consumer scan trap)."""
    bands = minhash_bands(df, id_col, text_col, num_hashes, band_size, k)
    bands = bands.localCheckpoint(eager=True)
    bmin = bands.groupBy("band_idx", "band_key").agg(
        F.min(id_col).alias("__bmin")
    )
    dropped = (
        bands.join(bmin, ["band_idx", "band_key"])
        .where(F.col("__bmin") < F.col(id_col))
        .select(id_col)
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        df.select(id_col)
        .join(dropped, id_col, "left")
        .select(id_col, F.coalesce(~F.col("__dropped"), F.lit(True)).alias("admitted"))
    )


def simhash_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  max_hamming: int = 3,
                  max_bucket_size: int | None = None) -> DataFrame:
    """SimHash near-dup pairs: all pairs within ``max_hamming`` of the
    64-bit text fingerprint. Computes the simhash, then delegates to
    :func:`hash64_pairs` (the generic exact-recall hamming pairer — the
    image perceptual-hash dedup shares it)."""
    from crawlspark.operators.textops import simhash64_agg

    sh = df.transform(lambda d: simhash64_agg(d, id_col, text_col)).withColumnRenamed("simhash", "sh")
    return hash64_pairs(sh, id_col=id_col, hash_col="sh",
                        max_hamming=max_hamming, max_bucket_size=max_bucket_size)


def hash64_pairs(df: DataFrame, id_col: str = "doc_id", hash_col: str = "sh",
                 max_hamming: int = 3,
                 max_bucket_size: int | None = None) -> DataFrame:
    """All (id_a, id_b, hamming) pairs within ``max_hamming`` bits of a
    precomputed 64-bit hash column — EXACT, not recall-approximate:
    banding into ``max_hamming + 1`` disjoint bit segments guarantees
    (pigeonhole) that any qualifying pair shares an identical band, and
    the exact hamming verify removes band-collision false positives.
    The candidate join is an equi-join on (band_idx, band_key) — never
    an all-pairs product. ``max_bucket_size`` caps degenerate bands
    (boilerplate corpora) like the MinHash-LSH guardrail; None keeps
    exact recall. Works over ANY int64 locality hash: text simhash
    (:func:`simhash_pairs`), image dhash (multimodal.image_phash_pairs),
    audio fingerprints."""
    from crawlspark.operators.textops import hamming64, simhash_band_keys

    n_bands = max_hamming + 1
    if n_bands > 64:
        raise ValueError("max_hamming must be < 64")
    sh = df.select(F.col(id_col), F.col(hash_col).alias("sh"))
    keys = simhash_band_keys(F.col("sh"), n_bands)
    bands = sh.select(
        id_col, "sh",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("band"), keys[k].alias("key")) for k in range(n_bands)
        ])).alias("b"),
    ).select(id_col, "sh", "b.band", "b.key")
    if max_bucket_size is not None:
        sizes = bands.groupBy("band", "key").agg(F.count("*").alias("__n"))
        bands = bands.join(
            sizes.where(F.col("__n") <= max_bucket_size), ["band", "key"], "left_semi"
        )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")).cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def winnow_overlap_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                         k: int = 8, w: int = 4, min_shared: int = 2,
                         max_bucket_size: int | None = None) -> DataFrame:
    """Partial-overlap pairs by shared winnowing fingerprints
    (textops.winnow_fingerprints): docs sharing >= ``min_shared``
    selected k-gram fingerprints. Catches LOCAL overlap — a quoted
    paragraph, boilerplate header, containment — where whole-document
    MinHash/SimHash similarity stays near zero.

    Plan shape is the LSH pattern: equi-join on the fingerprint hash
    (never all-pairs), group-count per pair, filter. ``max_bucket_size``
    caps ubiquitous fingerprints (site-wide boilerplate grams collide
    millions of docs into one bucket; cap-and-spill keeps the join
    linear — same guardrail as minhash_lsh_pairs/simhash_pairs)."""
    from pyspark.sql import Window

    from crawlspark.operators.textops import winnow_fingerprints

    fps = winnow_fingerprints(df, id_col, text_col, k=k, w=w)
    if max_bucket_size is not None:
        # count-window over fp partitions, NOT groupBy+semi-join: the
        # cap then lives ABOVE the single fp-shuffle of the fingerprint
        # relation, so the self-join's two sides share one exchange
        # (ReusedExchange) and the O(n·k) gram hashing runs ONCE —
        # the semi-join shape evaluated the winnow projection 4x.
        n_in_bucket = F.count("*").over(Window.partitionBy("fp"))
        fps = (
            fps.withColumn("__n", n_in_bucket)
            .where(F.col("__n") <= max_bucket_size)
            .drop("__n")
        )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, "fp")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a pair list → (node, component) with
    component = min node id in the component — the cluster step of
    corpus dedup (near-dup pairs → clusters → keep one doc per
    cluster), the shape used by the SlimPajama/FineWeb-style pipelines.

    Min-label propagation: every node starts labeled with itself; each
    round pushes labels across edges and keeps the min; converges in
    O(diameter) rounds with ONE action per round (the convergence
    count). Near-dup graphs are unions of near-cliques, so diameter —
    and the round count — is tiny regardless of corpus size. Each
    round's result is localCheckpointed: the plan stays O(1) deep
    instead of growing by two joins per round (at cluster scale use
    reliable checkpoints). Singleton docs (no pairs) are not emitted —
    they are their own keeper by definition."""
    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        prop = edges.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "component")
        merged = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            merged.withColumnRenamed("component", "c2")
            .join(labels, "node")
            .where(F.col("c2") != F.col("component"))
            .count()
        )
        labels = merged
        if changed == 0:
            break
    else:
        # exhausted max_iter with labels still moving: returning now
        # would silently split clusters (diameter > max_iter) and keep
        # extra duplicates downstream — fail loudly instead (ADVICE r3)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — near-dup "
            "graphs normally converge in O(diameter) ≪ 25 rounds"
        )
    return labels


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Paragraph-level corpus dedup (the CCNet/RefinedWeb shape): split
    each document on ``sep``, drop every paragraph that already occurred
    earlier in the corpus — "earlier" = smallest (doc_id, position) for
    that paragraph's hash — and reassemble what's left in original
    order. Boilerplate (nav bars, cookie banners, license headers)
    collapses to its first occurrence; documents reduced to nothing
    still emit a row (empty text) so the caller sees the loss.

    Returns (id, n_paras, n_kept, text_dedup).

    Plan: posexplode(split) → row_number over the paragraph-hash window
    (first occurrence wins) → re-group by doc. Two shuffles — one by
    paragraph hash, one by doc id for reassembly — both carrying
    (hash, id, pos, paragraph); at 100 TB the reassembly shuffle is
    inherent (paragraph text must co-locate with its doc) and the hash
    shuffle spreads evenly because md5 keys are uniform; a degenerate
    all-equal corpus pins one partition, the same cap-and-spill
    consideration as the LSH band join (minhash_lsh_pairs docstring).
    """
    from pyspark.sql import Window

    paras = (
        docs.select(F.col(id_col).alias("id"),
                    F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"))
        .where(F.col("para") != "")
        .withColumn("h", F.md5("para"))
    )
    w = Window.partitionBy("h").orderBy("id", "pos")
    kept = paras.withColumn("rn", F.row_number().over(w))
    regrouped = (
        kept.groupBy("id").agg(
            F.count("*").alias("n_paras"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rn") == 1, F.struct("pos", "para"))
                        )
                    ),
                    lambda s: s.para,
                ),
                sep,
            ).alias("text_dedup"),
        )
    )
    return regrouped.select(
        F.col("id").alias(id_col), "n_paras", "n_kept", "text_dedup"
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 40,
    use_hash: bool = False,
) -> DataFrame:
    """Exact substring-duplicate spans — the ExactSubstr dedup of Lee
    et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") re-expressed as DataFrame ops instead of a corpus suffix
    array: a character k-gram is *duplicated* when the identical k
    characters occur at >= 2 (doc, offset) positions corpus-wide;
    per document, overlapping/touching duplicated k-grams merge into
    maximal spans [span_start, span_end) of 0-based char offsets.

    Returns (id, span_start, span_end, span_len), one row per maximal
    span.

    Plan: per-row k-gram array (built inside one transform expression,
    so the full text never rides through the explode) → narrow
    (id, pos, gram) projection → duplicate marking via one count
    window on the gram key → per-doc gaps-and-islands merge (lag +
    running sum). Two shuffles: one by gram key, one by doc id.

    Scale: stride-1 char grams are O(total chars) rows — the suffix
    array's exact coverage without its global sort. At 100 TB set
    ``use_hash=True`` (shuffle 8-byte xxhash64 keys instead of k-char
    strings; a 64-bit collision can only over-mark a gram as
    duplicated, never miss one) and pre-gate docs through
    ``winnow_fingerprint`` buckets so only documents sharing a
    fingerprint pay the gram explode. A degenerate all-equal corpus
    pins one gram partition — the same cap-and-spill consideration as
    ``minhash_lsh_pairs``."""
    from pyspark.sql import Window

    gram_arr = F.transform(
        F.sequence(F.lit(0), F.length(text_col) - k),
        lambda p: F.col(text_col).substr(p + F.lit(1), F.lit(k)),
    )
    grams = (
        docs.where(F.length(text_col) >= k)
        .select(F.col(id_col).alias("id"), F.posexplode(gram_arr).alias("pos", "g"))
    )
    key = F.xxhash64("g") if use_hash else F.col("g")
    dup = (
        grams.withColumn("c", F.count("*").over(Window.partitionBy(key)))
        .where(F.col("c") > 1)
        .select("id", "pos")
    )
    wd = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("pos").over(wd)
    isl = dup.withColumn(
        "ni", F.when(prev.isNull() | (F.col("pos") > prev + k), 1).otherwise(0)
    ).withColumn("island", F.sum("ni").over(wd))
    return (
        isl.groupBy("id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def strip_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 40,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Remove every span found by ``duplicate_spans`` from every
    document — the conservative ExactSubstr policy (all copies go;
    Lee et al. measured that keeping zero copies of long duplicated
    substrings does not hurt LM quality, and it makes the operator a
    pure function of the span set — no global first-occurrence tie
    break, hence embarrassingly parallel).

    Returns (id, text_clean, n_spans, removed_chars); documents with
    no duplicated spans pass through unchanged.

    Plan: spans → per-doc gap segments via lag(span_end) plus one tail
    segment per doc → substr the segments out of the original text →
    order-preserving reassembly (array_sort over (seg_start, piece)
    structs, the paragraph_dedup shape). One extra join against the
    docs table and one reassembly shuffle by doc id — both inherent
    (segment text must co-locate with its doc)."""
    from pyspark.sql import Window

    if spans is None:
        spans = duplicate_spans(docs, id_col=id_col, text_col=text_col, k=k)
    s = spans.select(F.col(id_col).alias("id"), "span_start", "span_end")
    wd = Window.partitionBy("id").orderBy("span_start")
    gaps = s.select(
        "id",
        F.coalesce(F.lag("span_end").over(wd), F.lit(0)).alias("seg_start"),
        F.col("span_start").alias("seg_end"),
    )
    per_doc = s.groupBy("id").agg(
        F.max("span_end").alias("tail_start"),
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("removed_chars"),
    )
    segs = gaps.unionByName(
        per_doc.select(
            "id",
            F.col("tail_start").alias("seg_start"),
            F.lit(None).cast("long").alias("seg_end"),
        )
    )
    pieces = (
        segs.join(
            docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")), "id"
        )
        .select(
            "id",
            "seg_start",
            F.col("t")
            .substr(
                F.col("seg_start") + F.lit(1),
                F.coalesce("seg_end", F.length("t")) - F.col("seg_start"),
            )
            .alias("piece"),
        )
    )
    rebuilt = pieces.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_start", "piece"))),
                lambda x: x.piece,
            ),
            "",
        ).alias("text_clean")
    )
    return (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .join(rebuilt.join(per_doc, "id"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text_clean", "t").alias("text_clean"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("removed_chars", F.lit(0)).cast("long").alias("removed_chars"),
        )
    )
