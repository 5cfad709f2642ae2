"""Benchmark decontamination: flag training docs sharing n-grams with
an eval/benchmark set.

The standard LLM-corpus hygiene step (GPT-3 appendix C, Lee et al.
2022 "Deduplicating Training Data Makes Language Models Better"): any
training document that shares at least one k-word shingle with a
benchmark document is contaminated and must be dropped (or have the
overlapping span masked) before training, or eval numbers are
meaningless. The reference engine has no analog — this is one of the
training-pipeline operators layered on the crawl per the build brief.

Shape at 100 TB: the benchmark side is small (eval sets are MBs, not
TBs) — its distinct shingle-hash set broadcasts, so the training side
is ONE map-side semi-join with no shuffle of the corpus at all; the
only shuffle is the per-doc hit-count aggregate, which carries (id,
1) pairs, never text. If the "benchmark" ever grows past broadcast
range the same plan degrades gracefully to a bucketed equi-join on
the 60-bit shingle hash (both sides uniform by construction). Join
keys are 8-byte int hashes, not shingle strings: a 13-gram shingle
averages ~80 bytes, so hashing cuts candidate-join traffic ~10x;
md5-prefix collisions only ever ADD a hit (false positive ~1e-18 per
pair), the safe direction for contamination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawlspark.operators.dedup import shingles_of


def shingle_hashes_of(w: "F.Column", k: int) -> "F.Column":
    """Distinct k-word shingles of a PRE-STAGED token-array column as
    60-bit int hashes (first 15 hex chars of md5 — fits signed BIGINT in
    any engine, so the DuckDB twin :func:`shingle_hash_sql` matches
    Spark's ``conv(_, 16, 10)`` exactly with no unsigned wraparound at
    either end). The split() runs once per row instead of once per
    shingle (see dedup.shingles_of)."""
    return F.array_distinct(
        F.transform(
            shingles_of(w, k),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-doc contamination report against ``benchmark``:
    ``(id, n_shingles, n_hit, contaminated)`` where ``n_hit`` counts the
    doc's DISTINCT k-shingles that occur anywhere in the benchmark and
    ``contaminated`` = n_hit > 0. Docs shorter than k words contribute
    their whole text as one shingle (word_shingles' documented edge).

    Every doc emits a row (left join back over the exploded hit count),
    so the caller can both filter (`NOT contaminated`) and audit the
    contamination rate in one pass."""
    bench_sh = (
        benchmark.select(F.split(F.col(bench_text_col), " ").alias("__w"))
        .select(F.explode(shingle_hashes_of(F.col("__w"), k)).alias("sh"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    # ONE shingle-hash build per doc, checkpointed: the hit count and
    # the n_shingles audit column are two consumers, and the k-word
    # string assembly + md5 per shingle is the operator's dominant cost
    # — without the barrier it runs once per consumer
    hsh = docs.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__w")
    ).select(
        "id", shingle_hashes_of(F.col("__w"), k).alias("__sh")
    ).localCheckpoint(eager=False)
    doc_sh = hsh.select("id", F.explode("__sh").alias("sh"))
    hits = doc_sh.join(bench_sh, "sh").groupBy("id").agg(F.count("*").alias("n_hit"))
    base = hsh.select("id", F.size("__sh").cast("long").alias("n_shingles"))
    return (
        base.join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_shingles",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            (F.coalesce("n_hit", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def shingle_hash_sql(text_expr: str, k: int) -> str:
    """DuckDB list expression mirroring :func:`shingle_hashes_of` over a
    space-tokenized text column (word_shingles' exact semantics: docs
    shorter than k words yield the whole text as one shingle)."""
    toks = f"string_split({text_expr}, ' ')"
    shingle = (
        f"CASE WHEN len({toks}) < {k} THEN [{text_expr}] "
        f"ELSE [array_to_string({toks}[i : i + {k} - 1], ' ') "
        f"      FOR i IN range(1, len({toks}) - {k} + 2)] END"
    )
    return (
        f"list_distinct([CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) "
        f"FOR s IN {shingle}])"
    )


def decontaminate_sql(
    k: int = 13,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_pred: str = "doc_id % 37 = 0",
) -> str:
    """DuckDB twin of :func:`decontaminate` with the benchmark defined
    as ``bench_pred`` over the same table (how the query registration
    constructs its deterministic benchmark set)."""
    sh = shingle_hash_sql(text_col, k)
    return f"""
      WITH bench AS (
        SELECT DISTINCT unnest({sh}) AS sh FROM {table} WHERE {bench_pred}),
      doc_sh AS (
        SELECT {id_col} AS id, unnest({sh}) AS sh FROM {table}),
      hits AS (
        SELECT d.id, count(*) AS n_hit FROM doc_sh d JOIN bench b USING (sh)
        GROUP BY d.id),
      base AS (
        SELECT {id_col} AS id, CAST(len({sh}) AS BIGINT) AS n_shingles FROM {table})
      SELECT base.id AS {id_col}, base.n_shingles,
             CAST(coalesce(hits.n_hit, 0) AS BIGINT) AS n_hit,
             coalesce(hits.n_hit, 0) > 0 AS contaminated
      FROM base LEFT JOIN hits ON base.id = hits.id
    """
