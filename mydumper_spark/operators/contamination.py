"""Benchmark-contamination detection + intra-document repetition filters —
training-data hygiene operators (north-star extension, SURVEY §7.9).

Contamination: a training corpus must not contain (near-)copies of the
evaluation benchmarks. The standard check is shingle overlap: flag any
corpus document sharing ≥ ``min_shared`` distinct word n-grams with any
eval document.

Scale shape (the 100 TB posture): benchmarks are tiny (thousands of docs)
while the corpus is the 100 TB side, so the eval shingle set is BROADCAST —
the corpus side is one codegen pass (shingle → explode → broadcast hash
join) with NO corpus shuffle; only the post-join hit list (corpus rows that
share at least one shingle, a vanishingly small fraction) enters the
(doc_id, eval_id) count aggregate. The corpus is never joined against
itself and never exchanged.

Repetition: Gopher-style quality gates — the fraction of duplicated word
3-grams and duplicated lines inside each document. Pure array expressions
in whole-stage codegen, zero shuffles (per-row metrics).

Both emit integer parts-per-million rather than rounded doubles: the
fractions are exact binary rationals (small-int divisions), and decimal
``round()`` half-way ties break differently across engines (HALF_UP vs
HALF_EVEN) — ``floor(x * 1e6)`` is identical everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mydumper_spark.operators.dedup import shingles, tokens


def contamination_pairs(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    n: int = 3,
    min_shared: int = 3,
) -> DataFrame:
    """(doc_id, eval_id, n_shared) for every corpus×eval pair sharing
    ``min_shared``+ distinct word ``n``-gram shingles.

    ``eval_docs`` needs columns (eval_id_col, text_col). Corpus documents
    that *are* eval documents (same id) are not excluded here — callers
    drawing the eval set from the corpus filter ``doc_id != eval_id``.
    """
    sh = F.explode(
        F.array_distinct(
            F.transform(shingles(F.col(text_col), n), lambda s: F.xxhash64(s))
        )
    ).alias("sh")
    corpus_sh = corpus.select(F.col(id_col), sh)
    eval_sh = eval_docs.select(F.col(eval_id_col), sh)
    hits = corpus_sh.join(F.broadcast(eval_sh), "sh")
    return (
        hits.groupBy(id_col, eval_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    n: int = 3,
    min_shared: int = 3,
) -> DataFrame:
    """Corpus minus contaminated documents (left-anti on the hit list)."""
    hits = contamination_pairs(
        corpus, eval_docs, text_col, id_col, eval_id_col, n, min_shared
    ).select(id_col).distinct()
    return corpus.join(hits, id_col, "left_anti")


def _dup_frac_ppm(items: Column) -> Column:
    """floor(1e6 * (1 - distinct/total)) over a possibly-empty array."""
    total = F.size(items)
    distinct = F.size(F.array_distinct(items))
    frac = F.when(total <= 0, F.lit(0.0)).otherwise(
        1.0 - distinct.cast("double") / total.cast("double")
    )
    return F.floor(frac * 1_000_000).cast("bigint")


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_ppm: int = 300_000,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document repetition gates: (id, dup_3gram_ppm, dup_line_ppm,
    passes_repetition). ``passes`` = both duplicate fractions ≤ 30%
    (Gopher-style repetition thresholds), as integer ppm comparisons.

    ``keep_cols``: extra input columns carried through unchanged (same
    contract as gopher_quality's) — lets a composite keep its payload in
    the gate projection instead of semi-joining it back, which is how
    ``prepare``'s ``--repetition-gate`` filters its stage frame."""
    keep = [F.col(k) for k in (keep_cols or [])]
    # two projections on purpose (the winnowing pattern): _dup_frac_ppm
    # reads its array twice (size + array_distinct) and Catalyst does NOT
    # common-subexpression-eliminate array expressions — inlining the
    # shingle construction here evaluated it twice per row (measured 3×
    # the materialized form on the sf0.1 corpus)
    arrs = df.select(
        F.col(id_col),
        *keep,
        shingles(F.col(text_col), 3).alias("__g"),
        F.split(F.col(text_col), "\n").alias("__l"),
    )
    out = arrs.select(
        F.col(id_col),
        *keep,
        _dup_frac_ppm(F.col("__g")).alias("dup_3gram_ppm"),
        _dup_frac_ppm(F.col("__l")).alias("dup_line_ppm"),
    )
    return out.withColumn(
        "passes_repetition",
        (F.col("dup_3gram_ppm") <= max_dup_ppm)
        & (F.col("dup_line_ppm") <= max_dup_ppm),
    )


__all__ = [
    "contamination_pairs",
    "decontaminate",
    "repetition_metrics",
    "tokens",
]
