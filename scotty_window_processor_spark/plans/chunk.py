"""Per-document overlapping chunking — the context-window prep step that
turns long documents into fixed-size training/RAG windows with stride
overlap. Distinct from plans.packing (which concatenates docs ACROSS a
shard into dense context blocks): chunking is per-row, preserves
provenance (doc_id, word offset), and never crosses document boundaries.

All Catalyst: one narrow projection + one posexplode — NO Python, and no
shuffle at scale: chunking 100 TB is a pure map stage whose parallelism
is the scan's. (On tiny inputs with fewer scan splits than cluster slots
— the degenerate local case — ``spread`` inserts one repartition so the
regex+split projection does not run single-task; at real scale it is a
metadata no-op.) The chunk count and every offset are integer arithmetic
over the word count, so any SQL engine re-derives the exact same layout
row for row.

Layout: chunks start at 0, stride, 2·stride, ... with
stride = chunk_words − overlap_words; the count
n_chunks = max(1, ceil((n_words − overlap) / stride)) guarantees every
word is covered and the final chunk may be short (chunk_n_words reports
its true length). A doc shorter than one chunk yields exactly one chunk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalized_text(col):
    """Canonical word form: lowercase, trimmed, collapsed whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def spread(df: DataFrame) -> DataFrame:
    """Repartition iff the input has fewer partitions than the cluster has
    slots. A CPU-heavy per-row projection otherwise runs at the SCAN's
    parallelism, and a small parquet file is a single unsplittable row
    group → one task doing all the work. At real scale the file index
    alone proves there are >= slots scan splits, so the common path never
    converts the plan to an RDD; the checks are driver-side metadata, not
    a job."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= target:
            return df
    except Exception:
        pass
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 64,
    overlap_words: int = 16,
) -> DataFrame:
    """One output row per (doc, chunk): (doc_id, chunk_idx, n_chunks,
    chunk_start_word, chunk_n_words, chunk_text). Words are the
    whitespace split of :func:`normalized_text`."""
    if overlap_words >= chunk_words:
        raise ValueError(
            f"overlap_words ({overlap_words}) must be < chunk_words ({chunk_words})"
        )
    stride = chunk_words - overlap_words
    words = F.split(normalized_text(F.col(text_col)), " ")
    base = spread(df).select(
        F.col(id_col).alias("doc_id"),
        words.alias("w"),
    ).select(
        "doc_id",
        "w",
        F.size("w").alias("n"),
        # ceil((n - overlap) / stride) via integer arithmetic; the
        # numerator n + stride - overlap - 1 is > 0 whenever stride >
        # overlap... stride >= 1 and n >= 1 make it >= 1, so floor-div is
        # exact ceil-div and greatest() only guards the tiny-doc case
        F.greatest(
            F.lit(1),
            F.floor(
                (F.size("w") - F.lit(overlap_words) + F.lit(stride - 1)) / F.lit(stride)
            ).cast("int"),
        ).alias("n_chunks"),
    )
    exploded = base.select(
        "doc_id",
        "w",
        "n",
        "n_chunks",
        # outer ≡ inner: n_chunks >= 1 by the greatest() floor (NULL text
        # included), so the sequence is never null/empty; the outer form
        # keeps InferFiltersFromGenerate from pushing a size()>0 filter
        # below the projection, which would re-evaluate the
        # normalize+split chain once more per row
        F.explode_outer(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * F.lit(stride)
    return exploded.select(
        "doc_id",
        "chunk_idx",
        "n_chunks",
        start.alias("chunk_start_word"),
        F.least(F.lit(chunk_words), F.col("n") - start).alias("chunk_n_words"),
        F.array_join(F.slice("w", start + 1, chunk_words), " ").alias("chunk_text"),
    )
