"""Deterministic sequence packing for LLM pretraining pipelines.

The standard "concatenate-then-chunk" packing: documents are laid out
back-to-back in a deterministic order and the concatenation is cut every
``context_len`` tokens; a document's pack position is therefore pure
window math (an exclusive running sum over the layout order), which both
Spark and any SQL oracle compute identically — no stateful scan, no
driver loop.

Scale shape: a single global concatenation order would serialize the
cumsum. Instead rows are hash-sharded (``pmod(md5_60(salt||id),
n_shards)``) and each shard is packed independently — ONE exchange on
the shard key, then a per-shard window cumsum; shards are
hash-balanced, so parallelism = ``n_shards`` regardless of input skew.
At 100 TB pick ``n_shards`` ~ a few × total cores; each shard's packing
is a streaming single-pass sort-aggregate. Membership and ordering are
content-addressed (salt, id), so a re-run, a repartition, or a different
cluster size yields byte-identical packing — the reproducibility
property a training-data pipeline needs from its batch layout.

No reference equivalent (Scotty has no relational surface): a library
module outside the Scotty core, with no gate in ``__spark_entry__``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .portable_hash import md5_60


def pack_sequences(
    df: DataFrame,
    id_col: str,
    len_col: str,
    context_len: int,
    n_shards: int = 64,
    salt: str = "pack-v1",
) -> DataFrame:
    """Assign every document a deterministic position in a packed
    training layout. Adds four columns:

    - ``pack_shard``  — hash shard the document was packed into;
    - ``pack_start``  — exclusive running-sum offset of the document
      inside its shard's concatenation (in ``len_col`` units);
    - ``pack_seq``    — index of the fixed-size context window its
      first token lands in (``pack_start div context_len``);
    - ``pack_cross``  — true iff the document spans a chunk boundary
      (its tokens are split across two or more training sequences).

    Rows with non-positive length are dropped (they occupy no tokens
    and would otherwise alias the next document's start)."""
    if context_len <= 0:
        raise ValueError(f"context_len must be positive, got {context_len}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    h = md5_60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    out = df.where(F.col(len_col) > 0).withColumn(
        "pack_shard", F.pmod(h, F.lit(int(n_shards)))
    )
    # layout order inside a shard: the full 60-bit hash (uniform, no
    # length/ingest-order bias), tie-broken by id for a total order
    w = (
        Window.partitionBy("pack_shard")
        .orderBy(h.alias("_h"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = out.withColumn(
        "pack_start", (F.sum(F.col(len_col)).over(w) - F.col(len_col)).cast("long")
    )
    return out.withColumn(
        "pack_seq", F.expr(f"pack_start div {int(context_len)}")
    ).withColumn(
        "pack_cross",
        F.expr(f"(pack_start + {len_col} - 1) div {int(context_len)}")
        != F.col("pack_seq"),
    )


def pack_sequences_sql(
    table: str,
    id_col: str,
    len_col: str,
    context_len: int,
    n_shards: int = 64,
    salt: str = "pack-v1",
) -> str:
    """Oracle-side twin of :func:`pack_sequences`: identical shard,
    layout order, and chunk arithmetic as portable SQL (DuckDB syntax
    for the md5 hex parse). Kept next to the operator so the two can
    never drift independently."""
    from .portable_hash import md5_60_sql

    h = md5_60_sql(f"'{salt}' || cast({id_col} as varchar)")
    return f"""
SELECT *,
       pack_start // {int(context_len)} AS pack_seq,
       ((pack_start + {len_col} - 1) // {int(context_len)})
         != (pack_start // {int(context_len)}) AS pack_cross
FROM (
  SELECT *, ({h}) % {int(n_shards)} AS pack_shard,
         sum({len_col}) OVER (PARTITION BY ({h}) % {int(n_shards)}
                              ORDER BY ({h}), {id_col}
                              ROWS UNBOUNDED PRECEDING) - {len_col}
           AS pack_start
  FROM {table} WHERE {len_col} > 0
) laid_out
"""
