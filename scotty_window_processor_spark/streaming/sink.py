"""Exactly-once parquet sink with per-partition lineage + metrics.

Spark's streaming file sink is already exactly-once via the write-ahead
manifest; this sink adds what the north_rule asks beyond that — lineage
records per micro-batch partition and idempotent re-delivery on restart:

- each micro-batch writes to ``<out>/batch_id=<N>/`` with dynamic
  partition overwrite: a batch replayed after a crash (same batch_id from
  the checkpointed offset log) OVERWRITES its own output instead of
  appending a duplicate — the standard foreachBatch idempotence recipe;
- a ``_lineage/batch-<N>.json`` manifest records row counts and window
  ranges per partition, committed AFTER the data write (readers treat
  data without a manifest as in-flight);
- downstream consumers read ``read_committed`` to see only manifested
  batches.

The lineage comes from the committed files themselves, with no Spark job:
each non-empty data file's parquet footer gives its row count, and its
row-group statistics give ``min(w_start)`` and ``max(w_end)``. Reading the
batch back with Spark instead cost two jobs per micro-batch on the path
to ``committed_at_ms``.

The reference has no sink at all (demo `print()`, benchmark no-op —
SURVEY.md §2.3); exactly-once semantics here come from Spark's
checkpointed offset tracking + idempotent writes.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def _file_lineage(path: str) -> dict:
    """Rows, ``min(w_start)`` and ``max(w_end)`` of one parquet file, from
    its footer."""
    meta = pq.read_metadata(path)
    out = {"rows": meta.num_rows}
    if meta.num_rows == 0:
        return out
    index = {meta.schema.column(i).path: i for i in range(meta.num_columns)}
    for key, col, which, pick in (("min_w_start", "w_start", "min", min),
                                  ("max_w_end", "w_end", "max", max)):
        stats = [meta.row_group(g).column(index[col]).statistics
                 for g in range(meta.num_row_groups)]
        if any(st is None or not st.has_min_max for st in stats):
            raise ValueError(f"{path}: a row group has no {col} statistics")
        out[key] = pick(getattr(st, which) for st in stats)
    return out


class ExactlyOnceParquetSink:
    def __init__(self, out_dir: str, max_manifest_files: int = 4096):
        self.out_dir = out_dir
        # per-file lineage detail cap (guide §5: the driver should not
        # assemble unbounded collections): a pathological small-files
        # batch would otherwise list one entry per data file in the
        # manifest. Batch TOTALS cover every file; the per-file list is
        # truncated at this cap with an explicit files_total/files_listed
        # marker. The exactly-once replay contract only uses path + rows,
        # so a truncated manifest commits identically.
        self.max_manifest_files = max_manifest_files
        self.lineage_dir = os.path.join(out_dir, "_lineage")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        os.makedirs(self.lineage_dir, exist_ok=True)
        manifest_path = os.path.join(self.lineage_dir, f"batch-{batch_id}.json")

        path = os.path.join(self.out_dir, f"batch_id={batch_id}")
        # overwrite THIS batch's directory only: replays are idempotent
        batch_df.write.mode("overwrite").parquet(path)

        # lineage at PARTITION granularity (north_rule): one entry per
        # non-empty committed data file (= one write task partition); the
        # batch totals are the partition sums
        parts = []
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                part = _file_lineage(os.path.join(path, name))
                if part["rows"]:
                    parts.append({"file": name, **part})
        manifest = {
            "batch_id": batch_id,
            "rows": sum(p["rows"] for p in parts),
            "min_w_start": min((p["min_w_start"] for p in parts), default=None),
            "max_w_end": max((p["max_w_end"] for p in parts), default=None),
            "files_total": len(parts),
            "files_listed": min(len(parts), self.max_manifest_files),
            "partitions": parts[: self.max_manifest_files],
            "committed_at_ms": int(time.time() * 1000),
            "path": path,
        }
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, manifest_path)  # atomic commit marker

    def read_committed(self, spark: SparkSession) -> DataFrame:
        """Read only batches whose lineage manifest was committed."""
        batches = self.lineage()
        paths = [b["path"] for b in batches if b["rows"] > 0 and os.path.isdir(b["path"])]
        if not paths:
            from pyspark.sql.types import StructType

            return spark.createDataFrame([], StructType([]))
        return spark.read.parquet(*paths)

    def lineage(self) -> list[dict]:
        out = []
        if os.path.isdir(self.lineage_dir):
            for name in sorted(os.listdir(self.lineage_dir)):
                if name.startswith("batch-") and name.endswith(".json"):
                    with open(os.path.join(self.lineage_dir, name)) as f:
                        out.append(json.load(f))
        return out


def write_stream_exactly_once(
    result: DataFrame, out_dir: str, checkpoint_dir: str, trigger_once: bool = False
):
    """Attach the exactly-once sink to a streaming result DataFrame."""
    sink = ExactlyOnceParquetSink(out_dir)
    writer = (
        result.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return sink, writer
