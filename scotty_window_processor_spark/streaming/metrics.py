"""Per-micro-batch metrics recorder for streaming queries.

Complements the exactly-once sink's per-partition lineage manifests
(streaming.sink): lineage answers *what data was committed*, this module
answers *how the operator behaved* — input rate, processing rate, state
rows/bytes, rows Spark dropped as late, state update/removal/commit
times and the state store's custom metrics (RocksDB), watermark
progress — persisted per micro-batch as JSON files
a monitoring job can tail.

Spark already computes every number we need in StreamingQueryProgress;
the recorder just listens (StreamingQueryListener, driver-side only, no
executor cost) and writes one atomic file per progress event:

    rec = StreamMetricsRecorder(f"{out_dir}/_metrics")
    spark.streams.addListener(rec)
    q = result.writeStream...start()
    ...
    spark.streams.removeListener(rec)

Files are keyed by (query id, batch id), so several queries can share a
metrics directory and a replayed batch (crash recovery) overwrites its
own record — the same idempotence rule as the sink's data commits.
"""

from __future__ import annotations

import json
import os
from typing import Any, Dict, List

from pyspark.sql.streaming import StreamingQueryListener


def _trim(progress: Dict[str, Any]) -> Dict[str, Any]:
    """Keep the operationally useful subset of a progress event."""
    out = {
        k: progress.get(k)
        for k in (
            "id", "runId", "name", "timestamp", "batchId", "numInputRows",
            "inputRowsPerSecond", "processedRowsPerSecond", "durationMs",
        )
    }
    out["eventTime"] = progress.get("eventTime") or {}
    out["stateOperators"] = [
        {
            sk: op.get(sk)
            for sk in (
                "operatorName", "numRowsTotal", "numRowsUpdated",
                "numRowsRemoved", "numRowsDroppedByWatermark",
                "memoryUsedBytes", "numShufflePartitions",
                "allUpdatesTimeMs", "allRemovalsTimeMs", "commitTimeMs",
                "customMetrics",
            )
        }
        for op in progress.get("stateOperators") or []
    ]
    out["sources"] = [
        {sk: src.get(sk) for sk in ("description", "numInputRows", "startOffset", "endOffset")}
        for src in progress.get("sources") or []
    ]
    return out


class StreamMetricsRecorder(StreamingQueryListener):
    def __init__(self, metrics_dir: str):
        self.metrics_dir = metrics_dir

    # -- StreamingQueryListener contract (driver-side callbacks) -----------
    def onQueryStarted(self, event) -> None:  # noqa: D102
        pass

    def onQueryProgress(self, event) -> None:  # noqa: D102
        progress = json.loads(event.progress.json)
        record = _trim(progress)
        os.makedirs(self.metrics_dir, exist_ok=True)
        name = f"progress-{record['id']}-{record['batchId']:09d}.json"
        tmp = os.path.join(self.metrics_dir, "." + name)
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.replace(tmp, os.path.join(self.metrics_dir, name))

    def onQueryIdle(self, event) -> None:  # noqa: D102
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: D102
        pass

    # -- reader -------------------------------------------------------------
    def records(self) -> List[dict]:
        out = []
        if os.path.isdir(self.metrics_dir):
            for name in sorted(os.listdir(self.metrics_dir)):
                if name.startswith("progress-") and name.endswith(".json"):
                    with open(os.path.join(self.metrics_dir, name)) as f:
                        out.append(json.load(f))
        return out
