"""The benchmark's metric names and units, and the result record.

``END_TO_END`` is what a user of the engine sees and is printed with
``--trace 0``; ``PER_LAYER`` comes from the traced run (``--trace 1``).
BENCHMARK.json lists the same names (checked by perfbench/tests).
A per-layer metric of a layer that a workload does not exercise reads 0.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "emit_latency_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

# the layers whose self time the traced run reports (span names). The
# state codec runs inside the stream's per-key probe (span "kernel"); its
# own cost is state_codec.encode_us_per_key / decode_us_per_key.
SPAN_LAYERS = (
    "sources", "scotty_batch", "exchange", "vectorized_multi", "kernel",
    "processor", "sink", "gate",
)

PER_LAYER = {
    "sources.synth_s": "s",
    "scotty_batch.plan_ms": "ms",
    "scotty_batch.families_catalyst": "count",
    "scotty_batch.families_vectorized": "count",
    "scotty_batch.families_kernel": "count",
    "plans.n_buckets": "count",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.python_stage_busy_s": "s",
    "exchange.task_skew": "ratio",
    "vectorized_multi.rows_per_s": "rows/s",
    "vectorized_multi.out_rows": "rows",
    "kernel.elements_per_s": "elements/s",
    "kernel.bulk_share": "ratio",
    "kernel.slices_per_key": "count",
    "kernel.windows_per_key": "count",
    "processor.add_batch_ms_p50": "ms",
    "processor.state_update_ms_p50": "ms",
    "processor.state_commit_ms_p50": "ms",
    "processor.state_rows": "rows",
    "processor.state_bytes": "bytes",
    "processor.keys_removed": "rows",
    "stream.driver_ms_p50": "ms",
    "stream.batches": "count",
    "stream.latency_samples": "count",
    "stream.generator_lag_ms_max": "ms",
    "stream.backlog_end_files": "files",
    "state_codec.encode_us_per_key": "us",
    "state_codec.decode_us_per_key": "us",
    "state_codec.slices_per_key": "count",
    "sink.commit_ms_p50": "ms",
    "sink.files_per_batch": "count",
    "ops_failed_frac": "ratio",
    "trace.overhead_frac": "ratio",
    **{f"self_s.{layer}": "s" for layer in SPAN_LAYERS},
}


class Result:
    """Metrics, attempt counts and correctness of one workload run."""

    def __init__(self, workload: str, trace: bool):
        self.workload = workload
        self.trace = trace
        self.metrics: dict = {}
        self.attempted = 0
        self.failed = 0
        self.correct = True

    def put(self, name: str, value: float, n: int = 1) -> None:
        unit = END_TO_END.get(name) or PER_LAYER[name]
        self.metrics[name] = {"value": float(value), "unit": unit, "n": int(n)}

    def fail(self, n: int = 1) -> None:
        self.failed += n
        self.correct = False

    def summary(self) -> dict:
        wanted = PER_LAYER if self.trace else END_TO_END
        missing = [m for m in wanted if m not in self.metrics]
        if missing:
            raise RuntimeError(f"{self.workload}: metrics not measured: {missing}")
        return {
            "correct": self.correct and self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": {
                m: {"value": self.metrics[m]["value"], "unit": self.metrics[m]["unit"]}
                for m in wanted
            },
        }
