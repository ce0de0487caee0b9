"""scotty_window_processor_spark — a PySpark-native general stream-slicing
window-aggregation engine.

A from-scratch re-implementation of the query semantics of
lawben/scotty-window-processor (Scotty, TU Berlin DIMA; ICDE'18 "Scotty:
Efficient Window Aggregation for out-of-order Stream Processing", EDBT'19
"Efficient Window Aggregation with General Stream Slicing") on top of
Apache Spark:

- ``operators.kernel``   — pure-Python per-key slicing kernel (semantics
  oracle, mirrors the behaviour pinned by the reference's JUnit suites).
- ``operators.windows``  — tumbling / sliding / session window definitions,
  time- and count-measured.
- ``functions``          — lift/combine/lower (+invert) aggregate functions.
- ``streaming``          — Structured Streaming stateful operator
  (applyInPandasWithState), exactly-once sink, stream-stream join.
- ``plans``              — batch DataFrame/Catalyst implementations of the
  same windowed aggregations plus large-scale pipeline operators
  (dedup, similarity search, text analysis, multimodal plumbing).
- ``sources``            — deterministic transcript synthesizer and readers.

Nothing in this package is a code port: the reference is single-threaded
row-at-a-time Java; this engine expresses everything it can as Spark
DataFrame plans and keeps only the slice-store semantics in vectorized
per-key kernels.
"""

import sys

__version__ = "0.1.0"

# inside a Spark Python worker (pyspark is loaded and a task is running),
# stop re-reading the zip archives' directories on every task (see _zipmemo)
_tc = sys.modules.get("pyspark.taskcontext")
if _tc is not None and _tc.TaskContext.get() is not None:
    from scotty_window_processor_spark import _zipmemo

    _zipmemo.install()
