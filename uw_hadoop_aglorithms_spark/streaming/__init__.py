"""Streaming analytics (SURVEY.md §2.10).

The reference's DStream jobs replay NYC-taxi CSVs through a queueStream
with a manual clock (reference Spark/Spark Streaming/EventCount.scala:
51-118). Here each operator exists in two forms:

- `windows.py` — batch event-time form over the `events` table: the
  correctness-testable semantics (windowed aggregation, lag-based trend
  state), oracle-checked against DuckDB.
- `runner.py` / `trending.py` — true Structured Streaming form:
  file-source replay with maxFilesPerTrigger, watermarks, and
  applyInPandasWithState for the cross-batch trend state. Every stream
  reads through `runner._replay` and runs through one drive:
  `runner._drain` (checkpoint + AvailableNow, run to completion) and,
  for memory sinks, `runner._to_memory`, the one UTC-wall return
  boundary.

Batch/streaming equivalence is the test strategy: the streaming runner's
output is compared to the batch form on the same data
(Trigger.AvailableNow makes the streaming run finite and deterministic).
"""
