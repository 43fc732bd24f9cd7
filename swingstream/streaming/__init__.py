"""Structured Streaming pipelines (SURVEY.md §2.8, §3.4).

Two chained queries (Spark restricts stacking many stateful operators in
one query — SURVEY.md §3.4):

  query 1 (features):  pages file-stream → narrow extract projection →
      watermark → exactly-once dedup-within-watermark → per-unit feature
      aggregation → idempotent Iceberg-style commit to the staging
      features table;
  query 2 (scoring):   staging table file-stream → per-host rolling
      buffer in applyInPandasWithState → SWING lagged-design regression
      per complete window (same numpy core as batch — byte-identical
      rows) → idempotent commit to the edges table.

Both series units run this one topology: the Δ-bucket unit (SALTED
event-time tumbling windows, salt-combined in foreachBatch — the
default) and the session unit (streaming/sessions.py: session windows,
per-host sequence numbers).  They share query 1's front
(pipeline.narrow_pages), the ledger writer (pipeline.start_ledger_query),
query 2 (state.start_scoring_query, parametrized by the series unit),
the scoring-state emitter and the concurrent drain
(state.drain_concurrent).

Path A (the stateful stream-stream lagged self-join of BASELINE.json)
is its own pipeline in streaming/join.py.
"""
