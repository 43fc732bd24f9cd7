"""Streaming query 2: per-host stateful SWING scoring.

The streaming twin of SURVEY.md §2.4 A1 via §2.8 T5: a rolling per-host
buffer of the last (w + max_lag + slack) feature buckets lives in
``applyInPandasWithState`` state; each complete, not-yet-emitted window
is built and scored by the SAME code as the batch path
(operators.scoring.window_designs, then score_design) so batch and
stream emit byte-identical edge rows for the same input (BASELINE.json
output-match gate).

Correctness argument for emission: query 1 emits a (host, bucket) row
only when the global watermark passes the bucket's window end, so per
host, staged bucket_idx values are non-decreasing across micro-batches;
window n is decided as soon as window_designs finds it complete, and n
is recorded monotonically in state — re-delivery of a batch cannot
re-emit (max_emitted guard) and the sink ledger de-duplicates whole
batches.

State size: O(w + max_lag) REAL buckets × G doubles per ACTIVE host —
the buffer is sparse (no zero fill), pruned after every emission, and
dead spans are skipped rather than materialized, so a host dark for
days costs O(1) state and zero scoring work; 10^12 rows stream through
while state holds only each host's tail.  State-partition count is
frozen at the first checkpoint (§4.3 pin #2).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from swingstream.config import SwingParams
from swingstream.operators.scoring import (
    EDGE_SCHEMA,
    _emit_frame,
    score_design,
    window_designs,
)
from swingstream.sources.catalog import IcebergLiteTable
from swingstream.streaming.pipeline import (
    FEATURE_SCHEMA,
    start_feature_query,
    start_ledger_query,
    write_observed,
)

STATE_SCHEMA = StructType(
    [
        StructField("idx", ArrayType(LongType())),
        StructField("feats", ArrayType(ArrayType(DoubleType()))),
        StructField("max_emitted", LongType()),
    ]
)


def emit_windows(
    group_key: str,
    idx: list[int],
    feats: list[list[float]],
    max_emitted: int | None,
    params: SwingParams,
    names: list[str],
    delta: int,
) -> tuple[list[dict[str, list]], int | None]:
    """Score the windows of one host's sparse buffer that start after
    max_emitted (operators.scoring.window_designs, one replicate), with
    win_start_ts = n·Δ.  Returns (edge row-dicts, new max_emitted): the
    largest start decided, scored or not, so none is examined twice."""
    designs, through = window_designs([(idx, feats)], params, max_emitted)
    out = [
        score_design(group_key, n, pd.Timestamp(n * delta, unit="s"), X, Y,
                     params, names)
        for n, _, X, Y in designs
    ]
    return out, max_emitted if through is None else through


def _advance(
    group_key: str,
    prev: tuple | None,
    pdfs: Iterator[pd.DataFrame],
    params: SwingParams,
    names: list[str],
) -> tuple[list[dict[str, list]], tuple]:
    """Shared state transition for BOTH series units: merge the batch's
    feature rows into the sparse buffer, score newly-complete eligible
    windows, prune the buffer tail.  Returns (scored row-dicts,
    new (idx, feats, max_emitted) state tuple) — plain-Python values
    only (the JVM pickler rejects numpy scalars).

    The buffer holds REAL buckets only, sorted by idx: no zero fill, so
    a host dark for N buckets costs O(1) state, not O(N)."""
    idx0, feats0, max_emitted = prev if prev is not None else ([], [], None)
    by = {int(i): [float(x) for x in f] for i, f in zip(idx0, feats0)}
    for pdf in pdfs:
        for i, f in zip(pdf["bucket_idx"], pdf["features"]):
            by.setdefault(int(i), [float(x) for x in f])  # first write wins (replay no-op)
    idx = sorted(by)
    scored, max_emitted = emit_windows(
        group_key, idx, [by[i] for i in idx],
        None if max_emitted is None else int(max_emitted),
        params, names, params.delta_seconds,
    )
    # prune: future windows need buckets >= next_start - max_lag
    if max_emitted is not None:
        keep_from = max_emitted + params.step_size - params.max_lag
        idx = [i for i in idx if i >= keep_from]
    return scored, (idx, [by[i] for i in idx], max_emitted)


def make_state_fn(params: SwingParams, names: list[str]):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        scored, new_state = _advance(
            str(key[0]), state.get if state.exists else None, pdfs, params, names
        )
        state.update(new_state)
        if scored:
            # one Arrow batch per (host, micro-batch), not per window —
            # per-yield serialization overhead dominates otherwise
            yield _emit_frame(scored)

    return fn


# The Δ-bucket series unit: (staged feature schema, state-fn factory,
# state schema) — the default of start_scoring_query;
# sessions.SESSION_SERIES is the other unit.
BUCKET_SERIES = (FEATURE_SCHEMA, make_state_fn, STATE_SCHEMA)


def start_scoring_query(
    spark,
    staging_data_dir: str,
    out_root: str,
    checkpoint: str,
    params: SwingParams,
    names: list[str],
    *,
    available_now: bool = True,
    max_files_per_trigger: int = 4,
    series: tuple = BUCKET_SERIES,
):
    """Start query 2 over the staged feature files; returns (query, table).

    feature stream -> per-host applyInPandasWithState scoring (append
    mode) -> exactly-once edge commits.  ``series`` is the series unit
    (staged schema, state-fn factory, state schema).
    available_now=False starts a continuous micro-batch trigger — the
    production topology where query 2 tails query 1's commits live.
    """
    schema, make_fn, state_schema = series
    table = IcebergLiteTable(out_root)
    feats = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(staging_data_dir)
    )
    edges = feats.groupBy("group_key").applyInPandasWithState(
        make_fn(params, names),
        EDGE_SCHEMA,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return start_ledger_query(
        edges, table, checkpoint, "win_start_ts", available_now=available_now
    ), table


def run_scoring_query(
    spark,
    staging_data_dir: str,
    out_root: str,
    checkpoint: str,
    params: SwingParams,
    names: list[str],
    *,
    series: tuple = BUCKET_SERIES,
):
    """Run query 2 to completion over the staged feature files."""
    q, table = start_scoring_query(
        spark, staging_data_dir, out_root, checkpoint, params, names,
        series=series,
    )
    q.awaitTermination()
    return table


def drain_concurrent(q1, feat_table: IcebergLiteTable, q2) -> None:
    """The concurrent topology's drain: wait for query 1 (availableNow),
    write its observed-metrics sidecars, let query 2 score everything
    query 1 committed, then stop query 2."""
    q1.awaitTermination()
    write_observed(q1, feat_table)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()


def run_pipeline_concurrent(
    spark,
    pages_path: str,
    work_root: str,
    params: SwingParams,
    names: list[str],
    *,
    feature_files_per_trigger: int = 16,
    q2_files_per_trigger: int = 4,
):
    """Production topology: query 1 (features) and query 2 (scoring) run
    CONCURRENTLY — query 2 tails query 1's commits as they land, so the
    stateful scoring overlaps the feature aggregation instead of waiting
    for the whole staging table.  Returns (feature_table, edges_table).

    The two trigger knobs trade per-trigger fixed cost (driver planning,
    offset/commit log writes, micro-batch barrier, one RocksDB commit
    cycle per state partition) against pipelining granularity: fewer,
    larger triggers amortize the fixed cost — the dominant term at small
    core budgets — while more, smaller triggers tighten the q1→q2 overlap.
    """
    import os

    feat_table = IcebergLiteTable(os.path.join(work_root, "features"))
    q1 = start_feature_query(
        spark, pages_path, feat_table, os.path.join(work_root, "ck_feat"),
        params, feature_files_per_trigger,
    )
    q2, edges_table = start_scoring_query(
        spark,
        feat_table.data_dir,
        os.path.join(work_root, "edges"),
        os.path.join(work_root, "ck_edges"),
        params,
        names,
        available_now=False,
        max_files_per_trigger=q2_files_per_trigger,
    )
    drain_concurrent(q1, feat_table, q2)
    return feat_table, edges_table
