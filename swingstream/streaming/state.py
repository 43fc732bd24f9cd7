"""Streaming query 2: per-host stateful SWING scoring.

The streaming twin of SURVEY.md §2.4 A1 via §2.8 T5: a rolling per-host
buffer of the last (w + max_lag + slack) feature buckets lives in
``applyInPandasWithState`` state; each complete, not-yet-emitted window
is scored with the SAME numpy core as the batch path
(operators.scoring.score_design) so batch and stream emit byte-identical
edge rows for the same input (BASELINE.json output-match gate).

Correctness argument for emission: query 1 emits a (host, bucket) row
only when the global watermark passes the bucket's window end, so per
host, staged bucket_idx values are non-decreasing across micro-batches;
window n is scored as soon as its span [n - max_lag, n + w) lies inside
the observed [lo, hi] real-bucket range AND its response span contains
a real bucket (dead-span pin — see emit_windows), and n is recorded
monotonically in state — re-delivery of a batch cannot re-emit
(max_emitted guard) and the sink ledger de-duplicates whole batches.

State size: O(w + max_lag) REAL buckets × G doubles per ACTIVE host —
the buffer is sparse (no zero fill), pruned after every emission, and
dead spans are skipped rather than materialized, so a host dark for
days costs O(1) state and zero scoring work; 10^12 rows stream through
while state holds only each host's tail.  State-partition count is frozen at the
first checkpoint (§4.3 pin #2).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
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
from swingstream.operators.scoring import EDGE_SCHEMA, score_design
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


def _sparse_merge(
    idx: list[int], feats: list[list[float]], new_idx, new_feats
) -> tuple[list[int], list[list[float]]]:
    """Merge new REAL buckets into the sparse buffer (sorted by idx).

    The buffer stores only observed buckets — no zero fill.  A host dark
    for N buckets costs O(1) state, not O(N): zero-vectors for interior
    gaps are materialized per-window at scoring time, and windows whose
    response span contains no real bucket are skipped entirely (the
    dead-span pin, mirrored by the batch densify_buckets islands)."""
    by_idx = dict(zip(idx, feats))
    for i, f in zip(new_idx, new_feats):
        by_idx.setdefault(int(i), list(f))  # first write wins (replay no-op)
    items = sorted(by_idx.items())
    return [i for i, _ in items], [f for _, f in items]


def emit_windows(
    group_key: str,
    idx: list[int],
    feats: list[list[float]],
    max_emitted: int | None,
    params: SwingParams,
    names: list[str],
    delta: int,
) -> tuple[list[dict[str, list]], int | None]:
    """Score every complete, ELIGIBLE window newer than max_emitted over
    the sparse buffer.  Eligibility pin (dead-span skip, §4.3): a window
    starting at n is scored iff its response span [n, n+w-1] contains at
    least one real bucket — candidates are generated FROM the real
    buckets, so work is O(|buffer|·w/s) regardless of gap length.
    Missing buckets inside an eligible window are zero-filled locally
    (bounded by w+max_lag per window).  Returns (edge row-dicts, new
    max_emitted)."""
    out = []
    if not idx:
        return out, max_emitted
    lo, hi = idx[0], idx[-1]
    g = len(names)
    zero = [0.0] * g
    by = dict(zip(idx, feats))
    w, s, kmax = params.window_width, params.step_size, params.max_lag
    # candidate starts, aligned to the absolute step grid
    # (win_start % s == 0 — same pin as operators.lagged.explode_windows)
    cands: set[int] = set()
    for b in idx:
        n0 = b - w + 1
        n0 += (-n0) % s
        for n in range(n0, b + 1, s):
            cands.add(n)
    new_max = max_emitted
    for n in sorted(cands):
        if n - kmax < lo or n + w - 1 > hi:
            continue
        if max_emitted is not None and n <= max_emitted:
            continue
        block = np.asarray(
            [by.get(i, zero) for i in range(n - kmax, n + w)], dtype=np.float64
        )
        rows_y = block[kmax : kmax + w]
        X = np.concatenate(
            [block[kmax - k : kmax - k + w] for k in params.lags], axis=1
        )
        win_ts = pd.Timestamp(int(n) * delta, unit="s")
        out.append(score_design(group_key, int(n), win_ts, X, rows_y, params, names))
        new_max = int(n) if new_max is None else max(new_max, int(n))
    return out, new_max


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
    only (the JVM pickler rejects numpy scalars)."""
    new_idx: list[int] = []
    new_feats: list[list[float]] = []
    for pdf in pdfs:
        new_idx.extend(int(i) for i in pdf["bucket_idx"])
        new_feats.extend([float(x) for x in f] for f in pdf["features"])
    if prev is not None:
        idx0, feats0, max_emitted = prev
        idx0 = [int(i) for i in idx0]
        feats0 = [[float(x) for x in f] for f in feats0]
        max_emitted = None if max_emitted is None else int(max_emitted)
    else:
        idx0, feats0, max_emitted = [], [], None
    idx, feats = _sparse_merge(idx0, feats0, new_idx, new_feats)
    scored, max_emitted = emit_windows(
        group_key, idx, feats, max_emitted, params, names, params.delta_seconds
    )
    # prune: future windows need buckets >= next_start - max_lag
    if max_emitted is not None:
        keep_from = max_emitted + params.step_size - params.max_lag
        keep = [(i, f) for i, f in zip(idx, feats) if i >= keep_from]
        idx, feats = [i for i, _ in keep], [f for _, f in keep]
    return scored, (idx, feats, max_emitted)


def _emit_frame(scored: list[dict[str, list]]) -> pd.DataFrame:
    """ONE DataFrame per (host, micro-batch) from the per-window scored
    dicts.  r8: columns are concatenated as numpy arrays and the frame
    built once — the previous pd.concat of one DataFrame per window
    measured 281 ms vs 65 ms for a 350-window host batch (pandas
    per-frame construction overhead ×windows), with value- and
    dtype-identical output."""
    if len(scored) == 1:
        return pd.DataFrame(scored[0])
    cols: dict[str, object] = {}
    for k in scored[0]:
        vals = [r[k] for r in scored]
        if isinstance(vals[0], np.ndarray):
            cols[k] = np.concatenate(vals)
        else:  # win_start_ts: plain python lists of Timestamps
            cols[k] = [x for v in vals for x in v]
    return pd.DataFrame(cols)


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
