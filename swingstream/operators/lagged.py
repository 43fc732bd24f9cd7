"""Lagged design rows in relational form (SURVEY.md §2.3 J1, §2.5 W2):
`F.lag().over()` per (group_key, replicate) plus a per-window explode,
all JVM-side, over DENSE bucket_idx.  Only the contract's
q_lagged_design runs it, against a DuckDB replay; scoring builds its
designs with operators.scoring.window_designs, one group per series.

Canonical series schema consumed by the whole engine:

    (group_key string, replicate string, bucket_idx long,
     bucket_ts timestamp, features array<double>[G])

For pages, group_key = host and replicate = '' (one continuous series);
for DREAM4-style fixtures, group_key = network id and replicate = the
biological replicate whose time restarts — SWING pools replicate rows
into the same window's sample set
[ref: Swing/Swing.py::__init__ replicate stacking ~L?].
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from swingstream.config import SwingParams


def with_lags(series: DataFrame, params: SwingParams) -> DataFrame:
    """Attach lag_k feature arrays, k in [min_lag, max_lag]."""
    w = Window.partitionBy("group_key", "replicate").orderBy("bucket_idx")
    out = series
    for k in params.lags:
        out = out.withColumn(f"lag_{k}", F.lag("features", k).over(w))
    return out


def explode_windows(lagged: DataFrame, params: SwingParams) -> DataFrame:
    """Assign each bucket row to every response window containing it.

    Window starts are bucket indices ≡ 0 (mod step_size); a row at
    bucket t belongs to windows starting in [t-w+1, t].  Emitted rows
    carry `win_start`; completeness is not applied here.  Fan-out =
    ceil(w/s) rows per input row.
    """
    w, s = params.window_width, params.step_size
    starts = F.sequence(
        F.col("bucket_idx") - F.lit(w - 1), F.col("bucket_idx")
    )
    return (
        lagged.withColumn("win_start", F.explode(starts))
        .where(F.pmod(F.col("win_start"), F.lit(s)) == 0)
    )
