"""The one window builder (operators.scoring.window_designs), Spark-free:
completeness per replicate, the dead-span rule, local zero-fill of
interior gaps and replicate-major pooling, against designs built by hand."""

from __future__ import annotations

import numpy as np

from swingstream.config import SwingParams
from swingstream.operators.scoring import window_designs
from swingstream.streaming.state import emit_windows

G = 2
# replicate a: an interior gap at 4, then dark over 8..19
REAL_A = [0, 1, 2, 3, 5, 6, 7, 20, 21, 22, 23, 24]
# replicate b: complete only for windows 2..4 (its last bucket is 6)
REAL_B = list(range(0, 7))


def _row(rep: int, b: int) -> list[float]:
    return [100.0 * rep + b, -(100.0 * rep + b) / 7.0]


def _reps():
    return [(REAL_A, [_row(0, b) for b in REAL_A]),
            (REAL_B, [_row(1, b) for b in REAL_B])]


def _by_hand(n: int, pool: list[int], params: SwingParams):
    real = [set(REAL_A), set(REAL_B)]

    def feat(rep, t):
        return _row(rep, t) if t in real[rep] else [0.0] * G

    xs, ys = [], []
    for rep in pool:
        for t in range(n, n + params.window_width):
            ys.append(feat(rep, t))
            xs.append([v for k in params.lags for v in feat(rep, t - k)])
    return np.array(xs), np.array(ys)


def test_builder_matches_hand_built_designs():
    params = SwingParams(window_width=3, step_size=1, min_lag=1, max_lag=2)
    designs, through = window_designs(_reps(), params)
    # a is complete for 2..22; its response spans touch a real bucket for
    # 2..7 and 18..22 (8..17 lie in the dark span); b joins 2..4 only
    want_pools = {n: [0, 1] for n in (2, 3, 4)}
    want_pools.update({n: [0] for n in (5, 6, 7, 18, 19, 20, 21, 22)})
    assert [d[0] for d in designs] == sorted(want_pools)
    assert through == 22
    for n, r0, X, Y in designs:
        assert r0 == want_pools[n][0]
        wx, wy = _by_hand(n, want_pools[n], params)
        assert X.shape == (3 * len(want_pools[n]), G * 2)
        np.testing.assert_array_equal(X, wx)
        np.testing.assert_array_equal(Y, wy)
    # the interior gap at 4 is zero-filled inside a window, as a response
    # row and as a lagged row
    _, _, X, Y = next(d for d in designs if d[0] == 3)
    assert Y[1].tolist() == [0.0, 0.0]
    assert X[2, :G].tolist() == [0.0, 0.0]


def test_step_grid_and_resume_point():
    params = SwingParams(window_width=3, step_size=2, min_lag=1, max_lag=2)
    designs, through = window_designs(_reps(), params)
    assert [d[0] for d in designs] == [2, 4, 6, 18, 20, 22]
    assert through == 22
    later, through = window_designs(_reps(), params, after=6)
    assert [d[0] for d in later] == [18, 20, 22] and through == 22
    assert window_designs(_reps(), params, after=22) == ([], None)


def test_fewer_than_three_rows_is_decided_not_scored():
    """At w = 2 a lone replicate gives 2 rows: the window is not scored
    on either path, but the stream still moves past it."""
    params = SwingParams(window_width=2, step_size=1, min_lag=1, max_lag=1)
    designs, through = window_designs(_reps(), params)
    # pooled with b (1..5): 4 rows; a alone: 2 rows
    assert [d[0] for d in designs] == [1, 2, 3, 4, 5]
    assert all(len(Y) == 4 for _, _, _, Y in designs)
    assert through == 23
    idx, feats = _reps()[0]
    out, max_emitted = emit_windows("h", idx, feats, None, params, ["f0", "f1"], 60)
    assert out == [] and max_emitted == 23
