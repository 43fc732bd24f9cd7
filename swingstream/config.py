"""Engine configuration: SWING's w/k/tau parameters and engine knobs.

Parameter semantics pinned per SURVEY.md §1.3 (binding):

  w      window_width  — # consecutive time buckets per (response) window
                         [ref: Swing/Swing.py::__init__(window_width) ~L?]
  s      step_size     — window slide in buckets (reference default 1)
                         [ref: Swing/Swing.py::__init__(step_size) ~L?]
  k_min..k_max         — admissible regulator→target lag range, in buckets
                         [ref: Swing/Swing.py::__init__(min_lag, max_lag) ~L?]
  tau (delta_seconds)  — one bucket duration; the lag unit (DREAM4: 50 min;
                         engine default 60 s per FIXTURES.md §A)
"""

from __future__ import annotations

from dataclasses import dataclass, field


def _duration_seconds(spec: str) -> int:
    """'N seconds|minutes|hours' -> seconds."""
    n, unit = spec.split()
    mult = {"second": 1, "minute": 60, "hour": 3600}[unit.rstrip("s")]
    return int(n) * mult


@dataclass(frozen=True)
class SwingParams:
    """SWING windowed-inference parameters + engine execution knobs."""

    # --- SWING w / s / k / tau ------------------------------------------
    window_width: int = 5          # w: buckets per response window
    step_size: int = 1             # s: window slide in buckets
    min_lag: int = 1               # k_min
    max_lag: int = 3               # k_max
    delta_seconds: int = 60        # tau: bucket duration (event-time)

    # --- model ----------------------------------------------------------
    method: str = "lasso"          # 'lasso' | 'rf'  (reference window_type)
    alpha: float | None = None     # Lasso alpha; None => cv_select_alpha
    n_alphas: int = 10             # CV grid size for alpha search
    n_trees: int = 50              # RF ensemble size
    max_depth: int = 4             # RF tree depth cap
    n_permutations: int = 0        # permutation-test draws (0 = off)
    n_bootstraps: int = 0          # Lasso bootstrap draws (0 = off)
    solver_max_iter: int = 400     # FISTA iteration cap (importance fits)

    # --- semantics pins (SURVEY.md §2.2 P5, §2.4 A4) --------------------
    self_edges: bool = False       # drop parent==child edges at every lag
    lag_weights: tuple[float, ...] = ()  # per-lag weight; () => all 1.0
    # sparse emission: drop zero-importance hypotheses at the scorer and
    # reconstruct their tie-averaged ranks in closed form at aggregation
    # (rank_edges_sparse) — ~10x fewer edge rows at scale, exactly equal
    # ranked output.  True = dense (every hypothesis materialized).
    emit_zero_edges: bool = True

    # --- streaming ------------------------------------------------------
    watermark: str = "5 minutes"   # allowed event-time lateness
    session_gap: str = "5 minutes"  # session_window gap (T4)
    n_salts: int = 8               # hot-host salting fan-out (T11)
    # In-stream exact-content dedup (LLM-data-pipeline op): drop rows
    # whose (host, lang, md5(text)) already appeared in the SAME Δ-bucket.
    # Scope is pinned per-(host, bucket) — not global — so the surviving
    # copy is interchangeable (identical text ⇒ identical row features,
    # same host, same bucket) and stream output is byte-identical to the
    # batch twin at any parallelism / arrival order (§4.3 pin #1).
    # Subsumes (url, warc_ts) transport dedup when enabled.
    # Key url-based identity on canonical_url(url) instead of the raw
    # url: tracking params stripped, host case-folded, params sorted —
    # so the same page re-crawled via different campaign links collapses
    # to ONE doc at ingest.  The rewrite happens at the narrow
    # projection (the url COLUMN becomes its canonical form), so the
    # dedup key, host grouping, and salt all derive from one canonical
    # identity and the surviving copy is interchangeable BY KEY.  Byte
    # parity pin: canonical-equal urls are assumed to carry identical
    # (lang, text) payloads (they are the same page — that is what the
    # canonicalization asserts); if a corpus violates that, the survivor
    # among differing payloads is arbitrary, exactly like any
    # dropDuplicates tie.  Applies to transport dedup and sessionization
    # key derivation; content dedup (host, digest, bucket) is already
    # url-insensitive except for host casing, which this folds.
    canonical_urls: bool = False
    # PRECONDITION: delta_seconds <= watermark. dropDuplicatesWithinWatermark
    # only guarantees dedup for duplicates whose event times fall within the
    # watermark delay, and same-bucket content dups can be up to
    # delta_seconds apart — with delta > watermark the state for the first
    # copy may be evicted before the second arrives, silently breaking the
    # stream==batch parity pin. Validated in __post_init__ (raises).
    dedup_content: bool = False

    # --- feature space --------------------------------------------------
    feature_names: tuple[str, ...] = field(
        default=(
            "doc_count", "mean_len", "frac_en", "frac_de", "frac_fr",
            "frac_es", "frac_zz", "mean_tokens", "digit_ratio", "frac_long",
        )
    )

    @property
    def n_features(self) -> int:
        return len(self.feature_names)

    @property
    def lags(self) -> tuple[int, ...]:
        return tuple(range(self.min_lag, self.max_lag + 1))

    @property
    def session_gap_seconds(self) -> int:
        """session_gap ('N seconds|minutes|hours') as seconds."""
        return _duration_seconds(self.session_gap)

    @property
    def watermark_seconds(self) -> int:
        """watermark ('N seconds|minutes|hours') as seconds."""
        return _duration_seconds(self.watermark)

    def __post_init__(self) -> None:
        if self.dedup_content and self.delta_seconds > self.watermark_seconds:
            raise ValueError(
                "dedup_content=True requires delta_seconds <= watermark: "
                f"same-bucket content duplicates can arrive up to "
                f"delta_seconds={self.delta_seconds}s apart, but "
                f"dropDuplicatesWithinWatermark only holds state for the "
                f"watermark delay ({self.watermark!r} = "
                f"{self.watermark_seconds}s) — widen the watermark to at "
                f"least {self.delta_seconds} seconds or disable dedup_content"
            )

    def lag_weight(self, k: int) -> float:
        """Weight applied to ranks at lag k in A4 rank aggregation.

        Reference collapse across lags is uncertain (SURVEY.md §2.4 A4);
        pinned: weight 1.0 for every lag unless configured otherwise.
        """
        if not self.lag_weights:
            return 1.0
        i = k - self.min_lag
        return self.lag_weights[i] if 0 <= i < len(self.lag_weights) else 1.0
