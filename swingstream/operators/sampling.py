"""Deterministic token-budget corpus sampling — the stage a curation
pipeline ends with: pick a reproducible subset per stratum (language,
quality bucket, source) at rates chosen FROM a token budget, so each
stratum contributes ~budget tokens to the training mix.

No reference-repo twin exists (mount empty) — the semantics follow the
standard data-mixing practice (per-(lang, quality) rates in the Llama /
RefinedWeb / Dolma recipes), re-expressed as a Catalyst plan:

* membership is ``pmod(xxhash64(key, salt), K) < threshold_k`` — a pure
  column predicate: deterministic (same doc always sampled at a given
  rate, so reruns and incremental shards agree), uniform (xxhash64
  avalanche), monotone in the rate (raising a stratum's rate only ADDS
  docs — supersampling an existing mix never churns it), and
  embarrassingly parallel;
* thresholds are INTEGER arithmetic end-to-end
  (``threshold_k = min(K, (budget * K) div stratum_tokens)``) so the
  driver's DuckDB oracle replays the decision bit-for-bit from the
  staged residues — no float rounding can flip a membership;
* the token-budget form is two passes: one per-stratum aggregate
  (≤ |strata| rows, joined back via broadcast) and one filter over the
  corpus — the 10^12-row side is scanned once and never collected.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SAMPLE_K = 1_000_000  # residue modulus: rates resolve to 1e-6 granularity


def sample_residue(
    key: Column, salt: str = "", k: int = SAMPLE_K
) -> Column:
    """Deterministic per-row residue in [0, k): pmod(xxhash64(key, salt), k).
    ``salt`` decorrelates independent sampling decisions over the same
    keys (two different samples of one corpus should not nest unless
    you want them to)."""
    return F.pmod(F.xxhash64(key.cast("string"), F.lit(salt)), F.lit(k))


def token_budget_thresholds(
    df: DataFrame,
    strata_cols: Sequence[str],
    token_col: str,
    budget_per_stratum: int,
    k: int = SAMPLE_K,
) -> DataFrame:
    """Per-stratum integer sampling thresholds sized so the expected
    sampled token mass per stratum ≈ ``budget_per_stratum``:
    ``threshold_k = min(k, (budget * k) div stratum_tokens)`` — all
    BIGINT arithmetic (budget * k must stay < 2^63: a 10^12-token
    budget at k=10^6 is 10^18, still in range), identical in Spark and
    DuckDB.  Strata already at or under budget keep everything
    (threshold = k).  Output: strata_cols + stratum_tokens +
    threshold_k, ≤ |strata| rows."""
    strata = list(strata_cols)
    budget_k = int(budget_per_stratum) * k
    return (
        df.groupBy(*strata)
        .agg(F.sum(F.col(token_col)).cast("long").alias("stratum_tokens"))
        .select(
            *strata,
            "stratum_tokens",
            F.least(
                F.lit(k).cast("long"),
                F.expr(f"{budget_k} div stratum_tokens"),
            ).alias("threshold_k"),
        )
    )


def token_budget_sample_from_residues(
    df: DataFrame,
    strata_cols: Sequence[str],
    token_col: str,
    budget_per_stratum: int,
    residue_col: str = "residue",
    k: int = SAMPLE_K,
) -> DataFrame:
    """Everything downstream of the hashing: threshold aggregate
    (≤ |strata| rows, broadcast back) + one filter of the corpus on a
    PRECOMPUTED residue column.  Split out so the driver's staged-
    residue oracle (contract.py q_docs_sample) hash-verifies exactly
    this relational remainder."""
    strata = list(strata_cols)
    th = token_budget_thresholds(
        df, strata, token_col, budget_per_stratum, k=k
    )
    return (
        df.join(F.broadcast(th.select(*strata, "threshold_k")), strata)
        .where(F.col(residue_col) < F.col("threshold_k"))
    )


def token_budget_sample(
    df: DataFrame,
    strata_cols: Sequence[str],
    token_col: str,
    budget_per_stratum: int,
    key_col: str = "doc_id",
    salt: str = "",
    k: int = SAMPLE_K,
) -> DataFrame:
    """Deterministic sampling with rates derived from a per-stratum
    token budget: two passes — the threshold aggregate (≤ |strata|
    rows, broadcast back) and one filter over the corpus.  Returns the
    sampled rows with their stratum's ``threshold_k`` attached (the
    audit column a mix recipe records)."""
    res = sample_residue(F.col(key_col), salt=salt, k=k)
    return token_budget_sample_from_residues(
        df.withColumn("_residue", res),
        strata_cols, token_col, budget_per_stratum,
        residue_col="_residue", k=k,
    ).drop("_residue")
