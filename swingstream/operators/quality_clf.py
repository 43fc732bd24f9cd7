"""Trainable quality classifier — the CCNet / GPT-3 curation stage that
the heuristic gates (textquality.py) cannot express: score every
document by HOW MUCH it resembles a high-quality reference corpus, not
just whether it trips a repetition rule.

No reference-repo twin exists (mount empty) — the semantics follow the
published practice (Wenzek et al. 2020 "CCNet"; Brown et al. 2020
GPT-3 appendix A): a LINEAR classifier over hashed bag-of-token
features, trained positive = reference corpus (Wikipedia/WebText-like),
negative = raw crawl, applied corpus-wide as a filter score.  fastText's
supervised mode is exactly this shape; here it is hand-rolled numpy
logistic regression (no sklearn in the sandbox) + a Spark-side scoring
plan with NO Python in it.

100-TB shape:

* TRAINING touches a bounded, deterministic sample (residue-sampled,
  ``max_train_docs`` per class) — the one place data reaches the
  driver, explicitly capped;
* SCORING is the scale path: the weight table is ≤ ``n_buckets`` rows,
  broadcast; each doc needs one hashed-gram explode + hash-agg + one
  map-side join — word-count shape, whole corpus touched once,
  JVM-only (plan-asserted in tests).

The driver oracle (contract.py q_docs_quality_clf) stages the hashed
counts and the trained micro-weight table and hash-verifies the entire
scoring arithmetic in DuckDB; training determinism is pinned by pytest
(bit-identical weights on re-fit).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swingstream.operators.dsir import hashed_gram_counts


@dataclass(frozen=True)
class QualityModel:
    """Trained linear model: per-bucket weights + bias.

    ``w_micro``/``bias_micro`` are the 1e-6-quantized integer twins the
    oracle replays — scoring uses them (not the raw floats) so the
    engine and the verification arithmetic are the SAME arithmetic."""

    weights: np.ndarray          # float64[n_buckets]
    bias: float
    n_buckets: int
    salt: str = "qclf"

    @property
    def w_micro(self) -> np.ndarray:
        return np.floor(self.weights * 1e6 + 0.5).astype(np.int64)

    @property
    def bias_micro(self) -> int:
        return int(np.floor(self.bias * 1e6 + 0.5))

    def weight_table(self, spark: SparkSession) -> DataFrame:
        """(bucket, w_micro) — only the non-zero rows; ≤ n_buckets."""
        wm = self.w_micro
        nz = np.nonzero(wm)[0]
        return spark.createDataFrame(
            [(int(b), int(wm[b])) for b in nz], "bucket: long, w_micro: long"
        )


def _sigmoid(z: np.ndarray) -> np.ndarray:
    out = np.empty_like(z)
    pos = z >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-z[pos]))
    ez = np.exp(z[~pos])
    out[~pos] = ez / (1.0 + ez)
    return out


def _count_matrix(counts_rows, n_docs_index: dict, n_buckets: int) -> np.ndarray:
    x = np.zeros((len(n_docs_index), n_buckets), dtype=np.float64)
    for r in counts_rows:
        x[n_docs_index[r["id"]], int(r["bucket"])] = float(r["cnt"])
    # fastText-style: mean of token features, not sum — long docs must
    # not dominate the gradient
    tot = x.sum(axis=1, keepdims=True)
    np.divide(x, tot, out=x, where=tot > 0)
    return x


def train_quality_classifier(
    pos_docs: DataFrame,
    neg_docs: DataFrame,
    n_buckets: int = 4096,
    max_train_docs: int = 2000,
    l2: float = 1e-3,
    lr: float = 2.0,
    n_iter: int = 300,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "qclf",
) -> QualityModel:
    """Fit the logistic model on a bounded deterministic sample.

    Each class contributes ≤ ``max_train_docs`` rows chosen by the
    smallest ``xxhash64(id)`` residues (deterministic at any
    parallelism, no RNG); features are hashed-gram counts normalized to
    per-doc means; the solver is full-batch gradient descent with L2 —
    bit-identical weights on every re-fit of the same inputs."""

    def _sample_counts(docs: DataFrame):
        ids = (
            docs.select(
                F.col(id_col).alias("id"),
                F.pmod(F.xxhash64(F.col(id_col).cast("string"),
                                  F.lit(salt + "-train")),
                       F.lit(1 << 30)).alias("_res"),
            )
            .orderBy("_res", "id")
            .limit(int(max_train_docs))
            .select("id")
        )
        c = hashed_gram_counts(
            docs, n_buckets, text_col=text_col, id_col=id_col, salt=salt
        ).join(F.broadcast(ids), "id")
        # deterministic driver-side order => deterministic matrix
        return c.orderBy("id", "bucket").collect()

    pos_rows = _sample_counts(pos_docs)
    neg_rows = _sample_counts(neg_docs)
    pos_ids = sorted({r["id"] for r in pos_rows})
    neg_ids = sorted({r["id"] for r in neg_rows})
    xp = _count_matrix(pos_rows, {d: i for i, d in enumerate(pos_ids)},
                       n_buckets)
    xn = _count_matrix(neg_rows, {d: i for i, d in enumerate(neg_ids)},
                       n_buckets)
    x = np.vstack([xp, xn])
    y = np.concatenate([np.ones(len(xp)), np.zeros(len(xn))])
    w = np.zeros(n_buckets)
    b = 0.0
    n = float(len(x))
    for _ in range(int(n_iter)):
        p = _sigmoid(x @ w + b)
        g = p - y
        w -= lr * ((x.T @ g) / n + l2 * w)
        b -= lr * float(g.mean())
    return QualityModel(weights=w, bias=b, n_buckets=n_buckets, salt=salt)


def score_with_weights(
    doc_counts: DataFrame,
    weight_table: DataFrame,
    bias_micro: int,
    ids: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, quality_score): sigmoid of the mean hashed-feature weight —
    the relational remainder the driver oracle hash-verifies.

    Arithmetic discipline: ``Σ cnt·w_micro`` and ``Σ cnt`` are exact
    BIGINTs, the single double division + sigmoid happen once per doc
    in a fixed order, and the score is 6-dp floor-rounded — Spark and
    DuckDB agree bit-for-bit.  The weight table broadcasts; the corpus
    side is one hash-agg."""
    # LEFT join so the per-doc total counts EVERY gram (scoring-corpus
    # buckets absent from the weight table contribute weight 0, exactly
    # like training's mean normalization) — still one pass, map-side
    agg = (
        doc_counts.join(F.broadcast(weight_table), "bucket", "left")
        .groupBy("id")
        .agg(
            F.sum(
                F.col("cnt") * F.coalesce(F.col("w_micro"), F.lit(0))
            ).alias("_sw"),
            F.sum("cnt").alias("_tot"),
        )
    )
    logit = (
        F.lit(int(bias_micro)) / F.lit(1e6)
        + (F.col("_sw").cast("double") / F.lit(1e6))
        / F.col("_tot").cast("double")
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    scored = agg.select(
        "id", (F.floor(score * 1e6 + F.lit(0.5)) / F.lit(1e6)).alias(
            "quality_score")
    )
    if ids is None:
        return scored
    neutral = float(
        np.floor((1.0 / (1.0 + np.exp(-bias_micro / 1e6))) * 1e6 + 0.5) / 1e6
    )
    return (
        ids.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce("quality_score", F.lit(neutral)).alias("quality_score"),
        )
    )


def quality_clf_scores(
    docs: DataFrame,
    model: QualityModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide scores under a trained model — the scale path: one
    hashed-gram pass + broadcast weight join, no Python in the plan."""
    spark = docs.sparkSession
    counts = hashed_gram_counts(
        docs, model.n_buckets, text_col=text_col, id_col=id_col,
        salt=model.salt,
    )
    return score_with_weights(
        counts, model.weight_table(spark), model.bias_micro,
        ids=docs, id_col=id_col,
    ).withColumnRenamed("id", id_col)
