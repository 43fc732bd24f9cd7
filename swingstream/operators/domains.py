"""Per-domain document caps — bound how much of the corpus any one host
contributes (the RefinedWeb / C4 "don't let one site dominate" stage of
a web-crawl pipeline; no reference-repo twin exists, mount empty).

A handful of template-heavy domains (forums, wikis, link farms) can
contribute millions of near-identical pages; capping each host at N
documents under a DETERMINISTIC survivor rule keeps the mix stable
across reruns and incremental crawls.

Scale shape (the design constraint is ~10^8 distinct hosts over 100 TB):

* **Count first, rank only the violators.**  One hash-agg produces the
  per-host count table (≤ |hosts| rows).  Hosts at-or-under the cap —
  the overwhelming majority under any realistic cap — take a
  broadcast-anti-join FAST PATH: their documents never shuffle at all.
  Only documents of over-cap hosts enter the rank stage, so the sorted
  window touches exactly the data the cap will cut from.
* **Deterministic survivor order** — by default the md5 of the id (an
  unbiased content-independent shuffle both Spark and DuckDB can
  replay byte-for-byte), or ``order_col`` descending (keep the
  highest-quality N when a score column exists); ties always break on
  the id, so the pick is a total order, never arrival luck.
* **Skew-bounded exact top-N.**  The rank's ``row_number <= cap``
  filter compiles to Spark's two-phase ``WindowGroupLimit`` (Partial
  before the exchange, Final after — plan-asserted): every MAP task
  prunes to ≤ cap rows per host before any shuffle, so the post-shuffle
  sort per host is bounded by cap·upstream-tasks, not host size.
  ``salt_parts > 1`` adds an explicit local-then-global stage on top
  (exact, because the survivor rule is "the cap smallest keys") for
  engines/versions without the rewrite — same output, pinned by test.
* The over-cap host list broadcasts by default (heavy-tail crawls have
  few violators).  With a tiny cap over an enormous host set, pass
  ``broadcast_over=False`` and let AQE pick the join strategy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def host_counts(
    docs: DataFrame, host_col: str = "source"
) -> DataFrame:
    """(host_col, n_host): documents per host — one hash-agg, the
    ≤ |hosts|-row table everything else keys off."""
    return docs.groupBy(host_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_host")
    )


def _order_key(
    order_col: str | None, id_col: str
) -> list[Column]:
    if order_col is None:
        # content-independent deterministic shuffle; md5 (not xxhash64)
        # so a SQL oracle replays the exact ordering
        return [F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()]
    return [F.col(order_col).desc(), F.col(id_col).asc()]


def host_cap(
    docs: DataFrame,
    cap: int,
    host_col: str = "source",
    order_col: str | None = None,
    id_col: str = "doc_id",
    salt_parts: int = 1,
    broadcast_over: bool = True,
) -> DataFrame:
    """At most ``cap`` documents per host, all columns unchanged.

    Survivors are the first ``cap`` rows of each host under the total
    order ``(md5(id), id)`` — or ``(order_col DESC, id)`` when a
    quality/score column is supplied.  Hosts within the cap pass
    through the broadcast fast path untouched (their rows never
    shuffle); only over-cap hosts' rows are ranked, two-stage when
    ``salt_parts > 1`` (exact — see module docstring).
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1: {cap}")
    if salt_parts < 1:
        raise ValueError(f"salt_parts must be >= 1: {salt_parts}")
    over = (
        host_counts(docs, host_col)
        .where(F.col("n_host") > cap)
        .select(host_col)
    )
    if broadcast_over:
        over = F.broadcast(over)
    under_docs = docs.join(over, host_col, "left_anti")
    over_docs = docs.join(over, host_col, "left_semi")

    key = _order_key(order_col, id_col)
    if salt_parts > 1:
        # stage 1: exact local top-cap inside (host, salt) — each salt
        # shard emits <= cap rows, so no single task ever sorts a whole
        # pathological host
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_parts))
        w1 = Window.partitionBy(F.col(host_col), salt).orderBy(*key)
        over_docs = (
            over_docs.withColumn("_hc_rn", F.row_number().over(w1))
            .where(F.col("_hc_rn") <= cap)
            .drop("_hc_rn")
        )
    w = Window.partitionBy(host_col).orderBy(*key)
    kept_over = (
        over_docs.withColumn("_hc_rn", F.row_number().over(w))
        .where(F.col("_hc_rn") <= cap)
        .drop("_hc_rn")
    )
    return under_docs.unionByName(kept_over)
