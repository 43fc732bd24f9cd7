"""Link-graph extraction — harvest ``<a href>`` targets from crawled
HTML and aggregate them into per-URL in-degree:
the signals a web-scale curation pipeline mines for quality (anchor
coverage ≈ authority) and for frontier/seed expansion.

No reference-repo twin exists (mount empty) — the semantics follow
published crawl practice (Common Crawl publishes exactly this host- and
domain-level web graph as a dataset; RefinedWeb and friends use
link-derived signals for seeding and quality), re-expressed as a
Catalyst plan:

* extraction is one JVM ``regexp_extract_all`` over the html/text
  column + one bounded explode — no Python, and ``max_links_per_doc``
  slices the match array BEFORE the explode so a pathological page
  (link farm with 10^6 anchors) cannot blow up a task;
* targets are normalized with ``functions.textfns.canonical_url`` —
  the SAME canonicalizer the dedup identity uses, so "the link graph"
  and "the document identity" can never disagree about what a URL is;
* the in-degree aggregation is a word-count-shaped hash-agg on
  avalanche-distributed keys (urls); nothing is collected.

The href regex lives in the Java∩RE2 dialect intersection (see
operators/pii.py) so the DuckDB oracle replays extraction exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# group 1 = the double-quoted href value.  Java and RE2 agree on this
# form (character classes + one capture group, no backreferences);
# single-quoted attributes are normalized away by every serializer this
# engine ingests — extend with a second pass if a corpus needs them.
HREF_DQ_RE = r"""<a\s[^>]*href="([^"]+)\""""


def href_targets(html: Column, max_links: int = 256) -> Column:
    """Array of raw href values in document order, capped at
    ``max_links`` BEFORE any explode (link-farm guard)."""
    return F.slice(
        F.regexp_extract_all(html, F.lit(HREF_DQ_RE), F.lit(1)),
        1,
        max_links,
    )


def extract_links(
    docs: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    max_links_per_doc: int = 256,
    canonicalize: bool = True,
) -> DataFrame:
    """One row per (source url, target url) link.  ``html_col`` may be
    binary (decoded as UTF-8 JVM-side) or string.  Targets are
    canonicalized with the dedup identity's canonical_url unless
    ``canonicalize=False`` (the oracle twin uses raw targets so the
    SQL stays dialect-portable)."""
    from swingstream.functions.textfns import canonical_url

    src = docs.schema[html_col].dataType.typeName()
    html = F.col(html_col).cast("string") if src == "binary" else F.col(html_col)
    target = F.explode(href_targets(html, max_links_per_doc)).alias("target")
    out = docs.select(F.col(url_col).alias("src_url"), target)
    if canonicalize:
        out = out.select(
            "src_url", canonical_url(F.col("target")).alias("target")
        )
    return out


def in_degree(
    links: DataFrame,
    src_host: Column | None = None,
) -> DataFrame:
    """Per canonical target: total links and DISTINCT source hosts —
    the anchor-authority signal (one host linking 10^6 times is one
    vote).  ``src_host`` defaults to the host of ``src_url``."""
    if src_host is None:
        src_host = F.parse_url("src_url", F.lit("HOST"))
    return (
        links.select("target", src_host.alias("src_host"))
        .groupBy("target")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_links"),
            F.count_distinct("src_host").cast("long").alias("n_src_hosts"),
        )
    )
