"""Unit tests for swingstream/operators/links.py — href extraction,
link-farm cap, canonical-target consistency with the dedup identity,
in-degree aggregation, and plan hygiene.  The contract query
q_docs_links hash-verifies extraction + in-degree against DuckDB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from swingstream.operators.links import (
    extract_links,
    in_degree,
)


@pytest.fixture(scope="module")
def pages(spark):
    rows = [
        (
            "http://a.com/x",
            'pre <a class="l" href="http://B.com/p?utm_source=x">t</a>'
            ' mid <a href="https://c.com/q">u</a> post',
        ),
        ("http://b.com/y", "no links at all"),
        (
            "http://c.com/z",
            '<a href="http://b.com/p">again</a>'
            " <a href='http://sq.com/s'>single-quoted ignored</a>",
        ),
        ("http://d.com/w", '<a href="http://a.com/x">back</a>'),
    ]
    return spark.createDataFrame(rows, "url string, html string")


def test_extract_and_canonicalize(pages):
    links = extract_links(pages, html_col="html", url_col="url")
    got = sorted((r.src_url, r.target) for r in links.collect())
    # utm param stripped + host lowercased by the dedup canonicalizer;
    # single-quoted href not extracted
    assert got == [
        ("http://a.com/x", "http://b.com/p"),
        ("http://a.com/x", "https://c.com/q"),
        ("http://c.com/z", "http://b.com/p"),
        ("http://d.com/w", "http://a.com/x"),
    ]


def test_canonical_target_matches_dedup_identity(spark):
    # the link graph and the dedup identity must agree on what a URL is
    from swingstream.functions.textfns import canonical_url

    raw = "http://B.com/p?utm_source=x&id=2#frag"
    df = spark.createDataFrame(
        [("s", f'<a href="{raw}">t</a>')], "url string, html string"
    )
    target = extract_links(df, html_col="html", url_col="url").collect()[0].target
    via_dedup = (
        spark.range(1)
        .select(canonical_url(F.lit(raw)).alias("c"))
        .collect()[0]
        .c
    )
    assert target == via_dedup


def test_link_farm_cap_applies_before_explode(spark):
    farm = " ".join(f'<a href="http://t.com/{i}">x</a>' for i in range(500))
    df = spark.createDataFrame([("s", farm)], "url string, html string")
    n = extract_links(df, html_col="html", url_col="url",
                      max_links_per_doc=64).count()
    assert n == 64
    # and the cap keeps document order: targets 0..63 survive
    t = sorted(
        int(r.target.rsplit("/", 1)[1])
        for r in extract_links(
            df, html_col="html", url_col="url", max_links_per_doc=64
        ).collect()
    )
    assert t == list(range(64))


def test_binary_html_column(spark):
    df = spark.createDataFrame(
        [("s", '<a href="http://t.com/1">x</a>'.encode())],
        "url string, html binary",
    )
    out = extract_links(df, html_col="html", url_col="url").collect()
    assert [r.target for r in out] == ["http://t.com/1"]


def test_in_degree_counts_distinct_hosts(pages):
    links = extract_links(pages, html_col="html", url_col="url")
    deg = {
        r.target: (r.n_links, r.n_src_hosts)
        for r in in_degree(links).collect()
    }
    # b.com/p linked from a.com and c.com — 2 links, 2 distinct hosts
    assert deg["http://b.com/p"] == (2, 2)
    assert deg["https://c.com/q"] == (1, 1)


def test_plan_jvm_only(pages):
    links = extract_links(pages, html_col="html", url_col="url")
    plan = (
        in_degree(links)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
