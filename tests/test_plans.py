"""Physical-plan guardrails (SURVEY.md §4.2): pushdown, pruning,
broadcast joins, codegen — the properties that make the plan survive a
100x scale-up, asserted so they can't regress silently."""

from __future__ import annotations

import os
import re

from swingstream.config import SwingParams
from swingstream.plans.explain import (
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)

SF = os.environ.get("SWINGSTREAM_SF_DIR", "/root/testdata/sf0.001")


def test_q01_pushdown_and_pruning(spark):
    from swingstream.contract import q01_pricing_summary

    df = q01_pricing_summary(spark, SF)
    assert "l_shipdate" in pushed_filters(df), "shipdate filter must reach the scan"
    cols = read_schema_columns(df)
    assert "l_orderkey" not in cols and "l_partkey" not in cols, (
        f"unused columns not pruned: {cols}"
    )
    # whole pipeline stays JVM-side: no Python eval nodes in the plan
    from swingstream.plans.explain import explain_str

    assert "Python" not in explain_str(df, "simple")


def test_q05_broadcasts_dimensions(spark):
    from swingstream.contract import q05_region_volume

    assert has_broadcast_join(q05_region_volume(spark, SF))


def test_feature_scan_prunes_html(spark, tmp_path, pages_df):
    """§4.3 pin #4: the html binary must never reach the feature scan
    when text is already materialized (batch path reads text, not html)."""
    from swingstream.operators.features import host_bucket_features
    from swingstream.sources.pages import PAGES_SCHEMA

    p = str(tmp_path / "pages")
    pages_df.drop(columns=["arrival_idx"]).to_parquet(p + ".parquet", index=False)
    os.makedirs(p)
    os.replace(p + ".parquet", p + "/part-0.parquet")
    pages = spark.read.schema(PAGES_SCHEMA).parquet(p)
    feats = host_bucket_features(pages, SwingParams())
    cols = read_schema_columns(feats)
    assert "html" not in cols, f"html must be pruned from the scan: {cols}"


def test_textquality_prunes_and_stays_jvm_side(spark):
    """r5 corpus-quality ops: the documents scan must read only
    (doc_id, text) — never lang/source/n_chars — and the whole plan must
    stay JVM-side (no Python eval nodes): these run over the full corpus
    at 100-TB scale, where an unpruned column or an Arrow crossing is the
    difference between a word-count-shaped job and a slow one."""
    from swingstream.contract import q_docs_boilerplate, q_docs_textquality
    from swingstream.plans.explain import explain_str

    for q in (q_docs_textquality, q_docs_boilerplate):
        df = q(spark, SF)
        cols = set(read_schema_columns(df))
        assert cols <= {"doc_id", "text"}, f"{q.__name__}: unpruned scan {cols}"
        assert "Python" not in explain_str(df, "simple"), q.__name__


def test_quality_gate_tokenizes_once(spark):
    """The admission verdict tokenizes and explodes each document once
    (one Generate) and reads its input twice: once for the repetition
    stats, once for the join back that carries every column."""
    from swingstream.operators.textquality import quality_gate

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "x y"), (2, ""), (3, "z")], "doc_id long, text string"
    )
    plan = quality_gate(docs)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bGenerate\b", plan)) == 1, plan
    assert len(re.findall(r"\bScan\b", plan)) == 2, plan


def test_gold_join_broadcasts(spark):
    from swingstream.fixtures import gen_series, plant_network
    from swingstream.operators.evaluate import label_edges
    from swingstream.pipeline import series_from_wide, swing_batch

    net = plant_network(n_features=4, n_edges=3, seed=5)
    wide, _ = gen_series(n_features=4, n_buckets=12, n_replicates=2, seed=5, net=net)
    names = [f"g{i}" for i in range(1, 5)]
    ranked = swing_batch(
        spark.createDataFrame(wide).transform(lambda d: series_from_wide(d, names)),
        SwingParams(window_width=6, min_lag=1, max_lag=2, alpha=0.1),
        feature_names=tuple(names),
    )
    gold = spark.createDataFrame(net.gold_edges(names))
    assert has_broadcast_join(label_edges(ranked, gold))


def test_swing_edges_shuffles_each_series_once(spark):
    """Batch scoring moves each series through one shuffle, whole, and
    builds its windows inside the group: one Exchange, hash-partitioned
    on group_key, and no per-window explode (Generate) or lag (Window)
    node in the executed plan on the DREAM4-style fixture."""
    from swingstream.contract import q_swing_edges

    df = q_swing_edges(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert re.findall(r"\bExchange (\w+)\((\w+)#", final) == [
        ("hashpartitioning", "group_key")], final
    assert not re.search(r"\b(Generate|Window)\b", final), final


def test_lineitem_projection_prunes(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_quantity")
    cols = read_schema_columns(df)
    assert cols == ["l_quantity"], cols


_BAND_KEYS = {"band_idx", "band_hash", "band_val"}


def _band_exchange_inputs(plan: str) -> list[set[str]]:
    """Input column names of every Exchange in a formatted plan that is
    hash-partitioned on a band key."""
    out = []
    for m in re.finditer(
        r"^\(\d+\) Exchange\nInput \[\d+\]: \[(.*)\]\n"
        r"Arguments: hashpartitioning\((.*), \d+\)", plan, re.M,
    ):
        inputs, keys = ({c.split("#")[0] for c in g.split(", ")}
                        for g in m.groups())
        if keys & _BAND_KEYS:
            out.append(inputs)
    return out


def test_minhash_banding_is_equi_join(spark):
    """The LSH candidate join must plan as a hash/sort-merge EQUI-join on
    (band_idx, band_hash) — a nested-loop/cartesian plan would mean the
    banding key got lost and the operator degraded to O(n²) pair search.

    The candidate exchanges carry keys, not payloads: the band explode
    multiplies every carried byte by the band count, so on the MinHash
    path only (id, band key) cross them and the signature and shingle
    set join the surviving pairs afterwards; the SimHash path may add
    its 64-bit fingerprint.  Broadcast joins are off while planning so
    the candidate join shuffles."""
    from swingstream.fixtures import gen_documents
    from swingstream.operators.dedup import (
        minhash_lsh_pairs_from_sigs,
        minhash_sig_table,
        simhash_pairs_from_sigs,
        simhash_sig_table,
    )

    docs = spark.createDataFrame(gen_documents(n_docs=60, vocab_size=500, seed=5))
    sigs = minhash_sig_table(docs)
    plan = minhash_lsh_pairs_from_sigs(sigs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan

    sh_sigs = simhash_sig_table(docs).join(
        docs.select(docs.doc_id.alias("id"), "lang"), "id")
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        mh = explain_str(minhash_lsh_pairs_from_sigs(sigs))
        sh = explain_str(simhash_pairs_from_sigs(sh_sigs, max_hamming=8,
                                                 block_col="lang"))
    finally:
        spark.conf.set(key, prev)
    for plan, allowed in (
        (mh, {"id", "band_idx", "band_hash"}),
        (sh, {"id", "band_idx", "band_val", "lang", "sh"}),
    ):
        inputs = _band_exchange_inputs(plan)
        assert len(inputs) >= 2, plan
        for cols in inputs:
            assert cols <= allowed, (cols, plan)


def test_streaming_extract_path_has_no_python_nodes(spark, pages_df):
    """The html→text extraction hot path must stay JVM-side
    (extract_col, round 3): no ArrowEvalPython / BatchEvalPython node in
    the plan of the streaming projection both series units read
    (narrow_pages), with and without the canonical-url rewrite — every
    html byte crossing Arrow to a Python worker was ~25% of query-1
    wall."""
    from swingstream.sources.pages import pages_from_pandas
    from swingstream.streaming.pipeline import narrow_pages

    pages = pages_from_pandas(spark, pages_df)
    for canonical_urls in (False, True):
        d = narrow_pages(pages, SwingParams(canonical_urls=canonical_urls))
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan, (canonical_urls, plan[:2000])


def test_no_payload_columns_past_projection(spark, pages_df):
    """Pin #4 (extended): neither html nor text may survive the narrow
    scan-side projection — the dedup/agg exchanges shuffle numerics only."""
    from swingstream.config import SwingParams
    from swingstream.operators.features import host_bucket_features, pages_to_bucketed
    from swingstream.sources.pages import pages_from_pandas

    pages = pages_from_pandas(spark, pages_df)
    params = SwingParams()
    cols = set(pages_to_bucketed(pages, params).columns)
    assert not ({"html", "text"} & cols), cols
    # and the full plan's exchanges never materialize the payload: the
    # only mention of text/html is in the scan-side projection
    plan = (
        host_bucket_features(pages, params, salted=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" in plan
    # payload columns appear below (scan side of) every exchange, never
    # as exchange outputs: check the Exchange node lines themselves
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line and "html#" not in line, line
