"""Unit tests for swingstream/operators/packing.py — deterministic
GPT-style concat-then-chunk packing layout.  The contract query
q_docs_pack hash-verifies the staged-key replay against DuckDB; these
tests pin determinism, the layout invariants (exclusive prefix sums,
no gaps/overlaps), the block arithmetic edge cases, and the
single-shuffle plan shape."""

from __future__ import annotations

import pandas as pd
import pytest

from swingstream.operators.packing import (
    pack_blocks,
    pack_blocks_from_keys,
    with_pack_keys,
)


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(500),
            "text": [" ".join(f"w{j}" for j in range(5 + (i * 13) % 90))
                     for i in range(500)],
        }
    )
    return spark.createDataFrame(pdf)


def test_pack_deterministic(corpus):
    a = pack_blocks(corpus, block_tokens=64, n_shards=4).toPandas()
    b = pack_blocks(corpus, block_tokens=64, n_shards=4).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("doc_id").reset_index(drop=True),
        b.sort_values("doc_id").reset_index(drop=True),
    )


def test_pack_layout_invariants(corpus):
    """Per shard: offsets are the exclusive prefix-sum of token counts
    in (order_key, id) order — every token position covered exactly
    once, no gaps, no overlaps."""
    keys = with_pack_keys(corpus, n_shards=4).toPandas()
    out = pack_blocks(corpus, block_tokens=64, n_shards=4).toPandas()
    merged = out.merge(keys[["doc_id", "order_key"]], on="doc_id")
    for shard, grp in merged.groupby("shard"):
        g = grp.sort_values(["order_key", "doc_id"]).reset_index(drop=True)
        expect_start = g["n_tokens"].cumsum().shift(fill_value=0)
        assert (g["start_tok"] == expect_start).all()
    # global token mass conserved
    assert out["n_tokens"].sum() == keys["n_tokens"].sum()
    assert len(out) == 500


def test_pack_block_arithmetic(spark):
    keys = spark.createDataFrame(
        pd.DataFrame(
            {
                # one shard, forced order via order_key
                "doc_id": [0, 1, 2, 3, 4],
                "shard": [0] * 5,
                "order_key": [10, 20, 30, 40, 50],
                "n_tokens": [100, 28, 0, 200, 1],
            }
        )
    )
    out = (
        pack_blocks_from_keys(keys, block_tokens=64)
        .orderBy("doc_id").toPandas().set_index("doc_id")
    )
    # doc0: [0,100) -> blocks 0..1 (straddles the 64 boundary)
    assert (out.loc[0, "start_tok"], out.loc[0, "first_block"],
            out.loc[0, "last_block"]) == (0, 0, 1)
    # doc1: [100,128) -> block 1 exactly (ends at boundary)
    assert (out.loc[1, "start_tok"], out.loc[1, "first_block"],
            out.loc[1, "last_block"]) == (100, 1, 1)
    # doc2: empty doc at offset 128 -> spans just block 2
    assert (out.loc[2, "start_tok"], out.loc[2, "first_block"],
            out.loc[2, "last_block"]) == (128, 2, 2)
    # doc3: [128,328) -> blocks 2..5
    assert (out.loc[3, "first_block"], out.loc[3, "last_block"]) == (2, 5)
    # doc4: [328,329) -> block 5
    assert (out.loc[4, "first_block"], out.loc[4, "last_block"]) == (5, 5)


def test_pack_token_col_passthrough(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["ignored text here", "x"],
                      "n_tok_pre": [7, 3]})
    )
    keys = with_pack_keys(docs, n_shards=1, token_col="n_tok_pre").toPandas()
    assert sorted(keys["n_tokens"]) == [3, 7]


def test_pack_plan_single_shuffle_jvm_only(corpus):
    """The layout costs ONE shuffle (the uniform shard key) — the window
    prefix-sum sorts within shard partitions without a second exchange —
    and never leaves the JVM."""
    from swingstream.plans.explain import explain_str

    plan = explain_str(pack_blocks(corpus, block_tokens=64, n_shards=4),
                       "simple")
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan, plan


def test_pack_salt_decorrelates_layout(corpus):
    a = pack_blocks(corpus, block_tokens=64, n_shards=4).toPandas()
    b = pack_blocks(corpus, block_tokens=64, n_shards=4, salt="v2").toPandas()
    m = a.merge(b, on="doc_id", suffixes=("_a", "_b"))
    assert (m["shard_a"] != m["shard_b"]).any()
    assert (m["start_tok_a"] != m["start_tok_b"]).any()


def test_materialize_blocks_exact_budget_and_reconstruction(spark, corpus):
    """Every materialized block carries exactly block_tokens tokens
    except each shard's last; concatenating a shard's blocks in
    block_id order reproduces the shard's document concatenation in
    layout order byte-for-byte (straddling docs split losslessly)."""
    from swingstream.operators.packing import materialize_blocks

    B = 64
    blocks = materialize_blocks(corpus, block_tokens=B, n_shards=4).toPandas()
    keys = with_pack_keys(corpus, n_shards=4).toPandas()
    docs = corpus.toPandas().set_index("doc_id")

    assert blocks["n_tokens"].sum() == keys["n_tokens"].sum()
    for shard, grp in blocks.groupby("shard"):
        g = grp.sort_values("block_id").reset_index(drop=True)
        # contiguous block ids from 0
        assert list(g["block_id"]) == list(range(len(g)))
        # exact budget except the last block
        assert (g["n_tokens"].iloc[:-1] == B).all()
        assert 0 < g["n_tokens"].iloc[-1] <= B
        # reconstruction parity vs the layout order
        k = keys[keys["shard"] == shard].sort_values(
            ["order_key", "doc_id"])
        expect = " ".join(
            " ".join(docs.loc[i, "text"].split())
            for i in k["doc_id"] if docs.loc[i, "text"].split()
        )
        assert " ".join(g["text"]) == expect


def test_materialize_blocks_straddle_and_empty_docs(spark):
    from swingstream.operators.packing import materialize_blocks
    from swingstream.plans.explain import explain_str

    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            # lengths 1..40 with one empty doc — many boundary straddles at B=16
            "text": [("t%d " % i) * i for i in range(40)],
        }
    )
    docs = spark.createDataFrame(pdf)
    df = materialize_blocks(docs, block_tokens=16, n_shards=2)
    blocks = df.toPandas()
    total = sum(range(40))  # doc i has i tokens; doc 0 empty
    assert blocks["n_tokens"].sum() == total
    for _, grp in blocks.groupby("shard"):
        g = grp.sort_values("block_id")
        assert (g["n_tokens"].iloc[:-1] == 16).all()
    assert "Python" not in explain_str(df, "simple")
