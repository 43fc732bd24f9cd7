"""Connected-component cluster canonicalization over near-dup pairs."""

from __future__ import annotations

import contextlib

import pytest


def test_dedup_clusters_chain_and_islands(spark):
    """A 5-node chain, a 2-clique, and an untouched pair graph all
    collapse to their min-id labels within the iteration budget."""
    from swingstream.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),   # chain: min-label must hop 4x
         (10, 11),                          # island
         (20, 22), (22, 21)],               # small chain, unordered ids
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_dedup_clusters_long_chain_converges_in_log_rounds(spark):
    """A 64-node path (diameter 63 — the template-spam-chain shape that
    breaks diameter-bound propagation) must fully collapse well inside a
    logarithmic round budget: large-star/small-star needs ~log2(63)+c
    rounds, so max_iters=12 is ample for 64 nodes — and the operator
    must RAISE rather than silently return partial labels if it cannot
    converge (max_iters=2 below)."""
    import pytest

    from swingstream.operators.dedup import dedup_clusters

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"]
           for r in dedup_clusters(pairs, max_iters=12).collect()}
    assert got == {i: 1 for i in range(1, n + 1)}

    with pytest.raises(RuntimeError, match="converge"):
        dedup_clusters(pairs, max_iters=2)


def test_simhash_multiband_recall(spark):
    """Multi-band OR-of-bands candidate generation vs the exact
    all-pairs bit_count(xor) ground truth on the realistic Zipf corpus.

    Recall must be exactly 1.0 (pigeonhole: h corrupted blocks of
    bands > h leave one clean) at BOTH guaranteed configs: the
    scale-safe DEFAULT (max_hamming=3 ⇒ 4×16-bit Manku bands) and the
    small-corpus narrow-band verification config (max_hamming=8 ⇒ 9×7
    bits, unblocked opt-in via block_col='').  The wide-band
    probabilistic opt-in (hamming ≤ 8 over only 4 bands) measured ~0.68
    here, asserted as a floor so the tradeoff stays documented.  The
    retired single-prefix form structurally missed any pair differing
    inside its one 16-bit prefix."""
    from pyspark.sql import functions as F

    from swingstream.fixtures import gen_documents
    from swingstream.operators.dedup import (
        simhash_pairs_from_sigs,
        simhash_sig_table,
    )

    pdf = gen_documents(n_docs=800, neardup_frac=0.08, dup_frac=0.02)
    docs = spark.createDataFrame(pdf).repartition(16)
    sigs = simhash_sig_table(docs).persist()

    def exact_pairs(h: int) -> set:
        a, b = sigs.alias("a"), sigs.alias("b")
        return {
            (r["id_a"], r["id_b"])
            for r in (
                a.join(b, F.col("a.id") < F.col("b.id"))
                .where(F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))) <= h)
                .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
                .collect()
            )
        }

    exact8 = exact_pairs(8)
    exact3 = exact_pairs(3)
    assert len(exact8) >= 10, "fixture must plant enough true near-dup pairs"
    assert len(exact3) >= 5, "fixture must plant tight near-dup pairs too"

    cases = [
        # (max_hamming, bands, block_col, ground truth, recall floor)
        (3, None, None, exact3, 1.0),   # scale-safe DEFAULT: guaranteed
        (8, None, "", exact8, 1.0),     # narrow-band small-corpus opt-in
        (8, 4, None, exact8, 0.6),      # wide-band probabilistic opt-in
    ]
    for mh, bands, blk, exact, floor in cases:
        got = {
            (r["id_a"], r["id_b"])
            for r in simhash_pairs_from_sigs(
                sigs, max_hamming=mh, bands=bands, block_col=blk
            ).collect()
        }
        assert got <= exact  # verify stage is exact: no false positives
        recall = len(got & exact) / len(exact)
        assert recall >= floor, f"mh={mh} bands={bands}: recall {recall:.3f} < {floor}"
    sigs.unpersist()


def test_simhash_narrow_bands_require_blocking(spark):
    """bands > 4 (128-value band keys at 9×7 bits) degenerates to a
    near-cartesian candidate join at web scale — the op must refuse it
    without an explicit pre-blocking shard key."""
    from swingstream.fixtures import gen_documents
    from swingstream.operators.dedup import (
        simhash_neardup_pairs,
        simhash_pairs_from_sigs,
        simhash_sig_table,
    )

    pdf = gen_documents(n_docs=60)
    docs = spark.createDataFrame(pdf)
    sigs = simhash_sig_table(docs)
    with pytest.raises(ValueError, match="block_col"):
        simhash_pairs_from_sigs(sigs, max_hamming=8)  # 9 bands, unblocked
    with pytest.raises(ValueError, match="block_col"):
        simhash_neardup_pairs(docs, max_hamming=8)
    # blocked narrow bands are legal and candidates stay within blocks
    blocked = simhash_neardup_pairs(
        docs, max_hamming=8, block_col="lang", candidate_guard=False
    )
    unblocked = simhash_pairs_from_sigs(sigs, max_hamming=8, block_col="")
    got_b = {(r["id_a"], r["id_b"]) for r in blocked.collect()}
    got_u = {(r["id_a"], r["id_b"]) for r in unblocked.collect()}
    assert got_b <= got_u  # blocking only removes cross-block pairs
    lang = dict(docs.select("doc_id", "lang").toPandas().itertuples(index=False))
    assert all(lang[a] == lang[b] for a, b in got_b)


def test_lsh_candidate_guard_trips_on_degenerate_corpus(spark):
    """The driver-style degenerate corpus (~15-word vocabulary) collapses
    LSH banding into a handful of buckets: Σ|bucket|² goes quadratic and
    the discovery ops must fail loudly instead of running a disguised
    cartesian join.  Small corpora stay under the absolute floor, so the
    guard is exercised here with a proportionally tightened bound."""
    import pandas as pd

    from swingstream.operators.dedup import minhash_lsh_pairs, simhash_neardup_pairs

    rng = __import__("numpy").random.default_rng(7)
    vocab = ("the cat sat on the mat and the dog ran fast over it all day").split()
    template = " ".join(rng.choice(vocab, size=40))
    pdf = pd.DataFrame({
        "doc_id": range(400),
        # constant boilerplate with a one-token mutation on every 10th doc
        # — the "same template, different timestamp" page farm
        "text": [template if i % 10 else template + f" v{i % 3}" for i in range(400)],
        "lang": "en",
    })
    docs = spark.createDataFrame(pdf).repartition(8)
    with pytest.raises(RuntimeError, match="degenerate LSH banding"):
        minhash_lsh_pairs(docs, jaccard_threshold=0.5).count()
    with pytest.raises(RuntimeError, match="degenerate LSH banding"):
        simhash_neardup_pairs(docs).count()
    # guard sizing uses module defaults in production; tightened here only
    # because a 400-doc corpus can't reach the 10M absolute floor
    import swingstream.operators.dedup as dd
    assert dd.candidate_bound_check.__defaults__[0] == 50.0


@pytest.mark.parametrize("banded_rows, raises", [(12, False), (13, True)])
def test_candidate_guard_derived_n_needs_whole_inputs(spark, banded_rows,
                                                      raises):
    """The guard derives n = Σ|bucket| / rows_per_input; a total that is
    not a multiple means the banding did not emit exactly rows_per_input
    rows per input, so the guard refuses to floor it."""
    import swingstream.operators.dedup as dd

    bucketed = spark.createDataFrame(
        [(i % 5,) for i in range(banded_rows)], "band int")
    with (pytest.raises(ValueError, match="not a multiple of rows_per_input")
          if raises else contextlib.nullcontext()):
        dd.candidate_bound_check(bucketed, ["band"], "probe",
                                 rows_per_input=4)


def test_discovery_leaves_no_cached_signature_table(spark):
    """Both discovery calls reuse their signature table across the guard
    job and the self-join, and the token-window dedup reuses its
    occurrence table and cut set, without registering them in the
    session's cache: a compaction loop calls them once per pass, and
    each registered table would stay pinned for the rest of the
    session."""
    from swingstream.fixtures import gen_documents
    from swingstream.operators.dedup import (
        minhash_lsh_pairs,
        simhash_neardup_pairs,
        window_dedup,
    )

    docs = spark.createDataFrame(gen_documents(n_docs=200, vocab_size=500, seed=5))
    spark.catalog.clearCache()
    minhash_lsh_pairs(docs).collect()
    simhash_neardup_pairs(docs).collect()
    window_dedup(docs).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture(autouse=True)
def _tight_guard_floor(monkeypatch):
    """Lower the candidate guard's absolute floor for the degenerate-corpus
    test only (400 docs can't reach 10M candidates); other tests in this
    module run small corpora whose Σ|bucket|² stays under even this."""
    import swingstream.operators.dedup as dd

    orig = dd.candidate_bound_check

    def patched(bucketed, bucket_cols, op, rows_per_input, factor=50.0,
                min_candidates=100_000):
        return orig(bucketed, bucket_cols, op, rows_per_input, factor,
                    min_candidates)

    monkeypatch.setattr(dd, "candidate_bound_check", patched)
    yield


def test_dedup_survivors_keep_by_quality(spark):
    """RefinedWeb-style survivor policy: each cluster keeps its BEST
    member by keep_by (ties -> min id); default stays min-id."""
    from pyspark.sql import functions as F

    from swingstream.operators.dedup import dedup_survivors

    docs = spark.createDataFrame(
        [
            # cluster {1,2,3}: doc 3 has the best score
            (1, 0.2), (2, 0.5), (3, 0.9),
            # cluster {10,11}: tied scores -> min id 10 survives
            (10, 0.7), (11, 0.7),
            # unpaired doc always survives, score irrelevant
            (20, 0.0),
        ],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    best = sorted(
        r.doc_id
        for r in dedup_survivors(docs, pairs, keep_by="quality").collect()
    )
    assert best == [3, 10, 20]
    # ascending keeps the LOWEST score
    worst = sorted(
        r.doc_id
        for r in dedup_survivors(
            docs, pairs, keep_by="quality", descending=False
        ).collect()
    )
    assert worst == [1, 10, 20]
    # default min-id policy unchanged
    first = sorted(
        r.doc_id for r in dedup_survivors(docs, pairs).collect()
    )
    assert first == [1, 10, 20]
    # survivors keep their full row (left-anti preserves columns)
    row = (
        dedup_survivors(docs, pairs, keep_by="quality")
        .where(F.col("doc_id") == 3)
        .collect()[0]
    )
    assert row.quality == 0.9
