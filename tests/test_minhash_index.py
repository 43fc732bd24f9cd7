"""MinHashIndex: history-wide ingest-time NEAR-dup rejection
(streaming/index.py).

Pins: fuzzy rejection the exact DigestIndex cannot see (texts differ),
band-bucket partition pruning, idempotent ledger + compaction, meta
pinning, stream == one-shot batch parity on clique-shaped near-dup
graphs, and the ledger-derived replay that heals a crash landing
between the corpus/digest commits and the minhash index commit.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from swingstream.streaming.index import DigestIndex, MinHashIndex


def _toks(start: int, L: int = 110) -> str:
    return " ".join(f"t{start + i:04d}" for i in range(L))


def _neardup_docs_pdf() -> pd.DataFrame:
    """Two near-dup CLIQUES + unrelated docs.  Shingle-shifted token
    docs: a shift of s over L=110 tokens gives exact 3-shingle Jaccard
    (L-s-2)/(L+s-2) — s=3 ⇒ 0.946, 2s ⇒ 0.895, all well above the 0.75
    threshold, so every clique pair is an edge for BOTH the exact
    verification (batch pair_fn) and the signature-agreement estimate
    (index probe); unrelated docs share no shingles at all."""
    rows = [
        (1, _toks(0)), (11, _toks(3)), (21, _toks(6)),      # clique α
        (2, _toks(5000)), (12, _toks(5003)),                # clique β
    ]
    rows += [
        (100 + i, " ".join(f"f{i}w{j}" for j in range(40))) for i in range(6)
    ]
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def _write_docs_stream(pdf, d, splits):
    import os
    import time

    os.makedirs(d, exist_ok=True)
    now = time.time()
    for i, ids in enumerate(splits):
        p = os.path.join(d, f"part-{i:04d}.parquet")
        pdf[pdf["doc_id"].isin(ids)].to_parquet(p, index=False)
        os.utime(p, (now + 10 * i, now + 10 * i))


def test_minhash_index_rejects_fuzzy_rejects_nothing_fresh(spark, tmp_path):
    idx = MinHashIndex(str(tmp_path / "idx"), n_buckets=16, threshold=0.75)
    pdf = _neardup_docs_pdf()
    b0 = spark.createDataFrame(pdf[pdf.doc_id.isin([1, 2, 100, 101])])
    m = idx.commit(0, idx.band_rows(b0))
    assert m is not None and m["rows"] == 4 * idx.bands
    assert idx.commit(0, idx.band_rows(b0)) is None  # replay no-op

    # batch 1: 11/21 near-dup the indexed 1 (DIFFERENT texts — the
    # exact digest index would admit them), 12 near-dups 2; 102 fresh
    b1 = spark.createDataFrame(pdf[pdf.doc_id.isin([11, 21, 12, 102])])
    surv, surv_bands, all_bands = idx.filter_new(b1, id_col="doc_id")
    try:
        assert sorted(r["doc_id"] for r in surv.collect()) == [102]
        assert sorted(set(r["id"] for r in surv_bands.collect())) == ["102"]
        idx.commit(1, surv_bands)
    finally:
        all_bands.unpersist()
    assert idx.total_rows() == 5 * idx.bands
    # a re-crawl of the fresh doc is now rejected too (est = 1.0)
    again = spark.createDataFrame(pdf[pdf.doc_id.isin([102])])
    surv2, _, ab2 = idx.filter_new(again, id_col="doc_id")
    try:
        assert surv2.count() == 0
    finally:
        ab2.unpersist()


def test_minhash_index_band_bucket_pruning(spark, tmp_path):
    """A probe must read only the batch's touched band buckets."""
    idx = MinHashIndex(str(tmp_path / "idx"), n_buckets=32)
    pdf = pd.DataFrame(
        [(i, " ".join(f"d{i}x{j}" for j in range(30))) for i in range(120)],
        columns=["doc_id", "text"],
    )
    idx.commit(0, idx.band_rows(spark.createDataFrame(pdf)))

    one = idx.band_rows(
        spark.createDataFrame(pdf[pdf.doc_id == 7])
    )
    buckets = [
        r["b"]
        for r in one.select(
            F.pmod(F.col("band_hash"), F.lit(32)).cast("int").alias("b")
        ).distinct().collect()
    ]
    pruned = idx.files_for_buckets(buckets)
    everything = idx.files_for_buckets(range(32))
    assert pruned and len(pruned) < len(everything)
    # the pruned subset still rejects a re-crawl of doc 7
    surv, _, ab = idx.filter_new(
        spark.createDataFrame(pdf[pdf.doc_id == 7]), id_col="doc_id"
    )
    try:
        assert surv.count() == 0
    finally:
        ab.unpersist()


def test_minhash_index_compact_preserves_rejection(spark, tmp_path):
    idx = MinHashIndex(str(tmp_path / "idx"), n_buckets=8)
    pdf = _neardup_docs_pdf()
    for b, ids in enumerate([[1], [2], [100], [101]]):
        idx.commit(
            b, idx.band_rows(spark.createDataFrame(pdf[pdf.doc_id.isin(ids)]))
        )
    before = len(idx.files_for_buckets(range(8)))
    rows_before = idx.total_rows()
    m = idx.compact(spark, "binpack-0")
    assert m is not None and m["operation"] == "binpack"
    assert idx.compact(spark, "binpack-0") is None
    assert len(idx.files_for_buckets(range(8))) <= 8 < before
    assert idx.total_rows() == rows_before
    surv, _, ab = idx.filter_new(
        spark.createDataFrame(pdf[pdf.doc_id.isin([11, 12, 102])]),
        id_col="doc_id",
    )
    try:
        assert sorted(r["doc_id"] for r in surv.collect()) == [102]
    finally:
        ab.unpersist()


def test_minhash_index_meta_pinning(tmp_path):
    MinHashIndex(str(tmp_path / "idx"), n_buckets=16, bands=8)
    with pytest.raises(ValueError, match="bands"):
        MinHashIndex(str(tmp_path / "idx"), n_buckets=16, bands=4)
    with pytest.raises(ValueError, match="must divide"):
        MinHashIndex(str(tmp_path / "i2"), n_hashes=32, bands=5)


def test_stream_minhash_index_matches_one_shot_batch(spark, tmp_path):
    """End-to-end: ingest behind the minhash index == one-shot batch
    near-dup dedup (min-id survivor) on clique graphs with ids in
    arrival order — re-crawled REWRITES (not byte-identical) are
    rejected at admission, no compaction needed; telemetry counts them."""
    from swingstream.operators.dedup import dedup_survivors, minhash_lsh_pairs
    from swingstream.streaming.compaction import (
        run_corpus_stream_with_compaction,
    )

    pdf = _neardup_docs_pdf()
    d = str(tmp_path / "docs_stream")
    # originals arrive first; rewrites + fresh docs in later batches
    _write_docs_stream(
        pdf, d, [[1, 2, 100, 101], [11, 12, 102, 103], [21, 104, 105]]
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    table = run_corpus_stream_with_compaction(
        spark, stream, str(tmp_path / "corpus"), str(tmp_path / "ck"),
        id_col="doc_id", every=0, final_compaction=False,
        minhash_index_root=str(tmp_path / "idx"),
        minhash_index_params={"n_buckets": 16, "threshold": 0.75},
    )

    docs = spark.createDataFrame(pdf)
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.75,
                              candidate_guard=False)
    one_shot = sorted(
        dedup_survivors(docs, pairs, "doc_id").toPandas()["doc_id"]
    )
    got = sorted(r["doc_id"] for r in table.read(spark).collect())
    assert got == one_shot == [1, 2, 100, 101, 102, 103, 104, 105]

    rejected = sum(
        m["metrics"].get("rows_rejected_neardup_index", 0)
        for m in table.manifests()
    )
    assert rejected == 3  # 11, 12, 21

    idx = MinHashIndex(str(tmp_path / "idx"), n_buckets=16, threshold=0.75)
    assert idx.total_rows() == len(one_shot) * idx.bands


def test_minhash_crash_heals_via_ledger_derived_replay(
    spark, tmp_path, monkeypatch
):
    """Both indexes on; the FIRST minhash-index commit crashes after the
    corpus and digest-index commits already landed.  The restarted
    stream replays the batch down the ledger-derived path
    (read_commit): the digest commit no-ops, the minhash commit finally
    lands with the batch's band rows — nothing lost, nothing doubled.
    Re-running the admission filters instead would see the batch's own
    digests in the digest index and reject every row, committing an
    EMPTY minhash batch (the failure mode the protocol exists for)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from swingstream.streaming.compaction import (
        run_corpus_stream_with_compaction,
    )

    pdf = _neardup_docs_pdf()
    d = str(tmp_path / "docs_stream")
    _write_docs_stream(pdf, d, [[1, 2, 100], [11, 101, 102]])

    orig = MinHashIndex.commit
    state = {"armed": True}

    def boom(self, batch_id, rows, **kw):
        if state["armed"]:
            state["armed"] = False
            raise RuntimeError("injected crash before minhash index commit")
        return orig(self, batch_id, rows, **kw)

    monkeypatch.setattr(MinHashIndex, "commit", boom)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        return run_corpus_stream_with_compaction(
            spark, stream, str(tmp_path / "corpus"), str(tmp_path / "ck"),
            id_col="doc_id", every=0, final_compaction=False,
            digest_index_root=str(tmp_path / "didx"),
            minhash_index_root=str(tmp_path / "midx"),
            minhash_index_params={"n_buckets": 16, "threshold": 0.75},
        )

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run()
    table = run()  # heals: replay derives index inputs from read_commit

    got = sorted(r["doc_id"] for r in table.read(spark).collect())
    assert got == [1, 2, 100, 101, 102]  # 11 rejected as near-dup of 1

    midx = MinHashIndex(
        str(tmp_path / "midx"), n_buckets=16, threshold=0.75
    )
    didx = DigestIndex(str(tmp_path / "didx"))
    # batch 0's band rows were NOT lost to the crash: every admitted doc
    # of both batches is indexed in both indexes exactly once
    assert midx.total_rows() == 5 * midx.bands
    assert didx.total_rows() == 5
    assert midx.committed(0) and midx.committed(1)
    # and the healed index still rejects a re-crawl rewrite
    surv, _, ab = midx.filter_new(
        spark.createDataFrame(pdf[pdf.doc_id.isin([21])]), id_col="doc_id"
    )
    try:
        assert surv.count() == 0
    finally:
        ab.unpersist()


def test_periodic_index_binpack_covers_both_indexes(spark, tmp_path):
    """index_compact_every bin-packs BOTH admission indexes (digest and
    minhash) on the same cadence: after the trigger, each index's active
    ledger is a single binpack REPLACE manifest with ≤1 file per bucket,
    and rejection behavior is preserved — the batch arriving after the
    compaction still gets its re-crawls rejected."""
    from swingstream.streaming.compaction import (
        run_corpus_stream_with_compaction,
    )

    pdf = _neardup_docs_pdf()
    d = str(tmp_path / "docs_stream")
    # batches 0,1 fill the indexes; compaction fires after batch 1
    # ((1+1) % 2 == 0); batch 2 probes the COMPACTED indexes: 21 is a
    # near-dup of clique α, 104/105 are fresh
    _write_docs_stream(
        pdf, d, [[1, 2, 100, 101], [102, 103], [21, 104, 105]]
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    table = run_corpus_stream_with_compaction(
        spark, stream, str(tmp_path / "corpus"), str(tmp_path / "ck"),
        id_col="doc_id", every=0, final_compaction=False,
        digest_index_root=str(tmp_path / "didx"), index_buckets=16,
        index_compact_every=2,
        minhash_index_root=str(tmp_path / "midx"),
        minhash_index_params={"n_buckets": 16, "threshold": 0.75},
    )

    got = sorted(r["doc_id"] for r in table.read(spark).collect())
    assert got == [1, 2, 100, 101, 102, 103, 104, 105]
    rejected = sum(
        m["metrics"].get("rows_rejected_neardup_index", 0)
        for m in table.manifests()
    )
    assert rejected == 1  # 21, rejected by the post-compaction probe

    midx = MinHashIndex(str(tmp_path / "midx"), n_buckets=16, threshold=0.75)
    didx = DigestIndex(str(tmp_path / "didx"), n_buckets=16)
    for idx in (midx, didx):
        ops = [m.get("operation") for m in idx.manifests()]
        assert "binpack" in ops, "periodic compaction never fired"
        # post-compaction state: binpack REPLACE + the batch-2 commit
        active = idx.active_manifests()
        assert sum(1 for m in active if m.get("operation") == "binpack") == 1
        binpack = [m for m in active if m.get("operation") == "binpack"][0]
        assert len(binpack["files"]) <= idx.n_buckets
    # membership preserved through the rewrite: total band rows = every
    # admitted doc x bands; the sig side table compacted too (own id)
    assert midx.total_rows() == 8 * midx.bands
    assert midx.sigs.total_rows() == 8
    sig_ops = [m.get("operation") for m in midx.sigs.manifests()]
    assert "binpack" in sig_ops


def test_sig_side_table_stores_each_doc_once(spark, tmp_path):
    """Two-store layout: the band store carries NO signature column
    (schema-pinned) and the sig side table holds exactly one row per
    admitted doc — committing b batches of n docs costs n sigs, not
    n×bands."""
    idx = MinHashIndex(str(tmp_path / "idx"), n_buckets=16)
    pdf = _neardup_docs_pdf()
    idx.commit(0, idx.band_rows(spark.createDataFrame(pdf[pdf.doc_id.isin([1, 2])])))
    idx.commit(1, idx.band_rows(spark.createDataFrame(pdf[pdf.doc_id.isin([100])])))
    assert idx.total_rows() == 3 * idx.bands          # band rows ×bands
    assert idx.sigs.total_rows() == 3                 # sigs ONCE per doc
    assert "sig" not in idx.SCHEMA and "sig" in idx.sigs.SCHEMA
    # replay no-op covers BOTH stores
    assert idx.commit(0, idx.band_rows(
        spark.createDataFrame(pdf[pdf.doc_id.isin([1, 2])]))) is None
    assert idx.sigs.total_rows() == 3


def test_crash_between_sig_and_band_commit_heals(spark, tmp_path, monkeypatch):
    """The commit point is the BAND manifest: a crash after the sig
    store committed but before the band store did replays into a sig
    no-op + the missing band commit — nothing doubled, probes work."""
    from swingstream.streaming.index import _BucketedIndex

    idx = MinHashIndex(str(tmp_path / "idx"), n_buckets=16, threshold=0.75)
    pdf = _neardup_docs_pdf()
    b0 = spark.createDataFrame(pdf[pdf.doc_id.isin([1, 2])])

    orig = _BucketedIndex.commit
    state = {"armed": True}

    def boom(self, batch_id, rows, **kw):
        # fire on the BAND-store commit only (self is the MinHashIndex,
        # not the sig store), first time through
        if state["armed"] and isinstance(self, MinHashIndex):
            state["armed"] = False
            raise RuntimeError("injected crash between sig and band commit")
        return orig(self, batch_id, rows, **kw)

    monkeypatch.setattr(_BucketedIndex, "commit", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        idx.commit(0, idx.band_rows(b0))
    assert idx.sigs.committed(0) and not idx.committed(0)

    # replay: sig commit no-ops, band commit lands
    m = idx.commit(0, idx.band_rows(b0))
    assert m is not None
    assert idx.total_rows() == 2 * idx.bands
    assert idx.sigs.total_rows() == 2
    # and the healed index rejects a near-dup rewrite of doc 1
    surv, _, ab = idx.filter_new(
        spark.createDataFrame(pdf[pdf.doc_id.isin([11])]), id_col="doc_id"
    )
    try:
        assert surv.count() == 0
    finally:
        ab.unpersist()
