"""t3: streaming semantics — exactly-once sink, watermark-gated feature
emission vs a simulated oracle, stateful scoring parity with batch,
checkpoint resume, stream-stream lagged self-join parity."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from swingstream.config import SwingParams
from swingstream.fixtures import PagesSpec, gen_pages, write_pages_stream_dir
from swingstream.sources.catalog import IcebergLiteTable

PARAMS = SwingParams(
    window_width=6, step_size=1, min_lag=1, max_lag=2, method="lasso", alpha=0.05,
    watermark="5 minutes", n_salts=4,
)
SPEC = PagesSpec(n_hosts=4, n_buckets=30, base_docs_per_bucket=4)


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pages_stream")
    df = gen_pages(SPEC)
    write_pages_stream_dir(df, str(d), n_files=8)
    return str(d), df


def _watermark_oracle(df: pd.DataFrame, n_files: int, delay_s: int, delta_s: int):
    """Simulate Spark's per-batch watermark semantics (verified against
    Spark 4.1 this round):

      * active wm for batch k = max event time of batches < k, minus
        the delay;
      * LATE-RECORD FILTERING in a multi-stateful-operator query uses
        the PREVIOUS batch's active wm (so rows arriving in the very
        batch where their window finalizes still contribute);
      * a window is emitted iff its end <= final wm; a row can never
        reach an already-emitted window (filter_wm monotone >= the wm
        that emitted it).

    Returns (contributing rows, emitted (host, bucket_idx) set,
    n_late_dropped)."""
    chunks = np.array_split(np.arange(len(df)), n_files)
    active_wm = pd.Timestamp.min  # wm in effect during current batch
    filter_wm = pd.Timestamp.min  # previous batch's active wm
    delay = pd.Timedelta(seconds=delay_s)
    delta = pd.Timedelta(seconds=delta_s)
    seen: dict = {}  # (url, ts) -> expiry (= ts + delay); dedup state
    keep_rows = []
    n_late = 0
    max_ts = pd.Timestamp.min
    for chunk in chunks:
        batch = df.iloc[chunk]
        # dedup-state eviction (expiry <= active wm)
        seen = {k: e for k, e in seen.items() if e > active_wm}
        for _, r in batch.iterrows():
            key = (r["url"], r["warc_ts"])
            if key in seen:
                continue  # duplicate within watermark -> dropped
            seen[key] = r["warc_ts"] + delay
            win_end = r["warc_ts"].floor(delta) + delta
            if win_end <= filter_wm:
                n_late += 1
                continue
            keep_rows.append(r)
        max_ts = max(max_ts, batch["warc_ts"].max())
        filter_wm = active_wm
        active_wm = max_ts - delay
    final_wm = max_ts - pd.Timedelta(seconds=delay_s)
    kept = pd.DataFrame(keep_rows)
    kept["host"] = kept["url"].str.extract(r"https://([^/]+)/")[0]
    kept["bucket_idx"] = (
        kept["warc_ts"].map(pd.Timestamp.timestamp) // delta_s
    ).astype("int64")
    emitted = {
        (h, b)
        for (h, b), _ in kept.groupby(["host", "bucket_idx"])
        if pd.Timestamp((b + 1) * delta_s, unit="s") <= final_wm
    }
    return kept, emitted, n_late


def test_sink_idempotent_and_lineage(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "tbl"))
    df = spark.range(100).selectExpr("id", "timestamp_seconds(id) AS ts")
    m1 = t.commit(7, df, "ts")
    assert m1 is not None and m1["metrics"]["rows"] == 100
    assert m1["partitions"] and all(p["rows"] >= 0 for p in m1["partitions"])
    assert "min_event_time" in m1["metrics"]
    # replay => no-op
    assert t.commit(7, df, "ts") is None
    assert t.total_rows() == 100
    assert t.read(spark).count() == 100
    # a different batch appends
    t.commit(8, df.limit(10), "ts")
    assert t.total_rows() == 110


def test_sink_adopts_crash_orphaned_batch_dir(spark, tmp_path):
    """Crash between dir-publish and manifest write: the retry must
    ADOPT the already-published dir (a concurrent file-stream reader may
    have listed it) rather than delete + republish different part files."""
    import os

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    df = spark.range(50).selectExpr("id", "timestamp_seconds(id) AS ts")
    t.commit(3, df, "ts")
    # simulate the crash: data dir published, manifest lost
    os.remove(t._manifest_path(3))
    orphan_dir = os.path.join(t.data_dir, "batch-0000000003")
    before = sorted(os.listdir(orphan_dir))
    assert before, "orphan fixture must have published files"
    m = t.commit(3, df, "ts")
    assert m is not None and m["metrics"]["rows"] == 50
    # the exact same part files survived — no path a reader listed vanished
    assert sorted(os.listdir(orphan_dir)) == before
    assert t.total_rows() == 50 and t.read(spark).count() == 50


def test_sink_refuses_orphan_with_mismatched_schema(spark, tmp_path):
    """The adoption path commits already-published files on the strength
    of the pipeline determinism pin — which only holds within one code
    version. A dir whose parquet schema differs from the recomputed
    batch (stale data from an older version / different params) must be
    refused, not silently committed under a fresh manifest."""
    import os

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    old = spark.range(50).selectExpr("id", "timestamp_seconds(id) AS ts")
    t.commit(3, old, "ts")
    os.remove(t._manifest_path(3))
    # retry recomputes the batch under NEW code: different columns
    new = spark.range(50).selectExpr(
        "id", "timestamp_seconds(id) AS ts", "id * 2 AS extra")
    with pytest.raises(ValueError, match="refusing to adopt"):
        t.commit(3, new, "ts")
    assert not t.committed(3)  # nothing was committed
    # matching schema still adopts fine
    m = t.commit(3, old, "ts")
    assert m is not None and m["metrics"]["rows"] == 50


def test_streaming_dedup_compaction_matches_one_shot_batch(spark, tmp_path):
    """Periodic dedup compaction over the streaming corpus table (the
    LLM-data maintenance loop): appends land per micro-batch, every 2nd
    commit a between-trigger batch job rewrites the active snapshot to
    survivors via a REPLACE manifest, and a final pass runs at drain.
    The end state must equal the one-shot batch dedup_survivors over
    the full corpus (exact-content components are cliques, so
    incremental == one-shot — see compaction.py), the ledger must show
    compaction lineage, and a replayed compaction id must be a no-op."""
    from swingstream.operators.dedup import dedup_survivors, exact_dup_pairs
    from swingstream.sources.pages import pages_from_pandas, read_pages_stream
    from swingstream.streaming.compaction import (
        compact_dedup,
        run_corpus_stream_with_compaction,
    )

    spec = PagesSpec(
        n_hosts=3, n_buckets=20, base_docs_per_bucket=4,
        content_dup_frac=0.15, late_frac=0.0,
    )
    pdf = gen_pages(spec)
    assert pdf.duplicated(["url", "warc_ts"]).any(), \
        "fixture must contain transport redeliveries (T8 input)"
    d = tmp_path / "corpus_stream"
    write_pages_stream_dir(pdf, str(d), n_files=6)

    # the corpus row id is (url, warc_ts) — a url re-crawled at a later
    # time is a distinct document, so the dedup id must carry both;
    # transport redeliveries (identical url+warc_ts) are removed by the
    # engine's T8 in-stream dedup BEFORE the corpus append, exactly as
    # the production topology layers it
    def with_uid(df):
        return df.withColumn(
            "row_uid",
            F.concat_ws("@", "url", F.unix_micros(
                F.col("warc_ts").cast("timestamp")).cast("string")),
        )

    stream = with_uid(
        read_pages_stream(spark, str(d), max_files_per_trigger=1)
        .withWatermark("warc_ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["url", "warc_ts"])
    )
    table = run_corpus_stream_with_compaction(
        spark, stream, str(tmp_path / "corpus"), str(tmp_path / "ck"),
        id_col="row_uid", every=2,
    )

    all_pages = with_uid(
        pages_from_pandas(spark, pdf).dropDuplicates(["url", "warc_ts"])
    )
    expected = dedup_survivors(
        all_pages, exact_dup_pairs(all_pages, id_col="row_uid"), "row_uid"
    ).toPandas()
    assert len(expected) < pdf.drop_duplicates(["url", "warc_ts"]).shape[0], \
        "fixture must contain exact-content dups beyond transport copies"

    got = table.read(spark).toPandas()
    key = ["url", "warc_ts"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = expected[got.columns].sort_values(key).reset_index(drop=True)
    assert got_s["url"].tolist() == exp_s["url"].tolist()
    assert got_s["text"].tolist() == exp_s["text"].tolist()
    assert table.total_rows() == len(expected)

    # ledger: compaction manifests carry operation + replaces lineage,
    # and the active snapshot holds the latest rewrite (duplicate-free
    # appends stay active beside it)
    all_m = table.manifests()
    compactions = [m for m in all_m if m.get("operation") == "dedup-compaction"]
    assert compactions, "at least one compaction manifest must exist"
    assert all(m.get("replaces") for m in compactions)
    assert all("rows_in" in m["metrics"] for m in compactions)
    active = table.active_manifests()
    assert any(a.get("operation") == "dedup-compaction" for a in active)

    # exactly-once: replaying any committed compaction id is a no-op,
    # and an idle re-compaction of an already-compacted snapshot too
    assert compact_dedup(
        spark, table, lambda dd: exact_dup_pairs(dd, id_col="url"),
        id_col="url", compaction_id=compactions[0]["batch_id"],
    ) is None
    assert compact_dedup(
        spark, table, lambda dd: exact_dup_pairs(dd, id_col="url"),
        id_col="url",
    ) is None
    assert table.total_rows() == len(expected)


def test_compaction_crash_between_publish_and_manifest(spark, tmp_path):
    """A compaction that crashes after publishing its data dir but before
    its manifest write must heal on retry through the sink's adoption
    path: same files, REPLACE manifest finally lands, replaced appends
    become invisible — and the pre-crash window never shows partial state
    (appends stay visible until the one manifest write flips the
    snapshot)."""
    import os

    from swingstream.operators.dedup import exact_dup_pairs
    from swingstream.streaming.compaction import compact_dedup

    def batch(lo, n):
        # fresh doc_ids per append (ids are unique corpus-wide), texts
        # drawn from 7 templates so cross-batch exact dups exist
        return spark.createDataFrame(
            [(i, "txt-%d" % (i % 7)) for i in range(lo, lo + n)],
            "doc_id long, text string",
        )

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.commit(0, batch(0, 50))
    t.commit(1, batch(100, 20))

    # both commits hold losers, so the first pass replaces them both
    pf = lambda d: exact_dup_pairs(d)  # noqa: E731
    m = compact_dedup(spark, t, pf, compaction_id="compact-1")
    assert m is not None and m["operation"] == "dedup-compaction"
    survivors = t.total_rows()
    assert survivors == 7  # 7 distinct texts

    # crash INJECTION on a SECOND compaction after more appends: the
    # data dir publishes, then the manifest write dies (r5: a real
    # injected crash, not a post-hoc manifest delete — a real crash
    # leaves the .intent record in place, a post-success delete does not)
    t.commit(2, batch(200, 10))
    orig = IcebergLiteTable._write_manifest

    def boom(self, batch_id, *a, **k):
        if str(batch_id) == "compact-2":
            raise RuntimeError("injected crash before manifest write")
        return orig(self, batch_id, *a, **k)

    IcebergLiteTable._write_manifest = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_dedup(spark, t, pf, compaction_id="compact-2")
    finally:
        IcebergLiteTable._write_manifest = orig
    orphan = os.path.join(t.data_dir, "batch-compact-2")
    assert os.path.isdir(orphan), "data must have published before the crash"
    published = sorted(os.listdir(orphan))
    # pre-retry: ledger shows the pre-compaction snapshot (appends intact)
    assert t.total_rows() == survivors + 10
    # retry adopts the published dir and lands the manifest
    m3 = compact_dedup(spark, t, pf, compaction_id="compact-2")
    assert m3 is not None
    assert sorted(os.path.basename(f) for f in m3["files"]) == published
    assert t.total_rows() == 7
    # every row of append 2 loses: only that commit is rewritten (to an
    # empty REPLACE), and the first rewrite stays active beside it
    active = t.active_manifests()
    assert [a["batch_id"] for a in active] == ["compact-1", "compact-2"]


def test_targeted_compaction_rewrites_only_affected_commits(spark, tmp_path):
    """r5: dedup compaction implements Iceberg's
    rewrite_data_files granularity — only commits CONTAINING loser rows
    are rewritten; duplicate-free commits keep their append manifests
    active untouched; a pass that finds no losers commits nothing; and
    a commit whose rows ALL lose is replaced by an empty REPLACE
    snapshot (its rows must still become invisible)."""
    from swingstream.operators.dedup import dedup_survivors, exact_dup_pairs
    from swingstream.streaming.compaction import compact_dedup

    def df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    rows0 = [(i, f"unique-{i}") for i in range(10)]
    rows1 = [(11, "unique-3"), (12, "pair"), (13, "pair"), (14, "solo")]
    rows2 = [(i, f"clean-{i}") for i in range(20, 25)]
    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.commit(0, df(rows0))
    t.commit(1, df(rows1))  # 11 loses to 3 (cross-commit), 13 to 12
    t.commit(2, df(rows2))  # duplicate-free
    pf = lambda d: exact_dup_pairs(d)  # noqa: E731

    m = compact_dedup(spark, t, pf, compaction_id="compact-a")
    assert m is not None
    assert [str(b) for b in m["replaces"]] == ["1"]
    assert m["metrics"]["rows_in"] == len(rows1)
    # clean commits' ORIGINAL append manifests are still the active ones
    assert {str(a["batch_id"]) for a in t.active_manifests()} == \
        {"0", "2", "compact-a"}

    all_docs = df(rows0 + rows1 + rows2)
    expected = sorted(
        dedup_survivors(all_docs, pf(all_docs), "doc_id")
        .toPandas()["doc_id"])
    assert expected == sorted(list(range(10)) + [12, 14] + list(range(20, 25)))
    assert sorted(t.read(spark).toPandas()["doc_id"]) == expected

    # a pass that discovers no losers is an exact no-op: None returned,
    # no manifest written, no intent left behind
    n_manifests = len(t.manifests())
    assert compact_dedup(spark, t, pf, compaction_id="compact-b") is None
    assert len(t.manifests()) == n_manifests
    assert not os.path.exists(t._manifest_path("compact-b") + ".intent")

    # a commit whose rows ALL lose: replaced by an EMPTY rewrite so its
    # rows become invisible, everything else untouched
    t.commit(3, df([(30, "unique-0"), (31, "unique-1")]))
    m2 = compact_dedup(spark, t, pf, compaction_id="compact-c")
    assert m2 is not None and [str(b) for b in m2["replaces"]] == ["3"]
    assert m2["metrics"]["rows"] == 0
    assert sorted(t.read(spark).toPandas()["doc_id"]) == expected
    assert {str(a["batch_id"]) for a in t.active_manifests()} == \
        {"0", "2", "compact-a", "compact-c"}


def test_binpack_compaction_merges_small_commits(spark, tmp_path):
    """r5: compact_small_files bin-packs small active commits into one
    REPLACE commit (rows byte-unchanged, big commits never read);
    qualifying-set selection is pure manifest metadata; replay and
    fewer-than-two-qualifiers are no-ops."""
    from swingstream.streaming.compaction import compact_small_files

    def df(lo, n):
        return spark.createDataFrame(
            [(i, f"t-{i}") for i in range(lo, lo + n)],
            "doc_id long, text string",
        )

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.commit(0, df(0, 5))
    t.commit(1, df(10, 5))
    t.commit(2, df(20, 500))  # big: must never be rewritten
    t.commit(3, df(1000, 5))

    m = compact_small_files(spark, t, min_rows=100, compaction_id="bp-0")
    assert m is not None and m["operation"] == "bin-pack"
    assert sorted(str(b) for b in m["replaces"]) == ["0", "1", "3"]
    assert len(m["files"]) == 1  # packed into a single file
    assert m["metrics"]["rows"] == 15
    assert {str(a["batch_id"]) for a in t.active_manifests()} == {"2", "bp-0"}
    assert t.total_rows() == 515
    got = sorted(t.read(spark).toPandas()["doc_id"])
    assert got == sorted(
        list(range(5)) + list(range(10, 15))
        + list(range(20, 520)) + list(range(1000, 1005)))
    # replay no-op; a single qualifying commit (bp-0 itself) is a no-op
    assert compact_small_files(
        spark, t, min_rows=100, compaction_id="bp-0") is None
    assert compact_small_files(
        spark, t, min_rows=100, compaction_id="bp-1") is None


def test_streaming_harness_periodic_binpack(spark, tmp_path):
    """r5: the streaming harness's ``binpack_every`` maintenance loop —
    periodic bin-packing bounds the active commit count WITHOUT
    changing row content (rows pass through byte-unchanged), and the
    drain-time full-history dedup pass still equals the one-shot batch
    dedup over the appended history: bin-pack commits are REPLACE
    snapshots so they never enter the full-history pair-discovery
    basis, while the targeted rewrite must attribute loser rows onto
    the bin-pack commit dirs they now live in.  Dedup cadence is off
    (``every=0``) so bin-packing is the only periodic maintenance."""
    from swingstream.operators.dedup import dedup_survivors, exact_dup_pairs
    from swingstream.sources.pages import pages_from_pandas, read_pages_stream
    from swingstream.streaming.compaction import run_corpus_stream_with_compaction

    spec = PagesSpec(
        n_hosts=3, n_buckets=20, base_docs_per_bucket=4,
        content_dup_frac=0.15, late_frac=0.0,
    )
    pdf = gen_pages(spec)
    d = tmp_path / "corpus_stream"
    write_pages_stream_dir(pdf, str(d), n_files=6)

    def with_uid(df):
        return df.withColumn(
            "row_uid",
            F.concat_ws("@", "url", F.unix_micros(
                F.col("warc_ts").cast("timestamp")).cast("string")),
        )

    stream = with_uid(
        read_pages_stream(spark, str(d), max_files_per_trigger=1)
        .withWatermark("warc_ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["url", "warc_ts"])
    )
    table = run_corpus_stream_with_compaction(
        spark, stream, str(tmp_path / "corpus"), str(tmp_path / "ck"),
        id_col="row_uid", every=0,
        binpack_every=2, binpack_min_rows=1_000_000,
    )

    all_pages = with_uid(
        pages_from_pandas(spark, pdf).dropDuplicates(["url", "warc_ts"])
    )
    expected = dedup_survivors(
        all_pages, exact_dup_pairs(all_pages, id_col="row_uid"), "row_uid"
    ).toPandas()
    got = table.read(spark).toPandas()
    assert sorted(got["row_uid"]) == sorted(expected["row_uid"])
    assert table.total_rows() == len(expected)

    all_m = table.manifests()
    binpacks = [m for m in all_m if m.get("operation") == "bin-pack"]
    assert binpacks, "periodic bin-pack passes must have committed"
    assert all(len(m.get("replaces", [])) >= 2 for m in binpacks)
    # the drain-time dedup ran full-history and attributed losers onto
    # the bin-packed commit(s) — its replaces must name a bin-pack id
    finals = [m for m in all_m if m.get("operation") == "dedup-compaction"]
    assert finals and finals[-1]["metrics"]["scope"] == "full-history"
    assert any(
        str(b).startswith("binpack-") for b in finals[-1]["replaces"]
    )
    # maintenance must keep the ACTIVE commit count bounded well below
    # the append count (everything folds into the last bin-pack + the
    # final dedup rewrite, plus at most a straggler append)
    assert len(table.active_manifests()) <= 3
    # append history stays fully readable for the full-history basis
    assert table.read_history(spark).count() == \
        pdf.drop_duplicates(["url", "warc_ts"]).shape[0]


def test_digit_compaction_id_orphan_guard_not_bypassed(spark, tmp_path):
    """r5 review fix: the crash-retry guard must locate the orphaned
    data dir with the SAME zero-padded label catalog.commit publishes
    under — for an all-digit compaction_id the old f\"batch-{cid}\"
    looked at batch-7 while the data sat in batch-0000000007, so the
    stale-snapshot check was silently bypassed and commit() adopted
    stale files under a fresh intent."""
    from swingstream.operators.dedup import exact_dup_pairs
    from swingstream.streaming.compaction import compact_dedup

    def df(lo, n):
        return spark.createDataFrame(
            [(i, "txt-%d" % (i % 5)) for i in range(lo, lo + n)],
            "doc_id long, text string",
        )

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.commit(0, df(0, 20))
    pf = lambda d: exact_dup_pairs(d)  # noqa: E731
    orig = IcebergLiteTable._write_manifest

    def boom(self, batch_id, *a, **k):
        if str(batch_id) == "7":
            raise RuntimeError("injected crash before manifest write")
        return orig(self, batch_id, *a, **k)

    IcebergLiteTable._write_manifest = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_dedup(spark, t, pf, compaction_id="7")
    finally:
        IcebergLiteTable._write_manifest = orig
    assert os.path.isdir(os.path.join(t.data_dir, "batch-0000000007"))
    t.commit(1, df(100, 10))  # append lands before the retry
    with pytest.raises(RuntimeError, match="active snapshot changed"):
        compact_dedup(spark, t, pf, compaction_id="7")
    assert not t.committed("7")
    assert t.total_rows() == 30  # nothing lost, nothing stale adopted


def test_redrain_runs_fresh_final_compaction(spark, tmp_path):
    """r5 review fix: re-running the drained stream over the same
    out_root/checkpoint after new files arrive (incremental availableNow
    restarts) must run a FRESH final compaction over the new data — the
    old constant \"compact-final\" id replayed into the committed()
    no-op and left the second drain's duplicates alive."""
    import time

    from swingstream.operators.dedup import exact_dup_pairs
    from swingstream.streaming.compaction import run_corpus_stream_with_compaction

    d = str(tmp_path / "stream")
    os.makedirs(d)
    pd.DataFrame({"doc_id": [1, 2], "text": ["x", "x"]}).to_parquet(
        os.path.join(d, "part-0000.parquet"), index=False)

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(d)
        )
        return run_corpus_stream_with_compaction(
            spark, stream, str(tmp_path / "tbl"), str(tmp_path / "ck"),
            pair_fn=lambda dd: exact_dup_pairs(dd), id_col="doc_id",
            every=0,  # no periodic passes: the final pass must do the work
        )

    t = drain()  # final pass compact-final-0 removes doc 2
    assert sorted(t.read(spark).toPandas()["doc_id"]) == [1]

    p = os.path.join(d, "part-0001.parquet")
    pd.DataFrame({"doc_id": [3], "text": ["x"]}).to_parquet(p, index=False)
    os.utime(p, (time.time() + 20, time.time() + 20))
    t = drain()  # second drain: doc 3 duplicates doc 1 across drains
    assert sorted(t.read(spark).toPandas()["doc_id"]) == [1]
    finals = [m for m in t.manifests()
              if str(m["batch_id"]).startswith("compact-final")]
    assert len(finals) == 2  # one fresh final pass per drain


def test_compaction_rejects_unknown_scope(spark, tmp_path):
    """r5 review fix: a scope typo must raise, not silently downgrade
    the drain pass to the incremental approximation."""
    from swingstream.operators.dedup import exact_dup_pairs
    from swingstream.streaming.compaction import compact_dedup

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    with pytest.raises(ValueError, match="unknown compaction scope"):
        compact_dedup(spark, t, lambda d: exact_dup_pairs(d),
                      scope="full_history")


def test_adoption_tolerates_nullability_roundtrip(spark, tmp_path):
    """r5 review fix: parquet footers round-trip container nullability
    (ArrayType containsNull False->True), so the adoption schema check
    must compare names+types with nullability erased — else a
    legitimate crash-retry of identical data is refused forever."""
    df = (
        spark.range(10)
        .groupBy((F.col("id") % 2).alias("k"))
        .agg(F.collect_list("id").alias("vals"))
    )
    assert not df.schema["vals"].dataType.containsNull  # fixture premise
    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.commit(5, df)
    os.remove(t._manifest_path(5))  # crash: data published, manifest lost
    m = t.commit(5, df)  # retry must ADOPT, not refuse
    assert m is not None and m["metrics"]["rows"] == 2


def test_feature_query_matches_watermark_oracle(spark, stream_dir, tmp_path):
    from swingstream.streaming.pipeline import run_feature_query

    path, df = stream_dir
    table, dropped = run_feature_query(
        spark, path, str(tmp_path / "feat"), str(tmp_path / "ck"), PARAMS,
        max_files_per_trigger=1,
    )
    got = table.read(spark).toPandas()
    kept, emitted, n_late = _watermark_oracle(
        df, 8, delay_s=300, delta_s=PARAMS.delta_seconds
    )
    assert n_late > 0, "fixture must exercise late-drop"
    got_keys = {(r["group_key"], r["bucket_idx"]) for _, r in got.iterrows()}
    assert got_keys == emitted, (
        f"missing={sorted(emitted - got_keys)[:5]} extra={sorted(got_keys - emitted)[:5]}"
    )
    # feature values: exactly-once (no duplicate contributions)
    sub = kept[[ (r["host"], r["bucket_idx"]) in emitted for _, r in kept.iterrows() ]]
    oracle_counts = sub.groupby(["host", "bucket_idx"]).size()
    for _, r in got.iterrows():
        assert r["features"][0] == oracle_counts[(r["group_key"], r["bucket_idx"])]
    # watermark drop observability + per-batch observed-metrics sidecars
    assert dropped > 0
    sidecars = [
        f for f in os.listdir(table.manifest_dir) if f.startswith("observed-")
    ]
    assert sidecars, "observe() sidecar metrics must be recorded"


def test_content_dedup_requires_delta_within_watermark():
    """dropDuplicatesWithinWatermark only holds state for the watermark
    delay; same-bucket content dups can be delta_seconds apart, so
    delta > watermark silently breaks stream==batch parity (e.g. the
    DREAM4 tau=50min preset vs the 5-min default watermark). The config
    must refuse that combination."""
    import dataclasses

    with pytest.raises(ValueError, match="delta_seconds <= watermark"):
        SwingParams(dedup_content=True, delta_seconds=3000)
    # auto-fix path: widening the watermark makes the same tau legal
    ok = SwingParams(dedup_content=True, delta_seconds=3000, watermark="50 minutes")
    assert ok.watermark_seconds == 3000
    # dedup off: DREAM4 tau with default watermark stays legal
    assert SwingParams(delta_seconds=3000).delta_seconds == 3000
    # replace() re-runs validation too
    with pytest.raises(ValueError):
        dataclasses.replace(PARAMS, dedup_content=True, delta_seconds=3000)


def test_streaming_content_dedup_matches_batch(spark, tmp_path):
    """In-stream exact-content dedup (params.dedup_content): same text
    republished at a different url in the same (host, Δ-bucket) is
    dropped by the ONE dropDuplicatesWithinWatermark state op, and the
    emitted feature vectors are byte-identical to the batch twin's —
    regardless of which copy survives (the content key pins the scope so
    survivors are interchangeable)."""
    import dataclasses

    from swingstream.operators.features import host_bucket_features
    from swingstream.sources.pages import pages_from_pandas
    from swingstream.streaming.pipeline import run_feature_query

    params = dataclasses.replace(PARAMS, dedup_content=True)
    spec = PagesSpec(
        n_hosts=3, n_buckets=24, base_docs_per_bucket=4,
        content_dup_frac=0.10, late_frac=0.0,
    )
    df = gen_pages(spec)
    d = tmp_path / "cdup_stream"
    write_pages_stream_dir(df, str(d), n_files=6)
    table, _ = run_feature_query(
        spark, str(d), str(tmp_path / "feat_cd"), str(tmp_path / "ck_cd"), params,
        max_files_per_trigger=1,
    )
    got = table.read(spark).toPandas()
    assert len(got) > 0

    batch = host_bucket_features(
        pages_from_pandas(spark, df), params, salted=True
    ).toPandas()
    # streaming emits only watermark-finalized windows — every emitted
    # (host, bucket) must match the batch twin's vector exactly
    bkey = {(r["group_key"], r["bucket_idx"]): list(r["features"])
            for _, r in batch.iterrows()}
    assert len(got) < len(bkey)  # tail buckets not yet finalized
    for _, r in got.iterrows():
        want = bkey[(r["group_key"], r["bucket_idx"])]
        assert r["features"][0] == want[0]  # doc count: exact
        # float features: identical row sets; summation order may differ
        np.testing.assert_allclose(list(r["features"]), want, rtol=1e-12)

    # and content dedup actually collapsed rows: doc counts are strictly
    # below the no-content-dedup twin somewhere
    plain = host_bucket_features(
        pages_from_pandas(spark, df), PARAMS, salted=False
    ).toPandas()
    pkey = {(r["group_key"], r["bucket_idx"]): r["features"][0]
            for _, r in plain.iterrows()}
    assert any(
        r["features"][0] < pkey[(r["group_key"], r["bucket_idx"])]
        for _, r in got.iterrows()
    )


def test_streaming_canonical_url_dedup_matches_batch(spark, tmp_path):
    """params.canonical_urls: the SAME page re-crawled through campaign
    links (utm/fbclid decorations, host case flips) collapses to ONE doc
    at ingest — the url column is rewritten to canonical_url(url) at the
    narrow projection, so the dropDuplicatesWithinWatermark key, the
    host grouping, AND the salt all read the canonical identity.  The
    emitted feature vectors are byte-identical to the batch twin's, and
    doc counts sit strictly below the raw-url run where duplicates were
    planted."""
    import dataclasses

    from swingstream.operators.features import host_bucket_features
    from swingstream.sources.pages import pages_from_pandas
    from swingstream.streaming.pipeline import run_feature_query

    params = dataclasses.replace(PARAMS, canonical_urls=True)
    spec = PagesSpec(n_hosts=3, n_buckets=24, base_docs_per_bucket=4,
                     late_frac=0.0)
    df = gen_pages(spec).reset_index(drop=True)

    def _campaignize(u: str, i: int) -> str:
        # decorate with tracking params and upper-case the host — both
        # must fold away under canonical_url
        scheme, rest = u.split("://", 1)
        host, _, path = rest.partition("/")
        return (f"{scheme}://{host.upper()}/{path}"
                f"?utm_source=camp{i}&fbclid=zz{i}")

    dup_src = df.iloc[::9].copy()  # every 9th row gets a campaign twin
    dup_src["url"] = [
        _campaignize(u, i) for i, u in enumerate(dup_src["url"])
    ]
    # twin arrives just after its source row (often the next file) —
    # lateness stays within gen_pages' watermark-bounded arrival order;
    # a global reshuffle would make rows later than the watermark and
    # the stream would legitimately drop what the batch twin keeps
    dup_src["arrival_idx"] = dup_src["arrival_idx"] + 0.5
    full = (pd.concat([df, dup_src], ignore_index=True)
            .sort_values("arrival_idx", kind="stable")
            .reset_index(drop=True))
    full["arrival_idx"] = np.arange(len(full))

    d = tmp_path / "canon_stream"
    write_pages_stream_dir(full, str(d), n_files=6)
    table, _ = run_feature_query(
        spark, str(d), str(tmp_path / "feat_cu"), str(tmp_path / "ck_cu"),
        params, max_files_per_trigger=1,
    )
    got = table.read(spark).toPandas()
    assert len(got) > 0
    # canonical host keys only: no case-flipped group ever leaks through
    assert all(k == k.lower() for k in got["group_key"])

    batch = host_bucket_features(
        pages_from_pandas(spark, full), params, salted=True
    ).toPandas()
    bkey = {(r["group_key"], r["bucket_idx"]): list(r["features"])
            for _, r in batch.iterrows()}
    for _, r in got.iterrows():
        want = bkey[(r["group_key"], r["bucket_idx"])]
        assert r["features"][0] == want[0]
        np.testing.assert_allclose(list(r["features"]), want, rtol=1e-12)

    # the campaign twins actually collapsed: with canonical_urls OFF the
    # same input counts them as distinct docs somewhere
    raw = host_bucket_features(
        pages_from_pandas(spark, full), PARAMS, salted=False
    ).toPandas()
    # raw mode splits case-flipped hosts into separate groups — sum doc
    # counts over the case-folded key to compare apples to apples
    rkey: dict = {}
    for _, r in raw.iterrows():
        k = (r["group_key"].lower(), r["bucket_idx"])
        rkey[k] = rkey.get(k, 0.0) + r["features"][0]
    assert any(
        r["features"][0] < rkey[(r["group_key"], r["bucket_idx"])]
        for _, r in got.iterrows()
    )


@pytest.mark.parametrize("alpha", [0.05, None])
def test_scoring_stream_matches_batch(spark, stream_dir, tmp_path, alpha):
    """Fixed alpha and the per-target CV alpha search."""
    import dataclasses

    from swingstream.operators.features import densify_buckets
    from swingstream.pipeline import series_from_features, swing_edges
    from swingstream.streaming.pipeline import FEATURE_SCHEMA, run_feature_query
    from swingstream.streaming.state import run_scoring_query

    params = dataclasses.replace(PARAMS, alpha=alpha)
    path, _ = stream_dir
    feat_table, _ = run_feature_query(
        spark, path, str(tmp_path / "feat2"), str(tmp_path / "ck2"), params,
        max_files_per_trigger=2,
    )
    edges_table = run_scoring_query(
        spark, feat_table.data_dir, str(tmp_path / "edges"), str(tmp_path / "ck3"),
        params, list(params.feature_names),
    )
    stream_edges = edges_table.read(spark).toPandas()
    # batch twin over the SAME staged features
    feats = feat_table.read(spark, FEATURE_SCHEMA)
    batch_edges = swing_edges(
        series_from_features(densify_buckets(feats, params)), params
    ).toPandas()
    key = ["group_key", "win_start", "parent", "child", "lag"]
    a = stream_edges.sort_values(key).reset_index(drop=True)
    b = batch_edges.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    pd.testing.assert_frame_equal(a[key + ["importance", "win_start_ts"]],
                                  b[key + ["importance", "win_start_ts"]])


def test_checkpoint_resume(spark, tmp_path):
    """Restart from checkpoint: half the files, stop, rest of the files,
    same checkpoint — final table identical to a single run.

    Fixture has NO late rows: rows near the watermark boundary are
    best-effort in Spark (their drop/keep depends on batch layout, and a
    restart resets the one-batch filter lag), so exact resume equality
    is only guaranteed — and only asserted — for non-late data.  Late-row
    semantics are pinned by test_feature_query_matches_watermark_oracle."""
    from swingstream.streaming.pipeline import run_feature_query

    clean = PagesSpec(n_hosts=4, n_buckets=30, base_docs_per_bucket=4,
                      late_frac=0.0)
    df = gen_pages(clean)
    path = str(tmp_path / "clean_stream")
    write_pages_stream_dir(df, path, n_files=8)
    # drain sentinels: two staggered far-future rows push the watermark
    # past every real window AND give the engine a data batch in which
    # to emit them.  (A restarted availableNow query runs no trailing
    # no-data batch, and emission lags the watermark by one batch — the
    # second sentinel's batch is that "one more trigger".  A continuous
    # deployment doesn't need this; run-to-completion comparison does.)
    import time

    base_mtime = time.time()
    for i, mins in enumerate([30, 60]):
        sent = df.iloc[[0]].copy()
        sent["url"] = f"https://sentinel.drain/x{i}"
        sent["warc_ts"] = (
            df["warc_ts"].max() + pd.Timedelta(minutes=mins)
        ).floor("us")
        sent["warc_ts"] = sent["warc_ts"].astype("datetime64[us]")
        p = os.path.join(path, f"part-999{8 + i}.parquet")
        sent.drop(columns=["arrival_idx"]).to_parquet(p, index=False)
        os.utime(p, (base_mtime + 2 * i, base_mtime + 2 * i))
    files = sorted(os.listdir(path))

    def copy_ordered(names, dest, t0):
        # strictly increasing mtimes: FileStreamSource replays in mtime
        # order, and same-granule ties replay arbitrarily
        for j, f in enumerate(names):
            shutil.copy(os.path.join(path, f), dest / f)
            os.utime(dest / f, (t0 + 2 * j, t0 + 2 * j))

    inc = tmp_path / "inc_stream"
    inc.mkdir()
    copy_ordered(files[:4], inc, base_mtime + 100)
    t1, _ = run_feature_query(
        spark, str(inc), str(tmp_path / "t1"), str(tmp_path / "ckA"), PARAMS, 1
    )
    rows_phase1 = t1.total_rows()
    copy_ordered(files[4:], inc, base_mtime + 200)
    t1b, _ = run_feature_query(  # same roots => resume from checkpoint
        spark, str(inc), str(tmp_path / "t1"), str(tmp_path / "ckA"), PARAMS, 1
    )
    # one-shot reference
    ref, _ = run_feature_query(
        spark, path, str(tmp_path / "ref"), str(tmp_path / "ckB"), PARAMS, 1
    )
    a = t1b.read(spark).toPandas()
    b = ref.read(spark).toPandas()
    a = a[a["group_key"] != "sentinel.drain"].sort_values(
        ["group_key", "bucket_idx"]).reset_index(drop=True)
    b = b[b["group_key"] != "sentinel.drain"].sort_values(
        ["group_key", "bucket_idx"]).reset_index(drop=True)
    assert rows_phase1 < len(b), "phase 1 must be a strict prefix"
    assert len(a) == len(b)
    for (_, ra), (_, rb) in zip(a.iterrows(), b.iterrows()):
        assert ra["group_key"] == rb["group_key"]
        assert ra["bucket_idx"] == rb["bucket_idx"]
        np.testing.assert_allclose(list(ra["features"]), list(rb["features"]))


def test_stream_stream_lagged_join_parity(spark, tmp_path):
    from swingstream.streaming.join import lagged_pairs_batch, lagged_pairs_stream
    from swingstream.streaming.pipeline import FEATURE_SCHEMA

    # small deterministic feature table written as two stream files
    base = int(pd.Timestamp("2026-01-01").timestamp()) // 60  # epoch-0 rows
    # would be dropped by the initial (epoch-0) watermark
    rows = []
    for h in ["a.com", "b.com"]:
        for i in range(base, base + 20):
            rows.append(
                {
                    "group_key": h,
                    "bucket_idx": i,
                    "bucket_ts": pd.Timestamp(i * 60, unit="s"),
                    "features": [float(i - base), float(i - base) * 0.5],
                }
            )
    pdf = pd.DataFrame(rows)
    pdf["bucket_ts"] = pdf["bucket_ts"].astype("datetime64[us]")
    d = tmp_path / "featstream"
    d.mkdir()
    # split by TIME (event-time-ordered arrival): a whole-host second
    # file would arrive behind the watermark and be legitimately dropped
    early = pdf[pdf["bucket_idx"] < base + 10]
    late = pdf[pdf["bucket_idx"] >= base + 10]
    early.to_parquet(d / "f0.parquet", index=False)
    late.to_parquet(d / "f1.parquet", index=False)

    feats_stream = (
        spark.readStream.schema(FEATURE_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    joined = lagged_pairs_stream(feats_stream, PARAMS)
    q = (
        joined.writeStream.format("memory")
        .queryName("lagged_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckJ"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM lagged_pairs").toPandas()
    feats_batch = spark.createDataFrame(pdf, FEATURE_SCHEMA)
    want = lagged_pairs_batch(feats_batch, PARAMS).toPandas()
    key = ["group_key", "bucket_idx", "lag"]
    a = got.sort_values(key).reset_index(drop=True)
    b = want.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    pd.testing.assert_frame_equal(a[key], b[key])


@pytest.mark.parametrize("batch_input,width", [
    ("densified", PARAMS.window_width),
    ("sparse", PARAMS.window_width),
    ("sparse", 2),
], ids=["densified", "sparse", "w2"])
def test_dark_host_bounded_state_and_parity(spark, tmp_path, batch_input, width):
    """A host dark for 1000 buckets: no dead-span windows are scored,
    state/work stays bounded, and stream == batch on the same staged
    features (the dead-span pin, both sides).  The batch side reads them
    through densify_buckets or as staged; at w = 2 a window holds 2 rows,
    under the 3 either side scores, so both sides emit nothing."""
    import dataclasses

    from swingstream.operators.features import densify_buckets
    from swingstream.pipeline import series_from_features, swing_edges
    from swingstream.streaming.pipeline import FEATURE_SCHEMA
    from swingstream.streaming.state import run_scoring_query

    params = dataclasses.replace(PARAMS, window_width=width)
    rng = np.random.default_rng(3)
    g = len(params.feature_names)
    rows = []
    real = {"dark.example.com": list(range(0, 20)) + list(range(1020, 1040)),
            "steady.example.com": list(range(0, 30))}
    for host, buckets in real.items():
        for b in buckets:
            rows.append(
                (host, b, pd.Timestamp(b * params.delta_seconds, unit="s"),
                 [float(x) for x in rng.normal(size=g)])
            )
    pdf = pd.DataFrame(rows, columns=["group_key", "bucket_idx", "bucket_ts",
                                      "features"])
    # stage commits in bucket order (the monotone invariant query 1 provides)
    feat_table = IcebergLiteTable(str(tmp_path / "feats"))
    order = pdf.sort_values(["bucket_idx", "group_key"]).reset_index(drop=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(order)), 6)):
        feat_table.commit(i, spark.createDataFrame(order.iloc[chunk],
                                                   FEATURE_SCHEMA), "bucket_ts",
                          n_files=1)
    edges_table = run_scoring_query(
        spark, feat_table.data_dir, str(tmp_path / "edges"),
        str(tmp_path / "ck"), params, list(params.feature_names),
    )
    stream_edges = edges_table.read(spark).toPandas()
    feats = feat_table.read(spark, FEATURE_SCHEMA)
    if batch_input == "densified":
        feats = densify_buckets(feats, params)
    batch_edges = swing_edges(series_from_features(feats), params).toPandas()
    key = ["group_key", "win_start", "parent", "child", "lag"]
    a = stream_edges.sort_values(key).reset_index(drop=True)
    b = batch_edges.sort_values(key).reset_index(drop=True)
    if width < 3:  # one replicate gives a window w rows
        assert len(a) == len(b) == 0
        return
    assert len(a) == len(b) and len(a) > 0
    pd.testing.assert_frame_equal(a[key + ["importance", "win_start_ts"]],
                                  b[key + ["importance", "win_start_ts"]])
    # every scored window's response span touches a real bucket, so the
    # 1000-bucket dead span contributes ZERO windows (dense fill would
    # have scored ~1000)
    dark = a[a["group_key"] == "dark.example.com"]
    assert len(dark) > 0
    for n in dark["win_start"].unique():
        span = set(range(int(n), int(n) + width))
        assert span & set(real["dark.example.com"]), n
    assert dark["win_start"].nunique() < 60


def test_session_pipeline_matches_batch(spark, tmp_path):
    """Session-window SWING variant: streaming (session_window agg +
    sequence-indexed stateful scoring) == batch twin
    (pipeline.swing_sessions_batch), byte-identical edges.

    Fixture has no late rows (watermark drops have no batch analogue);
    drain sentinels push the final watermark past every real session."""
    import time

    from swingstream.pipeline import swing_sessions_batch
    from swingstream.sources.pages import pages_from_pandas
    from swingstream.streaming.sessions import run_session_pipeline

    sess_params = SwingParams(
        window_width=4, step_size=1, min_lag=1, max_lag=2, method="lasso",
        alpha=0.05, watermark="5 minutes", session_gap="40 seconds",
    )
    clean = PagesSpec(n_hosts=4, n_buckets=40, base_docs_per_bucket=3,
                      late_frac=0.0)
    df = gen_pages(clean)
    path = str(tmp_path / "sess_stream")
    write_pages_stream_dir(df, path, n_files=8)
    base_mtime = time.time()
    for i, mins in enumerate([30, 60]):
        sent = df.iloc[[0]].copy()
        sent["url"] = f"https://sentinel.drain/x{i}"
        sent["warc_ts"] = (
            df["warc_ts"].max() + pd.Timedelta(minutes=mins)
        ).floor("us")
        sent["warc_ts"] = sent["warc_ts"].astype("datetime64[us]")
        p = os.path.join(path, f"part-999{8 + i}.parquet")
        sent.drop(columns=["arrival_idx"]).to_parquet(p, index=False)
        os.utime(p, (base_mtime + 2 * i, base_mtime + 2 * i))

    names = list(sess_params.feature_names)
    feat_table, edges_table = run_session_pipeline(
        spark, path, str(tmp_path / "work"), sess_params, names
    )
    stream_edges = edges_table.read(spark).toPandas()
    stream_edges = stream_edges[
        stream_edges["group_key"] != "sentinel.drain"
    ]

    batch_pages = pages_from_pandas(spark, df.drop(columns=["arrival_idx"]))
    batch_edges = swing_sessions_batch(batch_pages, sess_params).toPandas()

    # multiple sessions per host must actually form, else the fixture
    # tests nothing (the hot host legitimately never gaps -> 1 session)
    feats = feat_table.read(spark).toPandas()
    n_sessions = feats[feats["group_key"] != "sentinel.drain"].groupby(
        "group_key").size()
    assert (n_sessions > sess_params.window_width + 2).sum() >= 2, n_sessions

    key = ["group_key", "win_start", "parent", "child", "lag"]
    cols = key + ["importance", "win_start_ts"]
    a = stream_edges.sort_values(key).reset_index(drop=True)
    b = batch_edges.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    pd.testing.assert_frame_equal(a[cols], b[cols])


def test_pipeline_concurrent_matches_batch(spark, stream_dir, tmp_path):
    """The production topology (query 1 and query 2 running concurrently,
    one drain — what bench.py and perfbench time) == the batch twin over
    its staged features, byte-identical edges; and query 1's
    observed-metrics sidecars account for every input row."""
    import json

    from swingstream.operators.features import densify_buckets
    from swingstream.pipeline import series_from_features, swing_edges
    from swingstream.streaming.pipeline import FEATURE_SCHEMA
    from swingstream.streaming.state import run_pipeline_concurrent

    path, df = stream_dir
    feat_table, edges_table = run_pipeline_concurrent(
        spark, path, str(tmp_path / "work"), PARAMS, list(PARAMS.feature_names),
        feature_files_per_trigger=2, q2_files_per_trigger=2,
    )
    stream_edges = edges_table.read(spark).toPandas()
    feats = feat_table.read(spark, FEATURE_SCHEMA)
    batch_edges = swing_edges(
        series_from_features(densify_buckets(feats, PARAMS)), PARAMS
    ).toPandas()
    key = ["group_key", "win_start", "parent", "child", "lag"]
    cols = key + ["importance", "win_start_ts"]
    a = stream_edges.sort_values(key).reset_index(drop=True)
    b = batch_edges.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    pd.testing.assert_frame_equal(a[cols], b[cols])

    sidecars = [f for f in os.listdir(feat_table.manifest_dir)
                if f.startswith("observed-")]
    assert sidecars, "query 1 must write observed-metrics sidecars"
    input_rows = 0
    for f in sidecars:
        with open(os.path.join(feat_table.manifest_dir, f)) as fh:
            input_rows += json.load(fh)["input_rows"]
    assert input_rows == len(df)


@pytest.mark.parametrize("unit", ["bucket", "session"])
def test_scoring_query_checkpoint_resume(spark, tmp_path, unit):
    """T10 for query 2, for both series units: kill the stateful scoring
    query mid-stream (after a strict prefix of feature commits), resume
    from the same checkpoint with the rest — final edge table
    byte-identical to a one-shot run.  The session unit also carries its
    per-host sequence counter (next_seq) across the restart."""
    import time

    from swingstream.streaming.pipeline import FEATURE_SCHEMA
    from swingstream.streaming.sessions import (
        SESSION_FEATURE_SCHEMA,
        SESSION_SERIES,
    )
    from swingstream.streaming.state import BUCKET_SERIES, run_scoring_query

    rng = np.random.default_rng(9)
    g = len(PARAMS.feature_names)
    rows = []
    for host in ("a.example.com", "b.example.com", "c.example.com"):
        for b in range(36):
            rows.append((host, b, pd.Timestamp(b * PARAMS.delta_seconds, unit="s"),
                         [float(x) for x in rng.normal(size=g)]))
    pdf = pd.DataFrame(rows, columns=["group_key", "bucket_idx", "bucket_ts",
                                      "features"])
    order = pdf.sort_values(["bucket_idx", "group_key"]).reset_index(drop=True)
    if unit == "bucket":
        schema, ts_col, series = FEATURE_SCHEMA, "bucket_ts", BUCKET_SERIES
    else:
        # one finalized session per row: its sequence number is its
        # per-host arrival rank, assigned by the scoring state
        order = pd.DataFrame({
            "group_key": order["group_key"],
            "session_start": order["bucket_ts"],
            "session_end": order["bucket_ts"] + pd.Timedelta(seconds=30),
            "features": order["features"],
        })
        schema, ts_col, series = (SESSION_FEATURE_SCHEMA, "session_start",
                                  SESSION_SERIES)

    feat_table = IcebergLiteTable(str(tmp_path / "feats"))
    for i, chunk in enumerate(np.array_split(np.arange(len(order)), 6)):
        feat_table.commit(i, spark.createDataFrame(order.iloc[chunk], schema),
                          ts_col, n_files=1)
    batch_dirs = sorted(os.listdir(feat_table.data_dir))
    assert len(batch_dirs) == 6

    def copy_commits(names, dest, t0):
        for j, d in enumerate(names):
            src = os.path.join(feat_table.data_dir, d)
            dst = os.path.join(dest, d)
            shutil.copytree(src, dst)
            for f in os.listdir(dst):
                os.utime(os.path.join(dst, f), (t0 + 2 * j, t0 + 2 * j))

    def score(staged, out, ck):
        return run_scoring_query(spark, staged, str(tmp_path / out),
                                 str(tmp_path / ck), PARAMS,
                                 list(PARAMS.feature_names), series=series)

    inc = str(tmp_path / "inc")
    os.makedirs(inc)
    t0 = time.time()
    copy_commits(batch_dirs[:3], inc, t0)
    rows_phase1 = score(inc, "e1", "ck").total_rows()
    copy_commits(batch_dirs[3:], inc, t0 + 100)
    t1b = score(inc, "e1", "ck")
    ref = score(feat_table.data_dir, "ref", "ckR")
    key = ["group_key", "win_start", "parent", "child", "lag"]
    a = t1b.read(spark).toPandas().sort_values(key).reset_index(drop=True)
    b = ref.read(spark).toPandas().sort_values(key).reset_index(drop=True)
    assert 0 < rows_phase1 < len(b), "phase 1 must be a strict prefix"
    assert len(a) == len(b)
    pd.testing.assert_frame_equal(a[key + ["importance", "win_start_ts"]],
                                  b[key + ["importance", "win_start_ts"]])


def _chain_docs_pdf():
    """Similarity CHAIN fixture: shingle-shifted token docs where
    J(A,B) = J(B,C) ≈ 0.83 >= 0.75 but J(A,C) ≈ 0.69 < 0.75 — pairs are
    exactly {A~B, B~C} under minhash_lsh_pairs(threshold=0.75)
    (deterministic: fixed hash seeds, exact-Jaccard verification)."""
    import pandas as pd

    L, s = 110, 10
    toks = lambda start: " ".join(f"t{start + i:04d}" for i in range(L))  # noqa: E731
    rows = [(1, toks(0)), (2, toks(s)), (3, toks(2 * s))]
    rows += [(100 + i, " ".join(f"f{i}w{j}" for j in range(30)))
             for i in range(6)]
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def _write_docs_stream(pdf, d, splits):
    """Write doc batches as parquet files with strictly increasing
    mtimes (file-source batch order == arrival order)."""
    import os
    import time

    os.makedirs(d, exist_ok=True)
    now = time.time()
    for i, ids in enumerate(splits):
        p = os.path.join(d, f"part-{i:04d}.parquet")
        pdf[pdf["doc_id"].isin(ids)].to_parquet(p, index=False)
        os.utime(p, (now + 10 * i, now + 10 * i))


def test_compaction_chain_semantics_incremental_vs_full_history(spark, tmp_path):
    """r5 (VERDICT r4 #4): near-dup pair_fns produce CHAIN-shaped
    components; pin BOTH documented behaviors through the streaming
    path: (a) incremental-only compaction leaves exactly the chain
    endpoint alive whose bridge was removed early (the documented
    approximation — delta == {C}); (b) the full-history final pass
    restores exact one-shot parity."""
    from swingstream.operators.dedup import dedup_survivors, minhash_lsh_pairs
    from swingstream.streaming.compaction import (
        compact_dedup,
        run_corpus_stream_with_compaction,
    )

    pdf = _chain_docs_pdf()
    d = str(tmp_path / "docs_stream")
    # A and B (the bridge) arrive first; C arrives after a compaction
    # already removed B
    _write_docs_stream(pdf, d, [[1, 2, 100, 101, 102], [3, 103, 104, 105]])
    pf = lambda dd: minhash_lsh_pairs(  # noqa: E731
        dd, jaccard_threshold=0.75, candidate_guard=False)

    def run(name, final_compaction):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(d)
        )
        return run_corpus_stream_with_compaction(
            spark, stream, str(tmp_path / name), str(tmp_path / f"ck_{name}"),
            pair_fn=pf, id_col="doc_id", every=1,
            final_compaction=final_compaction,
        )

    docs = spark.createDataFrame(pdf)
    one_shot = sorted(
        dedup_survivors(docs, pf(docs), "doc_id").toPandas()["doc_id"]
    )
    assert one_shot == [1, 100, 101, 102, 103, 104, 105]  # B and C lose

    # (a) incremental approximation: C's bridge B was compacted away in
    # batch 0, so C survives — the delta vs one-shot is EXACTLY {3}
    inc = run("inc", final_compaction=False)
    compact_dedup(spark, inc, pf, id_col="doc_id",
                  compaction_id="compact-final", scope="active")
    got_inc = sorted(inc.read(spark).toPandas()["doc_id"])
    assert got_inc == sorted(one_shot + [3])

    # (b) full-history final pass (the drain default): exact one-shot
    # parity — discovery over the append history finds A~B~C, C loses
    # to min id 1
    full = run("full", final_compaction=True)
    got_full = sorted(full.read(spark).toPandas()["doc_id"])
    assert got_full == one_shot
    final = [m for m in full.manifests()
             if str(m["batch_id"]).startswith("compact-final")]
    assert final and final[0]["metrics"]["scope"] == "full-history"


def test_compaction_with_embedding_cosine_pair_fn(spark, tmp_path):
    """r5: embedding near-dup dedup through the streaming compaction
    path — the pluggable pair_fn contract covers the similarity
    module's exact block-pair BLAS kernel, not just the text
    digest/LSH pair fns.  Clusters are constructed as cosine CLIQUES
    (tiny perturbations of an anchor, all pairwise cos ≈ 1 ≥ 0.95), so
    incremental periodic passes and the one-shot batch agree exactly
    (compaction.py min()-associativity argument)."""
    import numpy as np
    import pandas as pd

    from swingstream.operators.dedup import dedup_survivors
    from swingstream.operators.similarity import neardup_pairs_blas
    from swingstream.streaming.compaction import run_corpus_stream_with_compaction

    rng = np.random.default_rng(7)
    dim = 16
    rows = []
    for cid, ids in enumerate([[1, 2, 3], [10, 11], [20]]):
        anchor = rng.normal(size=dim)
        for i in ids:
            v = anchor + rng.normal(scale=1e-3, size=dim)
            rows.append((i, (v / np.linalg.norm(v)).tolist()))
    for i in (30, 31):  # singletons far from every cluster
        v = rng.normal(size=dim)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    pdf = pd.DataFrame(rows, columns=["doc_id", "embedding"])

    d = str(tmp_path / "emb_stream")
    _write_docs_stream(pdf, d, [[1, 2, 10, 30], [3, 11, 20, 31]])
    pf = lambda dd: neardup_pairs_blas(  # noqa: E731
        dd, threshold=0.95, id_col="doc_id", vec_col="embedding", n_blocks=2)

    stream = (
        spark.readStream.schema("doc_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1).parquet(d)
    )
    table = run_corpus_stream_with_compaction(
        spark, stream, str(tmp_path / "emb_tbl"), str(tmp_path / "emb_ck"),
        pair_fn=pf, id_col="doc_id", every=1,
    )

    docs = spark.createDataFrame(pdf)
    one_shot = sorted(
        dedup_survivors(docs, pf(docs), "doc_id").toPandas()["doc_id"])
    assert one_shot == [1, 10, 20, 30, 31]  # min id per clique survives
    got = sorted(table.read(spark).toPandas()["doc_id"])
    assert got == one_shot
    assert any(m.get("operation") == "dedup-compaction"
               for m in table.manifests())


def test_streaming_quality_gate_matches_batch_and_records_metrics(spark, tmp_path):
    """r5: quality-gated corpus ingest — run_corpus_stream_with_compaction's
    gate_fn (textquality.quality_gate) drops degenerate-repetition docs and
    masks PII BEFORE the exactly-once append, with per-commit admission
    counts in the manifest ledger.  The gate is per-doc (repetition stats
    never cross documents), so it commutes with micro-batching: the drained
    gated+compacted corpus must equal the one-shot batch gate -> dedup.
    Fixture mutations are keyed on a hash of (url, warc_ts) — NOT the row
    index — so transport-redelivered copies mutate identically and the
    arbitrary-survivor transport dedup stays parity-safe."""
    import hashlib

    from swingstream.operators.dedup import dedup_survivors, exact_dup_pairs
    from swingstream.operators.textquality import quality_gate
    from swingstream.sources.pages import pages_from_pandas, read_pages_stream
    from swingstream.streaming.compaction import run_corpus_stream_with_compaction

    spec = PagesSpec(
        n_hosts=3, n_buckets=20, base_docs_per_bucket=4,
        content_dup_frac=0.15, late_frac=0.0,
    )
    pdf = gen_pages(spec)
    key = pdf["url"] + "@" + pdf["warc_ts"].astype("int64").astype(str)
    h = key.map(lambda s: int(hashlib.md5(s.encode()).hexdigest()[:8], 16))
    spam, pii = (h % 7 == 0), (h % 11 == 3)
    pdf.loc[spam, "text"] = ("spam " * 40).strip()
    pdf.loc[pii, "text"] = (
        pdf.loc[pii, "text"]
        + " write to crawler@example.org or call +1 555-010-7788 now"
    )
    assert spam.any() and pii.any() and not (spam & pii).all()
    d = tmp_path / "gated_stream"
    write_pages_stream_dir(pdf, str(d), n_files=6)

    def with_uid(df):
        return df.withColumn(
            "row_uid",
            F.concat_ws("@", "url", F.unix_micros(
                F.col("warc_ts").cast("timestamp")).cast("string")),
        )

    kw = dict(id_col="row_uid", text_col="text",
              min_tokens=3, max_top_token_frac=0.8, max_dup_bigram_frac=0.95)
    gate = lambda dd: quality_gate(dd, **kw)  # noqa: E731
    stream = with_uid(
        read_pages_stream(spark, str(d), max_files_per_trigger=1)
        .withWatermark("warc_ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["url", "warc_ts"])
    )
    spark.catalog.clearCache()
    table = run_corpus_stream_with_compaction(
        spark, stream, str(tmp_path / "gated_corpus"), str(tmp_path / "gated_ck"),
        gate_fn=gate, quarantine_root=str(tmp_path / "gated_quarantine"),
        id_col="row_uid", every=2,
    )
    # the sink releases every frame it pinned per micro-batch
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    all_pages = with_uid(
        pages_from_pandas(spark, pdf).dropDuplicates(["url", "warc_ts"])
    )
    gated = gate(all_pages).where(F.col("reject_reason").isNull())
    expected = (
        dedup_survivors(gated, exact_dup_pairs(gated, id_col="row_uid"), "row_uid")
        .select("row_uid", "text").toPandas()
        .sort_values("row_uid").reset_index(drop=True)
    )
    got = (
        table.read(spark).select("row_uid", "text").toPandas()
        .sort_values("row_uid").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expected)

    # the gate actually split the corpus, and PII survived only masked
    n_unique = int(pdf.drop_duplicates(["url", "warc_ts"]).shape[0])
    masked = got[got["text"].str.contains("<EMAIL>", regex=False)]
    assert 0 < len(got) < n_unique
    assert len(masked) > 0 and masked["text"].str.contains("<PHONE>", regex=False).all()
    assert not got["text"].str.contains("@example.org|555-010", regex=True).any()

    # admission telemetry in the append manifests: every commit carries
    # both counters and the totals reconcile with the rejected spam docs
    appends = table.append_manifests()
    assert all(
        "rows_in_gate" in m["metrics"] and "rows_rejected_gate" in m["metrics"]
        for m in appends
    )
    n_rejected = sum(m["metrics"]["rows_rejected_gate"] for m in appends)
    n_spam_unique = int(
        pdf[spam].drop_duplicates(["url", "warc_ts"]).shape[0])
    assert n_rejected == n_spam_unique
    assert sum(m["metrics"]["rows_in_gate"] for m in appends) == n_unique

    # quarantine table: the rejected complement with reasons, committed
    # under the same batch_ids (audit trail, not silent drops)
    q = IcebergLiteTable(str(tmp_path / "gated_quarantine"))
    qdf = q.read(spark).select("row_uid", "reject_reason").toPandas()
    assert len(qdf) == n_spam_unique
    # every spam doc tripped the top-token gate first (40/48 > 0.8)
    assert (qdf["reject_reason"] == "top_token_frac").all()
    # admitted + quarantined partition the transport-deduped input
    assert len(qdf) + len(
        gated.select("row_uid").toPandas()
    ) == n_unique
    assert {str(m["batch_id"]) for m in q.manifests()} <= {
        str(m["batch_id"]) for m in appends
    }


def test_compaction_retry_refuses_stale_snapshot(spark, tmp_path):
    """r5 (r4 advice): a compaction retry that would ADOPT files
    published by a crashed attempt must fail loudly when an append
    landed in between — adopting would mark the new append replaced
    without its rows existing in the adopted data (silent row loss).
    Removing the orphan dir heals: the retry recomputes from the
    current snapshot."""
    import os

    import pytest
    from swingstream.operators.dedup import exact_dup_pairs
    from swingstream.streaming.compaction import compact_dedup

    def batch(lo, n):
        return spark.createDataFrame(
            [(i, "txt-%d" % (i % 5)) for i in range(lo, lo + n)],
            "doc_id long, text string",
        )

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.commit(0, batch(0, 30))
    pf = lambda d: exact_dup_pairs(d)  # noqa: E731

    # crash between data publish and manifest write (injected)...
    orig = IcebergLiteTable._write_manifest

    def boom(self, batch_id, *a, **k):
        if str(batch_id) == "compact-0":
            raise RuntimeError("injected crash before manifest write")
        return orig(self, batch_id, *a, **k)

    IcebergLiteTable._write_manifest = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_dedup(spark, t, pf, compaction_id="compact-0")
    finally:
        IcebergLiteTable._write_manifest = orig
    assert os.path.isdir(os.path.join(t.data_dir, "batch-compact-0"))
    # ...then an append lands before the retry
    t.commit(1, batch(100, 10))
    with pytest.raises(RuntimeError, match="active snapshot changed"):
        compact_dedup(spark, t, pf, compaction_id="compact-0")
    assert not t.committed("compact-0")
    assert t.total_rows() == 40  # both appends intact, nothing lost

    # heal: drop the stale published dir, retry recomputes over the
    # CURRENT snapshot (both appends) and commits
    import shutil
    shutil.rmtree(os.path.join(t.data_dir, "batch-compact-0"))
    m2 = compact_dedup(spark, t, pf, compaction_id="compact-0")
    assert m2 is not None
    assert sorted(str(b) for b in m2["replaces"]) == ["0", "1"]
    assert t.total_rows() == 5  # 5 distinct texts across both appends


def test_compaction_retry_refuses_changed_parameters(spark, tmp_path):
    """r6 (r5 advice): the crash-retry guard must also pin the
    PARAMETERS the crashed attempt computed under.  A crashed
    active-scope pass retried with a different scope
    that happens to produce the same replaces set would otherwise adopt
    the stale rows while the fresh manifest records the retry's
    parameters — content computed under the old label committed under
    the new one."""
    import os
    import shutil

    import pytest
    from swingstream.operators.dedup import exact_dup_pairs
    from swingstream.streaming.compaction import compact_dedup

    def batch(lo, n):
        return spark.createDataFrame(
            [(i, "txt-%d" % (i % 5)) for i in range(lo, lo + n)],
            "doc_id long, text string",
        )

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.commit(0, batch(0, 30))
    pf = lambda d: exact_dup_pairs(d)  # noqa: E731

    orig = IcebergLiteTable._write_manifest

    def boom(self, batch_id, *a, **k):
        if str(batch_id) == "compact-0":
            raise RuntimeError("injected crash before manifest write")
        return orig(self, batch_id, *a, **k)

    IcebergLiteTable._write_manifest = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_dedup(spark, t, pf, compaction_id="compact-0",
                          scope="active")
    finally:
        IcebergLiteTable._write_manifest = orig
    assert os.path.isdir(os.path.join(t.data_dir, "batch-compact-0"))

    # same replaces set (nothing changed in the table), different scope:
    # the retry must refuse to adopt
    with pytest.raises(RuntimeError, match="parameters changed"):
        compact_dedup(spark, t, pf, compaction_id="compact-0",
                      scope="full-history")
    assert not t.committed("compact-0")

    # identical parameters adopt cleanly
    m = compact_dedup(spark, t, pf, compaction_id="compact-0",
                      scope="active")
    assert m is not None and t.total_rows() == 5
    assert not os.path.exists(t._manifest_path("compact-0") + ".intent")

    # heal path: removing the orphan dir allows recomputing under new
    # parameters for a FRESH cid after more data lands
    t.commit(1, batch(100, 10))
    IcebergLiteTable._write_manifest = boom2 = (lambda self, bid, *a, **k: (
        (_ for _ in ()).throw(RuntimeError("injected crash before manifest write"))
        if str(bid) == "compact-1" else orig(self, bid, *a, **k)))
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_dedup(spark, t, pf, compaction_id="compact-1",
                          scope="active")
    finally:
        IcebergLiteTable._write_manifest = orig
    shutil.rmtree(os.path.join(t.data_dir, "batch-compact-1"))
    m2 = compact_dedup(spark, t, pf, compaction_id="compact-1",
                       scope="full-history")
    assert m2 is not None and m2["metrics"]["scope"] == "full-history"


@pytest.mark.parametrize("pass_name", ["strip_lines", "window_dedup"])
def test_content_pass_retry_refuses_changed_parameters(
    spark, tmp_path, pass_name
):
    """The line strip and the window dedup pin their parameters in the
    crash-retry intent too.  Each crashed pass is retried under a
    changed parameter that rewrites the SAME commits, so only the
    parameter record can tell the orphan apart: adopting it would keep
    the old parameters' text under a manifest stating the new ones (a
    line in 3 docs that max_docs_per_line=2 strips would survive).  An
    intent with no parameter record is refused too, never adopted."""
    import json

    from swingstream.streaming.compaction import (
        compact_strip_lines,
        compact_window_dedup,
    )

    span = " ".join(f"s{i}" for i in range(12))
    if pass_name == "strip_lines":
        # "boiler" is in 5 docs (stripped at max 4 and at max 2),
        # "tri" in 3 docs of the same commits (stripped at max 2 only)
        texts = [[f"keep {b}\nboiler" + ("\ntri" if b < 3 else "")]
                 for b in range(5)]

        def run(param, cid):
            return compact_strip_lines(spark, t, max_docs_per_line=param,
                                       compaction_id=cid)
        first, changed = 4, 2
    else:
        # a 12-token span repeated in commit 1: cut at k=8 and at k=10
        texts = [[f"a1 {span} a2"], [f"b1 {span} b2"], ["c1 c2 c3"]]

        def run(param, cid):
            return compact_window_dedup(spark, t, k=param,
                                        compaction_id=cid)
        first, changed = 8, 10

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    for b, rows in enumerate(texts):
        t.commit(b, spark.createDataFrame(
            [(b * 10 + i, x) for i, x in enumerate(rows)],
            "doc_id long, text string"))

    orig = IcebergLiteTable._write_manifest

    def boom(self, batch_id, *a, **k):
        if str(batch_id) == "pass-0":
            raise RuntimeError("injected crash before manifest write")
        return orig(self, batch_id, *a, **k)

    IcebergLiteTable._write_manifest = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            run(first, "pass-0")
    finally:
        IcebergLiteTable._write_manifest = orig
    orphan = os.path.join(t.data_dir, "batch-pass-0")
    assert os.path.isdir(orphan)

    with pytest.raises(RuntimeError, match="parameters changed"):
        run(changed, "pass-0")
    assert not t.committed("pass-0")

    # an intent without a parameter record is refused, not adopted
    intent_path = t._manifest_path("pass-0") + ".intent"
    with open(intent_path) as fh:
        intent = json.load(fh)
    with open(intent_path, "w") as fh:
        json.dump({k: v for k, v in intent.items() if k != "params"}, fh)
    with pytest.raises(RuntimeError, match="parameters changed"):
        run(first, "pass-0")
    assert not t.committed("pass-0")

    # heal: drop the orphan, recompute under the changed parameter; the
    # manifest states the parameter its rows were computed under
    shutil.rmtree(orphan)
    m = run(changed, "pass-0")
    assert m is not None and not os.path.exists(intent_path)
    key = "max_docs_per_line" if pass_name == "strip_lines" else "k"
    assert m["metrics"][key] == changed
    got = t.read(spark).orderBy("doc_id").toPandas()["text"].tolist()
    if pass_name == "strip_lines":
        assert got == [f"keep {b}" for b in range(5)]
    else:
        assert got == [f"a1 {span} a2", "b1 b2", "c1 c2 c3"]


def test_soak_kill_resume_full_topology(spark, tmp_path):
    """r6 integration soak (r5 VERDICT #6): the full production topology
    in ONE run — quality gate + quarantine + periodic TARGETED dedup
    compaction + periodic bin-packing — killed between a compaction's
    intent write and its manifest write, resumed from the checkpoint,
    and drained with the full-history final pass + line strip.  The
    pieces are individually crash-tested; this pins their composition:
    final table == one-shot batch (gate -> dedup -> line strip),
    quarantine + ledger lineage intact, no duplicate or lost rows, no
    leaked intent sidecars."""
    import glob
    import hashlib

    from swingstream.operators.dedup import (
        dedup_survivors,
        exact_dup_pairs,
        line_dedup,
    )
    from swingstream.operators.textquality import quality_gate
    from swingstream.sources.pages import pages_from_pandas, read_pages_stream
    from swingstream.streaming.compaction import run_corpus_stream_with_compaction

    spec = PagesSpec(
        n_hosts=3, n_buckets=24, base_docs_per_bucket=4,
        content_dup_frac=0.2, late_frac=0.0,
    )
    pdf = gen_pages(spec)
    key = pdf["url"] + "@" + pdf["warc_ts"].astype("int64").astype(str)
    h = key.map(lambda s: int(hashlib.md5(s.encode()).hexdigest()[:8], 16))
    spam, boiler = (h % 9 == 0), (h % 3 == 0)
    pdf.loc[spam, "text"] = ("junk " * 30).strip()
    pdf.loc[boiler & ~spam, "text"] = (
        "follow us on social media\n" + pdf.loc[boiler & ~spam, "text"]
    )
    assert spam.any() and (boiler & ~spam).sum() > 5
    d = tmp_path / "soak_stream"
    write_pages_stream_dir(pdf, str(d), n_files=6)

    def with_uid(df):
        return df.withColumn(
            "row_uid",
            F.concat_ws("@", "url", F.unix_micros(
                F.col("warc_ts").cast("timestamp")).cast("string")),
        )

    kw = dict(id_col="row_uid", text_col="text",
              min_tokens=3, max_top_token_frac=0.8, max_dup_bigram_frac=0.95)

    def make_stream():
        return with_uid(
            read_pages_stream(spark, str(d), max_files_per_trigger=1)
            .withWatermark("warc_ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["url", "warc_ts"])
        )

    run_kw = dict(
        gate_fn=lambda dd: quality_gate(dd, **kw),
        quarantine_root=str(tmp_path / "soak_quarantine"),
        id_col="row_uid", every=2, binpack_every=3, binpack_min_rows=10**6,
        final_strip_lines_max_docs=4,
    )

    # run 1: crash injected between compact-1's intent write and its
    # manifest write (the data dir publishes, the manifest does not)
    orig = IcebergLiteTable._write_manifest

    def boom(self, batch_id, *a, **k):
        if str(batch_id) == "compact-1":
            raise RuntimeError("injected crash before manifest write")
        return orig(self, batch_id, *a, **k)

    IcebergLiteTable._write_manifest = boom
    try:
        with pytest.raises(Exception, match="injected crash"):
            run_corpus_stream_with_compaction(
                spark, make_stream(), str(tmp_path / "soak_corpus"),
                str(tmp_path / "soak_ck"), **run_kw)
    finally:
        IcebergLiteTable._write_manifest = orig
    probe = IcebergLiteTable(str(tmp_path / "soak_corpus"))
    assert os.path.isdir(os.path.join(probe.data_dir, "batch-compact-1"))
    assert os.path.exists(probe._manifest_path("compact-1") + ".intent")
    assert not probe.committed("compact-1")

    # run 2: resume from the same checkpoint — the foreachBatch retry of
    # batch 1 replays the append as a ledger no-op, the compaction retry
    # adopts the orphaned dir (same params, same active set), and the
    # stream drains through the remaining batches + final passes
    table = run_corpus_stream_with_compaction(
        spark, make_stream(), str(tmp_path / "soak_corpus"),
        str(tmp_path / "soak_ck"), **run_kw)

    # one-shot batch twin: gate -> exact dedup -> line strip
    all_pages = with_uid(
        pages_from_pandas(spark, pdf).dropDuplicates(["url", "warc_ts"])
    )
    verdict = quality_gate(all_pages, **kw)
    gated = verdict.where(F.col("reject_reason").isNull())
    deduped = dedup_survivors(
        gated, exact_dup_pairs(gated, id_col="row_uid"), "row_uid")
    expected = (
        line_dedup(deduped, max_docs_per_line=4, id_col="row_uid")
        .select("row_uid", "text").toPandas()
        .sort_values("row_uid").reset_index(drop=True)
    )
    got = (
        table.read(spark).select("row_uid", "text").toPandas()
        .sort_values("row_uid").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expected)
    assert got["row_uid"].is_unique  # no dup rows across the crash seam
    assert not got["text"].str.contains("follow us on social", regex=False).any()

    # ledger lineage: every maintenance op fired; adopted compact-1 is
    # in the ledger; telemetry on every append; no intents left behind
    ops = {m.get("operation") for m in table.manifests()}
    assert {None, "dedup-compaction", "bin-pack",
            "line-dedup-compaction"} <= ops  # None == plain append
    assert table.committed("compact-1")
    appends = table.append_manifests()
    assert all("rows_in_gate" in m["metrics"] for m in appends)
    n_unique = int(pdf.drop_duplicates(["url", "warc_ts"]).shape[0])
    assert sum(m["metrics"]["rows_in_gate"] for m in appends) == n_unique
    assert not glob.glob(os.path.join(str(tmp_path / "soak_corpus"),
                                      "**", "*.intent"), recursive=True)

    # quarantine: the gate's rejected complement, exactly once — compared
    # against the batch twin's rejects (the spam injection PLUS any
    # naturally short fixture docs that trip too_few_tokens)
    q = IcebergLiteTable(str(tmp_path / "soak_quarantine"))
    qdf = q.read(spark).select("row_uid", "reject_reason").toPandas()
    expected_rejects = (
        verdict.where(F.col("reject_reason").isNotNull())
        .select("row_uid", "reject_reason").toPandas()
        .sort_values("row_uid").reset_index(drop=True)
    )
    n_spam_unique = int(pdf[spam].drop_duplicates(["url", "warc_ts"]).shape[0])
    assert len(expected_rejects) >= n_spam_unique  # the injection fired
    pd.testing.assert_frame_equal(
        qdf.sort_values("row_uid").reset_index(drop=True), expected_rejects
    )
    assert qdf["row_uid"].is_unique
