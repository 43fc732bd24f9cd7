"""Token-window (ExactSubstr-flavored) sub-document dedup —
operators/dedup.py window_dedup.

Pins: keep-first semantics (global-min occurrence survives, later
copies cut), self-overlap protection, frequent-mode boilerplate
removal, pass-through of short/untouched docs, empty-string contract
for fully-cut docs, and a full staging-free DuckDB replay of the
entire pipeline (tokenize → window md5 → survivor rule → cut algebra →
reassembly) on the realistic Zipf corpus.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from swingstream.operators.dedup import window_dedup, window_occurrences


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(range(len(rows))), "text": rows}
        )
    )


SPAN = "p1 p2 p3 p4 p5 p6 p7 p8"  # one exact 8-token span


def test_keep_first_cuts_later_occurrences_only(spark):
    docs = _df(
        spark,
        [
            f"a1 a2 {SPAN} a3 a4",  # doc 0: first occurrence — kept
            f"b1 b2 b3 {SPAN} b4",  # doc 1: later occurrence — cut
            "c1 c2 c3 c4 c5 c6 c7 c8 c9",  # doc 2: unique — untouched
        ],
    )
    out = {
        r["doc_id"]: r["text"]
        for r in window_dedup(docs, k=8, id_col="doc_id").collect()
    }
    assert out[0] == f"a1 a2 {SPAN} a3 a4"
    assert out[1] == "b1 b2 b3 b4"
    assert out[2] == "c1 c2 c3 c4 c5 c6 c7 c8 c9"


def test_self_overlap_protects_survivor(spark):
    """A doc repeating one token 12 times: windows at pos 0..4 all share
    one digest; the pos-0 survivor's span [0,8) is protected, cuts
    [1,12) minus [0,8) = [8,12) — the kept copy is never mangled."""
    docs = _df(spark, ["w w w w w w w w w w w w", "x1 x2 x3"])
    out = {
        r["doc_id"]: r["text"]
        for r in window_dedup(docs, k=8, id_col="doc_id").collect()
    }
    assert out[0] == "w w w w w w w w"
    assert out[1] == "x1 x2 x3"


def test_doc_fully_cut_keeps_empty_string_and_other_columns(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": [SPAN, SPAN],
                "lang": ["en", "de"],
            }
        )
    )
    out = window_dedup(docs, k=8, id_col="doc_id").toPandas().set_index(
        "doc_id"
    )
    assert out.loc[0, "text"] == SPAN  # min (id, pos) survivor
    assert out.loc[1, "text"] == ""  # fully cut, row + lang preserved
    assert out.loc[1, "lang"] == "de"
    assert list(out.columns) == ["text", "lang"]


def test_short_docs_emit_no_windows(spark):
    docs = _df(spark, ["a b c", "a b c", ""])
    occ = window_occurrences(docs, k=8, id_col="doc_id")
    assert occ.count() == 0
    out = window_dedup(docs, k=8, id_col="doc_id").collect()
    assert sorted(r["text"] for r in out) == ["", "a b c", "a b c"]


def test_frequent_mode_removes_all_occurrences(spark):
    base = [f"u{i} v{i} {SPAN} y{i}" for i in range(4)]
    docs = _df(spark, base + ["solo1 solo2 solo3"])
    out = window_dedup(
        docs, k=8, mode="frequent", max_docs_per_window=3, id_col="doc_id"
    ).toPandas().set_index("doc_id")
    # the span is in 4 > 3 docs: removed EVERYWHERE, no survivor
    for i in range(4):
        assert out.loc[i, "text"] == f"u{i} v{i} y{i}"
    assert out.loc[4, "text"] == "solo1 solo2 solo3"


def test_mod_p_sampling_is_alignment_free(spark):
    """Content-defined mod-p sampling selects the SAME windows in both
    copies of a span regardless of where the span sits (a fixed stride
    would phase-misalign and miss it).  With a 40-token span (33
    windows) at p=4, the copy at a shifted offset still loses tokens
    and the first occurrence stays intact."""
    span40 = " ".join(f"s{i}" for i in range(40))
    docs = _df(spark, [f"{span40} tail1", f"lead1 lead2 lead3 {span40}"])
    out = {
        r["doc_id"]: r["text"]
        for r in window_dedup(
            docs, k=8, sample_p=4, id_col="doc_id"
        ).collect()
    }
    assert out[0] == f"{span40} tail1"  # first occurrence intact
    assert len(out[1].split()) < 3 + 40  # the shifted copy was cut


def _duck_replay(pdf: pd.DataFrame, k: int, sample_p: int) -> pd.DataFrame:
    """Staging-free DuckDB replay of keep_first window_dedup — the
    oracle twin the contract query uses."""
    con = duckdb.connect()
    con.register("documents", pdf)
    sql = f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS ls,
             text
      FROM documents
    ),
    occ AS (
      SELECT doc_id, (u.i - 1)::BIGINT AS pos,
             md5(array_to_string(ls[u.i : u.i + {k - 1}], ' ')) AS digest
      FROM tok, UNNEST(range(1, len(ls) - {k} + 2)) AS u(i)
    ),
    sampled AS (
      SELECT * FROM occ
      WHERE strpos('0123456789abcdef', right(digest, 1)) - 1
            < {16 // sample_p}
    ),
    marked AS (
      SELECT doc_id, pos, digest,
             row_number() OVER (PARTITION BY digest
                                ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY digest) AS n
      FROM sampled
    ),
    cutr AS (
      SELECT DISTINCT doc_id, pos + u.j - 1 AS p
      FROM marked, UNNEST(range(1, {k} + 1)) AS u(j)
      WHERE n > 1 AND rn > 1
    ),
    cutp AS (
      SELECT DISTINCT doc_id, pos + u.j - 1 AS p
      FROM marked, UNNEST(range(1, {k} + 1)) AS u(j)
      WHERE n > 1 AND rn = 1
    ),
    cut AS (SELECT doc_id, p FROM cutr ANTI JOIN cutp USING (doc_id, p)),
    affected AS (SELECT DISTINCT doc_id FROM cut),
    toks2 AS (
      SELECT t.doc_id, u.i - 1 AS p, t.ls[u.i] AS tok
      FROM (SELECT tok.* FROM tok SEMI JOIN affected USING (doc_id)) t,
           UNNEST(range(1, len(t.ls) + 1)) AS u(i)
    ),
    keptt AS (SELECT * FROM toks2 ANTI JOIN cut USING (doc_id, p)),
    newt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ntext
      FROM keptt GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN a.doc_id IS NOT NULL THEN coalesce(n.ntext, '')
                ELSE d.text END AS text
    FROM documents d
    LEFT JOIN affected a USING (doc_id)
    LEFT JOIN newt n USING (doc_id)
    ORDER BY doc_id
    """
    return con.execute(sql).df()


@pytest.mark.parametrize("sample_p", [1, 4])
def test_duckdb_replays_window_dedup_end_to_end(spark, sample_p):
    """Full-pipeline oracle parity on the realistic Zipf corpus (planted
    near-dups share long exact runs; byte-exact dups repeat wholesale) —
    no staged intermediates, both engines start from raw text."""
    from swingstream.fixtures import gen_documents

    pdf = gen_documents(n_docs=300, neardup_frac=0.05, dup_frac=0.02)[
        ["doc_id", "text"]
    ]
    got = (
        window_dedup(
            spark.createDataFrame(pdf).repartition(8),
            k=8,
            sample_p=sample_p,
            id_col="doc_id",
        )
        .orderBy("doc_id")
        .toPandas()
    )
    want = _duck_replay(pdf, k=8, sample_p=sample_p)
    assert (got["text"] != pdf["text"]).any(), "fixture must contain repeats"
    pd.testing.assert_frame_equal(got, want[got.columns])


def test_compact_window_dedup_targeted_and_parity(spark, tmp_path):
    """The compaction form: cut set computed over the full active
    snapshot, only cut-bearing commits rewritten (targeted), end state
    == one-shot window_dedup over the whole corpus, replay no-op."""
    from swingstream.sources.catalog import IcebergLiteTable
    from swingstream.streaming.compaction import compact_window_dedup

    table = IcebergLiteTable(str(tmp_path / "corpus"))
    # commit 0 holds the first occurrence; commit 1 a later copy
    # (affected); commit 2 has no repeated windows (must NOT be
    # rewritten)
    c0 = [f"a1 a2 {SPAN} a3"]
    c1 = [f"b1 {SPAN} b2", "u1 u2 u3"]
    c2 = ["v1 v2 v3 v4 v5 v6 v7 v8 v9"]
    start = 0
    for i, texts in enumerate([c0, c1, c2]):
        table.commit(i, _df(spark, texts, start=start) if False else
                     spark.createDataFrame(pd.DataFrame(
                         {"doc_id": range(start, start + len(texts)),
                          "text": texts})))
        start += len(texts)

    m = compact_window_dedup(spark, table, k=8, compaction_id="wd-0")
    assert m is not None and m["operation"] == "window-dedup-compaction"
    # targeted: only commit 1 contained cut docs
    assert [str(b) for b in m["replaces"]] == ["1"]
    assert compact_window_dedup(spark, table, k=8, compaction_id="wd-0") is None

    from swingstream.operators.dedup import window_dedup

    all_docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(4),
        "text": c0 + c1 + c2[:1],
    }))
    want = window_dedup(all_docs, k=8, id_col="doc_id").orderBy(
        "doc_id").toPandas()
    got = table.read(spark).orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(got[["doc_id", "text"]],
                                  want[["doc_id", "text"]])
    # the untouched doc in the affected commit passed through verbatim
    assert got.set_index("doc_id").loc[2, "text"] == "u1 u2 u3"
    # a second pass over the already-deduped snapshot strips nothing
    assert compact_window_dedup(spark, table, k=8,
                                compaction_id="wd-1") is None


def test_streamed_drain_window_dedup_matches_one_shot_batch(spark, tmp_path):
    """run_corpus_stream_with_compaction(final_window_dedup_k=8):
    streamed appends + drain-time window dedup == one-shot batch
    window_dedup over the full corpus."""
    from swingstream.streaming.compaction import (
        run_corpus_stream_with_compaction,
    )

    texts = (
        [f"x{i} y{i} {SPAN} z{i}" for i in range(6)]
        + [f"solo{i} alpha{i} beta{i}" for i in range(6)]
    )
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    d = tmp_path / "stream"
    d.mkdir()
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), 3)):
        pdf.iloc[chunk].to_parquet(d / f"part-{i:04d}.parquet", index=False)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    table = run_corpus_stream_with_compaction(
        spark,
        stream,
        str(tmp_path / "corpus"),
        str(tmp_path / "ck"),
        id_col="doc_id",
        every=0,
        # the drain-time maintenance section (dedup -> strip-lines ->
        # window dedup) runs under final_compaction; the exact-dup pass
        # commits nothing on this dup-free fixture
        final_compaction=True,
        final_window_dedup_k=8,
    )
    from swingstream.operators.dedup import window_dedup

    want = window_dedup(
        spark.createDataFrame(pdf), k=8, id_col="doc_id"
    ).orderBy("doc_id").toPandas()
    got = table.read(spark).orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(got[["doc_id", "text"]],
                                  want[["doc_id", "text"]])
    assert any(
        m.get("operation") == "window-dedup-compaction"
        for m in table.manifests()
    )


def test_nonbreaking_space_is_a_token_char_in_all_engines(spark):
    """U+00A0 must NOT split tokens: Python's Unicode \\s would, Java's
    and RE2's \\s don't — the kernel pins Java's class, so the engine
    and the DuckDB oracle agree byte-for-byte on texts carrying NBSP
    (and on tab/newline runs + boundary whitespace)."""
    weird = f"lead glued {SPAN}  tail\t"
    pdf = pd.DataFrame(
        {"doc_id": [0, 1], "text": [f"a0 {SPAN} a1", weird]}
    )
    got = (
        window_dedup(spark.createDataFrame(pdf), k=8, id_col="doc_id")
        .orderBy("doc_id")
        .toPandas()
    )
    want = _duck_replay(pdf, k=8, sample_p=1)
    pd.testing.assert_frame_equal(got, want[got.columns])
    # the copy inside the NBSP doc was cut ("lead\xa0glued" is ONE token)
    assert got.loc[1, "text"] == "lead glued tail"
