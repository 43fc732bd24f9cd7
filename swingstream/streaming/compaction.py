"""Periodic dedup compaction of a streaming corpus table.

An LLM-data pipeline appends cleaned documents continuously and
periodically REWRITES the corpus to drop near-duplicate losers — the
streaming wiring of operators.dedup.dedup_survivors.  The compaction is
a batch job orchestrated BETWEEN stream triggers from the foreachBatch
sink (the standard Iceberg maintenance pattern: streaming appends +
background rewrite sharing one snapshot ledger):

  * the corpus lives in an IcebergLiteTable; every micro-batch is one
    append commit keyed by the stream's batch_id (exactly-once);
  * every ``every`` commits, ``compact_dedup`` reads the table's ACTIVE
    snapshot, computes survivor rows with the pluggable pair function,
    and commits them as a REPLACE snapshot: one manifest carrying
    ``operation: "dedup-compaction"`` and ``replaces: [input batch
    ids]``.  Visibility flips atomically on that single manifest write;
    replaced manifests remain on disk as lineage/history;
  * the compaction's commit id is derived deterministically from the
    triggering stream batch (``compact-<batch_id>``), so a foreachBatch
    retry replays into a ledger no-op and a crash between data publish
    and manifest write is healed by the sink's adoption path — the
    same exactly-once machinery as appends (SURVEY.md §2.8 T9).

Every maintenance pass — dedup, line strip, token-window dedup and
bin-pack — is one Iceberg rewrite_data_files REPLACE committed through
``_replace_commits``, the single intent-guarded commit path.  The three
content passes share ``_rewrite_affected``: a snapshot-global statistic
(loser ids, boilerplate-line profile, window cut set) is computed once,
affected rows are attributed to their commit via the parquet scan's
``_metadata.file_path``, and only the commits holding them are
rewritten — so the steady-state maintenance loop costs O(data holding
duplicates) per pass instead of rewriting the whole corpus every cycle,
and a pass that finds nothing commits nothing.  Small-file
consolidation is ``compact_small_files``'s job.

Scale shape: each compaction is pair-discovery (banded LSH / digest
join — never O(n²)) plus CC labels on the pair graph (≪ corpus) plus
ONE left-anti join filtering the corpus; the corpus side is never
collected or sorted.

Incremental-vs-one-shot parity: an INCREMENTAL (``scope="active"``)
pass keeps, per duplicate component, the min-id member seen so far;
min() is associative, so the final state equals the one-shot batch
dedup_survivors over the full corpus WHENEVER removing a loser cannot
disconnect a component — i.e. components are CLIQUES (exact-content
equality, transitively closed; or tight near-dup thresholds where all
cluster members are pairwise similar).  For chain-shaped similarity
graphs (A~B~C, A≁C) — exactly what the near-dup ``pair_fn`` variants
produce on template-drift corpora — an incrementally removed bridge
can leave both endpoints alive.  The ``scope="full-history"`` pass
(the drain-time final compaction) closes that gap
exactly: pair discovery runs over the union of the ORIGINAL append
commits (replaced manifests stay on disk as lineage, so the full
history remains readable), and the anti-join filters the active
snapshot.  The global min of every component always survives
incremental passes (any discovered subgraph containing it has it as
its min), so active ∩ full-graph-survivors == the one-shot result on
ANY pair-graph shape; the cost is re-scanning the appended history
once — the same scan the one-shot job would do, paid once at drain
instead of the periodic cadence.  test_streaming.py pins the exact-dup
parity, the chain-fixture approximation delta, and the full-history
restoration through the streaming path with a minhash pair_fn.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swingstream.operators.dedup import (
    boilerplate_line_digests,
    dedup_clusters,
    exact_dup_pairs,
    line_dedup,
    window_cut_positions,
    window_dedup,
)
from swingstream.sources.catalog import IcebergLiteTable


def _replace_commits(
    table: IcebergLiteTable, cid, rows: DataFrame, active: list,
    replaced: list, operation: str, params: dict, **commit_kw,
) -> dict:
    """The one commit path of every maintenance pass: REPLACE the
    ``replaced`` manifests with ``rows`` as commit ``cid``.

    Crash/retry intent: BEFORE any data publish, an ``.intent`` sidecar
    records the replaced ids, the full ``active`` set the rows were
    computed from, and ``params``, the parameters they were computed
    under.  A retry that finds crash-orphaned published data refuses to
    adopt it — fails loudly, naming the dir to remove to recompute —
    when the intent is missing, when the active set or the replaced set
    changed (an append landing between crash and retry would be marked
    replaced without its rows in the adopted files: silent row loss),
    or when ``params`` changed (content computed under the old
    parameters would be committed beneath the retry's).  An intent with
    no ``params`` record is therefore never adopted.  A ``pair_fn``
    callable cannot be recorded, so a retry under a different pair
    function stays unguarded.

    The manifest's metrics carry ``rows_in``, ``input_commits`` and the
    same ``params``, so a manifest states what its rows were computed
    under.
    """
    intent = {
        "replaces": [str(m["batch_id"]) for m in replaced],
        "active": [str(m["batch_id"]) for m in active],
        "params": params,
    }
    intent_path = table._manifest_path(cid) + ".intent"
    orphan_dir = os.path.join(table.data_dir, table.batch_dir(cid))
    if os.path.isdir(orphan_dir):
        if not os.path.exists(intent_path):
            raise RuntimeError(
                f"orphaned compaction dir {orphan_dir} has no intent "
                f"record — cannot verify which snapshot it was computed "
                f"from; remove the dir to recompute"
            )
        with open(intent_path) as fh:
            recorded = json.load(fh)
        if any(
            [str(b) for b in recorded.get(k, ())] != intent[k]
            for k in ("active", "replaces")
        ):
            raise RuntimeError(
                f"compaction {cid} retry: active snapshot changed since "
                f"the crashed attempt published its files (recorded "
                f"{recorded.get('replaces')} of {recorded.get('active')}, "
                f"now {intent['replaces']} of {intent['active']}) — "
                f"adopting would mark commits replaced without their "
                f"rows; remove {orphan_dir} to recompute from the "
                f"current snapshot"
            )
        if recorded.get("params") != params:
            raise RuntimeError(
                f"compaction {cid} retry: parameters changed since the "
                f"crashed attempt published its files (recorded "
                f"{recorded.get('params')}, now {params}) — adopting "
                f"would commit content computed under the old "
                f"parameters beneath the retry's label; remove "
                f"{orphan_dir} to recompute with the current parameters"
            )
    else:
        tmp = intent_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(intent, fh)
        os.replace(tmp, intent_path)
    manifest = table.commit(
        cid,
        rows,
        operation=operation,
        replaces=[m["batch_id"] for m in replaced],
        extra_metrics={
            "rows_in": sum(m["metrics"]["rows"] for m in replaced),
            "input_commits": len(replaced),
            **params,
        },
        **commit_kw,
    )
    # commit() returns None only for an already-committed cid — every
    # pass checks committed() first, and foreachBatch is serial.  An
    # explicit raise (not assert: stripped under python -O, which would
    # clear the intent of someone else's committed snapshot) keeps the
    # race a deliberate error.
    if manifest is None:
        raise RuntimeError(f"{operation} {cid} raced a concurrent commit")
    os.remove(intent_path)
    return manifest


def _rewrite_affected(
    spark: SparkSession, table: IcebergLiteTable, cid, operation: str,
    params: dict, plan: Callable,
) -> dict | None:
    """The one targeted pass (Iceberg rewrite_data_files granularity).

    ``plan(docs)`` sees the full active snapshot, computes its
    snapshot-global statistic once and returns ``(affected, rewrite)``:
    ``affected(tagged)`` selects the rows the pass would change from the
    snapshot tagged with each row's commit dir ``_cdir`` (attribution
    rides the parquet scan's ``_metadata.file_path``, so the corpus is
    never re-keyed), and ``rewrite(rows)`` maps the affected commits'
    rows to their replacement.  Only commits holding an affected row are
    rewritten; none affected, an empty table or an already-committed
    ``cid`` return None without a commit.
    """
    active = table.active_manifests()
    if not active or table.committed(cid):
        return None
    docs = table.read(spark)
    affected, rewrite = plan(docs)
    tagged = docs.select(
        "*",
        F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -2
        ).alias("_cdir"),
    )
    hit_dirs = sorted(
        r["_cdir"]
        for r in affected(tagged).select("_cdir").distinct().collect()
    )
    if not hit_dirs:
        return None
    by_dir = {table.batch_dir(m["batch_id"]): m for m in active}
    rows = rewrite(tagged.where(F.col("_cdir").isin(hit_dirs)).drop("_cdir"))
    return _replace_commits(
        table, cid, rows, active, [by_dir[d] for d in hit_dirs],
        operation, params,
    )


def compact_dedup(
    spark: SparkSession,
    table: IcebergLiteTable,
    pair_fn: Callable[[DataFrame], DataFrame],
    id_col: str = "doc_id",
    compaction_id: str | None = None,
    scope: str = "active",
) -> dict | None:
    """One dedup-compaction pass over ``table``'s active snapshot.

    ``pair_fn(docs) -> (id_a, id_b)`` is the pluggable discovery stage
    (exact_dup_pairs, minhash_lsh_pairs, simhash_neardup_pairs, ...).
    ``scope="active"`` discovers pairs over the active snapshot only
    (the cheap periodic maintenance pass); ``scope="full-history"``
    discovers over every original append commit and so restores exact
    one-shot parity on chain-shaped duplicate graphs (module docstring).
    Returns the REPLACE manifest, or None when this compaction_id is
    already in the ledger (replay no-op), the table is empty, or no
    commit contains a loser (exact no-op).

    Only the commits that contain loser rows are rewritten: commits
    free of duplicates keep their manifests active untouched.  The
    loser set depends on pair discovery over the WHOLE snapshot, so the
    crash-retry intent pins the full active set (``_replace_commits``)
    along with ``scope`` and ``id_col``.

    Survivor rule: PINNED to min-id (every stream==batch parity test
    keys on it).  The quality-aware best-member policy
    (``dedup_survivors(keep_by=...)``) is a batch-side selection; if a
    corpus needs it at compaction time, run it as a one-shot batch
    rewrite rather than changing this op's keep rule under existing
    ledgers.
    """
    if scope not in ("active", "full-history"):
        raise ValueError(
            f"unknown compaction scope {scope!r}: expected 'active' or "
            f"'full-history' (a typo here would silently downgrade the "
            f"drain pass to the incremental approximation)"
        )
    active = table.active_manifests()
    if len(active) == 1 and active[0].get("operation") == "dedup-compaction":
        # already a single compacted rewrite: an "active"-scope pass has
        # nothing to merge, and a full-history pass over a snapshot that
        # was ITSELF produced full-history is a fixpoint — but a chain
        # endpoint left by incremental passes still needs the
        # full-history pass, so only skip in those two cases
        if scope == "active" or active[0]["metrics"].get("scope") == "full-history":
            return None

    def plan(docs):
        # the loser set drives two actions (the affected-commit probe and
        # the rewrite) and is tiny (dup-cluster members only, ≪ corpus)
        basis = table.read_history(spark) if scope == "full-history" else docs
        losers = (
            dedup_clusters(pair_fn(basis).select("id_a", "id_b"))
            .where(F.col("id") != F.col("cluster_id"))
            .select(F.col("id").alias(id_col))
            .localCheckpoint(eager=True)
        )
        return (
            lambda tagged: tagged.join(losers, id_col, "semi"),
            lambda rows: rows.join(losers, id_col, "left_anti"),
        )

    return _rewrite_affected(
        spark, table, compaction_id or f"compact-adhoc-{len(table.manifests())}",
        "dedup-compaction", {"scope": scope, "id_col": id_col}, plan,
    )


def compact_strip_lines(
    spark: SparkSession,
    table: IcebergLiteTable,
    max_docs_per_line: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    compaction_id: str | None = None,
) -> dict | None:
    """Sub-document (line-level) dedup as a maintenance pass — the
    CCNet-style duplicated-paragraph removal (operators/dedup.line_dedup)
    run at COMPACTION time, where per-corpus statistics belong: a
    line's document frequency does not commute with micro-batching, so
    stripping in the per-batch admission gate would give batch-size-
    dependent results (the same commutation pin that keeps boilerplate
    mining out of quality_gate).

    Targeted rewrite: the boilerplate-line profile is computed once
    over the FULL active snapshot (one explode + one digest aggregate),
    and only commits holding a document with >= 1 boilerplate line are
    rewritten — with ``line_dedup`` fed the snapshot-global profile, so
    the rewritten text is identical to a whole-corpus pass.  A profile
    that strips nothing commits nothing.  The crash-retry intent pins
    every argument the stripped text depends on.
    """

    def plan(docs):
        bp = boilerplate_line_digests(
            docs, max_docs_per_line, text_col, id_col, line_sep
        ).localCheckpoint(eager=True)  # drives the affected-doc probe AND
        # the rewrite; small (only > max_docs_per_line digests survive)
        return (
            lambda tagged: tagged.select(
                "_cdir",
                F.explode(F.split(F.col(text_col), line_sep)).alias("line"),
            )
            .withColumn("digest", F.md5("line"))
            .join(bp, "digest", "semi"),
            lambda rows: line_dedup(
                rows, max_docs_per_line, text_col, id_col, line_sep,
                boilerplate=bp,
            ),
        )

    return _rewrite_affected(
        spark, table,
        compaction_id or f"striplines-adhoc-{len(table.manifests())}",
        "line-dedup-compaction",
        {"max_docs_per_line": max_docs_per_line, "line_sep": line_sep,
         "text_col": text_col, "id_col": id_col},
        plan,
    )


def compact_window_dedup(
    spark: SparkSession,
    table: IcebergLiteTable,
    k: int = 8,
    sample_p: int = 1,
    mode: str = "keep_first",
    max_docs_per_window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    compaction_id: str | None = None,
) -> dict | None:
    """Token-window (ExactSubstr-style) dedup as a maintenance pass
    (operators/dedup.window_dedup) — the same commutation pin as
    ``compact_strip_lines``: which window occurrence is the corpus-wide
    FIRST (keep_first) or how many docs share a window (frequent) are
    per-corpus statistics, so the cut set must be computed over the
    drained snapshot, never inside a micro-batch gate.

    Targeted rewrite: ``window_cut_positions`` runs once over the FULL
    active snapshot (cut set ≤ repeated-span tokens), and only
    cut-bearing commits are rewritten with ``window_dedup(cut=...)`` —
    identical text to a whole-corpus pass, O(affected data) rewrite
    cost.  A cut set that touches nothing commits nothing.  The
    crash-retry intent pins every argument the cut set depends on.
    """

    def plan(docs):
        cut = window_cut_positions(
            docs, k, sample_p, mode, max_docs_per_window, text_col, id_col
        ).localCheckpoint(eager=True)  # drives the affected probe AND the
        # rewrite; small (only repeated-span positions survive)
        return (
            lambda tagged: tagged.join(
                cut.select(F.col("_wd_id").alias(id_col)).distinct(),
                id_col,
                "left_semi",
            ),
            lambda rows: window_dedup(
                rows, k, sample_p, mode, max_docs_per_window, text_col,
                id_col, cut=cut,
            ),
        )

    return _rewrite_affected(
        spark, table,
        compaction_id or f"windowdedup-adhoc-{len(table.manifests())}",
        "window-dedup-compaction",
        {"k": k, "sample_p": sample_p, "mode": mode,
         "max_docs_per_window": max_docs_per_window,
         "text_col": text_col, "id_col": id_col},
        plan,
    )


def compact_small_files(
    spark: SparkSession,
    table: IcebergLiteTable,
    min_rows: int = 100_000,
    target_files: int = 1,
    compaction_id: str | None = None,
) -> dict | None:
    """Bin-pack small active commits into one — the OTHER Iceberg
    rewrite_data_files use-case, complementing the targeted content
    passes (which deliberately leave unaffected commits alone).

    Every active commit with fewer than ``min_rows`` rows is merged
    into a single REPLACE commit of ``target_files`` files.  Streaming
    micro-batches produce many small commits; at scale each extra file
    costs a task + open per downstream scan, so periodic consolidation
    keeps read amplification bounded without paying the dedup pass's
    discovery work.  Pure metadata decision (manifest row counts) +
    one scan restricted to the small commits' files — the big commits
    are never read or rewritten.  Rows pass through byte-unchanged (no
    dedup here); returns None when fewer than two commits qualify or
    the id was already committed.

    Crash/retry: the merged content is the union of exactly the
    recorded commits, so a retry must see the same qualifying set (an
    interleaved small append would change it) or fail loudly.
    """
    active = table.active_manifests()
    cid = compaction_id or f"binpack-adhoc-{len(table.manifests())}"
    if table.committed(cid):
        return None
    small = [m for m in active if m["metrics"]["rows"] < min_rows]
    if len(small) < 2:
        return None
    files = [
        os.path.join(table.data_dir, f) for m in small for f in m["files"]
    ]
    return _replace_commits(
        table, cid, table._read_files(spark, files), active, small,
        "bin-pack", {"min_rows": min_rows, "target_files": target_files},
        n_files=target_files,
    )


def run_corpus_stream_with_compaction(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_root: str,
    checkpoint: str,
    *,
    pair_fn: Callable[[DataFrame], DataFrame] | None = None,
    gate_fn: Callable[[DataFrame], DataFrame] | None = None,
    quarantine_root: str | None = None,
    id_col: str = "url",
    every: int = 4,
    final_compaction: bool = True,
    binpack_every: int = 0,
    binpack_min_rows: int = 100_000,
    final_strip_lines_max_docs: int | None = None,
    final_window_dedup_k: int | None = None,
    digest_index_root: str | None = None,
    index_buckets: int = 64,
    index_compact_every: int = 0,
    minhash_index_root: str | None = None,
    minhash_index_params: dict | None = None,
) -> IcebergLiteTable:
    """Append a streaming document DataFrame to an IcebergLite corpus
    with a dedup compaction every ``every`` commits (plus one final pass
    when the stream drains, so the end state is fully deduplicated).

    The periodic passes are incremental (``scope="active"``); the final
    pass is ``scope="full-history"`` so the drained table equals the
    one-shot batch dedup for ANY pair-graph shape, including similarity
    chains whose bridge doc a periodic pass removed early (module
    docstring).  To keep the cheaper incremental approximation instead
    (a clique-shaped pair graph, e.g. exact-content dedup), drain with
    ``final_compaction=False`` and run ``compact_dedup(scope="active")``.

    ``binpack_every > 0`` additionally runs ``compact_small_files``
    every that many commits (after the dedup pass when both fire on
    the same commit): the dedup pass deliberately leaves duplicate-free
    commits alone, so a long-running stream
    accumulates one small commit per micro-batch — the bin-pack pass
    is the maintenance loop that keeps the active file count bounded.
    Commits at or above ``binpack_min_rows`` rows are never rewritten.

    ``gate_fn`` (e.g. ``textquality.quality_gate``) is the admission
    verdict: ``gate_fn(batch)`` returns every row of the micro-batch
    plus a ``reject_reason`` column — NULL means admitted, and admitted
    rows carry their final (e.g. PII-masked) text.  The sink calls it
    once per micro-batch, pins the verdict, and learns
    ``rows_in_gate`` / ``rows_rejected_gate`` from one aggregate job;
    the manifest records both, so per-commit admission telemetry lives
    in the same ledger as the lineage.  Admitted rows, without
    ``reject_reason``, are appended; the dedup passes then operate on
    the gated corpus — identical ordering to the batch twin (gate, then
    dedup).  With ``quarantine_root`` (requires ``gate_fn``) the
    rejected rows, with their ``reject_reason``, are committed to a
    second IcebergLite table under the SAME batch_id, corpus first —
    an audited curation pipeline quarantines rejects instead of
    silently dropping them.  The gate runs here rather than upstream of
    the stream because both halves must commit under one batch_id to
    stay exactly-once together under foreachBatch retries, and its
    per-document aggregations need a static micro-batch, which only
    ``foreachBatch`` provides.  Read the quarantine back with
    ``IcebergLiteTable(quarantine_root)``.

    ``final_strip_lines_max_docs`` additionally runs one
    ``compact_strip_lines`` pass AFTER the drain-time final dedup
    compaction: line document-frequency is a per-corpus statistic that
    does not commute with micro-batching, so sub-document dedup runs
    exactly once over the drained, deduplicated snapshot — the end
    state equals the one-shot batch ``gate -> dedup_survivors ->
    line_dedup`` chain.

    ``final_window_dedup_k`` additionally runs one ``compact_window_dedup``
    pass after the line strip: the keep-first survivor of a repeated
    k-token window is a per-corpus statistic (same commutation argument
    as line dedup), so ExactSubstr-style span removal runs exactly once
    over the drained snapshot.

    ``digest_index_root`` turns on ingest-time HISTORY-WIDE exact dedup
    (streaming/index.py): each micro-batch — after the gate — is
    first deduplicated within itself (min-``id_col`` survivor per
    digest, the exact_duplicates keep rule), then anti-joined against
    the persistent bucket-partitioned DigestIndex, and only
    never-seen-before documents are committed; the survivors' digests
    land in the index under the SAME batch_id, corpus first / index
    second (the crash-safe order — see the index module docstring).
    The digest is ``md5(text)``; the manifest records
    ``rows_rejected_index``.  ``index_compact_every`` bounds the file
    count of EVERY enabled admission index (digest and minhash) with a
    periodic per-bucket bin-pack, mirroring ``binpack_every`` on the
    corpus — without it a long stream's probe cost grows with the
    COMMIT COUNT (one file per touched bucket per commit ⇒ one read
    task per file), not with the index size.

    ``minhash_index_root`` turns on ingest-time HISTORY-WIDE NEAR-dup
    rejection (streaming/index.py MinHashIndex): after the gate and the
    exact digest filter (when both are on), each micro-batch is probed
    against the persistent banded-signature index — a document whose
    MinHash agreement with any indexed document reaches the index
    threshold is rejected — and the survivors' band rows are committed
    under the same batch_id (corpus first; on replay of an
    already-committed corpus batch every index input is re-derived from
    ``read_commit``, the ledger-derived path that keeps a crash between
    the index commits from losing rows).  ``minhash_index_params``
    forwards MinHashIndex kwargs (n_buckets/n_hashes/bands/shingle_n/
    threshold); the manifest records ``rows_rejected_neardup_index``.
    Keep-first-by-arrival semantics: like incremental compaction,
    CHAIN-shaped near-dup graphs can diverge from the one-shot batch
    survivor set — the drain-time full-history compaction stays the
    exactness backstop.

    foreachBatch runs batches serially, so the between-trigger batch
    compactions never race an append; every maintenance commit id is
    pinned to the triggering batch_id for exactly-once under retries.
    """
    if quarantine_root is not None and gate_fn is None:
        raise ValueError("quarantine_root requires gate_fn")
    table = IcebergLiteTable(out_root)
    quarantine = (
        IcebergLiteTable(quarantine_root) if quarantine_root else None
    )
    pf = pair_fn if pair_fn is not None else (
        lambda d: exact_dup_pairs(d, id_col=id_col)
    )
    index = None
    if digest_index_root is not None:
        from swingstream.streaming.index import DigestIndex

        index = DigestIndex(digest_index_root, n_buckets=index_buckets)
        dig_expr = F.md5("text")
    mh_index = None
    if minhash_index_root is not None:
        from swingstream.streaming.index import MinHashIndex

        mh_index = MinHashIndex(
            minhash_index_root, **(minhash_index_params or {})
        )

    def commit_admitted(batch_id, frame: DataFrame, extra: dict) -> None:
        """Corpus commit, optionally behind the history-wide digest
        and/or minhash indexes.  CORPUS FIRST, INDEXES SECOND under one
        batch_id; a replay that finds the corpus already committed
        re-derives every index input from the corpus ledger's own rows
        (read_commit) instead of re-running the admission filters —
        with the batch partially indexed, a re-run would reject the
        batch's own rows and lose the missing index's entries
        (index.py module docstring)."""
        if index is None and mh_index is None:
            table.commit(batch_id, frame, extra_metrics=extra or None)
            return
        if table.committed(batch_id):
            committed = table.read_commit(spark, batch_id).persist()
            try:
                if index is not None:
                    index.commit(
                        batch_id, committed.select(dig_expr.alias("digest"))
                    )
                if mh_index is not None:
                    mh_index.commit(
                        batch_id,
                        mh_index.band_rows(committed, id_col=id_col),
                    )
            finally:
                committed.unpersist()
            return
        from swingstream.streaming.index import digest_bucket

        from pyspark.sql.window import Window

        work = frame
        pinned: list[DataFrame] = []
        try:
            n_work = None
            if index is not None:
                digested = work.withColumn("_di_digest", dig_expr)
                # within-batch survivor: min id_col per digest — the same
                # keep rule as operators.dedup.exact_duplicates, so
                # stream == batch
                first = (
                    digested.withColumn(
                        "_di_rn",
                        F.row_number().over(
                            Window.partitionBy("_di_digest").orderBy(id_col)
                        ),
                    )
                    .where(F.col("_di_rn") == 1)
                    .drop("_di_rn")
                )
                # filter_new reads `first` twice (bucket ids + anti-join)
                # and downstream reads it again — pin it once
                first.persist()
                pinned.append(first)
                # r8 (round-7 VERDICT #2): ONE job yields both the
                # admission count and the touched digest buckets — the
                # probe's bucket collect and the separate count() were
                # two driver round-trips over the same persisted frame
                bucket_counts = (
                    first.groupBy(
                        digest_bucket(
                            F.col("_di_digest"), index.n_buckets
                        ).alias("b")
                    )
                    .count()
                    .collect()
                )
                n_first = sum(r["count"] for r in bucket_counts)
                work = index.filter_new(
                    first, "_di_digest",
                    buckets=[r["b"] for r in bucket_counts],
                ).persist()
                pinned.append(work)
                n_work = work.count()
                extra = {
                    **extra,
                    "rows_rejected_index": n_first - n_work,
                }
            surv_bands = None
            if mh_index is not None:
                work.persist()
                pinned.append(work)
                # r8: n_work already counted above when the digest index
                # ran — the old second count() of the same persisted
                # frame was a redundant job per micro-batch
                n_in_mh = work.count() if n_work is None else n_work
                work, surv_bands, all_bands = mh_index.filter_new(
                    work, id_col=id_col
                )
                pinned.append(all_bands)  # persisted inside filter_new
                work = work.persist()
                pinned.append(work)
                extra = {
                    **extra,
                    "rows_rejected_neardup_index": n_in_mh - work.count(),
                }
            table.commit(
                batch_id,
                work.drop("_di_digest") if index is not None else work,
                extra_metrics=extra or None,
            )
            if index is not None:
                index.commit(
                    batch_id,
                    work.select(F.col("_di_digest").alias("digest")),
                )
            if mh_index is not None:
                mh_index.commit(batch_id, surv_bands)
        finally:
            for df in pinned:
                df.unpersist()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if gate_fn is not None:
            # the gate reads its input in several plan branches (stats
            # and join back), each of which would re-run the source scan
            # and any upstream stateful operator; the verdict is read by
            # the count job and both commits — pin both, so each runs once
            batch_df.persist()
            verdict = gate_fn(batch_df).persist()
            try:
                n_in, n_rej = verdict.agg(
                    F.count(F.lit(1)), F.count("reject_reason")
                ).first()
                reject = F.col("reject_reason")
                commit_admitted(
                    batch_id,
                    verdict.where(reject.isNull()).drop("reject_reason"),
                    {"rows_in_gate": n_in, "rows_rejected_gate": n_rej},
                )
                if quarantine is not None:
                    quarantine.commit(
                        batch_id, verdict.where(reject.isNotNull()),
                        extra_metrics={"rows_in_gate": n_in},
                    )
            finally:
                verdict.unpersist()
                batch_df.unpersist()
        else:
            commit_admitted(batch_id, batch_df, {})
        if index_compact_every > 0 and (batch_id + 1) % index_compact_every == 0:
            if index is not None:
                index.compact(spark, f"index-binpack-{batch_id}")
            if mh_index is not None:
                mh_index.compact(spark, f"mh-index-binpack-{batch_id}")
        if every > 0 and (batch_id + 1) % every == 0:
            compact_dedup(spark, table, pf, id_col=id_col,
                          compaction_id=f"compact-{batch_id}")
        if binpack_every > 0 and (batch_id + 1) % binpack_every == 0:
            compact_small_files(spark, table, min_rows=binpack_min_rows,
                                compaction_id=f"binpack-{batch_id}")

    q = (
        docs_stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if final_compaction:
        # key the final pass on the LAST append commit so a later
        # re-drain of the same out_root/checkpoint (incremental
        # availableNow restarts) gets a fresh final pass over the new
        # data instead of replaying into the committed() no-op, while a
        # retry of the SAME drain still deduplicates to a no-op
        appends = [
            int(str(m["batch_id"]))
            for m in table.append_manifests()
            if str(m["batch_id"]).isdigit()
        ]
        final = f"final-{max(appends)}" if appends else "final"
        compact_dedup(spark, table, pf, id_col=id_col,
                      compaction_id=f"compact-{final}", scope="full-history")
        if final_strip_lines_max_docs is not None:
            compact_strip_lines(
                spark, table,
                max_docs_per_line=final_strip_lines_max_docs,
                id_col=id_col,
                compaction_id=f"striplines-{final}",
            )
        if final_window_dedup_k is not None:
            compact_window_dedup(
                spark, table,
                k=final_window_dedup_k,
                id_col=id_col,
                compaction_id=f"windowdedup-{final}",
            )
    return table
