"""Iceberg-style table layout: partitioned parquet + JSON manifest commits
(SURVEY.md §2.1 S5, §2.8 T9).

No Iceberg runtime jar ships in this sandbox (SURVEY.md §0), so this
implements the Iceberg *commit contract* the engine needs — atomic,
idempotent, manifest-tracked appends — over plain parquet, behind an
interface a real ``iceberg-spark-runtime`` catalog drops into:

  * every commit is keyed by ``batch_id``; a re-delivered batch
    (foreachBatch retry, checkpoint replay) is a NO-OP because the
    manifest ledger already records it — exactly-once at the sink;
  * data files are staged to a ``_tmp`` dir and moved with an atomic
    ``os.replace`` before the manifest is written; a crash between
    stage and manifest leaves only invisible garbage (readers trust
    manifests, never directory listings);
  * each manifest carries per-partition lineage + metrics: file list,
    row counts, min/max event time (BASELINE.json: "per-partition
    lineage and metrics").

Readers list manifests (small JSON files) and read exactly the files
they name — the Iceberg snapshot-isolation model in miniature.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)


class ManifestLedger:
    """Idempotent, manifest-tracked commit ledger over a parquet store —
    the one ledger behind the corpus table (``IcebergLiteTable``) and the
    admission indexes (``streaming/index.py``).

    Layout::

        root/
          data/batch-<label>/...           one atomically published dir per commit
          manifests/<prefix><id>.json      one immutable manifest per commit
          manifests/archive/<prefix><id>.json   superseded by a REPLACE commit
          _tmp/                            stage + publish scratch

    Subclasses pin ``MANIFEST_PREFIX`` / ``MANIFEST_INDENT`` (the on-disk
    manifest name and JSON layout), build their own manifest bodies, own
    their crash-orphan policy, and may override ``_ordered``.
    """

    MANIFEST_PREFIX = ""
    MANIFEST_INDENT: int | None = None

    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "manifests")
        self.archive_dir = os.path.join(self.manifest_dir, "archive")
        self.tmp_dir = os.path.join(root, "_tmp")
        for d in (self.data_dir, self.manifest_dir, self.tmp_dir):
            os.makedirs(d, exist_ok=True)
        # r8 (round-7 VERDICT #1): parsed-manifest cache keyed by file
        # name ("archive/"-prefixed under the archive subdir, so a name
        # can't collide across the two).  Manifests are immutable once
        # published (atomic os.replace, never edited), so an entry can
        # only go stale by archival, which moves its key too.  Each
        # ledger read re-lists the directory (cheap dirents) and
        # json-parses only names it has not seen, instead of re-opening
        # every manifest ever written on every probe and commit (~6x
        # per micro-batch with both indexes on — Θ(N²) driver work over
        # a stream's life).  A second writer instance stays visible
        # through the listing.
        self._manifest_cache: dict[str, dict] = {}

    @staticmethod
    def batch_dir(batch_id: int | str) -> str:
        """Name of a commit's data dir, ``batch-<label>``: numeric ids are
        zero-padded so path order == commit order."""
        b = str(batch_id)
        return f"batch-{int(b):010d}" if b.isdigit() else f"batch-{b}"

    def _manifest_name(self, batch_id: int | str) -> str:
        return f"{self.MANIFEST_PREFIX}{batch_id}.json"

    def _manifest_path(self, batch_id: int | str) -> str:
        return os.path.join(self.manifest_dir, self._manifest_name(batch_id))

    def committed(self, batch_id: int | str) -> bool:
        # archive/ counts: a replayed batch_id must remain a no-op after
        # a REPLACE snapshot moved its manifest to the archive subdir
        return os.path.exists(self._manifest_path(batch_id)) or os.path.exists(
            os.path.join(self.archive_dir, self._manifest_name(batch_id))
        )

    def _parse_dir(self, d: str) -> list[dict]:
        """Manifests of one ledger directory via the parse cache.  Only
        ``<prefix>*.json`` names are manifests: ``.intent`` / ``.tmp-*``
        siblings and other sidecars never are."""
        if not os.path.isdir(d):
            return []
        out = []
        prefix = "" if d == self.manifest_dir else "archive/"
        for f in sorted(os.listdir(d)):
            if f.startswith(self.MANIFEST_PREFIX) and f.endswith(".json"):
                key = prefix + f
                m = self._manifest_cache.get(key)
                if m is None:
                    with open(os.path.join(d, f)) as fh:
                        m = json.load(fh)
                    self._manifest_cache[key] = m
                out.append(m)
        return out

    def _ordered(self, ms: list[dict]) -> list[dict]:
        """Ledger order of a manifest list; file-name order by default."""
        return ms

    def manifests(self) -> list[dict]:
        """FULL commit history — replaced manifests included, whether
        still in manifests/ or moved to manifests/archive/ by a later
        REPLACE snapshot (read_commit / read_history / append_manifests
        all need the complete ledger)."""
        return self._ordered(
            self._parse_dir(self.manifest_dir) + self._parse_dir(self.archive_dir)
        )

    def active_manifests(self) -> list[dict]:
        """Manifests still visible to readers: a compaction commit lists
        the batch_ids it REPLACES (Iceberg's replace-operation snapshot in
        miniature); replaced manifests stay on disk as history/lineage but
        no longer contribute data files.  A later compaction supersedes an
        earlier one the same way (its ``replaces`` includes the earlier
        compaction's id).  r8: scans only the live manifest dir —
        O(active) — because REPLACE commits move their victims to
        archive/; the replaced-set filter still covers the crash window
        where a REPLACE manifest landed but archival didn't finish."""
        live = self._ordered(self._parse_dir(self.manifest_dir))
        replaced: set[str] = set()
        for m in live:
            replaced.update(str(b) for b in m.get("replaces") or [])
        return [m for m in live if str(m["batch_id"]) not in replaced]

    def _archive_replaced(self, replaces: list) -> None:
        """Move superseded manifests under archive/ (atomic same-fs
        renames) so active_manifests() stays O(active).  A crash
        mid-loop leaves some victims in place — still hidden by the
        replaced-set filter, moved on the next REPLACE replay."""
        os.makedirs(self.archive_dir, exist_ok=True)
        for b in replaces:
            name = self._manifest_name(b)
            src = os.path.join(self.manifest_dir, name)
            if os.path.exists(src):
                os.replace(src, os.path.join(self.archive_dir, name))
                m = self._manifest_cache.pop(name, None)
                if m is not None:
                    self._manifest_cache["archive/" + name] = m

    def _publish_data(self, batch_id: int | str, writer) -> list[tuple[str, int]]:
        """Write one batch with ``writer`` (a ``DataFrameWriter``,
        partitioned or not) to a fresh stage dir and publish it as
        ``data/batch-<label>/``.  The dir is assembled under
        ``_tmp/publish-<label>`` (underscore prefix => filtered by
        Spark's file listing, so a concurrent streaming reader of
        data_dir can never observe a half-published path — a
        ``batch-*.tmp`` sibling inside data_dir would be visible and
        could vanish mid-listing at rename), then lands with ONE atomic
        os.replace.  Same filesystem by construction (_tmp lives in the
        root).  Returns ``(file, rows)`` per parquet part in path order,
        ``file`` relative to data_dir — the per-partition lineage."""
        import pyarrow.parquet as pq

        name = self.batch_dir(batch_id)
        stage = os.path.join(self.tmp_dir, f"stage-{name}-{uuid.uuid4().hex}")
        writer.mode("overwrite").parquet(stage)
        pub = os.path.join(self.tmp_dir, name.replace("batch-", "publish-", 1))
        os.makedirs(pub, exist_ok=True)
        lineage = []
        for d, subdirs, files in os.walk(stage):
            subdirs.sort()
            for f in sorted(files):
                if f.endswith(".parquet"):
                    src = os.path.join(d, f)
                    rel = os.path.relpath(src, stage)
                    lineage.append((f"{name}/{rel}", pq.read_metadata(src).num_rows))
                    os.makedirs(os.path.join(pub, os.path.dirname(rel)), exist_ok=True)
                    os.replace(src, os.path.join(pub, rel))
        os.replace(pub, os.path.join(self.data_dir, name))  # atomic publish
        shutil.rmtree(stage, ignore_errors=True)
        return lineage

    def _publish_manifest(self, manifest: dict) -> dict:
        """The commit point: write ``manifest`` to a uuid-named tmp
        sibling and os.replace it into place, so visibility flips on one
        atomic rename.  The cache keeps the PARSED form (a json
        round-trip, so cached and re-read manifests are
        indistinguishable — default=str stringifies non-JSON values like
        timestamps in metrics).  Archiving a REPLACE commit's victims
        afterwards is read-path maintenance only."""
        name = self._manifest_name(manifest["batch_id"])
        path = os.path.join(self.manifest_dir, name)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=self.MANIFEST_INDENT, default=str)
        os.replace(tmp, path)
        self._manifest_cache[name] = json.loads(json.dumps(manifest, default=str))
        if manifest.get("replaces"):
            self._archive_replaced(manifest["replaces"])
        return manifest


class IcebergLiteTable(ManifestLedger):
    MANIFEST_PREFIX = "manifest-"  # perfbench lists this prefix
    MANIFEST_INDENT = 1

    def data_files(self) -> list[str]:
        files: list[str] = []
        for m in self.active_manifests():
            files.extend(m["files"])
        return files

    def append_manifests(self) -> list[dict]:
        """Every original APPEND commit, including those replaced by later
        REPLACE snapshots — replaced manifests (and their data files) stay
        on disk as lineage, so the full appended history remains readable
        (Iceberg history/time-travel in miniature)."""
        return [m for m in self.manifests() if m.get("operation") is None]

    # -- write -----------------------------------------------------------
    def commit(
        self,
        batch_id: int | str,
        df: DataFrame,
        event_time_col: str | None = None,
        extra_metrics: dict | None = None,
        n_files: int | None = None,
        operation: str | None = None,
        replaces: list | None = None,
    ) -> dict | None:
        """Idempotent append of one micro-batch.  Returns the manifest,
        or None when the batch was already committed (replay no-op).

        ``n_files`` bounds the files per commit (a downstream file-stream
        consumer needs whole commits per trigger: set n_files=1 and
        maxFilesPerTrigger=k to consume k commits atomically, in commit
        order — data dirs are zero-padded so path order == commit order).

        ``operation``/``replaces`` turn the commit into a REPLACE snapshot
        (Iceberg rewrite semantics): the listed batch_ids become invisible
        to readers once this manifest lands — atomically, since visibility
        flips on the single manifest write (see active_manifests).
        """
        if self.committed(batch_id):
            return None
        import pyarrow.parquet as pq

        name = self.batch_dir(batch_id)
        final_dir = os.path.join(self.data_dir, name)
        if os.path.isdir(final_dir):
            # Crash leftover: the dir-publish os.replace succeeded but the
            # manifest write never happened.  The dir is therefore a
            # COMPLETE copy of this batch's data (publish is atomic), and
            # a concurrent file-stream reader listing data_dir may already
            # hold these paths in its file-source log — deleting and
            # republishing different part files could surface missing-file
            # errors or re-keyed rows on its resume.  ADOPT the existing
            # files (the pipeline is deterministic per §4.3 pin #1, so the
            # recomputed batch has identical rows) and just write the
            # manifest they were missing.  The determinism pin only holds
            # within one pipeline version, so cross-check the adopted
            # files' parquet-footer schema against the recomputed df
            # before committing them — a dir published by an older code
            # version / different params must fail loudly, not be
            # silently committed under a fresh manifest.
            parts = sorted(
                f for f in os.listdir(final_dir) if f.endswith(".parquet")
            )
            lineage = []
            # compare on simpleString(): it carries names and types but
            # ERASES nullability — from_arrow_schema reconstructs
            # containers as nullable (e.g. collect_list output round-
            # trips ArrayType(containsNull=False) -> True), which would
            # permanently refuse a legitimate retry of identical data
            expected = [
                (f.name, f.dataType.simpleString()) for f in df.schema.fields
            ]
            for f in parts:
                md = pq.read_metadata(os.path.join(final_dir, f))
                # full schema check — NAMES AND TYPES (r4 advice: a stale
                # dir with identical names but changed types was silently
                # adopted).  The footer's arrow schema is mapped back to
                # Spark types; tz-aware vs NTZ timestamps are ambiguous in
                # the arrow form, so accept either reading.
                from pyspark.sql.pandas.types import from_arrow_schema

                arrow = md.schema.to_arrow_schema()
                adopted = None
                for ntz in (False, True):
                    conv = from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)
                    adopted = [
                        (fl.name, fl.dataType.simpleString())
                        for fl in conv.fields
                    ]
                    if adopted == expected:
                        break
                if adopted != expected:
                    raise ValueError(
                        f"refusing to adopt orphaned batch dir {final_dir}: "
                        f"parquet schema {adopted} != recomputed batch "
                        f"schema {expected} (stale data from a different "
                        f"pipeline version?) — remove the dir to recompute"
                    )
                lineage.append({"file": f"{name}/{f}", "rows": md.num_rows})
            _log.warning(
                "adopting crash-orphaned batch dir %s: %d files, %d rows "
                "(column names+types verified against the recomputed batch; "
                "row content is assumed identical per the pipeline "
                "determinism pin, not re-read)",
                final_dir, len(lineage), sum(e["rows"] for e in lineage),
            )
            return self._write_manifest(
                batch_id, final_dir, lineage, event_time_col, extra_metrics,
                operation, replaces,
            )
        if n_files is not None:
            # repartition, NOT coalesce: coalesce(1) would collapse the
            # whole upstream computation into a single task; repartition
            # keeps it parallel and only funnels the (small) result rows
            df = df.repartition(n_files)
        lineage = [
            {"file": f, "rows": n} for f, n in self._publish_data(batch_id, df.write)
        ]
        return self._write_manifest(
            batch_id, final_dir, lineage, event_time_col, extra_metrics,
            operation, replaces,
        )

    def _write_manifest(
        self,
        batch_id: int | str,
        final_dir: str,
        lineage: list[dict],
        event_time_col: str | None,
        extra_metrics: dict | None,
        operation: str | None = None,
        replaces: list | None = None,
    ) -> dict:
        import pyarrow.parquet as pq

        metrics: dict = {"rows": sum(e["rows"] for e in lineage)}
        if event_time_col is not None and metrics["rows"] > 0:
            # min/max event time from parquet FOOTER statistics — free,
            # no data scan (the committed files were just written with
            # stats enabled)
            lo = hi = None
            try:
                for f in os.listdir(final_dir):
                    if not f.endswith(".parquet"):
                        continue
                    md = pq.read_metadata(os.path.join(final_dir, f))
                    names = md.schema.to_arrow_schema().names
                    if event_time_col not in names:
                        break
                    ci = names.index(event_time_col)
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(ci).statistics
                        if st is None or not st.has_min_max:
                            continue
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
            except Exception:
                lo = hi = None
            if lo is not None:
                metrics["min_event_time"] = str(lo)
                metrics["max_event_time"] = str(hi)
        if extra_metrics:
            metrics.update(extra_metrics)

        manifest = {
            "batch_id": batch_id,
            "files": [e["file"] for e in lineage],
            "partitions": lineage,
            "metrics": metrics,
        }
        if operation is not None:
            manifest["operation"] = operation
        if replaces:
            manifest["replaces"] = list(replaces)
        return self._publish_manifest(manifest)

    # -- read ------------------------------------------------------------
    def read(self, spark: SparkSession, schema=None) -> DataFrame:
        files = [os.path.join(self.data_dir, f) for f in self.data_files()]
        return self._read_files(spark, files, schema)

    def read_commit(
        self, spark: SparkSession, batch_id: int | str, schema=None
    ) -> DataFrame:
        """Rows of ONE commit, by batch_id — readable even after a later
        REPLACE superseded it (replaced files stay on disk as lineage).
        The crash-replay path uses this as the authoritative record of
        what a batch admitted, so index commits derived from it can
        never drift from the corpus (streaming/index.py protocol)."""
        for m in self.manifests():
            if str(m["batch_id"]) == str(batch_id):
                files = [os.path.join(self.data_dir, f) for f in m["files"]]
                return self._read_files(spark, files, schema)
        raise KeyError(f"no commit with batch_id {batch_id!r} in {self.root}")

    def read_history(self, spark: SparkSession, schema=None) -> DataFrame:
        """Every row ever APPENDED — the union of the original append
        commits, ignoring REPLACE rewrites (whose files are copies of
        surviving rows, so including them would double-count).  Appends
        are disjoint micro-batches, so each row appears exactly once."""
        files = [
            os.path.join(self.data_dir, f)
            for m in self.append_manifests()
            for f in m["files"]
        ]
        return self._read_files(spark, files, schema)

    def _read_files(self, spark: SparkSession, files: list[str], schema=None) -> DataFrame:
        if not files:
            if schema is None:
                raise ValueError("empty table and no schema given")
            return spark.createDataFrame([], schema)
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*files)

    def total_rows(self) -> int:
        return sum(m["metrics"]["rows"] for m in self.active_manifests())
