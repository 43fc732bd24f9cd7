"""ManifestLedger semantics, Spark-free, over both on-disk layouts.

The corpus table (``IcebergLiteTable``: ``manifests/manifest-<id>.json``,
indented JSON) and the admission indexes (``DigestIndex``:
``manifests/<id>.json``, one-line JSON with a ``seq``) share one ledger.
These tests drive its manifest-write path directly — no DataFrames — and
pin replay no-ops, REPLACE archival, the archival crash window,
cross-instance visibility, sidecar filtering and the byte format.
The curation sink's argument contract is checked here too: it raises
before any Spark call or ledger write.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from swingstream.sources.catalog import IcebergLiteTable
from swingstream.streaming.compaction import run_corpus_stream_with_compaction
from swingstream.streaming.index import DigestIndex


def _corpus_manifest(ledger, batch_id, replaces=None):
    f = f"{ledger.batch_dir(batch_id)}/part-00000.parquet"
    m = {
        "batch_id": batch_id,
        "files": [f],
        "partitions": [{"file": f, "rows": 5}],
        "metrics": {"rows": 5},
    }
    if replaces:
        m["operation"] = "replace"
        m["replaces"] = list(replaces)
    return m


def _index_manifest(ledger, batch_id, replaces=None):
    e = {
        "file": f"{ledger.batch_dir(batch_id)}/bucket=1/part-00000.parquet",
        "bucket": 1,
        "rows": 5,
    }
    return {
        "batch_id": batch_id,
        "seq": ledger._next_seq(),
        "operation": "binpack" if replaces else "append",
        "replaces": list(replaces or []),
        "files": [e],
        "rows": 5,
        "buckets": [1],
    }


LAYOUTS = {
    "corpus": (IcebergLiteTable, _corpus_manifest),
    "index": (lambda root: DigestIndex(root, n_buckets=8), _index_manifest),
}


@pytest.fixture(params=sorted(LAYOUTS))
def layout(request, tmp_path):
    open_ledger, make = LAYOUTS[request.param]
    root = str(tmp_path / request.param)

    def commit(ledger, batch_id, replaces=None):
        if ledger.committed(batch_id):
            return None
        return ledger._publish_manifest(make(ledger, batch_id, replaces))

    return request.param, root, open_ledger, commit


def _ids(ms):
    return [str(m["batch_id"]) for m in ms]


def test_replayed_batch_id_is_a_noop(layout):
    _, root, open_ledger, commit = layout
    t = open_ledger(root)
    assert commit(t, 0) is not None
    before = sorted(os.listdir(t.manifest_dir))
    assert commit(t, 0) is None
    # the sink's own commit() short-circuits before touching its frame
    assert t.commit(0, None) is None
    assert sorted(os.listdir(t.manifest_dir)) == before
    assert _ids(t.manifests()) == ["0"]


def test_replace_hides_and_archives_victims(layout):
    _, root, open_ledger, commit = layout
    t = open_ledger(root)
    for b in range(3):
        commit(t, b)
    commit(t, "compact-0", replaces=[0, 1])
    assert _ids(t.active_manifests()) == ["2", "compact-0"]
    assert sorted(os.listdir(t.archive_dir)) == sorted(
        [t._manifest_name(0), t._manifest_name(1)]
    )
    assert not os.path.exists(t._manifest_path(0))
    assert sorted(_ids(t.manifests())) == sorted(["0", "1", "2", "compact-0"])
    # a later REPLACE supersedes the earlier one the same way
    commit(t, "compact-1", replaces=[2, "compact-0"])
    assert _ids(t.active_manifests()) == ["compact-1"]
    assert len(t.manifests()) == 5


def test_archived_id_stays_committed(layout):
    _, root, open_ledger, commit = layout
    t = open_ledger(root)
    commit(t, 0)
    commit(t, "compact-0", replaces=[0])
    assert t.committed(0)
    fresh = open_ledger(root)
    assert fresh.committed(0) and fresh.committed("compact-0")
    assert commit(fresh, 0) is None
    assert fresh.commit(0, None) is None
    assert _ids(fresh.active_manifests()) == ["compact-0"]


def test_replace_landed_before_archival_still_hides_victims(layout):
    _, root, open_ledger, commit = layout
    t = open_ledger(root)
    for b in range(2):
        commit(t, b)
    commit(t, "compact-0", replaces=[0])
    # crash window: the REPLACE manifest landed but its victim was never
    # moved — put the archived file back by hand
    name = t._manifest_name(0)
    shutil.copy(os.path.join(t.archive_dir, name), t._manifest_path(0))
    os.remove(os.path.join(t.archive_dir, name))
    for reader in (t, open_ledger(root)):
        assert _ids(reader.active_manifests()) == ["1", "compact-0"]
        assert reader.committed(0)


def test_second_instance_sees_first_instances_commits(layout):
    _, root, open_ledger, commit = layout
    a = open_ledger(root)
    b = open_ledger(root)
    commit(a, 0)
    assert b.active_manifests() == a.active_manifests()  # b's cache warm
    commit(a, 1)
    commit(a, "compact-0", replaces=[0])
    assert _ids(b.active_manifests()) == ["1", "compact-0"]
    assert b.committed(0) and b.committed(1)
    assert sorted(_ids(b.manifests())) == ["0", "1", "compact-0"]


def test_sidecars_are_never_parsed_as_manifests(layout):
    kind, root, open_ledger, commit = layout
    t = open_ledger(root)
    commit(t, 0)
    commit(t, "compact-0", replaces=[0])
    junk = [
        t._manifest_path("compact-1") + ".intent",
        t._manifest_path(1) + ".tmp-0123abcd",
        os.path.join(t.archive_dir, t._manifest_name(2) + ".tmp-0123abcd"),
    ]
    if kind == "corpus":
        junk.append(os.path.join(t.manifest_dir, "observed-7.json"))
    for p in junk:
        with open(p, "w") as fh:
            fh.write("not json {")  # json.load would raise on any of these
    for reader in (t, open_ledger(root)):
        assert sorted(_ids(reader.manifests())) == ["0", "compact-0"]
        assert _ids(reader.active_manifests()) == ["compact-0"]


# One manifest per layout, byte-for-byte as the ledger has always written
# it: the corpus as indent=1 JSON, the index as one-line JSON.
CORPUS_MANIFEST_3 = """{
 "batch_id": 3,
 "files": [
  "batch-0000000003/part-00000.parquet"
 ],
 "partitions": [
  {
   "file": "batch-0000000003/part-00000.parquet",
   "rows": 5
  }
 ],
 "metrics": {
  "rows": 5
 }
}"""

INDEX_MANIFEST_3 = (
    '{"batch_id": 3, "seq": 0, "operation": "append", "replaces": [], '
    '"files": [{"file": "batch-0000000003/bucket=1/part-00000.parquet", '
    '"bucket": 1, "rows": 5}], "rows": 5, "buckets": [1]}'
)

ON_DISK = {
    "corpus": ("manifest-3.json", CORPUS_MANIFEST_3),
    "index": ("3.json", INDEX_MANIFEST_3),
}


def test_on_disk_manifest_format_is_pinned(layout, tmp_path):
    kind, root, open_ledger, commit = layout
    name, text = ON_DISK[kind]
    t = open_ledger(root)
    commit(t, 3)
    assert os.listdir(t.manifest_dir) == [name]
    with open(os.path.join(t.manifest_dir, name)) as fh:
        assert fh.read() == text

    # a hand-written root reopens: same ledger, and its id replays as a no-op
    other = open_ledger(str(tmp_path / f"{kind}-hand"))
    with open(os.path.join(other.manifest_dir, name), "w") as fh:
        fh.write(text)
    reopened = open_ledger(other.root)
    assert reopened.manifests() == reopened.active_manifests() == [json.loads(text)]
    assert reopened.manifests() == t.manifests()
    assert reopened.committed(3)
    assert commit(reopened, 3) is None and reopened.commit(3, None) is None


def test_quarantine_without_gate_raises_before_any_write(tmp_path):
    """A quarantine needs a verdict to split on: without ``gate_fn`` the
    sink refuses before touching Spark (no session, no stream) or disk."""
    out = str(tmp_path / "corpus")
    with pytest.raises(ValueError, match="quarantine_root requires gate_fn"):
        run_corpus_stream_with_compaction(
            None, None, out, str(tmp_path / "ck"),
            quarantine_root=str(tmp_path / "quarantine"),
        )
    assert os.listdir(tmp_path) == []
