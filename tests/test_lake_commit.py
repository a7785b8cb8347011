"""The lake's one version claim (``protocol.commit_manifest``) seen
from every metadata commit site that takes a base version: a commit
planned against a stale base must lose the claim loudly and leave the
table exactly as the winner left it.  Metadata only — no Spark
session."""

from __future__ import annotations

import json
import os

import pytest

from pu4spark_spark.sources.lake import maintenance as M
from pu4spark_spark.sources.lake.protocol import (
    ManifestCommitConflict,
    _is_commit_conflict,
    _latest_manifest_version,
    commit_manifest,
)

DDL = "doc_id bigint, text string, n int"
SHARD = "part-00000-seed0000.jsonl"


def _table(path: str) -> dict:
    """A two-version table: v1 holds one shard, schema and one CHECK
    constraint; v2 is a later commit by another writer."""
    os.makedirs(path)
    with open(os.path.join(path, SHARD), "w") as fh:
        fh.write(json.dumps({"doc_id": 1, "text": "a", "n": 3}) + "\n")
    v1 = {
        SHARD: 1,
        "_schema": DDL,
        "_constraints": {"id_nonneg": "doc_id >= 0"},
        "_op": "append",
    }
    commit_manifest(path, 0, dict(v1), "append")
    commit_manifest(path, 1, dict(v1), "append")
    return v1


#: every base_version-taking commit site, planned against v1 after v2
#: landed (the op word the conflict message must name → the call)
STALE_BASE_OPS = {
    "rename": lambda p: M.rename_jsonl_column(p, "text", "body", 1),
    "drop": lambda p: M.drop_jsonl_column(p, "text", 1),
    "widen": lambda p: M.widen_jsonl_column(p, "n", "bigint", 1),
    "ADD CONSTRAINT": lambda p: M.add_constraint_jsonl_dir(
        p, "n_pos", "n > 0", 1
    ),
    "DROP CONSTRAINT": lambda p: M.drop_constraint_jsonl_dir(
        p, "id_nonneg", 1
    ),
    "restore": lambda p: M.restore_jsonl_dir(p, 1, base_version=1),
}


def _assert_lost(path: str, exc: BaseException, what: str, before: bytes):
    assert isinstance(exc, ManifestCommitConflict)
    assert _is_commit_conflict(exc)
    assert "_MANIFEST.v2" in str(exc) and what in str(exc)
    with open(os.path.join(path, "_MANIFEST"), "rb") as fh:
        assert fh.read() == before
    assert _latest_manifest_version(path) == 2
    assert not os.path.exists(os.path.join(path, "_STATS.v2"))


@pytest.mark.parametrize("what", sorted(STALE_BASE_OPS))
def test_stale_base_commit_conflicts(tmp_path, what):
    path = str(tmp_path / "t")
    _table(path)
    with open(os.path.join(path, "_MANIFEST"), "rb") as fh:
        before = fh.read()
    with pytest.raises(ManifestCommitConflict) as info:
        STALE_BASE_OPS[what](path)
    _assert_lost(path, info.value, what, before)


def test_clone_loses_claim_to_a_rival_table(tmp_path, monkeypatch):
    """A rival creates ``dst``'s v1 after the clone's existence check
    (hooked on the clone touching the source files): the clone must
    lose its v1 claim and leave the rival's table untouched."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _table(src)
    real_utime = os.utime

    def rival_then_utime(p, *a, **kw):
        if not os.path.exists(os.path.join(dst, "_MANIFEST.v1")):
            commit_manifest(dst, 0, {"_op": "append"}, "append")
        return real_utime(p, *a, **kw)

    monkeypatch.setattr(os, "utime", rival_then_utime)
    with pytest.raises(ManifestCommitConflict) as info:
        M.clone_jsonl_dir(src, dst)
    exc = info.value
    assert _is_commit_conflict(exc)
    assert "_MANIFEST.v1" in str(exc) and "clone" in str(exc)
    with open(os.path.join(dst, "_MANIFEST.v1")) as fh:
        assert json.load(fh)["_op"] == "append"
    assert _latest_manifest_version(dst) == 1
    assert not os.path.exists(os.path.join(dst, "_STATS.v1"))


def test_lost_rewrite_claim_removes_its_marker(tmp_path):
    """A rewrite commit claims its ``.rewrite`` marker before the
    snapshot; losing the snapshot claim must remove the marker, or it
    could reclassify the winner's data commit as a rewrite."""
    path = str(tmp_path / "t")
    v1 = _table(path)
    with open(os.path.join(path, "_MANIFEST"), "rb") as fh:
        before = fh.read()
    with pytest.raises(ManifestCommitConflict) as info:
        commit_manifest(
            path, 1, dict(v1), "compaction", {SHARD: [1, 1]}, rewrite=True
        )
    _assert_lost(path, info.value, "compaction", before)
    assert not os.path.exists(os.path.join(path, "_MANIFEST.v2.rewrite"))
