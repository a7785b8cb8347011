"""r15 metadata-plane tests: per-commit stats deltas, the columnar
CHECKPOINT, O(checkpoint + tail) reads, vacuum interaction, and the
r14-ADVICE CDF/payload fixes."""

from __future__ import annotations

import builtins
import json
import os
import threading

import pytest

from pu4spark_spark.sources import pydatasource as P
from pu4spark_spark.sources.lake.checkpoint import (
    LAST_CHECKPOINT,
    assemble_stats,
    checkpoint_history,
    last_checkpoint_version,
    stats_delta_path,
    stats_delta_versions,
    write_checkpoint,
)
from pu4spark_spark.sources.lake.protocol import (
    _latest_manifest_version,
)
from pu4spark_spark.sources.lake.source import JsonlDocsReader

DDL = (
    "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint"
)


def _rows(lo, hi, lang="en"):
    return [(i, f"d{i}", lang, "s", i) for i in range(lo, hi)]


def _write(spark, out, lo, hi, mode="append", **opts):
    w = (
        spark.createDataFrame(_rows(lo, hi), DDL)
        .repartition(1)
        .write.format("jsonl_docs")
        .option("path", out)
    )
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode(mode).save()


def _read_ids(spark, out, flt=None):
    df = spark.read.format("jsonl_docs").option("path", out).load()
    if flt is not None:
        df = df.filter(flt)
    return sorted(r["doc_id"] for r in df.collect())


def test_commits_write_stats_deltas_not_root(spark, tmp_path):
    """Every commit writes its own _STATS.v{N} delta — O(commit)
    metadata — and no commit path rewrites a root _STATS; assembly
    merges the deltas into the r14-shaped view."""
    P.register_pyds(spark)
    out = str(tmp_path / "d")
    _write(spark, out, 0, 10, mode="overwrite")
    _write(spark, out, 10, 20)
    _write(spark, out, 20, 30)
    assert not os.path.exists(os.path.join(out, "_STATS"))
    assert stats_delta_versions(out) == [1, 2, 3]
    stats = assemble_stats(out)
    shard_entries = {k: v for k, v in stats.items() if not k.startswith("_")}
    assert len(shard_entries) == 3  # one repartition(1) shard per commit
    # pruning still fires through the assembled view
    r = JsonlDocsReader({"path": out})
    r._lo, r._hi = 25, 29
    assert len(r.partitions()) == 1


def test_checkpoint_roundtrip_reads_and_time_travel(spark, tmp_path):
    """N commits → CHECKPOINT → more commits: latest reads, pinned
    time travel below the checkpoint, and DESCRIBE HISTORY all serve
    the same answers as the un-checkpointed twin."""
    P.register_pyds(spark)
    out = str(tmp_path / "c")
    _write(spark, out, 0, 10, mode="overwrite")
    _write(spark, out, 10, 20)
    P.delete_from_jsonl_dir(out, [5, 15])
    ck = P.checkpoint_jsonl_dir(out)
    assert ck == 3 == last_checkpoint_version(out)
    _write(spark, out, 20, 30)
    _write(spark, out, 30, 40)
    want = [i for i in range(40) if i not in (5, 15)]
    assert _read_ids(spark, out) == want
    # pinned below the checkpoint
    pre = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("version", 2)
        .load()
    )
    assert sorted(r["doc_id"] for r in pre.collect()) == list(range(20))
    hist = {
        r["version"]: (r["op"], r["n_files"])
        for r in P.describe_history_jsonl_dir(spark, out).collect()
    }
    assert set(hist) == {1, 2, 3, 4, 5}
    assert hist[3][0] == "delete"
    assert hist[1] == ("overwrite", 1)
    # checkpoint is a DataFrame-readable columnar snapshot
    ckdf = P.read_checkpoint_df(spark, out)
    assert ckdf.count() == 2  # live shards at v3
    assert {"file", "rows", "zmin", "zmax"} <= set(ckdf.columns)
    # DESCRIBE DETAIL surfaces it
    det = P.describe_detail_jsonl_dir(spark, out).collect()[0]
    assert det["last_checkpoint_version"] == 3


def test_pruning_served_from_checkpoint_after_delta_removal(
    spark, tmp_path
):
    """Deltas ≤ checkpoint are SUBSUMED: with every delta file gone
    (what vacuum does), zonemap + partition + bloom pruning still
    fire from the checkpoint's columnar stats alone."""
    P.register_pyds(spark)
    out = str(tmp_path / "p")
    (
        spark.createDataFrame(
            _rows(0, 20, "en") + _rows(20, 40, "fr"), DDL
        )
        .repartition(4, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("partition_by", "lang")
        .option("bloom_filter_columns", "doc_id")
        .mode("overwrite")
        .save()
    )
    write_checkpoint(out)
    for v in stats_delta_versions(out):
        os.remove(stats_delta_path(out, v))
    total = len(JsonlDocsReader({"path": out}).partitions())
    assert total >= 2
    r = JsonlDocsReader({"path": out})
    r._part_in = {"lang": {"en"}}
    assert 0 < len(r.partitions()) < total
    r2 = JsonlDocsReader({"path": out})
    r2._eq_sets = {"doc_id": [{999_999}]}
    r2._lo = r2._hi = 999_999
    assert len(r2.partitions()) == 0
    # and values still come back exact
    assert _read_ids(spark, out, "lang = 'en'") == list(range(20))


def test_post_checkpoint_reads_open_checkpoint_plus_tail_only(
    spark, tmp_path, monkeypatch
):
    """The O(checkpoint + tail) contract, pinned by counting file
    opens: after a checkpoint at version C, a batch read opens no
    _MANIFEST.v below the latest, and DESCRIBE HISTORY opens ONLY the
    tail manifests (> C)."""
    P.register_pyds(spark)
    out = str(tmp_path / "t")
    _write(spark, out, 0, 5, mode="overwrite")
    for i in range(1, 8):
        _write(spark, out, 5 * i, 5 * (i + 1))
    ck = P.checkpoint_jsonl_dir(out)
    assert ck == 8
    _write(spark, out, 40, 45)
    _write(spark, out, 45, 50)

    opened: list[int] = []
    real_open = builtins.open

    def counting_open(file, *a, **kw):
        if isinstance(file, (str, os.PathLike)):
            name = os.path.basename(str(file))
            if name.startswith("_MANIFEST.v"):
                v = name[len("_MANIFEST.v"):]
                if v.isdigit():
                    opened.append(int(v))
        return real_open(file, *a, **kw)

    monkeypatch.setattr(builtins, "open", counting_open)
    hist = P.describe_history_jsonl_dir(spark, out)
    n = hist.count()
    monkeypatch.setattr(builtins, "open", real_open)
    assert n == 10
    assert opened and all(v > ck for v in opened), opened

    opened.clear()
    monkeypatch.setattr(builtins, "open", counting_open)
    reader = JsonlDocsReader({"path": out})
    parts = reader.partitions()
    monkeypatch.setattr(builtins, "open", real_open)
    assert len(parts) == 10
    assert set(opened) == {10}, opened  # the pinned latest only


def test_no_filter_read_skips_stats_entirely(
    spark, tmp_path, monkeypatch
):
    """Directive r15 #2, last clause: planning a read with NO pushed
    filters must not load stats at all — no _STATS delta, no
    checkpoint parquet open."""
    import pyarrow.parquet as pq

    P.register_pyds(spark)
    out = str(tmp_path / "nf")
    _write(spark, out, 0, 10, mode="overwrite")
    _write(spark, out, 10, 20)
    P.checkpoint_jsonl_dir(out)

    stats_opens: list[str] = []
    real_open = builtins.open
    real_read_table = pq.read_table

    def counting_open(file, *a, **kw):
        if isinstance(file, (str, os.PathLike)):
            name = os.path.basename(str(file))
            if name.startswith(("_STATS", "_CHECKPOINT")):
                stats_opens.append(name)
        return real_open(file, *a, **kw)

    def counting_read_table(file, *a, **kw):
        stats_opens.append(os.path.basename(str(file)))
        return real_read_table(file, *a, **kw)

    monkeypatch.setattr(builtins, "open", counting_open)
    monkeypatch.setattr(pq, "read_table", counting_read_table)
    parts = JsonlDocsReader({"path": out}).partitions()
    monkeypatch.setattr(builtins, "open", real_open)
    monkeypatch.setattr(pq, "read_table", real_read_table)
    assert len(parts) == 2
    assert stats_opens == [], stats_opens
    # a FILTERED plan does consult them (sanity: the gate above is
    # about laziness, not about pruning being off)
    r = JsonlDocsReader({"path": out})
    r._lo = r._hi = 15
    assert len(r.partitions()) == 1


def test_checkpoint_history_survives_vacuum_of_old_manifests(
    spark, tmp_path
):
    """Vacuum drops old manifests AND the subsumed stats deltas but
    never the live checkpoint or its pointer; post-vacuum reads and
    maintenance still work, and a later checkpoint carries the
    retained history forward."""
    P.register_pyds(spark)
    out = str(tmp_path / "v")
    _write(spark, out, 0, 10, mode="overwrite")
    _write(spark, out, 10, 20)
    _write(spark, out, 20, 30)
    ck = P.checkpoint_jsonl_dir(out)
    assert ck == 3
    _write(spark, out, 30, 40)
    P.vacuum_jsonl_dir(out, keep_versions=2, stale_grace_s=0)
    names = set(os.listdir(out))
    assert f"_CHECKPOINT.v{ck}.parquet" in names
    assert LAST_CHECKPOINT in names
    # deltas at or below the checkpoint and below the cutoff are gone
    assert "_STATS.v1" not in names and "_STATS.v2" not in names
    # the tail delta (v4 > checkpoint) survives
    assert "_STATS.v4" in names
    assert _read_ids(spark, out) == list(range(40))
    # a second checkpoint supersedes; the old one is reclaimed once
    # stale, the history rides forward
    _write(spark, out, 40, 50)
    ck2 = P.checkpoint_jsonl_dir(out)
    assert ck2 == 5
    P.vacuum_jsonl_dir(out, keep_versions=1, stale_grace_s=0)
    names = set(os.listdir(out))
    assert f"_CHECKPOINT.v{ck2}.parquet" in names
    assert f"_CHECKPOINT.v{ck}.parquet" not in names
    hist = checkpoint_history(out, ck2)
    assert [r["v"] for r in hist] == [1, 2, 3, 4, 5]
    assert _read_ids(spark, out) == list(range(50))


def test_append_checkpoint_vacuum_race(spark, tmp_path):
    """APPEND ∥ CHECKPOINT ∥ VACUUM threaded stress (3 seeds): the
    committed rows are never lost, conflicts surface loudly or retry,
    and the final table reads exactly the union of the appends."""
    P.register_pyds(spark)
    for seed in range(3):
        out = str(tmp_path / f"race{seed}")
        _write(spark, out, 0, 5, mode="overwrite")
        errs: list[Exception] = []

        def appender(lo):
            try:
                df = spark.createDataFrame(
                    _rows(lo, lo + 5), DDL
                ).repartition(1)
                P.append_with_retry(df, out, max_retries=8)
            except Exception as e:  # pragma: no cover - diagnostic
                errs.append(e)

        def checkpointer():
            try:
                P.checkpoint_jsonl_dir(out)
            except Exception as e:  # pragma: no cover - diagnostic
                errs.append(e)

        def vacuumer():
            try:
                P.vacuum_jsonl_dir(
                    out, keep_versions=4, stale_grace_s=600
                )
            except Exception as e:  # pragma: no cover - diagnostic
                errs.append(e)

        threads = [
            threading.Thread(target=appender, args=(5,)),
            threading.Thread(target=checkpointer),
            threading.Thread(target=appender, args=(10,)),
            threading.Thread(target=vacuumer),
            threading.Thread(target=appender, args=(15,)),
            threading.Thread(target=checkpointer),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs, errs
        assert _read_ids(spark, out) == list(range(20))
        # the plane is still checkpointable and readable afterwards
        P.checkpoint_jsonl_dir(out)
        assert _read_ids(spark, out) == list(range(20))


def test_batch_cdf_refuses_dv_delete_without_cdc(spark, tmp_path):
    """r14-ADVICE (high): a deletion-vector DELETE without cdf=True is
    invisible to the file-diff derivation — the EXACT batch feed must
    refuse it loudly (as the stream reader already did), never emit a
    silently empty feed."""
    P.register_pyds(spark)
    out = str(tmp_path / "g")
    _write(spark, out, 0, 20, mode="overwrite")
    P.delete_from_jsonl_dir(
        out, [3, 7], spark=spark, deletion_vectors=True
    )
    with pytest.raises(ValueError, match="carries no CDC files"):
        P.table_changes_jsonl_dir(spark, out, starting_version=0)
    # with cdf=True the same commit serves EXACT changes from its CDC
    # files; a later purge (rewrite marker) shrinks the DVs without
    # tripping the un-delete guard
    out2 = str(tmp_path / "g2")
    _write(spark, out2, 0, 20, mode="overwrite")
    P.delete_from_jsonl_dir(
        out2, [3, 7], spark=spark, deletion_vectors=True, cdf=True
    )
    P.purge_jsonl_dir(spark, out2)
    feed = P.table_changes_jsonl_dir(spark, out2, starting_version=0)
    got = sorted(
        (r["_change_type"], r["doc_id"]) for r in feed.collect()
    )
    assert [g for g in got if g[0] == "delete"] == [
        ("delete", 3),
        ("delete", 7),
    ]
    assert len([g for g in got if g[0] == "insert"]) == 20


def test_subset_rewrite_keeps_parquet_on_mixed_subset(spark, tmp_path):
    """r14-ADVICE: a purge over a MIXED jsonl+parquet DV subset must
    not de-columnarize the parquet data — the rewrite prefers parquet
    whenever any subset shard is parquet (and the schema is
    parquet-writable)."""
    P.register_pyds(spark)
    out = str(tmp_path / "m")
    (
        spark.createDataFrame(_rows(0, 10), DDL)
        .repartition(1)
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    (
        spark.createDataFrame(_rows(10, 20), DDL)
        .repartition(1)
        .write.format("jsonl_docs")
        .option("path", out)
        .option("payload_format", "parquet")
        .option("base_version", 1)
        .mode("append")
        .save()
    )
    # DV rows in BOTH shards → the purge subset is mixed
    P.delete_from_jsonl_dir(
        out, [3, 13], spark=spark, deletion_vectors=True
    )
    v = P.purge_jsonl_dir(spark, out, target_shards=1)
    with open(os.path.join(out, f"_MANIFEST.v{v}")) as fh:
        m = json.load(fh)
    new = [f for f in m if not f.startswith("_")]
    assert len(new) == 1 and new[0].endswith(".parquet"), new
    assert _read_ids(spark, out) == [
        i for i in range(20) if i not in (3, 13)
    ]


def test_auto_checkpoint_interval_sticky_property(spark, tmp_path):
    """``option("checkpoint_interval", N)`` is a STICKY table property
    (Delta's checkpointInterval): later commits from EITHER writer —
    and commits that never repeat the option — auto-checkpoint at
    every Nth version, and compaction carries the property through
    its rewrite."""
    P.register_pyds(spark)
    out = str(tmp_path / "ai")
    (
        spark.createDataFrame(_rows(0, 5), DDL)
        .repartition(1)
        .write.format("jsonl_docs")
        .option("path", out)
        .option("checkpoint_interval", "2")
        .mode("overwrite")
        .save()
    )
    assert last_checkpoint_version(out) == 0  # v1: 1 % 2 != 0
    _write(spark, out, 5, 10)  # v2 — plain append, no option repeated
    assert last_checkpoint_version(out) == 2
    _write(spark, out, 10, 15)  # v3
    assert last_checkpoint_version(out) == 2
    P.compact_jsonl_dir(spark, out, target_shards=1)  # v4 carries prop
    _write(spark, out, 15, 20)  # v5
    _write(spark, out, 20, 25)  # v6 → auto-checkpoint
    assert last_checkpoint_version(out) == 6
    assert _read_ids(spark, out) == list(range(25))


def test_merge_preserves_other_shards_family_stats(spark, tmp_path):
    """Per-shard family maps merge by SHARD at assembly — a MERGE's
    stage stats can no longer clobber earlier shards' _cols entries
    (the r14 flat root-update could)."""
    P.register_pyds(spark)
    out = str(tmp_path / "f")
    _write(spark, out, 0, 10, mode="overwrite")
    pre_cols = assemble_stats(out).get("_cols", {})
    assert pre_cols
    df = spark.createDataFrame(_rows(100, 105), DDL).repartition(1)
    P.merge_into_jsonl_dir(spark, df, out)
    post = assemble_stats(out).get("_cols", {})
    for f, ent in pre_cols.items():
        assert post.get(f) == ent, f"merge dropped _cols for {f}"
    assert len(post) > len(pre_cols)


def test_auto_checkpoint_failure_is_logged_not_raised(
    monkeypatch, caplog, tmp_path
):
    """A failed auto-checkpoint leaves the commit standing but is logged
    with the table path, the version and the exception type."""
    from pu4spark_spark.sources.lake import checkpoint
    from pu4spark_spark.sources.lake.checkpoint import (
        CKPT_INTERVAL_KEY,
        _maybe_auto_checkpoint,
    )

    def broken(path):
        raise PermissionError("read-only table root")

    monkeypatch.setattr(checkpoint, "write_checkpoint", broken)
    out = str(tmp_path / "t")
    with caplog.at_level("WARNING", logger=checkpoint.__name__):
        _maybe_auto_checkpoint(out, 3, {CKPT_INTERVAL_KEY: 2})  # not due
        assert caplog.records == []
        _maybe_auto_checkpoint(out, 4, {CKPT_INTERVAL_KEY: 2})
    (record,) = caplog.records
    assert record.levelname == "WARNING"
    message = record.getMessage()
    assert out in message and "version 4" in message
    assert "PermissionError" in message
