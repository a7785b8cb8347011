"""Row-level DML on the mini-lake: DELETE (delete-file
tombstones), MERGE (fast upsert + conditional clause form), the
distributed sidecar/data-shard staging they share, and commit-time
CDC file recording."""

from __future__ import annotations

import functools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from pu4spark_spark.sources.tables import load_table
from pu4spark_spark.sources.lake.protocol import (
    CDC_KEY,
    ManifestCommitConflict,
    OP_KEY,
    TOMBSTONE_KEY,
    DV_KEY,
    _check_features,
    _stamp_features,
    _dv_merge,
    _dv_of,
    _effective_schema_ddl,
    _shard_path,
    _fields_of_ddl,
    _latest_manifest_version,
    _mapping_of,
    _manifest_at,
    _manifest_files,
    _remove_files,
    _tombstones_of,
    _write_atomic,
    commit_manifest,
)
from pu4spark_spark.sources.lake.source import (
    register_pyds,
)



#: Spark SQL types whose native-JSON-writer cell form ``json.loads``
#: round-trips identically to the pyds writer's (plain JSON scalars —
#: no string-encoded decimal/timestamp/date/binary forms to diverge on)
_NATIVE_JSON_SAFE = (
    "string", "bigint", "long", "int", "integer", "smallint",
    "tinyint", "double", "float", "boolean",
)


def _write_rowcount_from_store(
    spark: SparkSession, jobdesc: str, timeout_s: float = 10.0
):
    """Exact row count of a just-finished native file write, read from
    the SQL status store: the execution whose description is
    ``jobdesc`` (unique per staging call; set thread-locally around the
    action) carries the write command node's ``number of output rows``
    metric — the count rode the write job itself, no second pass and no
    ``Observation`` (whose manager poisons MLlib closures; see
    :func:`_stage_sidecar_shards`).  The store is fed by the async
    listener bus, so poll briefly; returns ``None`` when the metric
    can't be found (store disabled / timeout) and the caller falls back
    to a count job.  Internal-API surface is pinned by
    ``tests/test_lake_dv.py::test_dml_staging_counts_and_no_observation_poison``."""
    import re as _re
    import time as _time

    try:
        store = spark._jsparkSession.sharedState().statusStore()
    except Exception:
        return None
    deadline = _time.monotonic() + timeout_s
    while _time.monotonic() < deadline:
        try:
            lst = store.executionsList()
            exec_id = None
            for i in range(lst.size() - 1, -1, -1):
                e = lst.apply(i)
                if e.description() == jobdesc:
                    exec_id = e.executionId()
                    break
            if exec_id is not None:
                vals = {}
                vit = store.executionMetrics(exec_id).iterator()
                while vit.hasNext():
                    kv = vit.next()
                    vals[kv._1()] = kv._2()
                nit = store.planGraph(exec_id).allNodes().iterator()
                while nit.hasNext():
                    node = nit.next()
                    if "InsertIntoHadoopFsRelationCommand" not in node.name():
                        continue
                    mit = node.metrics().iterator()
                    while mit.hasNext():
                        m = mit.next()
                        if m.name() == "number of output rows":
                            v = vals.get(m.accumulatorId())
                            if v is not None:
                                return int(_re.sub(r"[^0-9]", "", str(v)))
        except Exception:
            return None
        _time.sleep(0.05)
    return None


def _stage_sidecar_shards(
    df: DataFrame, path: str, token: str, prefix: str
) -> tuple[list[str], int]:
    """Write ``df`` as ``_{prefix}-{token}-*`` sidecar shards in the
    table dir via a DISTRIBUTED job — the driver never materializes a
    row, only file names + row counts.  The files are invisible until
    manifest metadata references them: '_'-prefixed (skipped by
    listing readers) and named by no committed manifest.  Returns
    ``(names, total_rows)``; empty task shards are dropped.  Used for
    DELETE key files (``_delete-``) and commit-time change-data-feed
    files (``_cdc-``).

    Sidecar shards need none of the lake writer's machinery (no
    manifest claim, no stats, no constraints) — when every column is a
    plain JSON scalar they are written by Spark's NATIVE JSON sink
    (whole-stage codegen, zero JVM→Python boundary — guide §4), with
    the row count read from the write job's OWN ``number of output
    rows`` metric (no second pass).  NEVER via ``Observation``: the
    first Observation on a session instantiates the non-serializable
    ``SparkSession.observationManager``, which poisons every later
    MLlib-summary-carrying task closure in the process — see
    ``q_pipeline_observed_metrics``'s session-isolation note, the house
    rule this module must follow because DML shares the caller's
    session.  Schemas with string-encoded cell forms (decimal/
    timestamp/date/binary) keep the pyds writer, whose serialization
    the readers' converters are matched to."""
    import json as _json
    import shutil
    import uuid as _uuid

    stage = path + f".{prefix}-stage-{token}"
    simple = all(
        f.dataType.simpleString() in _NATIVE_JSON_SAFE
        for f in df.schema.fields
    )
    if simple:
        spark = df.sparkSession
        sc = spark.sparkContext
        jobdesc = f"stage-{prefix}-{_uuid.uuid4().hex[:12]}"
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(jobdesc)
        try:
            df.write.mode("overwrite").json(stage)
        finally:
            sc.setJobDescription(prev_desc)
        n_rows = _write_rowcount_from_store(spark, jobdesc)
        if n_rows is None:
            # fallback: one native line-count job over the staged files
            # (the sink writes exactly one JSON record per line)
            n_rows = spark.read.text(stage).count()
        n_rows = int(n_rows)
        staged_names = sorted(
            f
            for f in os.listdir(stage)
            if f.startswith("part-")
            and not f.endswith((".crc", "_SUCCESS"))
            and os.path.getsize(os.path.join(stage, f)) > 0
        )
        names = []
        for i, f in enumerate(staged_names):
            name = f"_{prefix}-{token}-{i:04d}.jsonl"
            os.replace(os.path.join(stage, f), os.path.join(path, name))
            names.append(name)
        shutil.rmtree(stage, ignore_errors=True)
        return names, n_rows
    register_pyds(df.sparkSession)
    (
        df.write.format("jsonl_docs")
        .option("path", stage)
        .mode("overwrite")
        .save()
    )
    with open(os.path.join(stage, "_MANIFEST")) as fh:
        staged = {
            f: r
            for f, r in _json.load(fh).items()
            if not f.startswith("_")
        }
    names = []
    n_rows = 0
    for i, (f, rows) in enumerate(sorted(staged.items())):
        if not rows:
            continue  # empty task shard — nothing to reference
        name = f"_{prefix}-{token}-{i:04d}.jsonl"
        os.replace(os.path.join(stage, f), os.path.join(path, name))
        names.append(name)
        n_rows += rows
    shutil.rmtree(stage, ignore_errors=True)
    return names, n_rows


def _stage_key_shards(
    keys_df: DataFrame, path: str, token: str
) -> tuple[list[str], int]:
    """DELETE key files: ``keys_df``'s doc_id column staged as
    ``_delete-{token}-*`` shards (see :func:`_stage_sidecar_shards`)."""
    return _stage_sidecar_shards(
        keys_df.select("doc_id"), path, token, "delete"
    )


def _with_cdc(manifest: dict, version: int, files: list[str]) -> None:
    """Record ``files`` as commit ``version``'s CDC files in the
    manifest being built (in place; no-op for an empty list)."""
    if files:
        cdc = dict(manifest.get(CDC_KEY, {}))
        cdc[str(version)] = files
        manifest[CDC_KEY] = cdc


def _scan_dv_positions(
    spark: SparkSession,
    path: str,
    manifest: dict,
    files: list[str],
    key_file_paths: tuple[str, ...],
    inline_keys: tuple[int, ...],
) -> dict[str, dict]:
    """Distributed POSITION scan for deletion vectors: one task per
    shard finds the parsed-row indices whose doc_id is in the key set
    (staged key files loaded worker-side + memoized, or a small inline
    tuple) and packs them into a bitset.  The driver collects only
    (shard, count, bitmap) — O(shards × bitmap), never a key or a row.
    Returns ``{shard: dv_entry}`` for shards with ≥1 match."""
    import pandas as pd

    from pu4spark_spark.sources.lake.source import register_pyds

    register_pyds(spark)
    rows = [(f, _shard_path(path, manifest, f)) for f in files]
    sdf = spark.createDataFrame(rows, "name string, full string")
    sdf = sdf.repartition(min(len(rows), 64))

    def scan(batches):
        from pu4spark_spark.sources.lake.protocol import (
            _dv_pack,
            _load_delete_keys,
        )

        keys = set(inline_keys)
        for kp in key_file_paths:
            keys |= _load_delete_keys(kp)
        for pdf in batches:
            out = {"name": [], "n": [], "b": []}
            for name, full in zip(pdf["name"], pdf["full"]):
                positions = []
                size = 0
                if full.endswith(".parquet"):
                    import pyarrow.parquet as pq

                    pf = pq.ParquetFile(full)
                    if "doc_id" in pf.schema_arrow.names:
                        for batch in pf.iter_batches(
                            columns=["doc_id"], batch_size=65536
                        ):
                            for v in batch.column("doc_id").to_pylist():
                                if v in keys:
                                    positions.append(size)
                                size += 1
                    else:
                        size = pf.metadata.num_rows
                    pf.close()
                else:
                    import json as _j

                    with open(full) as fh:
                        for line in fh:
                            if not line.strip():
                                continue
                            if _j.loads(line).get("doc_id") in keys:
                                positions.append(size)
                            size += 1
                if positions:
                    e = _dv_pack(positions, size)
                    out["name"].append(name)
                    out["n"].append(e["n"])
                    out["b"].append(e["b"])
            yield pd.DataFrame(out)

    res = sdf.mapInPandas(scan, "name string, n bigint, b string")
    return {
        r["name"]: {"n": int(r["n"]), "b": r["b"]}
        for r in res.collect()
    }


def delete_from_jsonl_dir(
    path: str,
    doc_ids,
    base_version: int | None = None,
    *,
    spark: SparkSession | None = None,
    cdf: bool = False,
    deletion_vectors: bool = False,
) -> int:
    """Row-level DELETE on the mini-lake — the last table-format
    primitive it lacked: commit a new manifest version whose shard list
    is UNCHANGED (shards are immutable) plus a tombstone ledger entry
    ``{"v": this_version, "ids": [doc_ids]}`` — sequence-number scoped:
    it applies to every shard added by an EARLIER commit.  Every
    reader — batch, time travel, streaming — applies tombstones at scan
    time (:func:`_iter_jsonl`); snapshots BEFORE this version are
    untouched (their manifests carry the old ledger); compaction
    rewrites live rows only and so reclaims the space physically, after
    which vacuum drops the old shards.

    A delete commits through the same create-if-absent OCC gate as
    every append, so a delete racing an append has exactly one winner
    (``ManifestCommitConflict`` for the loser).  ``base_version`` pins
    the snapshot this delete was planned against (None = latest).

    Scale: the keys land in DELETE FILES (``_delete-*.jsonl``), not in
    the manifest — the manifest entry carries only file names + a
    count, so commit metadata is O(1) in the key count and every
    subsequent commit re-serializes paths, never keys (Iceberg
    equality-delete files / Delta deletion vectors).  ``doc_ids`` may
    be a DataFrame, in which case the key shards are written by a
    DISTRIBUTED job and the driver never materializes a single key —
    the 100 TB daily-CDC shape; an iterable writes one driver-side key
    file (the bounded metadata-scale path).  The manifest claim itself
    stays a pure-metadata commit either way.  Returns the new
    version.

    ``deletion_vectors=True`` (requires ``spark``) records the
    deletions as per-shard POSITIONAL BITMAPS (``_dv`` — Delta's
    deletion vectors) instead of a ledger entry: one distributed
    position scan at delete time, then every read applies a pure
    row-index mask — no key files loaded, no per-row membership test.
    Trade-off vs the ledger: the delete pays an O(table) scan up
    front (the ledger's commit is O(keys)), every subsequent read is
    strictly cheaper, and ``purge_jsonl_dir`` physically reclaims the
    rows by rewriting only the DV-carrying shards.

    ``cdf=True`` (requires ``spark``) additionally stages the deleted
    rows' PRE-IMAGES as commit-time change-data-feed files
    (``_cdc-*``, Delta's _change_data): one distributed join of the
    base snapshot against the key set — the scan Delta also pays when
    CDF is enabled on DELETE, turning the otherwise pure-metadata
    commit into an O(matched data) one.  Downstream CDF readers
    (:func:`table_changes_jsonl_dir`, the change-feed stream) then
    serve this commit from its CDC files exactly."""
    import json as _json
    import uuid as _uuid

    base = (
        base_version
        if base_version is not None
        else _latest_manifest_version(path)
    )
    if base <= 0:
        raise ValueError(
            f"delete_from_jsonl_dir: no committed version under {path}"
        )
    if cdf and spark is None:
        raise ValueError("delete_from_jsonl_dir: cdf=True requires spark")
    version = base + 1
    manifest = _manifest_at(path, base)
    _check_features(manifest)  # refuse unknown table features
    files = sorted(_manifest_files(manifest))
    # stage the key set as delete file(s) in the table dir: '_'-prefixed
    # (invisible to listing readers) and referenced by no manifest until
    # the claim below lands — same invisibility discipline as staged
    # data shards.
    token = _uuid.uuid4().hex[:8]
    key_files: list[str] = []
    n_keys = 0
    if isinstance(doc_ids, DataFrame):
        key_files, n_keys = _stage_key_shards(doc_ids, path, token)
    else:
        ids = sorted({int(i) for i in doc_ids})
        n_keys = len(ids)
        if ids:
            name = f"_delete-{token}.jsonl"
            _write_atomic(
                os.path.join(path, name),
                "".join(
                    _json.dumps({"doc_id": i}) + "\n" for i in ids
                ),
            )
            key_files.append(name)

    # cdf: stage the deleted rows' pre-images as this commit's CDC
    # files — the pinned base read joined to the key set, tagged
    cdc_files: list[str] = []
    if cdf and key_files and files:
        register_pyds(spark)
        keys_df = (
            doc_ids.select("doc_id")
            if isinstance(doc_ids, DataFrame)
            else spark.createDataFrame(
                [(int(i),) for i in doc_ids], "doc_id bigint"
            )
        )
        pre = (
            spark.read.format("jsonl_docs")
            .option("path", path)
            .option("version", base)
            .load()
            .join(F.broadcast(keys_df.distinct()), "doc_id", "inner")
            .withColumn("_change_type", F.lit("delete"))
        )
        cdc_files, n_cdc = _stage_sidecar_shards(pre, path, token, "cdc")
        if n_cdc == 0:
            # the keys matched ZERO live rows: a ledger-growing commit
            # with no CDC files would later make the change-feed
            # stream raise "carries no CDC files" for a commit the
            # user did run with cdf=True — and the tombstones are dead
            # weight anyway (earlier shards are immutable, so keys
            # that kill nothing at base can never kill anything).
            # Drop the staged key files and commit a pure-metadata
            # delete: CDF readers classify it metadata-only, exactly
            # right for zero changed rows.
            _remove_files(path, key_files)
            key_files = []

    # DELETION VECTORS (Delta's DVs): instead of a ledger entry whose
    # key files every scan replays as a membership test, run ONE
    # distributed position scan now and record per-shard row-index
    # bitmaps — reads then apply a pure positional mask (no key
    # loading, no per-row hashing).  The key files are scan INPUTS
    # only and are reclaimed after the commit.
    dv_new: dict[str, dict] = {}
    if deletion_vectors:
        if spark is None:
            raise ValueError(
                "delete_from_jsonl_dir: deletion_vectors=True "
                "requires spark (the position scan is a distributed "
                "job)"
            )
        if key_files and files:
            # prune the scan with the doc_id ZONEMAP first: shards
            # whose recorded [min, max] cannot hold any key are never
            # opened, so a targeted delete's position scan costs
            # O(candidate shards), not O(table) — the same stats the
            # reader prunes with (advisory: no entry → scan it).  The
            # key hull is one bounded job for DataFrame keys (1-row
            # scalar) and free for iterables.
            if isinstance(doc_ids, DataFrame):
                hull = doc_ids.agg(
                    F.min("doc_id"), F.max("doc_id")
                ).collect()[0]
                kmin, kmax = hull[0], hull[1]
            else:
                srt = sorted({int(i) for i in doc_ids})
                kmin = srt[0] if srt else None
                kmax = srt[-1] if srt else None
            scan_files = files
            if kmin is not None:
                from pu4spark_spark.sources.lake.checkpoint import (
                    assemble_stats,
                )

                stats = assemble_stats(path, families={"zonemap"})
                scan_files = [
                    f
                    for f in files
                    if not (
                        isinstance(stats.get(f), list)
                        and stats[f][0] is not None
                        and (stats[f][0] > kmax or stats[f][1] < kmin)
                    )
                ]
            if scan_files:
                dv_new = _scan_dv_positions(
                    spark,
                    path,
                    manifest,
                    scan_files,
                    tuple(os.path.join(path, kf) for kf in key_files),
                    (),
                )

    new_manifest = {f: manifest[f] for f in files}
    # carry reserved keys other than the ledger (e.g. the streaming
    # sink's _txn idempotence marker) through the metadata commit
    for k, v in manifest.items():
        if k.startswith("_") and k != TOMBSTONE_KEY:
            new_manifest[k] = v
    _with_cdc(new_manifest, version, cdc_files)
    if cdc_files:
        _stamp_features(new_manifest, "change-data-feed")
    new_manifest[OP_KEY] = "delete"
    tombs = _tombstones_of(manifest)
    if deletion_vectors:
        # ledger untouched — the deletions live as positional bitmaps,
        # merged (bitwise OR) into any existing per-shard vectors
        if dv_new:
            dvs = _dv_of(manifest)
            for f, e in dv_new.items():
                dvs[f] = _dv_merge(dvs.get(f), e)
            new_manifest[DV_KEY] = dvs
            _stamp_features(new_manifest, "deletion-vectors")
    elif key_files and files:
        tombs = {
            "entries": [
                *tombs["entries"],
                {"v": version, "files": key_files, "n": n_keys},
            ],
            "added": dict(tombs.get("added", {})),
        }
    elif key_files:
        # empty table: the keys can tombstone nothing — reclaim now
        _remove_files(path, key_files + cdc_files)
        key_files = []
    if tombs["entries"]:
        new_manifest[TOMBSTONE_KEY] = tombs
    try:
        commit_manifest(path, base, new_manifest, "delete")
    except ManifestCommitConflict:
        # rolled back: the key files are in no committed manifest
        _remove_files(path, key_files + cdc_files)
        raise
    if deletion_vectors:
        # DV mode: the key files were position-scan INPUTS only — no
        # manifest references them, reclaim immediately (cdc files,
        # when staged, ARE referenced and stay)
        _remove_files(path, key_files)
    return version


def _stage_data_shards(
    df: DataFrame, path: str
) -> tuple[dict, dict]:
    """Stage ``df`` as data shards IN the live table dir, invisible to
    every reader: the transactional writer lands them in a sibling
    stage dir (two concurrent merges must not clobber each other's
    staging — their claims serialize; their staging must too), then a
    two-step move (underscore temps first, then renames to final UUID
    names no committed manifest references — same discipline as
    compaction).  Returns ``(staged {name: rows}, stage _STATS)``."""
    import json as _json
    import shutil
    import uuid as _uuid

    stage = path + f".merge-stage-{_uuid.uuid4().hex[:8]}"
    w = (
        df.write.format("jsonl_docs")
        .option("path", stage)
        # the staged rows land in the REAL table: its CHECK
        # constraints must hold here, where a violation can still
        # fail the merge before any claim
        .option("constraints_from", path)
    )
    # ... and under the REAL table's PHYSICAL keys: the stage dir has
    # no manifest, so a renamed table's mapping must ride in by option
    mapping = _mapping_of(
        _manifest_at(path, _latest_manifest_version(path))
    )
    if mapping:
        w = w.option("physical_map", _json.dumps(mapping))
    w.mode("overwrite").save()
    with open(os.path.join(stage, "_MANIFEST")) as fh:
        staged = {
            f: v
            for f, v in _json.load(fh).items()
            if not f.startswith("_")
        }
    from pu4spark_spark.sources.lake.checkpoint import assemble_stats

    stage_stats = assemble_stats(stage)
    for f in staged:
        os.replace(
            os.path.join(stage, f), os.path.join(path, "_tmp-merge-" + f)
        )
    for f in staged:
        os.replace(
            os.path.join(path, "_tmp-merge-" + f), os.path.join(path, f)
        )
    shutil.rmtree(stage, ignore_errors=True)
    return staged, stage_stats


def merge_into_jsonl_dir(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    max_retries: int = 3,
    *,
    when_matched_update: bool | str = True,
    when_matched_delete: bool | str = False,
    when_not_matched_insert: bool | str = True,
    update_set: dict[str, str] | None = None,
    cdf: bool = False,
) -> int:
    """MERGE INTO on ``doc_id`` in ONE atomic commit — the full
    conditional-clause contract of the SQL MERGE a table-format user
    writes::

        WHEN MATCHED [AND <when_matched_update>] THEN
            UPDATE SET <update_set or whole source row>
        WHEN MATCHED [AND <when_matched_delete>] THEN DELETE
        WHEN NOT MATCHED [AND <when_not_matched_insert>] THEN INSERT

    Clause predicates are SQL boolean expressions over the aliased
    source (``s.*``) and target (``t.*``) rows; booleans mean
    always/never.  Matched rows are tested against the UPDATE clause
    first, then DELETE (first match wins — a matched row neither
    clause takes is left UNTOUCHED, the key MERGE-vs-upsert
    difference).  ``update_set`` maps target columns to SQL
    expressions (default: replace with the whole source row).

    The DEFAULT arguments are the whole-row upsert fast path: every
    source key tombstoned + every source row inserted, with NO join
    against the target — the tombstone entry references the merge's
    own staged shards as its delete files, so the driver handles file
    names only (no collect, no key materialization; manifest
    O(#shards) per commit regardless of key count).

    CLAUSE merges must know which source keys exist in the target, so
    they run one distributed left join of source against the
    base-snapshot table (the same scan Delta/Iceberg MERGE pays) —
    updates/deletes become dedicated ``_delete-*`` key shards (written
    distributedly), inserts become staged data shards, and everything
    lands under one manifest claim: no reader can observe the delete
    without the insert.  Tombstone entries only apply to shards added
    by EARLIER commits ("v > added"), so the freshly staged rows are
    exempt by construction.

    Concurrency: the fast path's claim loop is metadata-only (losing
    to a concurrent append just re-claims against the new base — the
    upsert outcome is unaffected by it).  A CLAUSE merge's
    matched/not-matched split is only valid for the snapshot it was
    planned against, so a lost claim raises ``ManifestCommitConflict``
    immediately (Delta's ConcurrentAppendException) and the caller
    re-runs the merge — a silent metadata retry could classify a
    concurrently-inserted key as not-matched and land it twice.
    Returns the committed version."""
    register_pyds(spark)  # also pins the active session for this thread
    clause_path = not (
        when_matched_update is True
        and when_matched_delete is False
        and when_not_matched_insert is True
        and update_set is None
    )
    # cdf needs per-row change classification (pre/post images), which
    # only the clause path's join computes — a cdf upsert routes there
    # (same outcome; it pays the target join, exactly Delta's CDF cost)
    if clause_path or cdf:
        return _merge_clauses(
            spark,
            df,
            path,
            when_matched_update,
            when_matched_delete,
            when_not_matched_insert,
            update_set,
            cdf,
        )
    staged, stage_stats = _stage_data_shards(df, path)
    last: Exception | None = None
    for _ in range(max_retries):
        base = _latest_manifest_version(path)
        version = base + 1
        manifest = _manifest_at(path, base)
        _check_features(manifest)  # refuse unknown table features
        files = sorted(_manifest_files(manifest))
        new_manifest = {f: manifest[f] for f in files}
        for k, v in manifest.items():
            if k.startswith("_") and k != TOMBSTONE_KEY:
                new_manifest[k] = v
        new_manifest[OP_KEY] = "merge"
        tombs = _tombstones_of(manifest)
        entries = list(tombs["entries"])
        if staged and files:
            # the staged shards double as the entry's delete files:
            # every row they hold IS a source key (self-exempt via
            # "v > added" — they are added at this very version)
            entries.append(
                {
                    "v": version,
                    "files": sorted(staged),
                    "n": sum(staged.values()),
                }
            )
        new_manifest.update(staged)
        if entries:
            # the staged shards share the entry's version: "v > added"
            # exempts exactly the replacement rows from their own merge
            added = dict(tombs.get("added", {}))
            added.update({f: version for f in staged})
            new_manifest[TOMBSTONE_KEY] = {
                "entries": entries,
                "added": added,
            }
        try:
            return commit_manifest(
                path, base, new_manifest, "merge", stage_stats
            )
        except ManifestCommitConflict as exc:
            last = exc  # lost the claim: re-claim against the new base
    # every claim lost: roll back the staged shards (in no committed
    # manifest — invisible all along) and surface the conflict
    _remove_files(path, staged)
    assert last is not None
    raise last


def _merge_clauses(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    when_matched_update: bool | str,
    when_matched_delete: bool | str,
    when_not_matched_insert: bool | str,
    update_set: dict[str, str] | None,
    cdf: bool = False,
    base_version: int | None = None,
) -> int:
    """Conditional-clause MERGE (see :func:`merge_into_jsonl_dir`):
    plan against the base snapshot, split the source by one distributed
    left join, stage inserts as data shards and update/delete keys as
    ``_delete-*`` key shards, commit under ONE claim pinned to
    ``base + 1`` — a lost claim rolls everything back and raises.
    ``cdf=True`` also stages the commit's typed change rows
    (update_preimage/update_postimage/delete/insert) as ``_cdc-*``
    files from the SAME classification join — no extra scan."""
    import uuid as _uuid

    from pyspark.storagelevel import StorageLevel

    register_pyds(spark)
    # an explicit pin (UPDATE sugar: its row set was scanned at that
    # base) makes the whole plan→claim span one snapshot; a rival
    # landing anywhere inside it fails the base+1 claim loudly
    base = (
        base_version
        if base_version is not None
        else _latest_manifest_version(path)
    )
    if base <= 0:
        raise ValueError(
            f"merge_into_jsonl_dir: no committed version under {path}"
        )
    version = base + 1

    def _pred(p: bool | str):
        return F.lit(p) if isinstance(p, bool) else F.expr(p)

    src_cols = df.columns
    tgt = (
        spark.read.format("jsonl_docs")
        .option("path", path)
        .option("version", base)
        .load()
    )
    # ONE distributed join classifies every source row; persisted
    # because three consumers (update rows, insert rows, tombstone
    # keys) read it — without the pin each would re-run the join scan.
    # At scale Spark picks the strategy (AQE broadcasts a small source).
    joined = df.alias("s").join(
        tgt.alias("t"),
        F.col("s.doc_id") == F.col("t.doc_id"),
        "left",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        is_matched = F.col("t.doc_id").isNotNull()
        take_update = is_matched & _pred(when_matched_update)
        # first match wins: DELETE only sees rows UPDATE declined
        take_delete = (
            is_matched
            & ~_pred(when_matched_update)
            & _pred(when_matched_delete)
        )
        take_insert = ~is_matched & _pred(when_not_matched_insert)
        sets = update_set or {}
        upd_rows = joined.filter(take_update).select(
            *[
                (
                    F.expr(sets[c]) if c in sets else F.col(f"s.{c}")
                ).alias(c)
                for c in src_cols
            ]
        )
        ins_rows = joined.filter(take_insert).select(
            *[F.col(f"s.{c}").alias(c) for c in src_cols]
        )
        tomb_keys = joined.filter(take_update | take_delete).select(
            F.col("s.doc_id").alias("doc_id")
        )
        staged, stage_stats = _stage_data_shards(
            upd_rows.unionByName(ins_rows), path
        )
        token = _uuid.uuid4().hex[:8]
        key_files, n_keys = _stage_key_shards(tomb_keys, path, token)
        cdc_files: list[str] = []
        if cdf:
            tgt_cols = [
                F.col(f"t.{c}").alias(c) for c in tgt.columns
            ]

            def typed(rows: DataFrame, change: str) -> DataFrame:
                return rows.withColumn("_change_type", F.lit(change))

            cdc_df = (
                typed(
                    joined.filter(take_update).select(*tgt_cols),
                    "update_preimage",
                )
                .unionByName(
                    typed(upd_rows, "update_postimage"),
                    allowMissingColumns=True,
                )
                .unionByName(
                    typed(
                        joined.filter(take_delete).select(*tgt_cols),
                        "delete",
                    ),
                    allowMissingColumns=True,
                )
                .unionByName(
                    typed(ins_rows, "insert"),
                    allowMissingColumns=True,
                )
            )
            cdc_files, _ = _stage_sidecar_shards(
                cdc_df, path, token, "cdc"
            )
    finally:
        joined.unpersist()
    manifest = _manifest_at(path, base)
    _check_features(manifest)  # refuse unknown table features
    files = sorted(_manifest_files(manifest))
    new_manifest = {f: manifest[f] for f in files}
    for k, v in manifest.items():
        if k.startswith("_") and k != TOMBSTONE_KEY:
            new_manifest[k] = v
    _with_cdc(new_manifest, version, cdc_files)
    if cdc_files:
        _stamp_features(new_manifest, "change-data-feed")
    new_manifest[OP_KEY] = "merge"
    tombs = _tombstones_of(manifest)
    entries = list(tombs["entries"])
    if key_files and files:
        entries.append({"v": version, "files": key_files, "n": n_keys})
    elif key_files:
        _remove_files(path, key_files)
        key_files = []
    new_manifest.update(staged)
    if entries:
        added = dict(tombs.get("added", {}))
        added.update({f: version for f in staged})
        new_manifest[TOMBSTONE_KEY] = {"entries": entries, "added": added}
    try:
        return commit_manifest(path, base, new_manifest, "merge", stage_stats)
    except ManifestCommitConflict:
        # the matched/not-matched split is stale: roll everything back
        _remove_files(path, [*staged, *key_files, *cdc_files])
        raise


def update_jsonl_dir(
    spark: SparkSession,
    path: str,
    set: dict[str, str],
    where: str | bool = True,
    *,
    cdf: bool = False,
) -> int:
    """``UPDATE <table> SET col = expr, ... WHERE pred`` — the thin
    Delta-parity sugar over the clause MERGE (Delta's own UPDATE is a
    rewrite of matched files; here it is a tombstone+insert commit,
    the same shape a matched-update merge lands).

    ``set`` maps column names to SQL expressions over the row's OLD
    values (``n_chars * 2``, ``upper(lang)``); ``where`` is a SQL
    boolean over the table's columns (True = every row).  The matched
    row set is computed against the LATEST snapshot, then committed
    through :func:`_merge_clauses` as MATCHED-UPDATE-only — so a
    concurrent commit landing between the scan and the claim raises
    :class:`ManifestCommitConflict` (the update's row set is only
    valid for the snapshot it scanned; a silent re-claim could kill a
    rival's fresher rows with stale values — the lost-update hazard
    the fast merge path tolerates only because ITS source rows are
    caller-supplied, not snapshot-derived).  ``cdf=True`` stages
    update_preimage/update_postimage CDC files, Delta's UPDATE feed
    shape.  Returns the committed version; an empty match commits
    nothing and returns the current version.

    Scale: one distributed snapshot scan filtered by ``where`` (filter
    pushdown + zonemap pruning apply), new values computed in-plan,
    then the clause merge's one target join — O(matched + table scan),
    identical to Delta's UPDATE cost."""
    register_pyds(spark)
    unknown = [c for c in set if c not in _fields_of_ddl(
        _effective_schema_ddl({"path": path})
    )]
    if unknown:
        raise ValueError(
            f"update_jsonl_dir: SET names unknown columns {unknown}"
        )
    # ONE base pin spans scan → claim: the filtered snapshot, the
    # clause merge's target join, and the base+1 claim all read this
    # version, so any rival commit inside the span loses the claim and
    # raises (never a stale-values overwrite of fresher rows)
    base = _latest_manifest_version(path)
    snap = (
        spark.read.format("jsonl_docs")
        .option("path", path)
        .option("version", base)
        .load()
    )
    if where is not True:
        snap = snap.filter(F.expr(where))
    src = snap.withColumns({c: F.expr(e) for c, e in set.items()})
    # empty match: commit nothing (a version bump with an empty
    # tombstone entry would be ballast; see the DELETE zero-match rule)
    if not src.take(1):
        return base
    return _merge_clauses(
        spark,
        src,
        path,
        when_matched_update=True,
        when_matched_delete=False,
        when_not_matched_insert=False,
        update_set=None,
        cdf=cdf,
        base_version=base,
    )
