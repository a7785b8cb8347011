"""Batch CHANGE DATA FEED (Delta's ``table_changes``): exact
serve from commit-time CDC files, else derivation from per-commit
file diffs with size-gated broadcast joins."""

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
    DOCS_DDL,
    OP_KEY,
    SCHEMA_KEY,
    _cell_converter,
    _dv_of,
    _fields_of_ddl,
    _latest_manifest_version,
    _manifest_at,
    _manifest_files,
    _mapping_of,
    _rewrite_marker_valid,
    _shard_path,
    _tomb_sources_for,
    _tombstones_of,
    _typed_fields_of_ddl,
    _version_as_of,
)
from pu4spark_spark.sources.lake.source import (
    register_pyds,
)



#: broadcast-hint gate for the CDF derivation joins — aligned with
#: Spark's default ``autoBroadcastJoinThreshold`` territory (10 MB
#: default, commonly raised; 32 MB of raw JSONL decodes well under
#: executor broadcast budgets).  Past this, AQE decides from runtime
#: stats instead of a hard-coded hint.
CDF_BROADCAST_MAX_BYTES = 32 * 1024 * 1024


def _files_bytes_under(
    path: str, manifest, files, limit: int
) -> bool:
    """True iff the commit files' total on-disk size is under
    ``limit`` — the driver-side, job-free size signal that gates CDF
    broadcast hints.  Missing files (vacuumed between listing and
    stat) count as over-limit: fail safe toward the shuffle join."""
    total = 0
    for f in files:
        try:
            total += os.path.getsize(_shard_path(path, manifest, f))
        except OSError:
            return False
        if total >= limit:
            return False
    return True


def _read_sidecar_df(
    spark: SparkSession, paths: list[str], ddl: str
) -> DataFrame:
    """Distributed read of underscore-prefixed sidecar JSONL files
    (``_delete-*`` key files, ``_cdc-*`` change files) with the given
    DDL.  ``spark.read.json`` cannot serve this: Spark's file index
    hard-filters underscore-prefixed paths as hidden even when named
    explicitly — and the sidecars are '_'-prefixed BY DESIGN
    (invisible to listing readers until manifest metadata references
    them).  So the file list is parallelized (one file per task — the
    same per-shard parallelism the scan-time tombstone application
    uses) and each task parses its file Arrow-batched via
    ``mapInPandas``; executors open the paths directly, the same
    shared-filesystem assumption the whole mini-lake makes."""
    # paren-aware name→type map — a naive ``ddl.split(', ')`` shears
    # parameterized types like ``decimal(10,2)`` and KeyErrors below
    typed = _typed_fields_of_ddl(ddl)
    fields = tuple(name for name, _ in typed)
    types = dict(typed)
    # typed-cell converters (decimal/timestamp/date/binary): the JSONL
    # form is a quoted string; Arrow needs the Python object form
    convs = {
        name: c
        for name, t in typed
        if (c := _cell_converter(t)) is not None
    }
    paths_df = spark.createDataFrame(
        [(p,) for p in paths], "p string"
    ).repartition(len(paths))

    def _parse(batches):
        import pandas as pd

        for b in batches:
            for p in b["p"]:
                rows = pd.read_json(
                    p, lines=True, dtype=False, convert_dates=False
                )
                out = {}
                for c in fields:
                    if len(rows) and c in rows.columns:
                        col = rows[c]
                        if types[c] == "bigint":
                            col = col.astype("Int64")
                        elif c in convs:
                            conv = convs[c]
                            col = col.map(conv, na_action="ignore")
                        out[c] = col
                    else:
                        out[c] = pd.Series(
                            [None] * len(rows),
                            dtype="Int64"
                            if types[c] == "bigint"
                            else "object",
                        )
                yield pd.DataFrame(out)

    return paths_df.mapInPandas(_parse, ddl)


def _read_key_files_df(
    spark: SparkSession, path: str, key_files: list[str], manifest=None
) -> DataFrame:
    """Tombstone key files as a distinct ``doc_id bigint`` DataFrame
    (see :func:`_read_sidecar_df`).  Works uniformly for a MERGE's key
    source too (its entry references its own staged data shards —
    full rows, of which only doc_id is projected)."""
    return _read_sidecar_df(
        spark,
        [_shard_path(path, manifest, f) for f in key_files],
        "doc_id bigint",
    ).distinct()


def table_changes_jsonl_dir(
    spark: SparkSession,
    path: str,
    starting_version: int | None = None,
    ending_version: int | None = None,
    *,
    starting_timestamp: int | None = None,
    ending_timestamp: int | None = None,
) -> DataFrame:
    """Batch CHANGE DATA FEED — Delta's ``table_changes(tbl, a, b)``:
    one DataFrame of every row-level change committed in
    ``(starting_version, ending_version]``, each row tagged
    ``_change_type`` ∈ {``insert``, ``update_preimage``,
    ``update_postimage``, ``delete``} and ``_commit_version``.  The
    version STREAM delivers post-state diffs; CDF is the batch twin a
    downstream sync/audit job wants: it reconstructs pre-images too,
    so a consumer can apply the feed transactionally or diff old vs
    new values.

    Derivation per data commit v (rewrite commits — valid ``.rewrite``
    marker — are dataChange=false and contribute nothing):

    - ``added(v)``   = shard files in manifest v but not v-1, read
      directly as JSONL with the commit's effective schema (no
      snapshot scan — the per-commit file set, exactly what
      Delta/Iceberg CDF readers cost).
    - ``keys(v)``    = the commit's tombstone-entry key files (a
      DELETE's ``_delete-*`` shards; a MERGE's entry references its
      own staged shards, whose rows ARE the source keys).
    - ``pre(v)``     = rows live at v-1 whose doc_id ∈ keys(v) — the
      pinned snapshot read joined to the key set (AQE broadcasts the
      small side).
    - classification: pre-row with a same-key row in added(v) →
      ``update_preimage`` (its replacement → ``update_postimage``);
      pre-row without → ``delete``; added row without a live pre-image
      → ``insert`` (covers plain appends AND a merge's brand-new keys,
      which the fast path tombstones but which had nothing to kill).

    Scale: the feed is a union of per-commit file reads + one
    broadcast-key join per DML commit — O(changed data), never
    O(table).  Schema evolution inside the range null-extends via
    ``unionByName(allowMissingColumns=True)``, same contract as the
    version stream's fresh-subscriber shape."""
    import json as _json

    register_pyds(spark)
    # TIMESTAMP range form (Delta's startingTimestamp/endingTimestamp,
    # nanosecond stamps): resolved to versions by the same canonical
    # as-of rule TIME TRAVEL uses.  startingTimestamp means "changes
    # strictly AFTER this instant", so it resolves to the last commit
    # at-or-before the stamp (exclusive start); an endingTimestamp
    # before every retained commit raises via _version_as_of.
    if starting_timestamp is not None:
        if starting_version is not None:
            raise ValueError(
                "table_changes: pass starting_version OR "
                "starting_timestamp, not both"
            )
        try:
            starting_version = _version_as_of(path, starting_timestamp)
        except ValueError:
            starting_version = 0  # predates every commit: full feed
    if starting_version is None:
        raise ValueError(
            "table_changes: starting_version or starting_timestamp "
            "is required"
        )
    if ending_timestamp is not None:
        if ending_version is not None:
            raise ValueError(
                "table_changes: pass ending_version OR "
                "ending_timestamp, not both"
            )
        ending_version = _version_as_of(path, ending_timestamp)
    end = (
        ending_version
        if ending_version is not None
        else _latest_manifest_version(path)
    )
    if starting_version > end:
        raise ValueError(
            f"table_changes: starting_version {starting_version} > "
            f"ending_version {end}"
        )
    end_m = _manifest_at(path, end)
    from pu4spark_spark.sources.lake.protocol import _check_features

    _check_features(end_m)  # refuse unknown table features
    end_ddl = end_m.get(SCHEMA_KEY, DOCS_DDL)
    out_ddl = end_ddl + ", _change_type string, _commit_version bigint"
    # COLUMN MAPPING: the feed serves the END schema's names for the
    # whole range (Delta's mapping-mode CDF contract — physical id is
    # the column's identity).  Each commit's piece is projected from
    # its own logical names to the end names via matching physical
    # keys; a column the end schema dropped vanishes from the feed, a
    # column it added later null-extends via unionByName.
    end_map = _mapping_of(end_m)
    end_fields = _fields_of_ddl(end_ddl)
    phys_to_end = {end_map.get(f, f): f for f in end_fields}

    def _to_end(df: DataFrame, commit_m: dict, ddl: str) -> DataFrame:
        cmap = _mapping_of(commit_m)
        cols = []
        for c in _fields_of_ddl(ddl):
            e = phys_to_end.get(cmap.get(c, c))
            if e is not None:
                cols.append(F.col(c).alias(e))
        extra = [
            c
            for c in ("_change_type", "_commit_version")
            if c in df.columns
        ]
        return df.select(*cols, *extra)

    pieces: list[DataFrame] = []
    for v in range(starting_version + 1, end + 1):
        if _rewrite_marker_valid(path, v):
            continue  # compaction/OPTIMIZE: rewrites rows, changes none
        m_v = _manifest_at(path, v)
        # RESTORE guard (mirrors both stream readers): a restore can
        # un-delete rows purely in metadata (ledger shrinks, file set
        # unchanged — invisible to the added/keys derivation below) or
        # roll back an append (re-added shards would replay as
        # duplicate inserts with no retractions).  The batch feed is
        # documented as EXACT, so refuse rather than silently emit a
        # wrong feed — consumers restart their sync from a fresh
        # snapshot, Delta's own contract for non-additive history.
        if m_v.get(OP_KEY) == "restore":
            raise ValueError(
                f"table_changes: version {v} is a RESTORE commit; the "
                "change feed cannot represent a history rollback "
                "exactly — re-sync from a snapshot read at or after "
                f"version {v} and resume the feed from there"
            )
        # same hazard without the op stamp: any commit whose tombstone
        # ledger SHRANK versus its parent (and which is not a rewrite,
        # handled above) un-deleted rows in metadata
        if len(_tombstones_of(m_v)["entries"]) < len(
            _tombstones_of(_manifest_at(path, v - 1))["entries"]
        ):
            raise ValueError(
                f"table_changes: version {v} shrank the tombstone "
                "ledger without a rewrite marker (metadata un-delete); "
                "the exact change feed cannot represent it — re-sync "
                "from a snapshot read"
            )
        ddl = m_v.get(SCHEMA_KEY, DOCS_DDL)
        # commit-time CDC files (DML run with cdf=True) are EXACT and
        # cheaper than derivation — no snapshot join; serve them
        cdc_own = m_v.get(CDC_KEY, {}).get(str(v), [])
        if cdc_own:
            pieces.append(
                _to_end(
                    _read_sidecar_df(
                        spark,
                        [_shard_path(path, m_v, f) for f in cdc_own],
                        ddl + ", _change_type string",
                    ).withColumn(
                        "_commit_version", F.lit(v).cast("bigint")
                    ),
                    m_v,
                    ddl,
                )
            )
            continue
        m_prev = _manifest_at(path, v - 1)
        # DELETION-VECTOR commits (delete_from with
        # deletion_vectors=True, cdf=False) add no shards and no
        # ledger entries — invisible to the added/keys derivation
        # below, so without this guard the EXACT batch feed would
        # silently classify them as metadata-only and emit no delete
        # changes.  Mirror the stream reader: DV growth with no CDC
        # files is un-streamable pre-images → refuse loudly; DV
        # SHRINK without a rewrite marker (rewrites `continue`d
        # above) is a metadata un-delete → refuse like the
        # ledger-shrink check.
        dvn_v = sum(int(e.get("n", 0)) for e in _dv_of(m_v).values())
        dvn_prev = sum(
            int(e.get("n", 0)) for e in _dv_of(m_prev).values()
        )
        if dvn_v < dvn_prev:
            raise ValueError(
                f"table_changes: version {v} shrank the table's "
                "deletion vectors without a rewrite marker (metadata "
                "un-delete); the exact change feed cannot represent "
                "it — re-sync from a snapshot read"
            )
        if dvn_v > dvn_prev:
            raise ValueError(
                f"table_changes: version {v} deleted rows via "
                "deletion vectors but carries no CDC files — its "
                "pre-images cannot be derived from file diffs.  Run "
                "DELETE with cdf=True on tables that feed a change "
                "feed, or re-sync from a snapshot read at or after "
                f"version {v}"
            )
        added_files = sorted(
            set(_manifest_files(m_v)) - set(_manifest_files(m_prev))
        )
        key_files: list[str] = []
        for e in _tombstones_of(m_v)["entries"]:
            if e.get("v") == v:
                key_files.extend(e.get("files", ()))
        if not added_files and not key_files:
            continue  # metadata-only commit (schema evolve, _txn, ...)
        # raw shard JSON carries PHYSICAL keys: read with the
        # physical-named twin of the commit schema, then serve the
        # commit's LOGICAL names for the rest of the derivation
        cmap_v = _mapping_of(m_v)
        typed_v = _typed_fields_of_ddl(ddl)
        phys_ddl = ", ".join(
            f"`{cmap_v.get(nm, nm)}` {t}" for nm, t in typed_v
        )

        def _read_added(files: list[str]) -> DataFrame:
            return (
                spark.read.schema(phys_ddl)
                .json([_shard_path(path, m_v, f) for f in files])
                .select(
                    *[
                        F.col(f"`{cmap_v.get(nm, nm)}`").alias(nm)
                        for nm, _t in typed_v
                    ]
                )
            )

        if added_files:
            # a commit whose ledger already tombstones rows in its OWN
            # added shards must not feed those rows as inserts — they
            # were never visible at v.  The key_files derivation above
            # can't see such entries: it matches ``e.v == v`` exactly,
            # but a shallow clone's v1 grafts the SOURCE's ledger with
            # fractional stamps in (0, 1) that never equal an int
            # version (clone_jsonl_dir's order-preserving remap).
            # Apply the same ``entry.v > added(f)`` scoping the
            # snapshot readers use (_tomb_sources_for), grouping added
            # shards by their drop-source signature so the common case
            # (no applicable entries) stays one raw read.
            tombs_v = _tombstones_of(m_v)
            groups: dict[tuple, list[str]] = {}
            for f in added_files:
                groups.setdefault(
                    _tomb_sources_for(f, tombs_v), []
                ).append(f)
            parts = []
            for (t_ids, t_kfiles), files in groups.items():
                df = _read_added(files)
                if t_ids:
                    df = df.filter(~F.col("doc_id").isin(list(t_ids)))
                if t_kfiles:
                    dropk = _read_key_files_df(
                        spark, path, list(t_kfiles), m_v
                    )
                    if _files_bytes_under(
                        path, m_v, t_kfiles, CDF_BROADCAST_MAX_BYTES
                    ):
                        dropk = F.broadcast(dropk)
                    df = df.join(dropk, "doc_id", "left_anti")
                parts.append(df)
            added = parts[0]
            for p in parts[1:]:
                added = added.unionByName(p)
        else:
            added = spark.createDataFrame([], ddl)

        def tagged(
            df: DataFrame, change: str, v: int = v, m_v: dict = m_v,
            ddl: str = ddl,
        ) -> DataFrame:
            return _to_end(
                df.withColumn("_change_type", F.lit(change)).withColumn(
                    "_commit_version", F.lit(v).cast("bigint")
                ),
                m_v,
                ddl,
            )

        if key_files:
            keys = _read_key_files_df(spark, path, key_files, m_v)
            # SIZE-GATED broadcast: a commit's key set is usually
            # batch-sized, but a partition-wide GDPR DELETE at 100 TB
            # carries 10⁷–10⁹ keys — an unconditional broadcast hint
            # there is a driver/executor OOM.  Gate the hint on the
            # key files' on-disk byte size (the same signal Spark's
            # autoBroadcastJoinThreshold uses, known here without a
            # job); past the gate, plain equi-joins let AQE pick the
            # strategy from runtime stats.  The added-file set gates
            # the pre/post classification hints identically.
            keys_small = _files_bytes_under(
                path, m_v, key_files, CDF_BROADCAST_MAX_BYTES
            )
            added_small = _files_bytes_under(
                path, m_v, added_files, CDF_BROADCAST_MAX_BYTES
            )
            maybe_keys = F.broadcast(keys) if keys_small else keys
            pre = (
                spark.read.format("jsonl_docs")
                .option("path", path)
                .option("version", v - 1)
                .load()
                .join(maybe_keys, "doc_id", "inner")
            )
            pre_keys = pre.select("doc_id")
            post_keys = added.select("doc_id")
            if added_small:
                post_keys = F.broadcast(post_keys)
            if keys_small:
                pre_keys = F.broadcast(pre_keys)
            pieces.append(
                tagged(
                    pre.join(post_keys, "doc_id", "left_semi"),
                    "update_preimage",
                )
            )
            pieces.append(
                tagged(
                    pre.join(post_keys, "doc_id", "left_anti"),
                    "delete",
                )
            )
            pieces.append(
                tagged(
                    added.join(pre_keys, "doc_id", "left_semi"),
                    "update_postimage",
                )
            )
            pieces.append(
                tagged(
                    added.join(pre_keys, "doc_id", "left_anti"),
                    "insert",
                )
            )
        else:
            pieces.append(tagged(added, "insert"))
    if not pieces:
        return spark.createDataFrame([], out_ddl)
    feed = pieces[0]
    for p in pieces[1:]:
        feed = feed.unionByName(p, allowMissingColumns=True)
    # column order AND types: the table schema's END shape (a type
    # widen inside the range leaves earlier pieces narrow — cast up,
    # value-preserving by the widening rules), then the CDF tags
    return feed.select(
        *[
            F.col(nm).cast(t).alias(nm)
            for nm, t in _typed_fields_of_ddl(end_ddl)
        ],
        "_change_type",
        "_commit_version",
    )
