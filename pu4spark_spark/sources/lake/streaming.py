"""Streaming READERS over the mini-lake: landing-directory
file feed, version stream (commit walk with rewrite skip +
tombstone union), and the typed change-data-feed stream."""

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
    BASE_DIR_KEY,
    CDC_KEY,
    DOCS_DDL,
    OP_KEY,
    SCHEMA_KEY,
    _check_features,
    _converters_of_ddl,
    _dv_merge,
    _dv_of,
    _earliest_manifest_version,
    _effective_manifest,
    _effective_schema_ddl,
    _fields_of_ddl,
    _iter_jsonl,
    _iter_shard_rows,
    _latest_manifest_version,
    _list_shards,
    _manifest_at,
    _manifest_files,
    _mapping_of,
    _physical_fields,
    _shard_path,
    _tomb_sources_for,
    _tombstones_of,
    _typed_fields_of_ddl,
)



class JsonlDocsStreamReader(DataSourceStreamReader):
    """Incremental landing-directory feed over the same JSONL shards:
    the offset is "how many shard files (in sorted order) have been
    consumed", so each microbatch picks up exactly the files that
    arrived since the last one — the file-source contract, expressed
    through the custom-source API.

    Distribution: ``partitions(start, end)`` emits one InputPartition
    per NEW file and ``read`` runs on executor Python workers, so
    ingest fans out like the batch reader; the driver never opens a
    shard.  Offsets are durable dicts — the checkpoint replays
    ``readBetweenOffsets`` deterministically because the sorted file
    list is append-only in a landing directory.
    """

    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("jsonl_docs requires option 'path'")
        self.path = path
        # RATE LIMIT (Delta/file-source maxFilesPerTrigger at this
        # reader's offset unit — the FILE): each steady-state
        # microbatch ingests at most this many new landing shards,
        # bounding per-trigger work on a directory with a deep unread
        # backlog.  Same semantics as the versioned reader's
        # max_versions_per_trigger.  The floor seeds from
        # initialOffset (the engine calls it only on a FRESH stream),
        # so a fresh start over a deep backlog is bounded from the
        # very first trigger; afterward it tracks each planned batch's
        # end so a bounded latestOffset can never regress an offset.
        # KNOWN LIMIT: on a checkpoint RESTART the engine skips
        # initialOffset and latestOffset carries no start offset
        # (DataSourceStreamReader lacks SupportsAdmissionControl's
        # latestOffset(start, limit)), so the restart's first trigger
        # is unbounded — bounding it blind risks an end offset BELOW
        # the checkpoint, which would re-deliver files; subsequent
        # triggers are bounded once partitions() reveals the start.
        mf = options.get("max_files_per_trigger")
        self.max_files = int(mf) if mf is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError(
                "jsonl_docs: max_files_per_trigger must be >= 1"
            )
        self._rate_floor: int | None = None
        # the landing feed serves the fixed documents shape — plain
        # scalars, so every microbatch scan can yield RecordBatches
        # (guide §4: one C++ parse per shard instead of per-row
        # json.loads → tuple → pickle)
        from pu4spark_spark.sources.lake.protocol import (
            _arrow_batch_schema_of_ddl,
        )

        self._pa_target = _arrow_batch_schema_of_ddl(DOCS_DDL)
        self._fields = _fields_of_ddl(DOCS_DDL)

    def initialOffset(self) -> dict:
        # only a FRESH stream asks for this — seed the rate floor so
        # the first trigger is bounded too (a restart never lands here)
        self._rate_floor = 0
        return {"index": 0}

    def latestOffset(self) -> dict:
        total = len(_list_shards(self.path))
        if self.max_files is None or self._rate_floor is None:
            return {"index": total}
        return {"index": min(total, self._rate_floor + self.max_files)}

    def partitions(self, start: dict, end: dict):
        self._rate_floor = max(
            self._rate_floor or 0, start["index"], end["index"]
        )
        files = _list_shards(self.path)[start["index"] : end["index"]]
        return [InputPartition(os.path.join(self.path, f)) for f in files]

    def read(self, partition):
        # landing shards may be JSONL or parquet — dispatch by
        # extension, fixed documents shape either way; served as
        # RecordBatches (plain-scalar schema, always batch-safe)
        from pu4spark_spark.sources.lake.protocol import (
            _iter_shard_batches,
        )

        yield from _iter_shard_batches(
            partition.value, self._fields, self._pa_target
        )

    def commit(self, end: dict) -> None:
        pass


class JsonlDocsVersionStreamReader(DataSourceStreamReader):
    """SNAPSHOT STREAMING over the manifest commit log — the
    stream-from-table semantics a lake source provides (Delta/Iceberg
    incremental read), on the engine's own connector: the offset is the
    COMMITTED MANIFEST VERSION, and each microbatch reads exactly the
    shards that version N+1..M added over version N (set difference of
    two manifest snapshots).  Files in the directory but in NO
    committed manifest — in-flight staging, orphans from failed or
    CONFLICTED commits (``ManifestCommitConflict``) — are invisible,
    which the listing-offset twin (:class:`JsonlDocsStreamReader`)
    cannot promise.  Composes with the optimistic-concurrency writer:
    a concurrent append lands as the next version and the next
    microbatch picks up precisely its shards.

    The checkpoint replays ``partitions(start, end)`` deterministically
    because manifests are immutable once claimed (create-if-absent) and
    appends never delete — the same property that makes batch time
    travel sound."""

    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("jsonl_docs requires option 'path'")
        self.path = path
        # Delta's startingVersion: stream changes FROM this commit
        # (inclusive), skipping the initial snapshot.  Default 0 =
        # fresh subscriber = initial snapshot at the earliest kept
        # version, then diffs (see partitions()).
        sv = options.get("starting_version")
        self.starting_version = int(sv) if sv is not None else 0
        # Delta's ignoreDeletes: an append-only stream cannot RETRACT
        # rows, so a DELETE/MERGE commit (tombstone ledger grew) fails
        # the stream loudly unless the consumer opts in — with the
        # opt-in, removals are simply not propagated and any shards the
        # commit added (merge upserts) still stream as appends.
        self.ignore_deletes = (
            options.get("ignore_deletes", "").lower() == "true"
        )
        #: the stream's schema, fixed at query start (latest commit's):
        #: commits AFTER the fix point with a schema this one does not
        #: extend fail the stream loudly in partitions() — Delta's
        #: restart-on-schema-change contract.  HISTORY needs no check
        #: under COLUMN MAPPING: physical ids never change, so
        #: ``phys_fields`` reads every epoch's shards (renamed columns
        #: by stable key, dropped ones ignored, later adds null).
        _m = _effective_manifest(options)
        _check_features(_m)  # refuse unknown required table features
        _ddl = _m.get(SCHEMA_KEY, DOCS_DDL)
        self.fields = _fields_of_ddl(_ddl)
        self.typed_fields = _typed_fields_of_ddl(_ddl)
        self.phys_fields = _physical_fields(
            self.fields, _mapping_of(_m)
        )
        self.convs = _converters_of_ddl(_ddl)
        self.schema_fixed_at = _latest_manifest_version(self.path)
        # RATE LIMIT (Delta's maxFilesPerTrigger, commit-granular —
        # the version is this source's offset and a commit is its
        # atomicity unit): each steady-state microbatch advances at
        # most this many versions, bounding per-trigger work on a
        # table with deep unread history.  The floor seeds from
        # initialOffset, so a FRESH stream's first trigger is bounded
        # too; a checkpoint RESTART's first trigger stays unbounded
        # (latestOffset carries no start offset in this API — see the
        # listing reader's note), afterward the floor tracks each
        # planned batch's end.
        mv = options.get("max_versions_per_trigger")
        self.max_versions = int(mv) if mv is not None else None
        if self.max_versions is not None and self.max_versions < 1:
            raise ValueError(
                "jsonl_docs: max_versions_per_trigger must be >= 1"
            )
        self._rate_floor: int | None = None
        # RecordBatch fast path when the stream's fixed schema is all
        # plain scalars (no converters): each microbatch shard parses
        # once in C++ instead of per-row Python (guide §4)
        from pu4spark_spark.sources.lake.protocol import (
            _arrow_batch_schema_of_ddl,
            _jsonl_batch_safe,
        )

        self._pa_target = (
            _arrow_batch_schema_of_ddl(_ddl)
            if _jsonl_batch_safe(_ddl)
            else None
        )

    def initialOffset(self) -> dict:
        # only a FRESH stream asks for this — seed the rate floor so
        # the first trigger is bounded too (a restart never lands here)
        self._rate_floor = max(0, self.starting_version - 1)
        return {"version": max(0, self.starting_version - 1)}

    def latestOffset(self) -> dict:
        latest = _latest_manifest_version(self.path)
        if self.max_versions is None or self._rate_floor is None:
            return {"version": latest}
        return {
            "version": min(latest, self._rate_floor + self.max_versions)
        }

    def partitions(self, start: dict, end: dict):
        # rate-limit floor: never below anything the engine has shown
        # us, so a bounded latestOffset can never regress an offset
        self._rate_floor = max(
            self._rate_floor or 0, start["version"], end["version"]
        )
        # walk the versions one commit at a time: a DATA commit
        # contributes the shards it added over its predecessor; a
        # REWRITE commit (compaction — ``.rewrite`` sidecar tethered to
        # its snapshot by md5, the dataChange=false flag) contributes
        # NOTHING — its files hold only rows earlier commits already
        # delivered, so reading them would duplicate every compacted
        # row.  Data commits are append-only, so per-commit set
        # difference is exact; a LAGGING stream that still needs a
        # pre-compaction shard vacuum already reclaimed fails LOUDLY
        # on the missing file (the same time-travel-until-vacuum
        # contract as batch reads).  A FRESH stream (offset 0) on a
        # vacuumed table instead starts from the earliest snapshot
        # still on disk, delivered WHOLE as its initial batch (rewrite
        # marker ignored for that one version — a new subscriber needs
        # the current rows however they were laid out), then tails
        # diffs — the Delta/Iceberg initial-snapshot semantics.
        import hashlib
        import json

        out: dict[str, int] = {}  # delivered shard → version that added it
        first = start["version"] + 1
        initial = None
        if start["version"] == 0:
            earliest = _earliest_manifest_version(self.path)
            if earliest == 0:
                return []  # no committed version yet
            first = initial = earliest
        # each snapshot's bytes are read ONCE per microbatch: the same
        # body feeds the md5 tether check, the current diff, and the
        # next iteration's prev (carried forward) — K+1 file reads for
        # a K-version batch, not 3K
        prev_files: set[str] | None = None
        prev_nents = 0
        prev_dvn = 0  # deletion-vector row total of the prev commit
        base_dir: str | None = None  # shallow-clone source, if any
        batch_ents: list[dict] = []  # union of ledger entries walked
        ent_seen: set = set()
        dv_seen: dict[str, dict] = {}  # shard → merged DV over the walk
        for v in range(first, end["version"] + 1):
            with open(
                os.path.join(self.path, f"_MANIFEST.v{v}"), "rb"
            ) as fh:
                body = fh.read()
            m = json.loads(body)
            _check_features(m)  # a feature commit mid-stream: refuse
            base_dir = m.get(BASE_DIR_KEY, base_dir)
            # SCHEMA boundary: a commit whose schema this stream's
            # fixed schema does not EXTEND cannot be represented in
            # the stream's rows — fail loudly; the restarted stream
            # picks up the evolved schema and null-extends old shards.
            # (Commits with a PREFIX schema — pre-evolution history
            # read by a fresh subscriber — null-extend naturally.)
            mt = _typed_fields_of_ddl(m.get(SCHEMA_KEY, DOCS_DDL))
            if v > self.schema_fixed_at and mt != tuple(
                self.typed_fields[: len(mt)]
            ):
                # names OR types (rename / type widen): the stream's
                # row shape is fixed at start — restart contract
                raise ValueError(
                    f"jsonl_docs version stream: commit v{v} of "
                    f"{self.path} changed the table schema to "
                    f"{list(mt)}, which this stream (started with "
                    f"{list(self.typed_fields)}) cannot represent — "
                    "restart the subscriber to pick up the evolved "
                    "schema."
                )
            # no physical check needed on HISTORY: physical ids are
            # assigned at column creation and never change (compaction
            # carries the mapping and rewrites the mapped keys), so
            # this stream's phys_fields read every epoch's shards —
            # renamed columns by their stable physical key, dropped
            # columns ignored, later-added columns as null
            cur = set(_manifest_files(m))
            tombs = _tombstones_of(m)
            for e in tombs["entries"]:
                key = (e["v"], tuple(e.get("ids", ())))
                if key not in ent_seen:
                    ent_seen.add(key)
                    batch_ents.append(e)
            skip = False
            if v != initial:
                try:
                    with open(
                        os.path.join(
                            self.path, f"_MANIFEST.v{v}.rewrite"
                        )
                    ) as fh:
                        skip = (
                            fh.read().strip()
                            == hashlib.md5(body).hexdigest()
                        )
                except OSError:
                    skip = False
            dvs = _dv_of(m)
            dvn = sum(int(e.get("n", 0)) for e in dvs.values())
            if v == initial:
                # initial snapshot: each shard keeps its TRUE add
                # version from the ledger's added-map (default 0 =
                # predates every entry), so entries committed before
                # the snapshot still filter it and a merge's own
                # replacement shards stay exempt
                added = tombs.get("added", {})
                for f in cur:
                    out.setdefault(f, added.get(f, 0))
            elif not skip:
                if prev_files is not None:
                    base, base_nents = prev_files, prev_nents
                    base_dvn = prev_dvn
                else:
                    pm = _manifest_at(self.path, v - 1)
                    base = set(_manifest_files(pm))
                    base_nents = len(_tombstones_of(pm)["entries"])
                    base_dvn = sum(
                        int(e.get("n", 0))
                        for e in _dv_of(pm).values()
                    )
                # a RESTORE (op stamp, plus the unmarked ledger
                # shrink backstop for hand-edited metadata) cannot be
                # replayed incrementally: rows it un-deletes were never
                # retracted downstream, and files it rolls back to may
                # already have been delivered (duplicate delivery)
                if (
                    m.get(OP_KEY) == "restore"
                    or len(tombs["entries"]) < base_nents
                ):
                    raise ValueError(
                        f"jsonl_docs version stream: commit v{v} of "
                        f"{self.path} is a RESTORE (or shrank the "
                        "ledger without a rewrite marker) — its "
                        "un-deletions cannot be replayed "
                        "incrementally; restart the subscriber from a "
                        "fresh snapshot."
                    )
                if (
                    len(tombs["entries"]) > base_nents
                    or dvn > base_dvn
                ) and not self.ignore_deletes:
                    raise ValueError(
                        f"jsonl_docs version stream: commit v{v} of "
                        f"{self.path} deleted rows (tombstone ledger "
                        "or deletion vectors grew), which an "
                        "append-only stream cannot retract.  Pass "
                        "option('ignore_deletes', 'true') to skip "
                        "removals (merge-added shards still stream), "
                        "or restart the subscriber from a fresh "
                        "snapshot."
                    )
                for f in cur - base:
                    out.setdefault(f, v)  # diff shards: added at v
            # deletion vectors seen across the walk apply to every
            # delivered shard (deleted-as-of-end rows never enter the
            # stream — the ledger's union rule, positionally): merged
            # because DVs only grow between rewrites, and rewrites
            # (compaction/purge) rename files anyway
            for f, e in dvs.items():
                dv_seen[f] = _dv_merge(dv_seen.get(f), e)
            prev_files, prev_nents = cur, len(tombs["entries"])
            prev_dvn = dvn
        # every ledger entry seen across the walked versions is applied
        # to every delivered shard ADDED BEFORE it ("v > added" — the
        # sequence-number rule): deleted-as-of-end rows never enter the
        # stream, a merge's replaced keys are dropped from the old
        # shards but spared on its own replacements, and the scoping
        # survives compactions inside the range (a rewrite renames
        # files; the add-version comparison doesn't care).  The UNION
        # (not just the end ledger) matters because a compaction after
        # a delete clears the ledger while pre-compaction diffs still
        # need that delete's entry.  Deterministic on checkpoint
        # replay: (start, end) pins the batch and manifests are
        # immutable.  Cross-batch removals are the documented
        # ignore_deletes non-retraction.
        parts = []
        # shallow-clone aware: the walk may span a compaction that
        # dropped _base_dir, but earlier versions' shards still need
        # it — resolve against any base dir seen during the walk
        res = {BASE_DIR_KEY: base_dir} if base_dir else None
        for f, av in sorted(out.items()):
            full = _shard_path(self.path, res, f)
            ids, kfiles = _tomb_sources_for(
                f, {"entries": batch_ents}, added_v=av
            )
            dv = dv_seen.get(f)
            if ids or kfiles or dv:
                parts.append(
                    InputPartition(
                        (
                            full,
                            ids,
                            tuple(
                                _shard_path(self.path, res, kf)
                                for kf in kfiles
                            ),
                            dv,
                        )
                    )
                )
            else:
                parts.append(InputPartition(full))
        return parts

    def read(self, partition):
        if partition is None:
            return
        if self._pa_target is not None:
            from pu4spark_spark.sources.lake.protocol import (
                _iter_shard_batches,
            )

            yield from _iter_shard_batches(
                partition.value, self.phys_fields, self._pa_target
            )
            return
        yield from _iter_shard_rows(
            partition.value, self.phys_fields, self.convs
        )

    def commit(self, end: dict) -> None:
        pass


class JsonlDocsChangeFeedStreamReader(DataSourceStreamReader):
    """STREAMING CHANGE DATA FEED — Delta's ``readChangeFeed``: each
    microbatch delivers the TYPED row-level changes of the commits in
    ``(start, end]`` — table columns + ``_change_type`` ∈ {insert,
    update_preimage, update_postimage, delete} + ``_commit_version``.
    The offset is the committed manifest version, same determinism
    contract as the snapshot stream (immutable manifests ⇒ checkpoint
    replay is exact).

    Where the changes come from, per commit:

    - append commit → its added shards stream as ``insert`` rows.
    - rewrite commit (valid ``.rewrite`` marker) → nothing
      (dataChange=false).
    - DML commit made with ``cdf=True`` → its commit-time ``_cdc-*``
      files stream VERBATIM (pre-images included; no snapshot join at
      read time — Delta's _change_data design).
    - DML commit made WITHOUT cdf → fail LOUDLY: pre-images for that
      commit no longer exist anywhere except by re-scanning history,
      which a stream partition cannot do.  Run DML with ``cdf=True``
      on tables that feed a change stream (Delta raises the same way
      when CDF was not enabled at the time of the commit).

    A fresh subscriber (offset 0) starts from the earliest retained
    snapshot delivered WHOLE as ``insert`` rows (its current state,
    tombstones applied), then tails typed diffs — the
    ``startingVersion`` initial-snapshot semantics."""

    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("jsonl_docs requires option 'path'")
        self.path = path
        sv = options.get("starting_version")
        self.starting_version = int(sv) if sv is not None else 0
        _m = _effective_manifest({"path": path})
        _check_features(_m)  # refuse unknown required table features
        base_ddl = _m.get(
            SCHEMA_KEY, DOCS_DDL
        )  # table columns only — the CDF tags are appended at read
        self.fields = _fields_of_ddl(base_ddl)
        self.typed_fields = _typed_fields_of_ddl(base_ddl)
        self.phys_fields = _physical_fields(
            self.fields, _mapping_of(_m)
        )
        self.convs = _converters_of_ddl(base_ddl)
        self.schema_fixed_at = _latest_manifest_version(self.path)
        # commit-granular rate limit — see the version stream
        mv = options.get("max_versions_per_trigger")
        self.max_versions = int(mv) if mv is not None else None
        if self.max_versions is not None and self.max_versions < 1:
            raise ValueError(
                "jsonl_docs: max_versions_per_trigger must be >= 1"
            )
        self._rate_floor: int | None = None
        # RecordBatch fast path (guide §4): table columns must be
        # plain scalars; the typed CDF tag columns are appended
        # batch-side (_change_type parsed from CDC files / constant
        # "insert", _commit_version a per-partition constant)
        from pu4spark_spark.sources.lake.protocol import (
            _arrow_batch_schema_of_ddl,
            _jsonl_batch_safe,
        )

        self._pa_base = (
            _arrow_batch_schema_of_ddl(base_ddl)
            if _jsonl_batch_safe(base_ddl)
            else None
        )

    def initialOffset(self) -> dict:
        # fresh stream only — seed the floor (see the version stream)
        self._rate_floor = max(0, self.starting_version - 1)
        return {"version": max(0, self.starting_version - 1)}

    def latestOffset(self) -> dict:
        latest = _latest_manifest_version(self.path)
        if self.max_versions is None or self._rate_floor is None:
            return {"version": latest}
        return {
            "version": min(latest, self._rate_floor + self.max_versions)
        }

    def partitions(self, start: dict, end: dict):
        import hashlib
        import json

        self._rate_floor = max(
            self._rate_floor or 0, start["version"], end["version"]
        )
        parts = []
        first = start["version"] + 1
        initial = None
        if start["version"] == 0:
            earliest = _earliest_manifest_version(self.path)
            if earliest == 0:
                return []
            first = initial = earliest
        prev_files: set[str] | None = None
        base_dir: str | None = None  # shallow-clone source, if any
        for v in range(first, end["version"] + 1):
            with open(
                os.path.join(self.path, f"_MANIFEST.v{v}"), "rb"
            ) as fh:
                body = fh.read()
            m = json.loads(body)
            _check_features(m)  # a feature commit mid-stream: refuse
            base_dir = m.get(BASE_DIR_KEY, base_dir)
            res = {BASE_DIR_KEY: base_dir} if base_dir else None
            mf = _fields_of_ddl(m.get(SCHEMA_KEY, DOCS_DDL))
            mp = _physical_fields(mf, _mapping_of(m))
            mt = _typed_fields_of_ddl(m.get(SCHEMA_KEY, DOCS_DDL))
            if v > self.schema_fixed_at and mt != tuple(
                self.typed_fields[: len(mt)]
            ):
                # names OR types (rename / type widen) — restart
                raise ValueError(
                    f"jsonl_docs change feed: commit v{v} of "
                    f"{self.path} changed the table schema to "
                    f"{list(mt)}, which this stream (started with "
                    f"{list(self.typed_fields)}) cannot represent — "
                    "restart the subscriber to pick up the evolved "
                    "schema."
                )
            # the commit's CDC files carry the COMMIT's logical names;
            # resolve, via the stable PHYSICAL identity, the JSON key
            # each of this stream's columns reads from them (identical
            # until a rename sits between the commit and the stream's
            # start).  Table shards need no per-commit resolution:
            # their keys ARE the physical names, which never change.
            phys_to_commit = dict(zip(mp, mf))
            cdc_keys = tuple(
                phys_to_commit.get(p, p) for p in self.phys_fields
            )
            cur = set(_manifest_files(m))
            tombs = _tombstones_of(m)
            dvs = _dv_of(m)
            dvn = sum(int(e.get("n", 0)) for e in dvs.values())
            if v == initial:
                # initial snapshot: current rows as inserts, the
                # snapshot's own tombstones AND deletion vectors applied
                for f in sorted(cur):
                    ids, kfiles = _tomb_sources_for(
                        f, tombs, added_v=tombs.get("added", {}).get(f, 0)
                    )
                    dv = dvs.get(f)
                    parts.append(
                        InputPartition(
                            (
                                "snap",
                                (
                                    _shard_path(self.path, res, f),
                                    ids,
                                    tuple(
                                        _shard_path(self.path, res, kf)
                                        for kf in kfiles
                                    ),
                                    dv,
                                )
                                if (ids or kfiles or dv)
                                else _shard_path(self.path, res, f),
                                v,
                            )
                        )
                    )
                prev_files = cur
                prev_nents = len(tombs["entries"])
                prev_dvn = dvn
                continue
            skip = False
            try:
                with open(
                    os.path.join(self.path, f"_MANIFEST.v{v}.rewrite")
                ) as fh:
                    skip = (
                        fh.read().strip() == hashlib.md5(body).hexdigest()
                    )
            except OSError:
                skip = False
            if skip:
                prev_files = cur
                prev_nents = len(tombs["entries"])
                prev_dvn = dvn
                continue
            cdc_own = m.get(CDC_KEY, {}).get(str(v), [])
            if cdc_own:
                for f in cdc_own:
                    parts.append(
                        InputPartition(
                            (
                                "cdc",
                                _shard_path(self.path, res, f),
                                v,
                                cdc_keys,
                            )
                        )
                    )
                prev_files = cur
                prev_nents = len(tombs["entries"])
                prev_dvn = dvn
                continue
            if prev_files is not None:
                base = prev_files
                base_nents = prev_nents
                base_dvn = prev_dvn
            else:
                pm = _manifest_at(self.path, v - 1)
                base = set(_manifest_files(pm))
                base_nents = len(_tombstones_of(pm)["entries"])
                base_dvn = sum(
                    int(e.get("n", 0)) for e in _dv_of(pm).values()
                )
            if (
                m.get(OP_KEY) == "restore"
                or len(tombs["entries"]) < base_nents
            ):
                raise ValueError(
                    f"jsonl_docs change feed: commit v{v} of "
                    f"{self.path} is a RESTORE (or shrank the ledger "
                    "without a rewrite marker) — its un-deletions "
                    "cannot be replayed incrementally; restart the "
                    "subscriber from a fresh snapshot."
                )
            if len(tombs["entries"]) > base_nents or dvn > base_dvn:
                raise ValueError(
                    f"jsonl_docs change feed: commit v{v} of "
                    f"{self.path} deleted or replaced rows (ledger or "
                    "deletion vectors grew) but carries no CDC files "
                    "— its pre-images cannot be streamed.  Run "
                    "DELETE/MERGE with cdf=True on tables that feed a "
                    "change stream, or restart from a fresh snapshot."
                )
            for f in sorted(cur - base):
                parts.append(
                    InputPartition(
                        ("ins", _shard_path(self.path, res, f), v)
                    )
                )
            prev_files = cur
            prev_nents = len(tombs["entries"])
            prev_dvn = dvn
        return parts

    def _tagged_batches(self, batches, change_type, v):
        """Append the CDF tag columns to table-column batches —
        ``_change_type`` (constant or a parsed array) and the
        per-partition-constant ``_commit_version``."""
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            ct = (
                change_type
                if isinstance(change_type, pa.Array)
                else pa.array([change_type] * n, type=pa.string())
            )
            yield pa.RecordBatch.from_arrays(
                [*b.columns, ct, pa.array([v] * n, type=pa.int64())],
                names=[*b.schema.names, "_change_type", "_commit_version"],
            )

    def read(self, partition):
        import json

        kind, value, v = partition.value[:3]
        if kind == "cdc":
            # per-commit key list resolved in partitions() — the
            # commit's own logical names for this stream's columns
            keys = (
                partition.value[3]
                if len(partition.value) > 3
                else self.fields
            )
            if self._pa_base is not None:
                import pyarrow as pa
                from pyarrow import json as pa_json

                # parse under the COMMIT's logical keys + the tag,
                # rename to this stream's logical names (types from
                # the fixed schema; missing keys null-extend)
                try:
                    tbl = pa_json.read_json(
                        value,
                        parse_options=pa_json.ParseOptions(
                            explicit_schema=pa.schema(
                                [
                                    pa.field(k, f.type)
                                    for k, f in zip(
                                        keys, self._pa_base
                                    )
                                ]
                                + [
                                    pa.field(
                                        "_change_type", pa.string()
                                    )
                                ]
                            ),
                            unexpected_field_behavior="ignore",
                        ),
                    )
                except Exception:
                    tbl = None
                if tbl is not None:
                    names = [f.name for f in self._pa_base]
                    for b in tbl.to_batches():
                        ct = b.column(b.num_columns - 1)  # _change_type
                        body = pa.RecordBatch.from_arrays(
                            [
                                b.column(i)
                                for i in range(b.num_columns - 1)
                            ],
                            names=names,
                        )
                        yield from self._tagged_batches([body], ct, v)
                    return
            convs = self.convs or (None,) * len(keys)
            with open(value) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    d = json.loads(line)
                    yield tuple(
                        c(d.get(k)) if c else d.get(k)
                        for k, c in zip(keys, convs)
                    ) + (d.get("_change_type"), v)
            return
        # snap / ins: plain rows typed as inserts of their commit;
        # table shards carry stable PHYSICAL keys (format-dispatched:
        # JSONL or parquet)
        if self._pa_base is not None:
            from pu4spark_spark.sources.lake.protocol import (
                _iter_shard_batches,
            )

            yield from self._tagged_batches(
                _iter_shard_batches(
                    value, self.phys_fields, self._pa_base
                ),
                "insert",
                v,
            )
            return
        for row in _iter_shard_rows(value, self.phys_fields, self.convs):
            yield tuple(row) + ("insert", v)

    def commit(self, end: dict) -> None:
        pass
