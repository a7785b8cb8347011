"""The ``jsonl_docs`` Python DataSource (PySpark 4
``spark.dataSource.register`` API): batch reader with pushdown +
zonemap pruning, transactional batch writer (OCC manifest claim),
exactly-once streaming sink, and per-session registration with
thread pinning."""

from __future__ import annotations

import functools
import json as _mod_json
import os
import tempfile
import uuid as _mod_uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from pu4spark_spark.sources.tables import load_table
from pu4spark_spark.sources.lake.protocol import (
    BLOOM_M_BITS,
    DOCS_DDL,
    ManifestCommitConflict,
    _bloom_add,
    _bloom_might_contain,
    _bloom_serialize,
    OP_KEY,
    SCHEMA_KEY,
    TOMBSTONE_KEY,
    TXN_KEY,
    MAPPING_KEY,
    CONSTRAINT_KEY,
    _check_features,
    _stamp_features,
    _dv_of,
    _compile_constraint,
    _constraints_of,
    _converters_of_ddl,
    _effective_manifest,
    _effective_schema_ddl,
    _fields_of_ddl,
    _iter_jsonl,
    _json_cell,
    _latest_manifest_version,
    _list_shards,
    _manifest_at,
    _manifest_files,
    _mapping_of,
    _physical_fields,
    _project_ddl,
    _shard_path,
    _tomb_sources_for,
    _tombstones_of,
    _version_as_of,
    _remove_files,
    _remove_unclaimed,
    commit_manifest,
)
from pu4spark_spark.sources.lake.checkpoint import (
    CKPT_INTERVAL_KEY,
    _maybe_auto_checkpoint,
    assemble_stats,
)
from pu4spark_spark.sources.lake.streaming import (
    JsonlDocsChangeFeedStreamReader,
    JsonlDocsStreamReader,
    JsonlDocsVersionStreamReader,
)



class JsonlDocsDataSource(DataSource):
    """``format("jsonl_docs")``: directory of *.json / *.jsonl shards."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_docs"

    def schema(self) -> str:
        # SCHEMA EVOLUTION: the table's schema is a property of the
        # COMMIT, not the format — resolve the read's effective
        # manifest (honoring version / as_of_ts pins) and serve its
        # recorded ``_schema``, so time travel to a pre-evolution
        # version reads the OLD shape.  Legacy / manifest-less
        # directories serve the documents DDL.  option("columns")
        # projects the served schema at the source (_project_ddl —
        # the Python DS API has no Catalyst column pruning).
        ddl = _effective_schema_ddl(self.options)
        if self.options.get("read_change_feed", "").lower() == "true":
            if self.options.get("columns"):
                raise ValueError(
                    "jsonl_docs: option('columns') is a batch-read "
                    "projection; the change feed serves its full "
                    "typed-change schema"
                )
            # the change-feed stream's rows carry the CDF tags
            ddl += ", _change_type string, _commit_version bigint"
        else:
            ddl = _project_ddl(ddl, self.options.get("columns"))
        return ddl

    def reader(self, schema) -> "JsonlDocsReader":
        if self.options.get("read_change_feed", "").lower() == "true":
            # Delta serves batch readChangeFeed; this source's batch
            # twin is table_changes_jsonl_dir() (a DataFrame builder —
            # CDF pre-image derivation needs joins a DataSourceReader
            # partition cannot express).  Refuse loudly rather than
            # return a plain reader whose row tuples would be two
            # fields short of the CDF schema declared above.
            raise ValueError(
                "read_change_feed is not supported for BATCH reads of "
                "format('jsonl_docs'); use "
                "pu4spark_spark.sources.table_changes_jsonl_dir(spark, "
                "path, starting_version=...) for the batch change feed, "
                "or readStream for the streaming feed"
            )
        return JsonlDocsReader(self.options)

    def streamReader(self, schema) -> "DataSourceStreamReader":
        if self.options.get("columns"):
            # a stream's row shape is fixed at start and checked
            # against each commit's schema (prefix rule) — a projected
            # shape would break that contract silently; project with
            # select() on the stream instead
            raise ValueError(
                "jsonl_docs: option('columns') is a batch-read "
                "projection; use select() on the stream"
            )
        if self.options.get("read_change_feed", "").lower() == "true":
            return JsonlDocsChangeFeedStreamReader(self.options)
        if self.options.get("versioned", "").lower() == "true":
            return JsonlDocsVersionStreamReader(self.options)
        return JsonlDocsStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "JsonlDocsWriter":
        # the Arrow subclass: Spark's worker hands write() the raw
        # RecordBatches instead of building a pyspark Row per row
        # (guide §4 — the batch-serving twin of the reader's path)
        return JsonlDocsArrowWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return JsonlDocsStreamArrowWriter(self.options, schema)


#: serializes first registration per session — re-registering is not
#: just wasteful, it is a RACE: Spark's "replace a previously
#: registered data source" path has a window where a concurrent lookup
#: fails DATA_SOURCE_NOT_FOUND, so two threads each calling
#: register_pyds() could fail each other's save()/load() (observed
#: under the threaded DML stress)
_REGISTER_LOCK = __import__("threading").Lock()


def ensure_active_session(spark: SparkSession) -> None:
    """Pin ``spark`` as the JVM active session for the CURRENT thread.

    PySpark's pinned-thread mode maps each Python thread to its own
    JVM thread, and a JVM thread created on demand has NO active
    session — so ``save()``/``load()`` name resolution, which consults
    the ACTIVE session's Python data-source registry
    (DataSourceManager), silently falls through to the classpath and
    dies with DATA_SOURCE_NOT_FOUND for a source that IS registered
    (reproduced: 4 threads round-tripping jsonl_docs, ~50% failure).
    Concurrent writers are the point of the OCC commit protocol, so
    every session-taking DML entry point pins first via
    :func:`register_pyds`; code driving ``df.write`` directly from a
    worker thread should call this (or ``register_pyds``) once at
    thread start.  Idempotent, one py4j call."""
    try:
        jvm_cls = spark._jvm.org.apache.spark.sql.classic.SparkSession
        jvm_cls.setActiveSession(spark._jsparkSession)
    except Exception:
        # Spark Connect sessions have no JVM handle — and no
        # thread-local active-session resolution either
        pass


def register_pyds(spark: SparkSession) -> None:
    """Register the custom source AND enable Python-datasource filter
    pushdown in the same breath: a reader that overrides
    ``pushFilters`` hard-fails in any session where
    ``spark.sql.python.filterPushdown.enabled`` is false (dynamic SQL
    conf, so setting it here covers harness-built sessions too) —
    keeping the two together makes that failure mode impossible.
    Idempotent and thread-safe: one registration per session object,
    ever (the done-marker lives ON the session, so a stopped-and-
    recreated session registers afresh) — re-registering is a race in
    its own right (Spark's replace path has a lookup-miss window).
    Always pins the active session for the calling thread first
    (:func:`ensure_active_session`), so every DML entry point that
    calls this is safe to drive from worker threads."""
    ensure_active_session(spark)
    if getattr(spark, "_pu4spark_pyds_registered", False):
        return
    with _REGISTER_LOCK:
        if getattr(spark, "_pu4spark_pyds_registered", False):
            return
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(JsonlDocsDataSource)
        spark._pu4spark_pyds_registered = True


def _csv_option(options, key: str) -> list[str]:
    """A comma-list writer option as a clean name list ([] if unset)."""
    v = options.get(key)
    return [c.strip() for c in v.split(",") if c.strip()] if v else []


class _LakeWriter:
    """What the batch writer and the streaming sink share: option
    parsing, the per-task shard fan-out, the job-scoped temp sweep, the
    driver-side publish of staged shards, and the sticky table-property
    stamp.  The table contract a task stages under — physical column
    keys and CHECK constraints — comes from :meth:`_task_contract`: the
    batch writer resolves it once driver-side, the sink per task."""

    #: how error messages name the writer
    _kind = "writer"

    def _parse_options(self, options, schema) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                f"jsonl_docs {self._kind} requires option 'path'"
            )
        self.fields = [f.name for f in schema.fields]
        #: the written StructType — the Arrow subclasses build their
        #: per-column cell converters from it (pickles with the writer)
        self._struct = schema
        #: written shape as DDL — recorded as the table schema when a
        #: commit creates a non-documents table (appends onto an
        #: existing table carry the base manifest's _schema;
        #: evolve_jsonl_schema is the path that CHANGES a live table's
        #: shape)
        self.ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
        )
        # Hive-style partitioned write, metadata-tracked: each task
        # writes ONE shard per distinct value of the partition
        # column(s) and the commit records the values in
        # _STATS["_parts"] so the reader prunes whole shards on
        # partition-column equality/IN filters.  Unlike Hive the
        # column STAYS in the row data (no directory-name encoding —
        # the manifest, not the path, is the metadata authority, the
        # Iceberg position).  Callers should repartition by the
        # partition column first: per-task shard count (and open file
        # handles) is the task's value cardinality.
        self.partition_by = _csv_option(options, "partition_by")
        # opt-in per-shard BLOOM FILTERS (Delta's bloom filter index):
        # option("bloom_filter_columns", "a,b") builds one bitset per
        # listed column per shard, recorded under _STATS["_bloom"] —
        # point-lookup (equality/IN) pruning on columns a hash layout
        # scatters, where the min/max envelope is useless
        self.bloom_cols = _csv_option(options, "bloom_filter_columns")
        # PAYLOAD FORMAT: option("payload_format", "parquet") stages
        # COLUMNAR shards under the same manifest/OCC/stats/tombstone
        # protocol (Delta stores parquet under its JSON log for the
        # same reason) — readers get column projection and encoded,
        # compressed pages instead of full-row JSON parses; one table
        # may mix formats (the reader dispatches per shard).
        # Unsupported column types fail HERE, at plan time, not in a
        # task.
        pfmt = options.get("payload_format", "jsonl").lower()
        if pfmt not in ("jsonl", "parquet"):
            raise ValueError(
                "jsonl_docs: payload_format must be 'jsonl' or "
                f"'parquet', got {pfmt!r}"
            )
        self.payload = pfmt
        self.typed_fields = [
            (f.name, f.dataType.simpleString()) for f in schema.fields
        ]
        if pfmt == "parquet":
            from pu4spark_spark.sources.lake.protocol import (
                _arrow_type_of_ddl,
            )

            for _nm, _t in self.typed_fields:
                _arrow_type_of_ddl(_t)
        # AUTO-CHECKPOINT interval (Delta's delta.checkpointInterval):
        # option("checkpoint_interval", N) records a STICKY table
        # property — this and every later commit (either writer)
        # checkpoints the metadata plane whenever version % N == 0,
        # bounding the stats-delta tail every reader assembles.  0
        # clears the property.
        ci = options.get("checkpoint_interval")
        self.ckpt_interval = int(ci) if ci is not None else None
        # per-JOB token: assigned once driver-side, shared by all the
        # job's pickled task copies.  Temp shards carry it so the
        # orphan sweep only ever touches THIS job's leftovers — a
        # concurrent writer's in-flight staging is invisible to us
        # (foreign orphans from crashed jobs are vacuum's business).
        self.job_token = _mod_uuid.uuid4().hex[:8]

    def _check_written_shape(
        self, manifest: dict, version: int, hint: str
    ) -> None:
        """SCHEMA ENFORCEMENT (Delta's writer check): the written shape
        must match the table's logical schema by NAME SET — a missing
        column silently reads back NULL, an extra one is invisible to
        every reader until an evolve; both are almost always bugs, so
        refuse LOUDLY before anything commits."""
        tbl = set(_fields_of_ddl(manifest.get(SCHEMA_KEY, DOCS_DDL)))
        if set(self.fields) != tbl:
            missing = sorted(tbl - set(self.fields))
            extra = sorted(set(self.fields) - tbl)
            raise ValueError(
                f"jsonl_docs {self._kind}: written schema does not match "
                f"table version {version} (missing {missing or '[]'}, "
                f"extra {extra or '[]'}) — {hint}"
            )

    def write(self, iterator) -> WriterCommitMessage:
        # row-facing entry (kept for API parity / direct callers); the
        # registered source serves the Arrow subclasses instead
        return self._write_dicts(
            {k: row[k] for k in self.fields} for row in iterator
        )

    def _write_dicts(self, dict_iter) -> WriterCommitMessage:
        """Task body over an iterator of LOGICAL-name row dicts —
        shared by the row and Arrow entry points of both writers."""
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        phys, cons = self._task_contract()

        def _validated(d: dict) -> dict:
            for nm, ex, fn in cons:
                if not fn(d):
                    raise ValueError(
                        f"CHECK constraint {nm!r} ({ex}) violated by "
                        f"row {d!r} — the write fails before any commit"
                    )
            return d

        def _sink(parts: dict | None = None) -> _ShardSink:
            return _ShardSink(
                self.path, self.job_token, pid, self.fields, phys, parts,
                self.bloom_cols, self.payload, self.typed_fields,
            )

        if not self.partition_by:
            shard = _sink()
            for d in dict_iter:
                shard.add(_validated(d))
            return shard.close()
        # partitioned write: one shard per distinct partition value
        # seen by THIS task (callers repartition by the column, so
        # normally one value per task)
        shards: dict[tuple, _ShardSink] = {}
        for d in dict_iter:
            d = _validated(d)
            key = tuple(d[c] for c in self.partition_by)
            s = shards.get(key)
            if s is None:
                s = shards[key] = _sink(dict(zip(self.partition_by, key)))
            s.add(d)
        if not shards:
            # empty task still reports itself (rows=0, no file kept)
            return _sink().close()
        head, *tail = [s.close() for s in shards.values()]
        head.extra = tail
        return head

    def _sweep(self, keep: set[str]) -> None:
        """Remove this job's temp shards other than ``keep`` (orphans
        from failed or speculative task attempts)."""
        prefix = f"_tmp-{self.job_token}-"
        try:
            names = os.listdir(self.path)
        except OSError:
            return
        _remove_files(
            self.path,
            [f for f in names if f.startswith(prefix) and f not in keep],
        )

    def _publish(self, messages) -> tuple[dict, dict]:
        """Driver side of staging: rename every task's temp shard to its
        final name (still invisible — no committed manifest names it
        yet), sweep this job's other temps, and collect the commit's
        stats delta.  Returns ``(staged {file: rows}, stats delta)``.

        Per-shard stats are committed as a PER-COMMIT DELTA
        (``_STATS.v{N}``): this commit's own shards' entries only —
        O(commit) metadata, with exactly one writer per version (the
        ``_MANIFEST.v{N}`` claimant).  Readers assemble checkpoint +
        deltas (sources/lake/checkpoint.py); every family is advisory —
        a shard with NO entry is simply never pruned."""
        staged: dict = {}
        stats: dict = {}
        keep = set()
        for m in _flatten_commits(messages):
            os.rename(
                os.path.join(self.path, m.tmp),
                os.path.join(self.path, m.file),
            )
            keep.add(m.tmp)
            staged[m.file] = m.rows
            if m.min_doc is not None:
                stats[m.file] = [m.min_doc, m.max_doc]
            for fam, val in (
                ("_parts", m.parts),
                ("_cols", m.cols),
                ("_nulls", m.nulls),
                ("_bloom", m.bloom),
            ):
                if val:
                    stats.setdefault(fam, {})[m.file] = val
        self._sweep(keep)
        return staged, stats

    def _stamp_table(self, manifest: dict) -> None:
        """The sticky table properties every write commit stamps: the
        table features a consumer must understand (parquet shards are
        unreadable to a JSONL-only build; mapping/constraints
        retro-stamp so older tables converge onto the declared
        contract), and the auto-checkpoint interval (an explicit option
        records or clears it; otherwise the base manifest's value
        carries forward untouched)."""
        feats = ["payload-parquet"] if self.payload == "parquet" else []
        if MAPPING_KEY in manifest:
            feats.append("column-mapping")
        if CONSTRAINT_KEY in manifest:
            feats.append("check-constraints")
        _stamp_features(manifest, *feats)
        if self.ckpt_interval is not None:
            if self.ckpt_interval > 0:
                manifest[CKPT_INTERVAL_KEY] = self.ckpt_interval
            else:
                manifest.pop(CKPT_INTERVAL_KEY, None)


class JsonlDocsWriter(_LakeWriter, DataSourceWriter):
    """Executor-side JSONL shard writer with TRANSACTIONAL commit: each
    task streams its rows to an underscore-prefixed temp shard (hidden
    from every reader by the metadata-file convention), and only the
    driver-side ``commit`` renames the shards named in the task commit
    messages to their final ``part-*.jsonl`` names and writes the
    ``_MANIFEST`` commit log.  A failed, retried, or speculatively
    executed task therefore leaves at most an orphan ``_tmp-*`` file —
    swept by ``commit``/``abort`` and invisible to readers either way —
    never a duplicate visible shard (the exactly-once contract the
    round-trip query value-checks).  ``overwrite`` mode clears the
    target directory driver-side before the job starts."""

    def __init__(self, options, schema, overwrite: bool) -> None:
        self._parse_options(options, schema)
        self.overwrite = overwrite
        # optimistic-concurrency declaration: "this job planned against
        # table version N and commits N+1".  When set, commit() claims
        # exactly v{N+1} and FAILS (ManifestCommitConflict) if another
        # writer claimed it first — the Iceberg/Delta base-snapshot
        # contract.  Unset → the version is derived from a fresh listing
        # at commit time (the claim still guarantees a unique winner).
        bv = options.get("base_version")
        self.base_version = int(bv) if bv is not None else None
        # COLUMN MAPPING: an append into a mapped table must write the
        # table's PHYSICAL keys, so pre- and post-rename shards stay
        # uniform (the reader resolves one physical name per logical
        # column for the WHOLE table).  Overwrite creates a fresh
        # table — identity.  option("physical_map") (a JSON object)
        # carries the mapping into SIBLING-DIR staging writes
        # (merge/update staging), whose shards are destined for a
        # mapped table but whose stage dir has no manifest of its own.
        pm = options.get("physical_map")
        self.phys: dict = {}
        if pm:
            self.phys = _mod_json.loads(pm)
        elif not overwrite and os.path.isdir(self.path):
            _b = (
                self.base_version
                if self.base_version is not None
                else _latest_manifest_version(self.path)
            )
            if _b > 0:
                _bm = _manifest_at(self.path, _b)
                # table-features gate: refuse to write a table that
                # requires a feature this build does not understand
                _check_features(_bm)
                self.phys = _mapping_of(_bm)
                # evolve / rename / drop / widen are the sanctioned
                # shape-changing paths; overwrite replaces the table;
                # staging writes (physical_map) enforce against the
                # real table via their DML entry points.
                self._check_written_shape(
                    _bm,
                    _b,
                    "evolve_jsonl_schema / rename_jsonl_column / "
                    "drop_jsonl_column change a live table's shape; "
                    "mode('overwrite') replaces it",
                )
        # CHECK constraints of the base manifest, compiled driver-side
        # once and pickled to every task: each row is validated BEFORE
        # staging, so one violating row fails the job and nothing
        # partial ever claims a manifest.  An overwrite replaces the
        # table, constraints included.  option("constraints_from", p)
        # enforces ANOTHER table's constraints — the merge staging
        # path writes into a sibling stage dir whose rows are destined
        # for the real table, and must not bypass its contract.
        self._constraints: list[tuple] = []
        cfrom = options.get("constraints_from")
        src = cfrom if cfrom else (None if overwrite else self.path)
        if src and os.path.isdir(src):
            base = (
                self.base_version
                if self.base_version is not None and not cfrom
                else _latest_manifest_version(src)
            )
            if base > 0:
                for nm, ex in _constraints_of(
                    _manifest_at(src, base)
                ).items():
                    self._constraints.append(
                        (nm, ex, _compile_constraint(ex))
                    )
        # IDEMPOTENT batch writes (Delta's txnAppId/txnVersion write
        # options): an application-scoped monotonically increasing
        # version.  A commit whose (app, version) the table has already
        # recorded is a retried job — it must NO-OP, not append twice.
        # Checked against the SEEDED base manifest inside commit() (the
        # same transaction as the claim, like the streaming sink's
        # last_batch re-check).
        self.txn_app_id = options.get("txn_app_id")
        tv = options.get("txn_version")
        self.txn_version = int(tv) if tv is not None else None
        if (self.txn_app_id is None) != (self.txn_version is None):
            raise ValueError(
                "jsonl_docs writer: txn_app_id and txn_version must be "
                "set together"
            )
        if overwrite:
            # runs on the driver, pre-job (the writer is constructed
            # once driver-side before being pickled to tasks)
            import shutil

            shutil.rmtree(self.path, ignore_errors=True)

    def _task_contract(self) -> tuple[dict, list]:
        return self.phys, self._constraints

    def commit(self, messages) -> None:
        # the version this commit will claim is decided FIRST, because
        # it names the base snapshot the new manifest must extend
        if self.base_version is not None:
            base = self.base_version
        elif os.path.isdir(self.path):
            base = _latest_manifest_version(self.path)
        else:
            base = 0
        # append mode commits ON TOP of the existing log: seed from the
        # IMMUTABLE base snapshot _MANIFEST.v{base} — never from the
        # live _MANIFEST pointer.  The live pointer lags a winner that
        # has claimed its version but not yet flipped (or crashed
        # between the two); seeding from it would silently drop that
        # committed winner's shards from every later version — exactly
        # the lost-update the version claim exists to prevent.  The
        # live pointer / directory listing are only fallbacks for
        # pre-versioned or manifest-less directories (readable via the
        # reader's listing fallback) — otherwise the first append would
        # hide every pre-existing shard behind a manifest naming only
        # its own.
        manifest = {}
        if not self.overwrite:
            base_snap = os.path.join(self.path, f"_MANIFEST.v{base}")
            mpath = os.path.join(self.path, "_MANIFEST")
            if base > 0 and os.path.exists(base_snap):
                with open(base_snap) as fh:
                    manifest = _mod_json.load(fh)
            elif os.path.exists(mpath):
                with open(mpath) as fh:
                    manifest = _mod_json.load(fh)
            elif os.path.isdir(self.path):
                # same extension set the reader's listing fallback scans;
                # row count unknown without a scan: None marks "listed,
                # not counted" (readers only use keys)
                manifest = dict.fromkeys(_list_shards(self.path))
        # an append whose seeded base is EMPTY (fresh dir: no prior
        # commit, no listed legacy shards) CREATES the table — decided
        # before our own shards are merged in below
        creates_table = not self.overwrite and not manifest
        # table-features gate at the commit itself (the authoritative
        # base; the __init__ check ran against possibly-stale state)
        _check_features(manifest)
        # idempotence gate (txn_app_id/txn_version): the seeded base
        # manifest is the transaction state the claim below extends —
        # an (app, version) it already records means this job is a
        # RETRY of a durably committed write: drop the staged temps
        # and no-op (never append twice)
        if self.txn_app_id is not None:
            recorded = (
                manifest.get(TXN_KEY, {})
                .get("apps", {})
                .get(self.txn_app_id, -1)
            )
            if recorded >= self.txn_version:
                self._sweep(set())
                return
        staged, stats = self._publish(messages)
        manifest.update(staged)
        if TOMBSTONE_KEY in manifest:
            # a table with delete history tracks each shard's add
            # version so tombstone entries (scoped "v > added") never
            # apply to rows committed after them
            manifest[TOMBSTONE_KEY].setdefault("added", {}).update(
                dict.fromkeys(staged, base + 1)
            )
        if self.ddl != DOCS_DDL and (self.overwrite or creates_table):
            # overwrite REPLACES the table; a first append into a
            # fresh dir CREATES it — record the written shape either
            # way, else a non-docs table created by an append reads
            # back NULL under the legacy documents DDL
            manifest[SCHEMA_KEY] = self.ddl
        # operation provenance (DESCRIBE HISTORY): each commit records
        # its own op, overwriting whatever the base carried
        op = manifest[OP_KEY] = "overwrite" if self.overwrite else "append"
        if self.txn_app_id is not None:
            txn = dict(manifest.get(TXN_KEY, {}))
            apps = dict(txn.get("apps", {}))
            apps[self.txn_app_id] = self.txn_version
            txn["apps"] = apps
            manifest[TXN_KEY] = txn
        self._stamp_table(manifest)
        # OPTIMISTIC CONCURRENCY: the version snapshot is claimed
        # create-if-absent (commit_manifest) — two writers that both
        # prepared v{N} race to one atomic link, exactly one wins, and
        # the loser unlinks its own shards and re-raises.  The live
        # _MANIFEST is only ever flipped by the winner, so a conflict
        # can never produce a silent shard-list merge.
        try:
            version = commit_manifest(self.path, base, manifest, op, stats)
        except ManifestCommitConflict:
            _remove_unclaimed(self.path, base + 1, staged)
            raise
        _maybe_auto_checkpoint(self.path, version, manifest)

    def abort(self, messages) -> None:
        self._sweep(set())


def _arrow_batches_to_dicts(iterator, struct):
    """RecordBatch iterator → LOGICAL-name row-dict iterator, applying
    the SAME per-cell converters Spark's row-writer worker would
    (``ArrowTableToRowsConversion``) so serialized shard bytes are
    byte-identical to the row path — minus the pyspark ``Row``
    construction and per-field name lookup the row path pays per row
    (guide §4).  Identity converters (plain scalars — the common
    documents shape) are skipped entirely."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    convs = [
        ArrowTableToRowsConversion._create_converter(
            f.dataType, none_on_identity=True
        )
        for f in struct.fields
    ]
    names = [f.name for f in struct.fields]
    for batch in iterator:
        cols = [c.to_pylist() for c in batch.columns]
        for i, cv in enumerate(convs):
            if cv is not None:
                cols[i] = [cv(x) for x in cols[i]]
        for vals in zip(*cols):
            yield dict(zip(names, vals))


class JsonlDocsArrowWriter(DataSourceArrowWriter, JsonlDocsWriter):
    """Arrow-serving twin of :class:`JsonlDocsWriter` — Spark's worker
    dispatches on this base class and hands ``write()`` the raw
    ``RecordBatch``es it already holds, instead of converting every
    row to a pyspark ``Row`` first.  Same staging/commit protocol,
    same shard bytes; only the task-side conversion chain shrinks."""

    def write(self, iterator) -> WriterCommitMessage:
        return self._write_dicts(
            _arrow_batches_to_dicts(iterator, self._struct)
        )


class _ShardSink:
    """Executor-side shard builder SHARED by the batch writer and the
    streaming sink: serializes rows under the table's PHYSICAL keys —
    as JSONL with typed-cell encoding (``_json_cell``), or as a
    PARQUET shard (``payload="parquet"``: columnar, row-grouped,
    typed by the written DDL — the 100 TB payload, giving readers
    column projection and encoded/compressed pages under the SAME
    manifest/OCC/stats protocol) — and tracks every per-shard
    statistic ``_STATS`` records: the doc_id zonemap, per-column
    [min, max] over non-null orderable values (NaN or a non-scalar
    drops the column for this shard; an absent entry never prunes),
    per-column NULL counts (parquet's null_count position — Spark
    pushes an implicit IsNotNull beside every comparison, so all-null
    shards skip early), and the partition values of a ``partition_by``
    write.  One instance per (task, partition-value); rows arrive
    (and are validated / stat'd) under LOGICAL names — only the
    serialized form is physical."""

    __slots__ = (
        "dir", "fields", "phys", "has_doc", "pf",
        "tmp", "final", "fh", "n", "mn", "mx", "parts",
        "cols", "bad", "nulls", "blooms",
        "payload", "pa_schema", "pq_writer", "buf", "buf_n",
    )

    #: parquet row-group size (rows buffered per flush): large enough
    #: for competent encodings, small enough to bound task memory
    ROW_GROUP_ROWS = 65536

    def __init__(
        self,
        dir_path: str,
        token: str,
        pid: int,
        fields: list[str],
        phys: dict,
        parts: dict | None,
        bloom_cols: list[str] | None = None,
        payload: str = "jsonl",
        typed_fields: list[tuple[str, str]] | None = None,
    ) -> None:
        self.dir = dir_path
        self.fields = fields
        self.phys = phys
        self.has_doc = "doc_id" in fields
        ext = "parquet" if payload == "parquet" else "jsonl"
        self.final = (
            f"part-{pid:05d}-{_mod_uuid.uuid4().hex[:8]}.{ext}"
        )
        self.tmp = f"_tmp-{token}-" + self.final
        self.payload = payload
        if payload == "parquet":
            import pyarrow as pa

            from pu4spark_spark.sources.lake.protocol import (
                _arrow_type_of_ddl,
            )

            if typed_fields is None or [n for n, _ in typed_fields] != list(
                fields
            ):
                raise ValueError(
                    "jsonl_docs parquet payload: writer needs the "
                    "written DDL's typed fields"
                )
            # column names are PHYSICAL (column-mapping invariant:
            # pre- and post-rename shards carry the same keys)
            self.pa_schema = pa.schema(
                [
                    (phys.get(nm, nm) if phys else nm,
                     _arrow_type_of_ddl(t))
                    for nm, t in typed_fields
                ]
            )
            self.pq_writer = None  # opened on first flush (or close)
            self.buf = {f: [] for f in fields}
            self.buf_n = 0
            self.fh = None
        else:
            self.fh = open(os.path.join(dir_path, self.tmp), "w")
        self.n = 0
        self.mn = self.mx = None
        #: every per-shard statistic is keyed by the column's PHYSICAL
        #: name — the column's IDENTITY under column mapping (Delta
        #: keys file stats by physical id for the same reason): a
        #: rename keeps old shards' stats probeable, and a LATER
        #: column re-using a retired logical name gets a fresh
        #: physical id, so its filters can never probe a dead
        #: column's stats (an IsNull against a stale dense column's
        #: zero null-count would WRONGLY prune the all-null shard).
        #: The reader translates pushed logical names through the
        #: current mapping at probe time.
        self.pf = {f: (phys.get(f, f) if phys else f) for f in fields}
        # "_rows" is the per-shard null-stats row-count sentinel key —
        # a column physically named that would overwrite the count and
        # corrupt IsNotNull pruning (a wrong prune silently drops live
        # rows), so refuse it at write time, before any staging
        if "_rows" in self.pf.values():
            raise ValueError(
                "jsonl_docs: column name '_rows' is reserved (it keys "
                "the per-shard row count inside _STATS['_nulls'])"
            )
        self.parts = (
            {self.pf.get(c, c): v for c, v in parts.items()}
            if parts
            else None
        )
        self.nulls = dict.fromkeys(self.pf.values(), 0)
        self.cols: dict = {}
        self.bad: set = set()
        #: opt-in per-shard BLOOM FILTERS (writer option
        #: ``bloom_filter_columns`` — Delta's bloom filter index):
        #: point-lookup pruning on columns whose [min, max] envelope
        #: is useless under a hash-scattered layout.  Bitset size is
        #: DERIVED from the protocol constant — _bloom_add hashes into
        #: BLOOM_M_BITS positions, so a hardcoded size would IndexError
        #: (or silently undersize) if the constant ever moved
        self.blooms: dict = {
            self.pf[c]: bytearray(BLOOM_M_BITS // 8)
            for c in (bloom_cols or ())
            if c in fields
        }

    def _flush_group(self) -> None:
        """Write the buffered rows as one parquet row group."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self.pq_writer is None:
            self.pq_writer = pq.ParquetWriter(
                os.path.join(self.dir, self.tmp), self.pa_schema
            )
        arrays = [
            pa.array(self.buf[f], type=fld.type)
            for f, fld in zip(self.fields, self.pa_schema)
        ]
        self.pq_writer.write_table(
            pa.Table.from_arrays(arrays, schema=self.pa_schema)
        )
        self.buf = {f: [] for f in self.fields}
        self.buf_n = 0

    def add(self, d: dict) -> None:
        if self.payload == "parquet":
            for f in self.fields:
                self.buf[f].append(d[f])
            self.buf_n += 1
            if self.buf_n >= self.ROW_GROUP_ROWS:
                self._flush_group()
        else:
            out = (
                {self.phys.get(k, k): v for k, v in d.items()}
                if self.phys
                else d
            )
            self.fh.write(
                _mod_json.dumps(out, default=_json_cell) + "\n"
            )
        self.n += 1
        # per-shard doc_id min/max ride the commit message — the
        # zonemap the reader's filter pushdown prunes with
        if self.has_doc and d["doc_id"] is not None:
            v = d["doc_id"]
            self.mn = v if self.mn is None or v < self.mn else self.mn
            self.mx = v if self.mx is None or v > self.mx else self.mx
        # per-column min/max for every other pushable column:
        # int/float/str only (bool excluded — isinstance quirk;
        # Decimal/datetime cells serialize as strings whose ordering
        # differs from their value ordering), NULLs counted separately
        # (pushed comparisons are null-rejecting, so a non-null
        # envelope is a sound whole-shard test), NaN poisons the
        # column (incomparable)
        for k, v in d.items():
            pk = self.pf[k]
            if v is None:
                self.nulls[pk] += 1
                continue
            if pk in self.blooms:
                _bloom_add(self.blooms[pk], v)
            if k == "doc_id" or pk in self.bad:
                continue
            if not isinstance(v, (int, float, str)) or isinstance(
                v, bool
            ) or v != v:
                self.bad.add(pk)
                self.cols.pop(pk, None)
                continue
            e = self.cols.get(pk)
            if e is None:
                self.cols[pk] = [v, v]
            else:
                if v < e[0]:
                    e[0] = v
                elif v > e[1]:
                    e[1] = v

    def close(self) -> "JsonlCommit":
        # shard contents must be on disk before the driver's commit
        # can make them visible — same power-loss discipline as the
        # metadata files
        if self.payload == "parquet":
            if self.buf_n or self.pq_writer is None:
                # final partial group; an empty shard still writes a
                # valid zero-row parquet file (commit records rows=0)
                self._flush_group()
            self.pq_writer.close()
            fd = os.open(os.path.join(self.dir, self.tmp), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        else:
            self.fh.flush()
            os.fsync(self.fh.fileno())
            self.fh.close()
        return JsonlCommit(
            self.tmp, self.final, self.n, self.mn, self.mx,
            parts=self.parts,
            cols=self.cols or None,
            nulls={"_rows": self.n, **self.nulls},
            bloom={
                c: _bloom_serialize(buf)
                for c, buf in self.blooms.items()
            } or None,
        )


class JsonlCommit(WriterCommitMessage):
    def __init__(
        self,
        tmp: str,
        file: str,
        rows: int,
        min_doc: int | None = None,
        max_doc: int | None = None,
        parts: dict | None = None,
        extra: list | None = None,
        cols: dict | None = None,
        nulls: dict | None = None,
        bloom: dict | None = None,
    ) -> None:
        self.tmp = tmp
        self.file = file
        self.rows = rows
        #: per-shard doc_id zonemap (None when the schema has no doc_id
        #: or the shard is empty) — commit() collects these into _STATS
        self.min_doc = min_doc
        self.max_doc = max_doc
        #: partition values of every row in this shard ({col: value}),
        #: set by a ``partition_by`` write — commit() records them
        #: under _STATS["_parts"] for reader-side partition pruning
        self.parts = parts
        #: per-column [min, max] over the shard's non-null values
        #: ({col: [mn, mx]}) — commit() records them under
        #: _STATS["_cols"] for multi-column zonemap pruning
        self.cols = cols
        #: per-column null counts ({"_rows": n, col: nulls}) —
        #: commit() records them under _STATS["_nulls"] for pushed
        #: IsNull/IsNotNull pruning
        self.nulls = nulls
        #: opt-in per-column bloom filters ({col: {"m", "k", "b"}}) —
        #: commit() records them under _STATS["_bloom"] for pushed
        #: equality/IN point-lookup pruning
        self.bloom = bloom
        #: additional shards from the SAME task (a partitioned task
        #: writes one shard per distinct partition value, but the
        #: DataSourceWriter API allows one message per task) —
        #: commit()/abort() flatten
        self.extra = extra


def _flatten_commits(messages):
    """One JsonlCommit per physical shard: tasks pack secondary shards
    into ``extra`` (one API message per task), commit/abort unpack."""
    for m in messages:
        if m is None:
            continue
        yield m
        for e in m.extra or ():
            yield e


class JsonlDocsStreamWriter(_LakeWriter, DataSourceStreamWriter):
    """STREAMING SINK INTO THE MINI-LAKE — the fourth quadrant of the
    connector matrix (batch read/write and the two stream readers are
    the other three): every micro-batch lands as one manifest commit
    through the same create-if-absent OCC claim as batch appends, so a
    downstream ``versioned`` stream reader tails the sink's output at
    commit granularity and batch readers never observe a torn batch.

    EXACTLY-ONCE: tasks stage uuid-named shards (invisible until a
    manifest references them); ``commit(messages, batchId)`` first
    checks the latest manifest's ``_txn.last_batch`` — a RETRIED batch
    (engine restart between sink commit and offset-log commit) finds
    its own id already recorded and becomes a no-op sweep, never a
    duplicate (Delta's idempotent-txn pattern).  Conflicts with
    concurrent BATCH appenders re-claim the next version metadata-only
    (staged shards need no re-write).  Compaction/vacuum keep their
    exclusive-maintainer rule: a rewrite drops ``_txn``, so don't run
    them against a live sink's directory.

    Scale: per-batch work is the batch writer's (executor shards +
    one driver claim); state carried between batches is ONE integer
    in the manifest."""

    _kind = "stream sink"

    def __init__(self, options, schema) -> None:
        self._parse_options(options, schema)

    def _task_contract(self) -> tuple[dict, list]:
        # CHECK constraints AND column mapping, loaded lazily per TASK
        # from the current latest manifest (a stream is long-lived — a
        # constraint or rename committed mid-stream must bind future
        # batches, so init-time loading would be stale; per-batch task
        # load is one manifest read).  The mapping matters for the
        # writers-keep-writing-the-physical-key invariant: after
        # rename_jsonl_column the mapped column's PHYSICAL JSON key is
        # its original name — serializing logical keys would make every
        # sink-committed row read back NULL under the mapped column.
        latest = _latest_manifest_version(self.path)
        if latest <= 0:
            return {}, []
        m = _manifest_at(self.path, latest)
        # schema enforcement per batch (the table can evolve
        # mid-stream): a shape mismatch fails the micro-batch before
        # any staging
        self._check_written_shape(
            m,
            latest,
            "restart the stream with the table's current shape "
            "(evolve_jsonl_schema is the sanctioned shape-changing path)",
        )
        cons = [
            (nm, ex, _compile_constraint(ex))
            for nm, ex in _constraints_of(m).items()
        ]
        return _mapping_of(m), cons

    def commit(self, messages, batchId: int) -> None:
        latest = _latest_manifest_version(self.path)
        last = (
            _manifest_at(self.path, latest).get(TXN_KEY, {})
            .get("last_batch", -1)
            if latest > 0
            else -1
        )
        if last >= batchId:
            # retried micro-batch: already durably committed — no-op
            self._sweep(set())
            return
        staged, stats = self._publish(messages)

        def _roll_back() -> None:
            # staged shards carry final names but are in no committed
            # manifest — remove them
            _remove_files(self.path, staged)
            self._sweep(set())

        # metadata-only claim loop: staged shards are invisible until a
        # manifest references them, so losing a claim to a concurrent
        # batch appender just means re-claiming against the new base.
        # Bounded: a pathologically hot table must fail the batch
        # loudly (the engine retries it; _txn makes that safe), not
        # spin the driver forever.
        lost: ManifestCommitConflict | None = None
        for _attempt in range(64):
            base = _latest_manifest_version(self.path)
            manifest = dict(_manifest_at(self.path, base))
            _check_features(manifest)  # refuse unknown table features
            # re-check _txn against the REFRESHED base: a zombie /
            # duplicate sink instance (engine failover) that passed the
            # pre-loop check can lose the claim race to the OTHER
            # instance's commit of this very batchId — re-claiming the
            # next version would land the batch's shards TWICE.  The
            # idempotence test must ride every claim attempt, not just
            # the first read (the Delta txn check is part of the commit
            # transaction for the same reason).
            if manifest.get(TXN_KEY, {}).get("last_batch", -1) >= batchId:
                _roll_back()
                return
            # the schema check in write() ran against whatever was
            # latest at STAGING time; the claim races against live
            # writers, so re-check against the REFRESHED base — a
            # first micro-batch that lost the v1 claim and re-based
            # onto someone else's table must not silently land rows
            # that read back NULL under that table's columns
            if base > 0:
                try:
                    self._check_written_shape(
                        manifest,
                        base,
                        "the table changed shape between staging and "
                        "commit; restart the stream",
                    )
                except ValueError:
                    _roll_back()
                    raise
            if TOMBSTONE_KEY in manifest:
                manifest[TOMBSTONE_KEY].setdefault("added", {}).update(
                    dict.fromkeys(staged, base + 1)
                )
            manifest.update(staged)
            if SCHEMA_KEY not in manifest and self.ddl != DOCS_DDL:
                # a base without a recorded schema means this commit
                # CREATES the table's shape (v1, or a later re-based
                # first batch whose v1 claim was lost to a concurrent
                # writer — keying on version == 1 silently dropped the
                # DDL in that race and the rows read back NULL under
                # DOCS_DDL): record the written shape so a non-docs
                # sink table reads back under its own schema
                manifest[SCHEMA_KEY] = self.ddl
            manifest[TXN_KEY] = {"last_batch": batchId}
            manifest[OP_KEY] = "streaming-append"
            self._stamp_table(manifest)
            try:
                version = commit_manifest(
                    self.path, base, manifest, "streaming append", stats
                )
            except ManifestCommitConflict as exc:
                lost = exc
                continue
            _maybe_auto_checkpoint(self.path, version, manifest)
            return
        raise lost

    def abort(self, messages, batchId: int) -> None:
        self._sweep(set())


class JsonlDocsStreamArrowWriter(
    DataSourceStreamArrowWriter, JsonlDocsStreamWriter
):
    """Arrow-serving twin of :class:`JsonlDocsStreamWriter` — each
    micro-batch's rows arrive as raw ``RecordBatch``es (no per-row
    ``Row`` construction in the worker); same staging, same
    exactly-once ``commit(messages, batchId)`` protocol."""

    def write(self, iterator) -> WriterCommitMessage:
        return self._write_dicts(
            _arrow_batches_to_dicts(iterator, self._struct)
        )


class JsonlDocsReader(DataSourceReader):
    """Manifest-resolving batch reader (snapshot / time-travel pins,
    tombstone application, zonemap + partition pruning — see the
    methods).

    PUSHDOWN-SHARING RULE (Spark 4.1 Python DataSource limitation —
    load once per filtered consumer): when ONE loaded DataFrame is
    branched under DIFFERENT filters (e.g. a union of two filtered
    aggregates over the same ``load()`` result), Spark builds a
    correctly-filtered reader per branch but executes BOTH branches
    against a single reader's planned partition list (scan identity
    ignores Python-side pushdown state, so the scans deduplicate;
    observed: the other branch re-filters the wrong shard set to
    empty).  Soundness rule for this source: take a FRESH ``load()``
    for every consumer that applies different filters — separate
    relations never share a reader.  Pruning stays a pure I/O saving
    under that rule because every filter is also re-evaluated by
    Spark.  (JVM DSv2 sources are immune: their pushed state lives in
    the Scan object, which participates in plan equality.)"""

    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("jsonl_docs requires option 'path'")
        self.path = path
        #: optional snapshot pin: option("version", "N") reads the
        #: shard list committed as _MANIFEST.v{N} — time travel over
        #: the immutable shards (appends only ever add files)
        v = options.get("version")
        self.version = int(v) if v is not None else None
        #: Delta's TIMESTAMP AS OF: option("as_of_ts", ns) reads the
        #: newest commit whose _ts stamp is <= the given wall-clock ns
        ts = options.get("as_of_ts")
        self.as_of_ts = int(ts) if ts is not None else None
        if self.version is not None and self.as_of_ts is not None:
            raise ValueError(
                "jsonl_docs: pass either 'version' or 'as_of_ts', not both"
            )
        #: restrict the scan to a NAMED shard subset (internal option —
        #: the PURGE rewrite reads exactly the DV-carrying shards; a
        #: whole-table maintenance job must never rescan clean files)
        sh = options.get("shards")
        self.only_shards = (
            {s.strip() for s in sh.split(",") if s.strip()}
            if sh
            else None
        )
        #: doc_id interval implied by pushed-down filters; shards whose
        #: _STATS zonemap can't intersect it are skipped in partitions()
        self._lo: int | None = None
        self._hi: int | None = None
        #: pushed-down equality/IN value sets per non-doc_id column —
        #: shards whose _STATS["_parts"] entry records a value OUTSIDE
        #: the set are skipped (partition pruning); columns without a
        #: parts entry never prune
        self._part_in: dict[str, set] = {}
        #: pushed-down [lo, hi] envelope per non-doc_id column (both
        #: bounds inclusive, either may be None) — shards whose
        #: _STATS["_cols"] entry records a [min, max] that cannot
        #: intersect are skipped (multi-column zonemap pruning);
        #: conjunctions prune naturally: ANY filtered column's miss
        #: skips the shard
        self._col_rng: dict[str, list] = {}
        #: pushed IsNull/IsNotNull requirements per column, tested
        #: against _STATS["_nulls"] (parquet's null_count position):
        #: "null" prunes shards with ZERO nulls, "notnull" prunes
        #: all-NULL shards — Spark pushes an implicit IsNotNull with
        #: every comparison, so all-null shards skip early
        self._null_req: dict[str, set] = {}
        #: pushed equality/IN value sets per column (one set per
        #: filter — a shard survives only if EVERY set has at least
        #: one bloom-possible value), tested against the writer's
        #: opt-in ``_STATS["_bloom"]`` filters: point-lookup pruning
        #: on hash-scattered layouts where the [min, max] envelope is
        #: structurally blind.  No false negatives, so pruning stays
        #: sound; shards/columns without a bloom entry never prune.
        self._eq_sets: dict[str, list] = {}
        #: the pinned commit's column order (schema evolution: resolved
        #: once at plan time, same as the source's schema() call) —
        #: and its column mapping: ``fields`` are the LOGICAL names
        #: Spark sees, ``phys_fields`` the JSON keys the shards carry
        _m = _effective_manifest(options)
        # table-features gate: a reader that does not understand a
        # required feature must refuse the table at PLAN time, never
        # silently misread it (Delta's minReaderVersion semantics)
        _check_features(_m)
        # option("columns"): source-level projection — MUST mirror
        # schema() exactly (the scan's declared schema is this list)
        _ddl = _project_ddl(
            _m.get(SCHEMA_KEY, DOCS_DDL), options.get("columns")
        )
        self.fields = _fields_of_ddl(_ddl)
        #: logical→physical mapping of the pinned commit — _prune
        #: translates pushed (logical) column names through it before
        #: probing _STATS maps, which are keyed PHYSICAL (a rename
        #: keeps old stats probeable; a re-used logical name can never
        #: hit a dead column's stats)
        self._cmap = _mapping_of(_m)
        self.phys_fields = _physical_fields(self.fields, self._cmap)
        self.convs = _converters_of_ddl(_ddl)
        #: LOGICAL-named pyarrow schema for the PARQUET shards'
        #: RecordBatch fast path (None → the schema contains a type
        #: whose arrow form is context-dependent, e.g. timestamps
        #: carry the session tz — those shards yield row tuples
        #: instead, which Spark's converters normalize)
        from pu4spark_spark.sources.lake.protocol import (
            _arrow_batch_schema_of_ddl,
        )

        self._pa_target = _arrow_batch_schema_of_ddl(_ddl)
        #: JSONL shards ALSO serve RecordBatches when every projected
        #: column's JSON cell form needs no converter (plain scalars):
        #: the worker then parses each shard once with pyarrow's C++
        #: JSON reader instead of per-row json.loads → tuple → pickle
        #: (guide §4 — same Arrow channel the parquet payload uses)
        from pu4spark_spark.sources.lake.protocol import (
            _jsonl_batch_safe,
        )

        self._jsonl_batch = (
            self._pa_target is not None and _jsonl_batch_safe(_ddl)
        )

    def pushFilters(self, filters):
        """Filter PUSHDOWN (Spark 4.1 Python DataSource API), four
        pruning axes — (0) IsNull/IsNotNull tested against the
        writer's per-shard null counts (``_STATS["_nulls"]``,
        parquet's null_count position: IsNull skips null-free shards,
        IsNotNull skips all-null shards — and Spark pushes an
        implicit IsNotNull with every comparison); (1) doc_id
        comparisons fold into one [lo, hi]
        interval tested against the writer's ``_STATS`` zonemap — the
        data-skipping move every lake format makes (parquet row-group
        stats, Iceberg manifests); (2) equality/IN predicates on other
        columns fold into per-column allowed-value sets tested against
        ``_STATS["_parts"]`` — PARTITION PRUNING over shards written
        with ``option("partition_by", col)``; (3) comparisons on ANY
        other column fold into per-column [lo, hi] envelopes tested
        against ``_STATS["_cols"]`` — the writer's multi-column
        min/max, so a CONJUNCTION (``n_chars >= a AND lang = 'en'``)
        skips shards the doc_id-only zonemap cannot.  Every filter is
        returned to Spark for re-evaluation, so the pushdown is purely
        an I/O saving and can never change results; shards without a
        stats/parts/cols entry are never pruned."""
        from pyspark.sql.datasource import (
            EqualNullSafe,
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        def _tighten(lo=None, hi=None):
            if lo is not None and (self._lo is None or lo > self._lo):
                self._lo = lo
            if hi is not None and (self._hi is None or hi < self._hi):
                self._hi = hi

        def _tighten_col(col, lo=None, hi=None):
            e = self._col_rng.setdefault(col, [None, None])
            try:
                if lo is not None and (e[0] is None or lo > e[0]):
                    e[0] = lo
                if hi is not None and (e[1] is None or hi < e[1]):
                    e[1] = hi
            except TypeError:
                # incomparable bound types on one column (should not
                # leave the analyzer, but pruning must never throw) —
                # disable this column's envelope entirely
                self._col_rng.pop(col, None)

        def _orderable(v) -> bool:
            # int/float/str only: bool is an int subclass but _cols
            # never records it; NaN is incomparable
            return (
                isinstance(v, (int, float, str))
                and not isinstance(v, bool)
                and v == v
            )

        for f in filters:
            attr = getattr(f, "attribute", None)
            # NULL-count pruning (any column, doc_id included):
            # IsNull prunes shards recording zero nulls, IsNotNull
            # prunes all-null shards; ``col <=> NULL`` is IsNull
            if attr is not None and len(attr) == 1:
                col0 = attr[0]
                if isinstance(f, IsNull) or (
                    isinstance(f, EqualNullSafe) and f.value is None
                ):
                    self._null_req.setdefault(col0, set()).add("null")
                    continue
                if isinstance(f, IsNotNull):
                    self._null_req.setdefault(col0, set()).add("notnull")
                    continue
            # PARTITION pruning: equality/IN on any other column folds
            # into a per-column allowed-value set, tested against the
            # writer's _STATS["_parts"] (a partitioned shard holds ONE
            # value per partition column, so set membership is a sound
            # whole-shard test; non-partitioned shards have no entry
            # and are never pruned)
            if (
                attr is not None
                and len(attr) == 1
                and attr != ("doc_id",)
            ):
                col = attr[0]
                vals = None
                if isinstance(
                    f, (EqualTo, EqualNullSafe)
                ) and isinstance(f.value, (str, int, bool)):
                    # <=> with a non-null literal means plain equality
                    vals = {f.value}
                elif (
                    isinstance(f, In)
                    and f.value
                    and all(
                        isinstance(v, (str, int, bool)) for v in f.value
                    )
                ):
                    vals = set(f.value)
                if vals is not None:
                    prev = self._part_in.get(col)
                    self._part_in[col] = (
                        vals if prev is None else prev & vals
                    )
                    self._eq_sets.setdefault(col, []).append(set(vals))
                # multi-column ZONEMAP envelope: inclusive bounds are
                # always sound (a strict bound kept inclusive only
                # keeps a shard it could have skipped, never the
                # reverse); IN prunes by its value hull
                v = getattr(f, "value", None)
                if isinstance(f, In):
                    if f.value and all(_orderable(x) for x in f.value):
                        try:
                            _tighten_col(
                                col, lo=min(f.value), hi=max(f.value)
                            )
                        except TypeError:
                            pass  # mixed-type IN list: no envelope
                elif _orderable(v):
                    if isinstance(f, (EqualTo, EqualNullSafe)):
                        _tighten_col(col, lo=v, hi=v)
                    elif isinstance(
                        f, (GreaterThan, GreaterThanOrEqual)
                    ):
                        _tighten_col(col, lo=v)
                    elif isinstance(f, (LessThan, LessThanOrEqual)):
                        _tighten_col(col, hi=v)
                continue
            if (
                isinstance(f, In)
                and attr == ("doc_id",)
                and f.value
                and all(isinstance(v, int) for v in f.value)
            ):
                # an IN list prunes by its value-set envelope (the
                # zonemap is an interval test, so the hull is the
                # tightest sound bound) — and exactly by bloom, when
                # the writer opted in
                _tighten(lo=min(f.value), hi=max(f.value))
                self._eq_sets.setdefault("doc_id", []).append(
                    set(f.value)
                )
                continue
            if getattr(f, "attribute", None) == ("doc_id",) and isinstance(
                getattr(f, "value", None), int
            ):
                if isinstance(f, EqualTo):
                    _tighten(lo=f.value, hi=f.value)
                    self._eq_sets.setdefault("doc_id", []).append(
                        {f.value}
                    )
                elif isinstance(f, GreaterThan):
                    _tighten(lo=f.value + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    _tighten(lo=f.value)
                elif isinstance(f, LessThan):
                    _tighten(hi=f.value - 1)
                elif isinstance(f, LessThanOrEqual):
                    _tighten(hi=f.value)
        # all filters go back to Spark — zonemap pruning is a shard
        # skip, not a row filter
        return filters

    def _prune(self, files: list) -> list:
        if (
            self._lo is None
            and self._hi is None
            and not self._part_in
            and not self._col_rng
            and not self._null_req
            and not self._eq_sets
        ):
            return files
        # assemble the stats view LAZILY (only when filters pushed —
        # the early return above) and PROJECTED: only the families the
        # pushed filters actually consult are deserialized from the
        # columnar checkpoint (a doc_id range scan never touches the
        # ~11 KiB/shard bloom column).  O(checkpoint + tail) driver
        # metadata — see sources/lake/checkpoint.py.
        fams = set()
        if self._lo is not None or self._hi is not None:
            fams.add("zonemap")
        if self._part_in:
            fams.add("_parts")
        if self._col_rng:
            fams.add("_cols")
        if self._null_req:
            fams.add("_nulls")
        if self._eq_sets:
            fams.add("_bloom")
        stats = assemble_stats(self.path, families=fams)
        if not stats:
            return files
        parts = stats.get("_parts", {})
        colstats = stats.get("_cols", {})
        nullstats = stats.get("_nulls", {})
        bloomstats = stats.get("_bloom", {})
        # pushed filters carry LOGICAL names; stats maps are keyed
        # PHYSICAL — translate once per filtered column
        cmap = self._cmap
        kept = []
        for f in files:
            # partition pruning: drop the shard iff a filtered column
            # has a RECORDED value outside the allowed set (no entry →
            # never prune blind, same rule as the zonemap)
            p = parts.get(f)
            if p and any(
                cmap.get(c, c) in p and p[cmap.get(c, c)] not in allowed
                for c, allowed in self._part_in.items()
            ):
                continue
            # multi-column zonemap: drop the shard iff ANY filtered
            # column's recorded [min, max] cannot intersect its pushed
            # envelope — conjunction pruning the doc_id-only stats
            # can't do.  Columns without an entry never prune;
            # incomparable recorded-vs-pushed types never prune.
            if colstats and self._col_rng:
                c = colstats.get(f)
                miss = False
                if c:
                    for col, (lo, hi) in self._col_rng.items():
                        e = c.get(cmap.get(col, col))
                        if not e:
                            continue
                        try:
                            if (hi is not None and e[0] > hi) or (
                                lo is not None and e[1] < lo
                            ):
                                miss = True
                                break
                        except TypeError:
                            continue
                if miss:
                    continue
            # null-count pruning: drop the shard iff a pushed IsNull
            # meets zero recorded nulls, or a pushed IsNotNull meets
            # an all-null column (no entry → never prune blind)
            if nullstats and self._null_req:
                e = nullstats.get(f)
                miss = False
                if e and isinstance(e.get("_rows"), int):
                    rows_n = e["_rows"]
                    for col, reqs in self._null_req.items():
                        cnt = e.get(cmap.get(col, col))
                        if not isinstance(cnt, int):
                            continue
                        if "null" in reqs and cnt == 0:
                            miss = True
                            break
                        if "notnull" in reqs and cnt == rows_n:
                            miss = True
                            break
                if miss:
                    continue
            # bloom pruning (opt-in writer index): a shard is dropped
            # iff SOME pushed equality/IN set has NO bloom-possible
            # value in it — the conjunction semantics of pushed
            # filters; no false negatives, so never a wrong drop
            if bloomstats and self._eq_sets:
                e = bloomstats.get(f)
                miss = False
                if e:
                    for col, val_sets in self._eq_sets.items():
                        ent = e.get(cmap.get(col, col))
                        if not ent:
                            continue
                        for vs in val_sets:
                            if not any(
                                _bloom_might_contain(ent, v)
                                for v in vs
                            ):
                                miss = True
                                break
                        if miss:
                            break
                if miss:
                    continue
            s = stats.get(f)
            if s is None:
                kept.append(f)  # no zonemap — never prune blind
                continue
            mn, mx = s
            if (self._hi is not None and mn > self._hi) or (
                self._lo is not None and mx < self._lo
            ):
                continue
            kept.append(f)
        return kept

    def _resolve(self) -> tuple[int | None, dict | None]:
        """(version, manifest) this read sees.  Pinned reads load their
        snapshot; unpinned reads resolve the HIGHEST committed
        ``_MANIFEST.v{N}`` — the live ``_MANIFEST`` is only a cache
        (a stalled winner flipping it late, or not at all, must never
        hide a newer committed version from batch readers) and is
        consulted only for legacy directories that have a live pointer
        but no versioned snapshots.  ``(None, None)`` = manifest-less
        directory → listing fallback."""
        import json as _json

        pinned = self.version
        if pinned is None and self.as_of_ts is not None:
            pinned = _version_as_of(self.path, self.as_of_ts)
        if pinned is not None:
            vpath = os.path.join(self.path, f"_MANIFEST.v{pinned}")
            if not os.path.exists(vpath):
                raise ValueError(
                    f"jsonl_docs: no snapshot _MANIFEST.v{pinned} "
                    f"under {self.path}"
                )
            with open(vpath) as fh:
                return pinned, _json.load(fh)
        latest = _latest_manifest_version(self.path)
        if latest > 0:
            with open(
                os.path.join(self.path, f"_MANIFEST.v{latest}")
            ) as fh:
                return latest, _json.load(fh)
        live = os.path.join(self.path, "_MANIFEST")
        if os.path.exists(live):
            with open(live) as fh:
                return None, _json.load(fh)
        return None, None

    def partitions(self):
        # driver-side work is ONE metadata read: when the directory was
        # produced by JsonlDocsWriter, the shard list comes from its
        # _MANIFEST commit log (so orphan shards from failed jobs are
        # never ingested); external directories (e.g. Spark's own JSON
        # writer output) fall back to a listing.  Each shard becomes an
        # independent task (ordering fixed for determinism).  Shards
        # with tombstoned rows (row-level DELETE/MERGE commits) carry
        # their applicable doc_id tombstones in the partition value so
        # every executor filters them at read time.
        _, manifest = self._resolve()
        if manifest is None:
            files = _list_shards(self.path)
        else:
            files = sorted(_manifest_files(manifest))
        if self.only_shards is not None:
            files = [f for f in files if f in self.only_shards]
        tombs = _tombstones_of(manifest)
        dvs = _dv_of(manifest)
        parts = []
        for f in self._prune(files):
            # shallow-clone aware: names the clone never localized
            # resolve to the source dir (_base_dir)
            full = _shard_path(self.path, manifest, f)
            ids, kfiles = _tomb_sources_for(f, tombs)
            dv = dvs.get(f)
            # a fully-masked shard (every written row deleted by its
            # DV) contributes nothing — skip the scan entirely
            if dv and manifest and manifest.get(f) == dv.get("n"):
                continue
            if ids or kfiles or dv:
                parts.append(
                    InputPartition(
                        (
                            full,
                            ids,
                            tuple(
                                _shard_path(self.path, manifest, kf)
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
        # runs on the executor's Python worker: stream one shard,
        # DISPATCHED on its payload format — JSONL shards yield row
        # tuples; PARQUET shards yield arrow RecordBatches cast to the
        # declared schema (zero per-row Python — the worker streams
        # them straight into Spark's Arrow channel), falling back to
        # tuples only for context-dependent types.  Mixing formats
        # across partitions is fine: each task runs exactly one
        # partition and the worker inspects each read()'s first yield.
        # partition is None when partitions() returned [] (the zonemap
        # pruned EVERY shard) — PySpark substitutes a single default
        # partition in that case, which must scan nothing.
        if partition is None:
            return
        value = partition.value
        path = value if isinstance(value, str) else value[0]
        if path.endswith(".parquet"):
            from pu4spark_spark.sources.lake.protocol import (
                _iter_parquet_batches,
                _iter_parquet_rows,
            )

            # ROW-GROUP skipping inside the surviving shard: the
            # pushed bounds (already shard-pruned against _STATS)
            # re-test each row group's parquet footer min/max — the
            # reader object is pickled to the executor with its
            # pushdown state, so this costs no extra plumbing.
            # Physical names: footer columns are the shard's keys.
            # doc_id bounds key the PHYSICAL column like every other
            # envelope: under column mapping a retired physical column
            # literally named 'doc_id' may survive in old shard
            # footers, and testing the logical bounds against ITS
            # min/max could skip row groups holding live rows
            rgb = {}
            if self._lo is not None or self._hi is not None:
                rgb[self._cmap.get("doc_id", "doc_id")] = (
                    self._lo,
                    self._hi,
                )
            for col, (lo, hi) in self._col_rng.items():
                if lo is not None or hi is not None:
                    rgb[self._cmap.get(col, col)] = (lo, hi)
            if self._pa_target is not None:
                yield from _iter_parquet_batches(
                    value, self.phys_fields, self._pa_target,
                    rg_bounds=rgb or None,
                )
            else:
                yield from _iter_parquet_rows(
                    value, self.phys_fields, self.convs,
                    rg_bounds=rgb or None,
                )
            return
        if self._jsonl_batch:
            from pu4spark_spark.sources.lake.protocol import (
                _iter_jsonl_batches,
            )

            yield from _iter_jsonl_batches(
                value, self.phys_fields, self._pa_target
            )
            return
        yield from _iter_jsonl(
            value, self.phys_fields, self.convs
        )
