"""Table MAINTENANCE + metadata commits: schema evolution,
CHECK constraints add/drop, compaction (OPTIMIZE, with optional
clustering), vacuum with retention grace, shallow CLONE, RESTORE,
DESCRIBE HISTORY, and the commit-retry helper."""

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
from pu4spark_spark.sources.lake.checkpoint import (
    CKPT_INTERVAL_KEY,
)
from pu4spark_spark.sources.lake.protocol import (
    BASE_DIR_KEY,
    CDC_KEY,
    CONSTRAINT_KEY,
    DOCS_DDL,
    DV_KEY,
    _dv_of,
    MAPPING_KEY,
    ManifestCommitConflict,
    OP_KEY,
    SCHEMA_KEY,
    FEATURES_KEY,
    SHARD_EXTENSIONS,
    TOMBSTONE_KEY,
    TXN_KEY,
    _check_features,
    _stamp_features,
    _compile_constraint,
    _constraint_column,
    _constraints_of,
    _earliest_manifest_version,
    _is_commit_conflict,
    _latest_manifest_version,
    _manifest_at,
    _manifest_files,
    _mapping_of,
    _retired_physicals,
    _shard_path,
    _tombstones_of,
    _remove_unclaimed,
    _typed_fields_of_ddl,
    commit_manifest,
)
from pu4spark_spark.sources.lake.source import (
    register_pyds,
)



def evolve_jsonl_schema(
    path: str, new_ddl: str, base_version: int | None = None
) -> int:
    """SCHEMA EVOLUTION as a lake COMMIT: claim a new manifest version
    identical to the base except for ``_schema`` = ``new_ddl`` — a
    pure-metadata commit through the same create-if-absent OCC gate as
    every append (a concurrent writer and an evolve have exactly one
    winner).  Only ADD-COLUMN evolution is legal: the base schema's
    columns must be a verbatim prefix of the new DDL (the one evolution
    every engine can serve without rewriting data — old shards
    null-extend; renames/drops/retypes would silently corrupt old
    rows and are rejected loudly).  Returns the new version."""
    base = (
        base_version
        if base_version is not None
        else _latest_manifest_version(path)
    )
    if base <= 0:
        raise ValueError(
            f"evolve_jsonl_schema: no committed version under {path}"
        )
    manifest = _manifest_at(path, base)
    _check_features(manifest)  # refuse unknown table features
    old_ddl = manifest.get(SCHEMA_KEY, DOCS_DDL)
    old_cols = _typed_fields_of_ddl(old_ddl)
    new_cols = _typed_fields_of_ddl(new_ddl)
    if new_cols[: len(old_cols)] != old_cols:
        raise ValueError(
            "evolve_jsonl_schema: only add-column evolution is "
            f"supported — the current schema ({old_ddl!r}) must be a "
            f"prefix of the new DDL ({new_ddl!r}); renames and drops "
            "are metadata commits (rename_jsonl_column / "
            "drop_jsonl_column); retypes require a rewrite"
        )
    version = base + 1
    new_manifest = dict(manifest)
    # column-mapping interplay: an added column whose name collides
    # with a RETIRED physical key (a dropped column's orphaned data)
    # or with a physical key still bound to some OTHER logical name
    # must get a FRESH physical id — otherwise old shards' orphaned
    # values would leak into the new column
    mapping = _mapping_of(manifest)
    taken = _retired_physicals(manifest) | set(mapping.values())
    old_names = {nm for nm, _ in old_cols}
    for nm, _t in new_cols[len(old_cols):]:
        if nm in old_names:
            raise ValueError(
                f"evolve_jsonl_schema: duplicate column {nm!r}"
            )
        if nm in taken:
            mapping[nm] = f"{nm}#v{version}"
    if mapping or _retired_physicals(manifest):
        new_manifest[MAPPING_KEY] = {
            "map": mapping,
            "retired": sorted(_retired_physicals(manifest)),
        }
        _stamp_features(new_manifest, "column-mapping")
    new_manifest[SCHEMA_KEY] = new_ddl
    new_manifest[OP_KEY] = "evolve-schema"
    return commit_manifest(path, base, new_manifest, "evolve")


def rename_jsonl_column(
    path: str, old: str, new: str, base_version: int | None = None
) -> int:
    """RENAME a column as a PURE-METADATA commit — Delta's column
    mapping (name mode): the new logical name is bound to the old
    column's PHYSICAL key in ``_column_mapping``, the DDL swaps the
    name in place, and zero data is rewritten.  Time travel serves
    each version's own names; reads after the rename pull the same
    physical values under the new name; writers after the rename keep
    writing the physical key, so old and new shards stay uniform.

    ``doc_id`` cannot be renamed: it is the table's row identity —
    tombstones, MERGE keys, CDC files and zonemap stats all key on it
    by name.  Renaming onto an existing column is rejected.  A version
    stream started under the old name fails loudly at the boundary
    (the DDL changed), the same restart contract as add-column.

    Scale: O(1) metadata — the entire point; Delta had to invent
    column mapping precisely because a 100 TB rename-by-rewrite is a
    non-starter."""
    base = (
        base_version
        if base_version is not None
        else _latest_manifest_version(path)
    )
    if base <= 0:
        raise ValueError(
            f"rename_jsonl_column: no committed version under {path}"
        )
    manifest = _manifest_at(path, base)
    _check_features(manifest)  # refuse unknown table features
    ddl = manifest.get(SCHEMA_KEY, DOCS_DDL)
    cols = list(_typed_fields_of_ddl(ddl))
    names = [nm for nm, _ in cols]
    if old == "doc_id":
        raise ValueError(
            "rename_jsonl_column: doc_id is the table's row identity "
            "(tombstones, MERGE, CDC and stats key on it) and cannot "
            "be renamed"
        )
    if old not in names:
        raise ValueError(
            f"rename_jsonl_column: no column {old!r} in ({ddl})"
        )
    if new in names:
        raise ValueError(
            f"rename_jsonl_column: column {new!r} already exists"
        )
    if not new.isidentifier():
        raise ValueError(
            f"rename_jsonl_column: {new!r} is not a valid column name"
        )
    for cn, ex in _constraints_of(manifest).items():
        if _constraint_column(ex) == old:
            raise ValueError(
                f"rename_jsonl_column: CHECK constraint {cn!r} ({ex}) "
                f"references {old!r} — drop or re-add the constraint "
                "first (Delta's rule for constrained columns)"
            )
    mapping = _mapping_of(manifest)
    physical = mapping.pop(old, old)
    mapping[new] = physical
    new_ddl = ", ".join(
        f"{new if nm == old else nm} {t}" for nm, t in cols
    )
    new_manifest = dict(manifest)
    new_manifest[SCHEMA_KEY] = new_ddl
    new_manifest[MAPPING_KEY] = {
        "map": mapping,
        "retired": sorted(_retired_physicals(manifest)),
    }
    _stamp_features(new_manifest, "column-mapping")
    new_manifest[OP_KEY] = "rename-column"
    return commit_manifest(path, base, new_manifest, "rename")


def drop_jsonl_column(
    path: str, name: str, base_version: int | None = None
) -> int:
    """DROP a column as a PURE-METADATA commit (Delta's mapping-mode
    DROP COLUMN): the column leaves the DDL, its physical key moves to
    the mapping's ``retired`` list — the data stays in the shards,
    invisible to every reader, still served by time travel to
    pre-drop versions.  A later add-column with the same name gets a
    FRESH physical id (see :func:`evolve_jsonl_schema`), so the
    orphaned values can never leak back.  Compaction rewrites live
    rows only, physically reclaiming the dropped bytes.  ``doc_id``
    cannot be dropped."""
    base = (
        base_version
        if base_version is not None
        else _latest_manifest_version(path)
    )
    if base <= 0:
        raise ValueError(
            f"drop_jsonl_column: no committed version under {path}"
        )
    manifest = _manifest_at(path, base)
    _check_features(manifest)  # refuse unknown table features
    ddl = manifest.get(SCHEMA_KEY, DOCS_DDL)
    cols = list(_typed_fields_of_ddl(ddl))
    names = [nm for nm, _ in cols]
    if name == "doc_id":
        raise ValueError(
            "drop_jsonl_column: doc_id is the table's row identity "
            "and cannot be dropped"
        )
    if name not in names:
        raise ValueError(
            f"drop_jsonl_column: no column {name!r} in ({ddl})"
        )
    if len(cols) <= 1:
        raise ValueError("drop_jsonl_column: cannot drop every column")
    for cn, ex in _constraints_of(manifest).items():
        if _constraint_column(ex) == name:
            raise ValueError(
                f"drop_jsonl_column: CHECK constraint {cn!r} ({ex}) "
                f"references {name!r} — drop the constraint first"
            )
    mapping = _mapping_of(manifest)
    physical = mapping.pop(name, name)
    retired = _retired_physicals(manifest) | {physical}
    new_manifest = dict(manifest)
    new_manifest[SCHEMA_KEY] = ", ".join(
        f"{nm} {t}" for nm, t in cols if nm != name
    )
    new_manifest[MAPPING_KEY] = {
        "map": mapping,
        "retired": sorted(retired),
    }
    _stamp_features(new_manifest, "column-mapping")
    new_manifest[OP_KEY] = "drop-column"
    return commit_manifest(path, base, new_manifest, "drop")


def add_constraint_jsonl_dir(
    path: str, name: str, expr: str, base_version: int | None = None
) -> int:
    """ADD a named CHECK constraint as a lake COMMIT (pure metadata,
    same create-if-absent OCC gate as every append — a concurrent
    writer that planned against the pre-constraint base either wins
    the claim race or conflicts; it can never land unvalidated rows
    AFTER the constraint's version).  Enforcement is add-forward:
    every write that plans against version >= this commit validates
    each row on the EXECUTOR before staging, and one violating row
    fails the whole job before any manifest claim — nothing partial
    ever commits.  The expression must compile under the restricted
    grammar (:func:`_compile_constraint`) or the ADD itself fails."""
    _compile_constraint(expr)  # fail at ADD time, not at write time
    base = (
        base_version
        if base_version is not None
        else _latest_manifest_version(path)
    )
    if base <= 0:
        raise ValueError(
            f"add_constraint_jsonl_dir: no committed version under {path}"
        )
    manifest = _manifest_at(path, base)
    _check_features(manifest)  # refuse unknown table features
    cons = dict(_constraints_of(manifest))
    if name in cons:
        raise ValueError(
            f"constraint {name!r} already exists: {cons[name]!r}"
        )
    cons[name] = expr
    new_manifest = dict(manifest)
    new_manifest[CONSTRAINT_KEY] = cons
    _stamp_features(new_manifest, "check-constraints")
    new_manifest[OP_KEY] = "add-constraint"
    return commit_manifest(path, base, new_manifest, "ADD CONSTRAINT")


def drop_constraint_jsonl_dir(
    path: str, name: str, base_version: int | None = None
) -> int:
    """DROP a named constraint — the metadata-commit twin of
    :func:`add_constraint_jsonl_dir` (unknown names fail loudly)."""
    base = (
        base_version
        if base_version is not None
        else _latest_manifest_version(path)
    )
    manifest = _manifest_at(path, base)
    _check_features(manifest)  # refuse unknown table features
    cons = dict(_constraints_of(manifest))
    if name not in cons:
        raise ValueError(f"constraint {name!r} does not exist")
    del cons[name]
    new_manifest = dict(manifest)
    if cons:
        new_manifest[CONSTRAINT_KEY] = cons
    else:
        new_manifest.pop(CONSTRAINT_KEY, None)
    new_manifest[OP_KEY] = "drop-constraint"
    return commit_manifest(path, base, new_manifest, "DROP CONSTRAINT")


#: interleave width for OPTIMIZE ZORDER — 8 bits/column = 256
#: equi-depth buckets per dimension, plenty for shard-level zonemaps
ZORDER_COMPACT_BITS = 8


def _zorder_staged(
    df: DataFrame, cols: list[str], target_shards: int
) -> DataFrame:
    """Stage a Z-ORDER rewrite: per column, an EQUI-DEPTH bucket id
    (0..255) from ONE multi-column ``approxQuantile`` sampling pass
    (the same pre-pass Delta's OPTIMIZE ZORDER pays — skew-robust
    where a value-range split is not; ``DataFrame.approxQuantile``
    takes a column LIST, so k z-columns cost one scan of the
    pre-compaction table, never k), then the Morton interleave of the
    bucket bits as ONE generated SQL expression (the construction
    discipline of ``operators/relational.py:zorder_key``), and a
    range repartition on the key.  Unlike hierarchical
    ``cluster_by=[a, b]`` — where only the LEADING column gets tight
    per-shard ranges — the interleave tightens every dimension's
    [min, max] at once, so the ``_cols`` zonemap prunes predicates on
    ANY of the z-columns.  Numeric/date/timestamp columns only
    (strings have no order-preserving numeric image); NULLs land in
    bucket 0 (``approxQuantile`` ignores nulls per column, same
    semantics as the per-column ``na.drop`` this fused pass
    replaced).  Cost: one quantile pass + scan-stage bucket math —
    no extra shuffle beyond the rewrite's own range partition."""
    from pyspark.sql import types as T

    bits = ZORDER_COMPACT_BITS
    nq = 1 << bits
    staged = df
    names: list[str] = []
    convs: list = []
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, T.DateType):
            conv = F.datediff(F.col(c), F.lit("1970-01-01").cast("date"))
            conv = conv.cast("double")
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            conv = F.col(c).cast("double")
        elif isinstance(dt, T.NumericType):
            conv = F.col(c).cast("double")
        else:
            raise ValueError(
                f"zorder_by: column {c!r} has type {dt.simpleString()} "
                "— z-ordering needs an order-preserving numeric image "
                "(numeric/date/timestamp)"
            )
        convs.append(conv)
    qs = [i / nq for i in range(1, nq)]
    probe_names = [f"__zv{i}" for i in range(len(convs))]
    all_bounds = df.select(
        *[cv.alias(nm) for cv, nm in zip(convs, probe_names)]
    ).approxQuantile(probe_names, qs, 0.01)
    for idx, (conv, bounds) in enumerate(zip(convs, all_bounds)):
        uniq = sorted(set(bounds))
        arr = F.array(*[F.lit(b) for b in uniq])
        nm = f"__zb{idx}"

        def _bucket(arr, conv):
            # factory binds ``conv`` per column; the HOF lambda must
            # stay SINGLE-parameter — a second (defaulted) parameter
            # flips pyspark's filter() into its (element, index)
            # signature and silently binds the capture to the index
            return F.size(F.filter(arr, lambda b: conv >= b))

        staged = staged.withColumn(nm, _bucket(arr, conv).cast("long"))
        names.append(nm)
    terms = []
    for i in range(bits):
        for ci, nm in enumerate(names):
            terms.append(
                f"shiftleft(cast(shiftright({nm}, {i}) & 1 as bigint), "
                f"{i * len(names) + ci})"
            )
    z = F.expr("cast(" + " + ".join(terms) + " as bigint)")
    return (
        staged.withColumn("__zkey", z)
        .repartitionByRange(target_shards, "__zkey")
        .drop("__zkey", *names)
    )


def compact_jsonl_dir(
    spark: SparkSession,
    path: str,
    target_shards: int,
    cluster_by: str | list[str] | None = None,
    zorder_by: list[str] | None = None,
    payload_format: str | None = None,
) -> int:
    """SMALL-FILE COMPACTION with snapshot semantics — the lake
    maintenance job: read the current manifest's shards, rewrite the
    same rows as ``target_shards`` consolidated files, and commit a new
    manifest version listing ONLY the new files.  Old shards stay on
    disk untouched, so earlier ``option("version", N)`` snapshot reads
    keep working until :func:`vacuum_jsonl_dir` reclaims them — exactly
    a table format's rewrite commit.  Returns the new version number.

    Scale shape: the rewrite is one distributed read + repartition +
    the transactional executor-side writer; the driver touches only
    manifest metadata.

    Transactionality: the whole rewrite is PINNED to one base snapshot
    — the read serves ``option("version", base)`` and the commit claims
    exactly ``base + 1`` create-if-absent — so compaction is
    correct-or-conflict under concurrent writers (Delta's OPTIMIZE
    conflict rule): a successful compaction's content is provably the
    state at ``version - 1``, and ANY commit landing in between makes
    it roll back the rewrite and raise ``ManifestCommitConflict`` for
    the caller to re-plan.  (:func:`vacuum_jsonl_dir` is safe beside
    writers/RESTORE/CLONE under its grace-window contract — see its
    docstring; ``stale_grace_s=0`` remains exclusive-maintainer.)
    Concurrent READERS are always safe:
    staged shards enter the live dir under ``_``-prefixed temp names
    (invisible to both the manifest-preferring reader and the
    listing/append-seed fallback), the final renames expose only
    fresh UUID names no old manifest references, and the manifest
    pointer itself flips last via the atomic rename-commit — so a
    crash at ANY step leaves the previous version fully intact (at
    worst orphan files a later vacuum sweeps)."""
    import json as _json
    import uuid as _uuid

    register_pyds(spark)
    # pin the WHOLE rewrite to one base snapshot: resolving the version
    # here and claiming exactly base+1 below makes a successful
    # compaction linearizable (its content is provably the state at
    # base = version-1).  The previous shape — unpinned read, then
    # version = latest+1 computed AFTER the rewrite — had a lost-update
    # hole: an append landing between the read and the claim got its
    # rows silently dropped by a rewrite that never saw them yet
    # claimed a LATER version.
    base = _latest_manifest_version(path)
    before = spark.read.format("jsonl_docs").option("path", path)
    if base > 0:
        before = before.option("version", base)
    # base == 0 means a manifest-less legacy directory: there is no
    # _MANIFEST.v0 snapshot to pin, so serve the listing fallback
    # unpinned (its content is the directory's files) and claim v1 —
    # the path that first promotes a plain JSONL directory into the
    # manifest protocol.  Pinning option("version", 0) here would
    # raise "no snapshot _MANIFEST.v0" and regress legacy compaction.
    before = before.load()
    # stage through the custom writer into a sibling dir, then move the
    # compacted shards in and commit a manifest naming only them — the
    # writer's append mode would UNION with the old manifest, which is
    # exactly wrong for a rewrite.  UUID stage dir: two concurrent
    # compactions must not clobber each other's staging (their claims
    # serialize below; their staging must too — same rule as merge).
    stage = path + f".compact-{_uuid.uuid4().hex[:8]}"
    # ``cluster_by``: the OPTIMIZE-with-clustering form — the rewrite
    # range-partitions on the column(s) instead of round-robin, so each
    # consolidated shard owns a contiguous value range and the writer's
    # _STATS zonemaps become selective again (appends scatter ranges
    # across shards; compaction is where a lake restores data-skipping,
    # the same job Delta's OPTIMIZE ZORDER runs).  A LIST clusters
    # hierarchically on the tuple — with the multi-column _cols
    # zonemap, a conjunction on the leading columns prunes the
    # compacted layout.  Content-neutral either way: the commit is the
    # same rewrite commit.
    # ``zorder_by``: the multi-dimensional form — see _zorder_staged
    if zorder_by and cluster_by:
        raise ValueError(
            "compact_jsonl_dir: pass cluster_by OR zorder_by, not both"
        )
    cluster_cols = (
        [cluster_by] if isinstance(cluster_by, str) else cluster_by
    )
    if zorder_by:
        staged_df = _zorder_staged(before, zorder_by, target_shards)
    elif cluster_cols:
        staged_df = before.repartitionByRange(
            target_shards, *cluster_cols
        )
    else:
        staged_df = before.repartition(target_shards)
    w = staged_df.write.format("jsonl_docs").option("path", stage)
    # PAYLOAD FORMAT of the rewrite: explicit param wins; default
    # PRESERVES an all-parquet table's columnar payload (a compaction
    # must not silently de-columnarize the table the writer opted
    # into) and otherwise writes JSONL — so compaction doubles as the
    # jsonl→parquet migration path when called with
    # payload_format="parquet"
    pre_m = _manifest_at(path, base) if base > 0 else {}
    _check_features(pre_m)  # refuse unknown table features
    if payload_format is None:
        pre_files = _manifest_files(pre_m)
        payload_format = (
            "parquet"
            if pre_files
            and all(f.endswith(".parquet") for f in pre_files)
            else "jsonl"
        )
    w = w.option("payload_format", payload_format)
    # COLUMN MAPPING rides the rewrite: physical ids are assigned at
    # column creation and NEVER change (Delta's invariant — stream/CDF
    # readers, time travel and tombstone scoping all key shard JSON by
    # physical name), so the rewritten shards must keep writing the
    # mapped keys; the stage dir has no manifest, the mapping rides in
    # by option (same as merge staging)
    pre_mapping = _mapping_of(pre_m)
    if pre_mapping:
        import json as _mjson

        w = w.option("physical_map", _mjson.dumps(pre_mapping))
    # BLOOM REBUILD (Delta's OPTIMIZE rebuilds bloom indexes): columns
    # that carried a per-shard bloom on any pre-compaction shard get
    # fresh blooms on the rewritten shards — otherwise a compaction
    # silently drops the point-lookup index the writer opted into.
    # _bloom is keyed by PHYSICAL name; the writer option speaks
    # LOGICAL, so translate back through the mapping (a retired
    # physical — dropped column — has no logical name and is skipped:
    # its data is gone from the rewrite anyway).
    from pu4spark_spark.sources.lake.checkpoint import assemble_stats

    pre_bloom_phys: set[str] = set()
    _pre_bloom = assemble_stats(path, families={"_bloom"}).get(
        "_bloom", {}
    )
    for f in _manifest_files(pre_m):
        pre_bloom_phys.update(_pre_bloom.get(f, {}))
    if pre_bloom_phys:
        phys_to_logical = {p: l for l, p in pre_mapping.items()}
        bloom_logical = sorted(
            phys_to_logical.get(p, p)
            for p in pre_bloom_phys
            if phys_to_logical.get(p, p) in staged_df.columns
        )
        if bloom_logical:
            w = w.option(
                "bloom_filter_columns", ",".join(bloom_logical)
            )
    (
        w
        .mode("overwrite")
        .save()
    )
    with open(os.path.join(stage, "_MANIFEST")) as fh:
        # shard files only — the stage commit's own reserved keys
        # (_ts) must not be treated as files to move
        new_manifest = {
            f: v
            for f, v in _json.load(fh).items()
            if not f.startswith("_")
        }
    # two-step move: every staged shard first lands in the live dir
    # under an underscore temp name (crash here → only invisible
    # temps), then the batch of renames to final names (fresh UUIDs —
    # unreferenced by any committed manifest, so still invisible),
    # and only then does metadata flip
    for f in new_manifest:
        os.replace(
            os.path.join(stage, f),
            os.path.join(path, "_tmp-compact-" + f),
        )
    for f in new_manifest:
        os.replace(
            os.path.join(path, "_tmp-compact-" + f),
            os.path.join(path, f),
        )
    # the consolidated shards' stats ride the commit as a per-version
    # DELTA (r15); the replaced shards' old entries stay in their own
    # deltas — harmless for vacuumed files, still valid for snapshot
    # reads, and dropped at the next CHECKPOINT
    ck_delta = assemble_stats(stage)
    import shutil

    shutil.rmtree(stage, ignore_errors=True)
    # a rewrite is content-neutral INCLUDING the table's metadata
    # contract: carry the pre-compaction commit's _schema (the
    # rewritten shards hold every evolved column — the read above
    # served the latest shape), its _constraints (a compaction must
    # not silently unharden the table), and the stream sink's _txn
    # idempotence marker (losing it would let a retried micro-batch
    # recommit AFTER a compaction — duplicate rows).  The tombstone
    # ledger and the _cdc map are deliberately NOT carried: the
    # rewrite applied the deletes physically, and CDC files belong to
    # the versions that made them.  _column_mapping IS carried (the
    # rewrite wrote the mapped physical keys — physical ids are
    # assigned at column creation and never change, Delta's
    # column-mapping invariant; collapsing here would fork the
    # table's physical identity mid-history and break every reader
    # that resolves columns by it).
    for carry in (
        SCHEMA_KEY, CONSTRAINT_KEY, TXN_KEY, MAPPING_KEY, FEATURES_KEY,
        CKPT_INTERVAL_KEY,
    ):
        if carry in pre_m:
            new_manifest[carry] = pre_m[carry]
    if payload_format == "parquet":
        _stamp_features(new_manifest, "payload-parquet")
    new_manifest[OP_KEY] = "compact"
    # the ``.rewrite`` marker declares this commit dataChange=false so
    # the version stream reader SKIPS it — compaction rewrites rows, it
    # never adds any.  On a lost claim the compacted files are rolled
    # back (they are in no committed manifest) minus anything the
    # winner references.
    try:
        return commit_manifest(
            path, base, new_manifest, "compaction", ck_delta, rewrite=True
        )
    except ManifestCommitConflict:
        _remove_unclaimed(path, base + 1, _manifest_files(new_manifest))
        raise


def purge_jsonl_dir(
    spark: SparkSession,
    path: str,
    target_shards: int | None = None,
) -> int:
    """``REORG TABLE ... APPLY (PURGE)`` — Delta's deletion-vector
    reclaim: rewrite ONLY the shards carrying a deletion vector,
    physically dropping their masked rows, and commit a manifest that
    replaces exactly those files and clears their ``_dv`` entries.
    Clean shards are untouched (never rescanned — the rewrite reads a
    named shard subset via the reader's internal ``shards`` option),
    which is the whole point vs a full compaction at 100 TB: purge
    cost is O(deleted-data shards), not O(table).  A fully-masked
    shard simply leaves the manifest with no replacement.

    Content-neutral (the masked rows were already invisible), so the
    commit carries the ``.rewrite`` marker — version/CDF streams skip
    it, exactly like compaction.  Same base-pinned claim-or-conflict
    transactionality as compaction.  Returns the new version, or the
    current one when no shard carries a vector."""
    register_pyds(spark)
    base = _latest_manifest_version(path)
    if base <= 0:
        raise ValueError(
            f"purge_jsonl_dir: no committed version under {path}"
        )
    m = _manifest_at(path, base)
    _check_features(m)
    live = set(_manifest_files(m))
    subset = sorted(f for f in _dv_of(m) if f in live)
    if not subset:
        return base  # nothing to purge
    return _subset_rewrite(
        spark, path, base, m, subset, target_shards, op="purge"
    )


def _subset_rewrite(
    spark: SparkSession,
    path: str,
    base: int,
    m: dict,
    subset: list[str],
    target_shards: int | None,
    op: str,
    extra_writer_opts: dict | None = None,
) -> int:
    """Rewrite EXACTLY the named shard subset and commit ``base + 1``
    replacing those files (everything else carried verbatim) — the
    shared core of :func:`purge_jsonl_dir` (subset = DV-carrying
    shards) and :func:`compact_partitions_jsonl_dir` (subset = one
    partition's shards).  Applies tombstones/DVs during the read (the
    reader does), drops the subset's ``_dv`` entries, re-anchors the
    ledger's added-map, preserves payload format / physical keys /
    bloom indexes, and commits under the ``.rewrite`` marker
    (dataChange=false — streams skip it) with the same base-pinned
    claim-or-conflict transactionality as full compaction."""
    import json as _json
    import uuid as _uuid

    before = (
        spark.read.format("jsonl_docs")
        .option("path", path)
        .option("version", base)
        .option("shards", ",".join(subset))
        .load()
    )
    stage = path + f".{op}-{_uuid.uuid4().hex[:8]}"
    w = (
        before.repartition(target_shards or len(subset))
        .write.format("jsonl_docs")
        .option("path", stage)
    )
    for k, v in (extra_writer_opts or {}).items():
        w = w.option(k, v)
    from pu4spark_spark.sources.lake.checkpoint import assemble_stats

    # preserve the subset's payload format — a rewrite must NEVER
    # downgrade data the writer opted into parquet, so ANY parquet
    # shard in the subset keeps the rewrite columnar (a mixed
    # jsonl+parquet subset — the exact shape a DV purge over a mixed
    # table creates — previously fell back to JSONL).  Guarded on the
    # schema being parquet-batch-representable: a mixed table whose
    # DDL the parquet writer would refuse (context-dependent types)
    # still rewrites as JSONL rather than failing the maintenance job.
    if any(f.endswith(".parquet") for f in subset):
        from pu4spark_spark.sources.lake.protocol import (
            _arrow_type_of_ddl,
            _typed_fields_of_ddl,
        )

        try:  # the WRITER's own parquet gate, probed plan-side
            for _nm, _t in _typed_fields_of_ddl(
                m.get(SCHEMA_KEY, DOCS_DDL)
            ):
                _arrow_type_of_ddl(_t)
            w = w.option("payload_format", "parquet")
        except ValueError:
            pass  # schema the parquet payload refuses: keep JSONL
    mapping = _mapping_of(m)
    if mapping:
        w = w.option("physical_map", _json.dumps(mapping))
    # rebuild any bloom index the subset carried (same invariant as
    # compaction's rewrite)
    _pre_bloom = assemble_stats(path, families={"_bloom"}).get(
        "_bloom", {}
    )
    bloom_phys = set()
    for f in subset:
        bloom_phys.update(_pre_bloom.get(f, {}))
    if bloom_phys:
        p2l = {p: l for l, p in mapping.items()}
        bl = sorted(
            p2l.get(p, p)
            for p in bloom_phys
            if p2l.get(p, p) in before.columns
        )
        if bl:
            w = w.option("bloom_filter_columns", ",".join(bl))
    w.mode("overwrite").save()
    with open(os.path.join(stage, "_MANIFEST")) as fh:
        staged = {
            f: v
            for f, v in _json.load(fh).items()
            if not f.startswith("_")
        }
    stage_stats = assemble_stats(stage)
    for f in staged:
        os.replace(
            os.path.join(stage, f),
            os.path.join(path, f"_tmp-{op}-" + f),
        )
    for f in staged:
        os.replace(
            os.path.join(path, f"_tmp-{op}-" + f),
            os.path.join(path, f),
        )
    import shutil

    shutil.rmtree(stage, ignore_errors=True)
    version = base + 1
    sub = set(subset)
    new_manifest = {k: v for k, v in m.items() if k not in sub}
    new_manifest.update(staged)
    remaining_dv = {
        f: e for f, e in _dv_of(m).items() if f not in sub
    }
    if remaining_dv:
        new_manifest[DV_KEY] = remaining_dv
    else:
        new_manifest.pop(DV_KEY, None)
    if TOMBSTONE_KEY in new_manifest:
        tombs = dict(new_manifest[TOMBSTONE_KEY])
        added = {
            f: v
            for f, v in tombs.get("added", {}).items()
            if f not in sub
        }
        # replacement rows were read with every entry applied — exempt
        # them from the whole retained ledger
        added.update({f: version for f in staged})
        tombs["added"] = added
        new_manifest[TOMBSTONE_KEY] = tombs
    new_manifest[OP_KEY] = op
    try:
        return commit_manifest(
            path, base, new_manifest, op, stage_stats, rewrite=True
        )
    except ManifestCommitConflict:
        _remove_unclaimed(path, version, staged)
        raise


def compact_partitions_jsonl_dir(
    spark: SparkSession,
    path: str,
    partition_where: dict,
    target_shards: int | None = None,
) -> int:
    """``OPTIMIZE <table> WHERE part = value`` — PARTITION-SCOPED
    compaction: rewrite ONLY the shards whose recorded partition
    values (``_STATS["_parts"]``, written by ``partition_by`` writes)
    match EVERY ``{column: value}`` pair, leaving the rest of the
    table untouched.  The hourly-ingest maintenance shape at 100 TB:
    the day's hot partition accumulates small streaming-sink shards
    and gets consolidated nightly — without rescanning the years of
    cold partitions a full OPTIMIZE would touch (Delta restricts the
    WHERE to partition columns for exactly this reason; so does this:
    a shard with NO recorded partition value for a named column never
    matches, because membership can't be proven from metadata).
    The rewrite stays partitioned (``partition_by`` rides the stage
    write, so the consolidated shards keep their ``_parts`` pruning
    metadata).  Tombstones/DVs applying to the subset are folded in
    (their entries re-anchored like purge); commit carries the
    ``.rewrite`` marker.  Returns the new version, or the current one
    when nothing matches."""
    import json as _json

    register_pyds(spark)
    if not partition_where:
        raise ValueError(
            "compact_partitions_jsonl_dir: partition_where must name "
            "at least one {column: value} pair (use compact_jsonl_dir "
            "for a full OPTIMIZE)"
        )
    base = _latest_manifest_version(path)
    if base <= 0:
        raise ValueError(
            f"compact_partitions_jsonl_dir: no committed version "
            f"under {path}"
        )
    m = _manifest_at(path, base)
    _check_features(m)
    mapping = _mapping_of(m)
    phys_where = {
        mapping.get(c, c): v for c, v in partition_where.items()
    }
    # partition membership from the assembled stats view (checkpoint +
    # tail deltas) — the metadata-proven subset selection, now served
    # columnar-first with only the _parts family deserialized
    from pu4spark_spark.sources.lake.checkpoint import assemble_stats

    parts_map: dict = assemble_stats(
        path, families={"_parts"}
    ).get("_parts", {})
    subset = sorted(
        f
        for f in _manifest_files(m)
        if parts_map.get(f)
        and all(
            parts_map[f].get(pc) == pv for pc, pv in phys_where.items()
        )
    )
    if not subset:
        return base  # no shard provably in the partition
    return _subset_rewrite(
        spark,
        path,
        base,
        m,
        subset,
        target_shards,
        op="compact-partition",
        extra_writer_opts={
            "partition_by": ",".join(partition_where)
        },
    )


def vacuum_jsonl_dir(
    path: str,
    keep_versions: int = 1,
    stale_grace_s: float = 600.0,
    dry_run: bool = False,
    record_history: bool = False,
) -> int | list[str]:
    """Reclaim shards unreachable from the newest ``keep_versions``
    manifests and drop the older manifest files — the GC half of the
    snapshot contract (time travel works until vacuum, then fails
    LOUDLY rather than serving partial data).  Also sweeps ``_tmp-``
    orphans left by a crashed compaction or write job.

    ``stale_grace_s`` makes vacuum SAFE BESIDE LIVE WRITERS (Delta's
    file-retention check): an unreferenced file younger than the
    grace window is presumed to be a concurrent writer's
    staged-but-unclaimed work (data shards get their final names
    BEFORE the manifest claim; delete-key shards likewise) and is
    left alone — only files that have sat unreferenced past the
    window are true orphans from crashed jobs.  Size it above the
    worst stage-to-claim latency (the default 600 s is generous; a
    claim follows its staging within seconds).  ``stale_grace_s=0``
    restores the old exclusive-maintainer behavior: reclaim
    everything unreferenced, only safe with no writer in flight.
    Manifest snapshots need no grace — they are atomic
    create-if-absent commits, never staged.

    CONCURRENCY CONTRACT (grace-windowed, the default): appends /
    DML / the stream sink are safe beside vacuum (staged shards are
    younger than the window; committed shards are live).  RESTORE and
    CLONE re-reference OLD shards a racing vacuum's live set may not
    contain — both close the race by touching every re-referenced
    file before committing (fresh mtime puts them inside this
    window), and fail loudly mid-race rather than committing a
    partially-readable table.  Readers holding a pre-vacuum snapshot
    either succeed exactly or fail LOUDLY (a vacuumed pinned manifest
    raises at plan time; a vacuumed shard raises FileNotFoundError at
    scan time) — never silently partial, the same retention-check
    semantics Delta's VACUUM documents.  With ``stale_grace_s=0``
    none of this holds: that mode is exclusive-maintainer only.

    ``record_history=True`` additionally commits a pure-metadata
    "vacuum" version after the removal pass (Delta logs VACUUM
    operations the same way): the latest manifest's exact file set
    re-committed with ``op = "vacuum"`` and a ``_vacuum`` metrics
    block, so ``DESCRIBE HISTORY`` shows the GC event with what it
    reclaimed.  The commit goes through the normal create-if-absent
    OCC claim; after 8 lost claims to concurrent writers it is
    SKIPPED silently — the record is advisory, the reclaim already
    happened.  File set unchanged ⇒ version streams and CDF treat it
    as a metadata-only commit (nothing delivered, no error).

    Returns the number of shard files deleted — or, with
    ``dry_run=True`` (Delta's VACUUM DRY RUN), the sorted list of
    every file the real run WOULD remove (shards, sidecars,
    manifests, temps), deleting nothing."""
    import json as _json
    import time as _time

    now = _time.time()

    def _stale(f: str) -> bool:
        if stale_grace_s <= 0:
            return True
        try:
            return now - os.path.getmtime(os.path.join(path, f)) >= (
                stale_grace_s
            )
        except OSError:
            return False  # raced with its own cleanup — leave it

    versions = sorted(
        int(f.rsplit(".v", 1)[1])
        for f in os.listdir(path)
        if f.startswith("_MANIFEST.v") and f.rsplit(".v", 1)[1].isdigit()
    )
    if not versions:
        return 0
    keep = set(versions[-max(1, keep_versions):])
    #: manifests are removed by AGE CUTOFF, never by keep-set
    #: membership: a commit landing between vacuum's version listing
    #: and its removal pass is NEWER than everything listed and absent
    #: from the stale keep set — membership-based removal would delete
    #: that just-committed snapshot (observed in the threaded stress:
    #: a delete's fresh v2 vanished and the next delete re-claimed v2,
    #: breaking manifest immutability).  Only versions strictly OLDER
    #: than the oldest kept one are reclaimable.
    cutoff = min(keep)
    live: set[str] = set()
    for v in keep:
        try:
            with open(os.path.join(path, f"_MANIFEST.v{v}")) as fh:
                m = _json.load(fh)
        except OSError:
            continue  # raced a concurrent vacuum's removal pass
        live.update(_manifest_files(m))
        # tombstone entries' delete files stay reachable while any
        # retained manifest references them (a merge's entry names its
        # own data shards — already live; a delete's names _delete-*
        # key shards, reclaimed below once no kept ledger needs them)
        for e in _tombstones_of(m)["entries"]:
            live.update(e.get("files", ()))
        # commit-time CDC files stay reachable while any retained
        # manifest carries their version in its _cdc map
        for fl in m.get(CDC_KEY, {}).values():
            live.update(fl)
    removed = 0
    would_remove: list[str] = []
    # checkpoint-aware retention: stats DELTAS are reclaimable only
    # once a checkpoint at-or-above their version has compacted them
    # (removing an unsubsumed delta would silently lose pruning for
    # still-live shards); SUPERSEDED checkpoint parquets are
    # reclaimable under the stale grace window (a freshly written
    # checkpoint whose pointer flip hasn't landed is inside it); the
    # CURRENT checkpoint and the _LAST_CHECKPOINT pointer are never
    # touched.
    from pu4spark_spark.sources.lake.checkpoint import (
        CHECKPOINT_PREFIX,
        last_checkpoint_version,
    )

    ckv = last_checkpoint_version(path)

    def _rm(f: str) -> bool:
        # two vacuums racing the same orphan must not crash the loser
        if dry_run:
            would_remove.append(f)
            return True
        try:
            os.remove(os.path.join(path, f))
            return True
        except OSError:
            return False

    for f in os.listdir(path):
        if f.startswith(("_delete-", "_cdc-")):
            if f not in live and _stale(f):
                _rm(f)
        elif f.startswith("_MANIFEST.v"):
            # manifests need no grace (atomic create-if-absent commits,
            # never half-staged) but DO need the age cutoff — see the
            # comment at `cutoff` above
            v = f.rsplit(".v", 1)[1]
            if v.isdigit() and int(v) < cutoff:
                _rm(f)
            elif v.endswith(".rewrite"):
                # dataChange=false sidecar: lives and dies with its
                # snapshot version
                vn = v[: -len(".rewrite")]
                if vn.isdigit() and int(vn) < cutoff:
                    _rm(f)
        elif f.startswith("_STATS.v"):
            v = f[len("_STATS.v"):]
            if v.isdigit() and int(v) < cutoff and int(v) <= ckv:
                _rm(f)
        elif f.startswith(CHECKPOINT_PREFIX) and f.endswith(".parquet"):
            v = f[len(CHECKPOINT_PREFIX):-len(".parquet")]
            if v.isdigit() and int(v) < ckv and _stale(f):
                _rm(f)
        elif f.startswith("_tmp-"):
            # orphan from a crashed compaction/write — never visible
            # to readers; the grace window keeps a LIVE job's staging
            # safe
            if _stale(f):
                _rm(f)
        elif (
            f.endswith(SHARD_EXTENSIONS)
            and not f.startswith((".", "_"))
            and f not in live
            and _stale(f)
        ):
            if _rm(f):
                removed += 1
    if dry_run:
        return sorted(would_remove)
    if record_history:
        for _attempt in range(8):
            base = _latest_manifest_version(path)
            if base <= 0:
                break
            try:
                m = dict(_manifest_at(path, base))
            except OSError:
                continue  # raced a concurrent commit's flip — re-read
            m[OP_KEY] = "vacuum"
            m["_vacuum"] = {
                "removed": removed,
                "keep_versions": keep_versions,
                "stale_grace_s": stale_grace_s,
            }
            try:
                commit_manifest(path, base, m, "vacuum")
            except ManifestCommitConflict:
                continue  # claim lost to a concurrent writer: re-base
            break
        # falling out after 8 lost claims is fine: the reclaim itself
        # succeeded and the history record is advisory
    return removed


def clone_jsonl_dir(
    src: str, dst: str, version: int | None = None
) -> int:
    """SHALLOW CLONE — Delta's ``CREATE TABLE ... SHALLOW CLONE``:
    materialize a NEW table at ``dst`` whose v1 manifest references
    the SOURCE's immutable shards by name (resolved through
    ``_base_dir`` at read time — zero data copied), with the source
    snapshot's schema, constraints, zonemap stats, and tombstone
    ledger.  The clone's history starts fresh: writes/DML/compaction
    on the clone land in the clone's dir and never touch the source
    (divergence is the point — dev/test branching); a compaction
    materializes the clone fully local and drops the base-dir link.

    Ledger version stamps are NORMALIZED into the open interval (0, 1)
    by an order-preserving map: copied entries keep applying to
    exactly the copied shards they applied to in the source (strict
    ``v > added`` inequalities survive any injective order-preserving
    map); shards absent from the added-map keep their default 0, which
    stays BELOW every copied entry; and every FUTURE clone commit
    (integer version ≥ 2) sits ABOVE them all — so copied entries
    never touch post-clone shards and post-clone entries apply to all
    copied shards: the sequence-number contract holds across the
    graft.  Vacuum on the clone only ever
    deletes files physically present in the clone's dir, so shared
    source shards are structurally out of reach.  Returns 1."""
    base_v = (
        version
        if version is not None
        else _latest_manifest_version(src)
    )
    if base_v <= 0:
        raise ValueError(
            f"clone_jsonl_dir: no committed version under {src}"
        )
    src_m = _manifest_at(src, base_v)
    _check_features(src_m)  # refuse unknown table features
    if os.path.exists(os.path.join(dst, "_MANIFEST.v1")):
        raise ValueError(f"clone_jsonl_dir: {dst} already has a table")
    os.makedirs(dst, exist_ok=True)
    new_manifest: dict = {f: src_m[f] for f in _manifest_files(src_m)}
    # mapping carried too: the cloned manifest references the SOURCE's
    # physical shards, so their physical keys must keep resolving —
    # and the feature list (the clone reads the source's files, so it
    # requires everything the source does), and the deletion vectors
    # (positional masks on the shared shards; no version stamps to
    # normalize — a DV is scoped to its shard, not to a commit)
    for carry in (
        SCHEMA_KEY, CONSTRAINT_KEY, MAPPING_KEY, FEATURES_KEY, DV_KEY,
        CKPT_INTERVAL_KEY,
    ):
        if carry in src_m:
            new_manifest[carry] = src_m[carry]
    # the source itself may be a clone: chain to ITS base for any name
    # it never localized?  No — resolve one level only, flattening the
    # chain: names present in the source dir point there, the rest to
    # the source's own base
    src_base = src_m.get(BASE_DIR_KEY)
    new_manifest[BASE_DIR_KEY] = os.path.abspath(src)
    if src_base:
        # flatten: every referenced name must resolve from ONE base;
        # a two-level chain would need per-file bases.  Refuse unless
        # the source localized everything (post-compaction clone).
        missing = [
            f
            for f in _manifest_files(src_m)
            if not os.path.exists(os.path.join(src, f))
        ]
        if missing:
            raise ValueError(
                "clone_jsonl_dir: the source is itself a shallow "
                f"clone still sharing files (e.g. {missing[0]!r}) — "
                "compact the source first to materialize it"
            )
    # the clone references the SOURCE's shards (and its ledger's
    # delete-key files) — verify they exist and TOUCH them, so a
    # grace-windowed vacuum racing on the source (which computed its
    # live set before this clone, and never sees the clone's manifest
    # at all) treats them as fresh instead of reclaiming them out from
    # under the clone.  Same mechanism as restore's concurrent-vacuum
    # protection; a pinned old version whose files are already gone
    # fails loudly here, never commits a partially-readable clone.
    needed = list(_manifest_files(src_m))
    for e in _tombstones_of(src_m)["entries"]:
        needed.extend(e.get("files", ()))
    for f in needed:
        try:
            os.utime(_shard_path(src, src_m, f))
        except OSError:
            raise ValueError(
                f"clone_jsonl_dir: source version {base_v} file "
                f"{f!r} is reclaimed (vacuumed) — a partial clone "
                "must never commit"
            ) from None
    tombs = _tombstones_of(src_m)
    if tombs["entries"]:
        stamps = sorted(
            {e["v"] for e in tombs["entries"]}
            | set(tombs.get("added", {}).values())
        )
        remap = {
            old: (i + 1) / (len(stamps) + 1)
            for i, old in enumerate(stamps)
        }
        new_manifest[TOMBSTONE_KEY] = {
            "entries": [
                {**e, "v": remap[e["v"]]} for e in tombs["entries"]
            ],
            "added": {
                f: remap[v] for f, v in tombs.get("added", {}).items()
            },
        }
        # the entries' delete-key FILES also resolve via the base dir
    new_manifest[OP_KEY] = "clone"
    # carry the SOURCE's assembled stats view as the clone's own v1
    # delta: entries are keyed by immutable shard name, so they stay
    # valid for the shared files — and the clone starts life on the
    # pure delta+checkpoint plane (no legacy root _STATS)
    from pu4spark_spark.sources.lake.checkpoint import assemble_stats

    return commit_manifest(
        dst, 0, new_manifest, "clone", assemble_stats(src)
    )


def restore_jsonl_dir(
    path: str, to_version: int, base_version: int | None = None
) -> int:
    """RESTORE — Delta's ``RESTORE TABLE ... TO VERSION AS OF``: roll
    the table back to ``to_version``'s exact state as a NEW commit (a
    pure-metadata copy of that snapshot's manifest — shard list,
    ledger, schema, constraints), claimed through the same
    create-if-absent OCC gate.  History is preserved: the undone
    commits stay time-travelable until vacuum.  Fails loudly when the
    target snapshot is vacuumed or any file it references (data shards
    OR its ledger's delete files) has been reclaimed — a partial
    restore must never commit.  Version streams CANNOT ride through a
    restore (rows it un-deletes were never retracted downstream): the
    version stream raises on any unmarked ledger-shrinking commit and
    the subscriber restarts from a fresh snapshot, the same guidance
    Delta gives.  Returns the new version."""
    try:
        target = _manifest_at(path, to_version)
    except OSError:
        raise ValueError(
            f"restore_jsonl_dir: version {to_version} of {path} is "
            "vacuumed — its snapshot no longer exists"
        ) from None
    needed = list(_manifest_files(target))
    for e in _tombstones_of(target)["entries"]:
        needed.extend(e.get("files", ()))
    missing = [
        f
        for f in needed
        if not os.path.exists(_shard_path(path, target, f))
    ]
    if missing:
        raise ValueError(
            f"restore_jsonl_dir: version {to_version} references "
            f"reclaimed files (e.g. {missing[0]!r}) — a partial "
            "restore must never commit"
        )
    # CONCURRENT-VACUUM protection: a grace-windowed vacuum running
    # beside this restore computed its live set from the pre-restore
    # manifests, where the restored-to shards may be unreferenced —
    # its removal pass would strand the restore commit we are about
    # to claim.  Touching every re-referenced file puts it inside the
    # vacuum's ``stale_grace_s`` window (the same freshness signal
    # that protects a writer's staged-but-unclaimed shards), so the
    # race closes for any grace-windowed vacuum; ``stale_grace_s=0``
    # remains the documented exclusive-maintainer mode.  A file that
    # vanishes between the existence check and the touch IS the race
    # in flight — fail loudly before committing.
    for f in needed:
        try:
            os.utime(_shard_path(path, target, f))
        except OSError:
            raise ValueError(
                f"restore_jsonl_dir: version {to_version} file "
                f"{f!r} was reclaimed by a concurrent vacuum — a "
                "partial restore must never commit"
            ) from None
    base = (
        base_version
        if base_version is not None
        else _latest_manifest_version(path)
    )
    new_manifest = dict(target)
    _check_features(target)  # refuse unknown table features
    # the stream sink's idempotence marker tracks the LIVE commit
    # chain, not the restored-to snapshot: carry the base's _txn so a
    # retried micro-batch still no-ops after the restore
    cur = _manifest_at(path, base)
    _check_features(cur)
    if TXN_KEY in cur:
        new_manifest[TXN_KEY] = cur[TXN_KEY]
    # features are NEVER downgraded by a restore (Delta's protocol
    # rule): union the live chain's list into the restored snapshot's
    _stamp_features(new_manifest, *cur.get(FEATURES_KEY, ()))
    new_manifest[OP_KEY] = "restore"
    return commit_manifest(path, base, new_manifest, "restore")


def describe_history_jsonl_dir(
    spark: SparkSession, path: str
) -> DataFrame:
    """DESCRIBE HISTORY — one row per still-retained commit, from
    manifest metadata only (never a data scan, Delta's history
    surface): version, the operation that made it (:data:`OP_KEY`,
    recorded by every commit site), physical file/row counts (rows as
    WRITTEN — tombstoned rows still sit in their immutable shards
    until compaction, so this is the storage view, not the live
    count), ledger depth, and whether the commit carries CDC files.
    Driver-side metadata build: O(retained versions × files-per-
    manifest) — the same cost Delta's DESCRIBE HISTORY pays reading
    its log, fine at any table size."""
    from pu4spark_spark.sources.lake.checkpoint import (
        checkpoint_history,
        last_checkpoint_version,
    )

    rows = []
    latest = _latest_manifest_version(path)
    earliest = _earliest_manifest_version(path)
    # versions at-or-below the checkpoint are served from its embedded
    # history — O(checkpoint + tail) file opens, never history-length ×
    # manifest-size driver JSON parsing (r14 "What's wrong #1")
    ck = last_checkpoint_version(path)
    served_to = 0
    hist = checkpoint_history(path, ck) if ck > 0 else []
    if hist:
        for r in hist:
            v = r.get("v")
            if not isinstance(v, int) or v < earliest or v > latest:
                continue
            rows.append(
                (
                    v,
                    r.get("op", "unknown"),
                    r.get("n_files"),
                    r.get("n_rows"),
                    r.get("ledger_entries"),
                    bool(r.get("has_cdc")),
                )
            )
        # every version ≤ ck is the checkpoint's responsibility (a
        # gap there was vacuumed before the checkpoint was written)
        served_to = ck
    for v in range(max(earliest, served_to + 1), latest + 1):
        try:
            m = _manifest_at(path, v)
        except OSError:
            continue  # vacuumed
        files = _manifest_files(m)
        counts = [m[f] for f in files if isinstance(m.get(f), int)]
        rows.append(
            (
                v,
                m.get(OP_KEY, "unknown"),
                len(files),
                sum(counts) if len(counts) == len(files) else None,
                len(_tombstones_of(m)["entries"]),
                bool(m.get(CDC_KEY, {}).get(str(v))),
            )
        )
    rows.sort(key=lambda r: r[0])
    return spark.createDataFrame(
        rows,
        "version bigint, op string, n_files bigint, n_rows bigint, "
        "ledger_entries bigint, has_cdc boolean",
    )


def append_with_retry(
    df: DataFrame, path: str, max_retries: int = 3
) -> int:
    """The OTHER half of optimistic concurrency — what a loser DOES:
    re-read the table's latest committed version, re-declare it as
    ``base_version``, and re-submit the same rows (shards are re-staged;
    the data is unchanged, only the claim moves).  Exactly the
    Iceberg/Delta commit-retry loop.  Returns the version that finally
    committed; raises the last ``ManifestCommitConflict`` (wrapped by
    Spark) if ``max_retries`` consecutive claims lose — a pathologically
    hot table should fail loudly, not spin.

    Retry cost model at 100 TB: each attempt re-runs the WRITE job
    (tasks re-stage shards) but conflict detection itself is one
    link(2) — so the loop is sized by contention, never by table size;
    real deployments keep contention low by partitioning writers."""
    last: Exception | None = None
    for _ in range(max_retries):
        base = _latest_manifest_version(path)
        try:
            (
                df.write.format("jsonl_docs")
                .option("path", path)
                .option("base_version", base)
                .mode("append")
                .save()
            )
            return base + 1
        except Exception as exc:  # Spark wraps ManifestCommitConflict
            if not _is_commit_conflict(exc):
                raise
            last = exc
    assert last is not None
    raise last


#: legal type-widening edges (Delta's type-widening table, the JSONL-
#: representable subset): every edge is value-preserving for data
#: already on disk, so a widen is a PURE-METADATA commit — old shards'
#: JSON numbers simply parse into the wider type.
_WIDEN_CHAIN = ("tinyint", "smallint", "int", "bigint")
_WIDEN_TO_DOUBLE = {"tinyint", "smallint", "int", "float"}


def _widening_ok(old: str, new: str) -> bool:
    old, new = old.strip().lower(), new.strip().lower()
    if old == new:
        return False
    if old in _WIDEN_CHAIN and new in _WIDEN_CHAIN:
        return _WIDEN_CHAIN.index(old) < _WIDEN_CHAIN.index(new)
    if new == "double" and old in _WIDEN_TO_DOUBLE:
        return True
    if old.startswith("decimal(") and new.startswith("decimal("):
        po, so = map(int, old[8:-1].split(","))
        pn, sn = map(int, new[8:-1].split(","))
        # integral digits must not shrink, scale must not shrink
        return sn >= so and (pn - sn) >= (po - so) and (pn, sn) != (po, so)
    if new.startswith("decimal(") and old in _WIDEN_CHAIN:
        pn, sn = map(int, new[8:-1].split(","))
        # bigint needs 19 integral digits, int 10, smallint 5, tinyint 3
        need = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}[old]
        return (pn - sn) >= need
    return False


def widen_jsonl_column(
    path: str, name: str, new_type: str, base_version: int | None = None
) -> int:
    """TYPE WIDENING as a PURE-METADATA commit (Delta's type widening):
    swap the column's declared type for a strictly wider one —
    tinyint→smallint→int→bigint, (int-chain, float)→double, decimal
    precision/scale growth, int-chain→decimal with enough integral
    digits.  Old shards need no rewrite: their JSON numbers parse into
    the wider type exactly.  Narrowings and cross-kind changes are
    refused (they would corrupt or shear values already on disk).
    Time travel to pre-widen versions serves the narrow type; a
    version/CDF stream started before the widen fails loudly at the
    boundary (its row type is fixed — Delta's restart contract).
    Returns the new version."""
    base = (
        base_version
        if base_version is not None
        else _latest_manifest_version(path)
    )
    if base <= 0:
        raise ValueError(
            f"widen_jsonl_column: no committed version under {path}"
        )
    manifest = _manifest_at(path, base)
    _check_features(manifest)  # refuse unknown table features
    ddl = manifest.get(SCHEMA_KEY, DOCS_DDL)
    cols = list(_typed_fields_of_ddl(ddl))
    names = [nm for nm, _ in cols]
    if name not in names:
        raise ValueError(
            f"widen_jsonl_column: no column {name!r} in ({ddl})"
        )
    old_type = dict(cols)[name]
    if not _widening_ok(old_type, new_type):
        raise ValueError(
            f"widen_jsonl_column: {old_type!r} -> {new_type!r} is not "
            "a value-preserving widening (narrowings and cross-kind "
            "changes require a rewrite)"
        )
    new_manifest = dict(manifest)
    new_manifest[SCHEMA_KEY] = ", ".join(
        f"{nm} {new_type if nm == name else t}" for nm, t in cols
    )
    new_manifest[OP_KEY] = "widen-column"
    return commit_manifest(path, base, new_manifest, "widen")


def checkpoint_jsonl_dir(path: str) -> int:
    """``CHECKPOINT <table>`` — compact the metadata plane (manifest +
    per-commit stats deltas) into ONE columnar parquet snapshot and
    flip the ``_LAST_CHECKPOINT`` pointer (Delta's checkpoint
    semantics on this lake's log; see
    :mod:`pu4spark_spark.sources.lake.checkpoint`).  After this, scan
    planning, DESCRIBE HISTORY/DETAIL and TIMESTAMP AS OF resolution
    read O(checkpoint + tail) instead of O(history × manifest) —
    the 100 TB metadata-plane fix.  Returns the checkpointed
    version.  Pure driver-side metadata op; safe beside live writers
    (the checkpoint is derived — the commit log stays authoritative)."""
    from pu4spark_spark.sources.lake.checkpoint import write_checkpoint

    return write_checkpoint(path)


def read_checkpoint_df(spark: SparkSession, path: str) -> DataFrame:
    """The current checkpoint AS A DATAFRAME — one row per live shard
    (file, rows, doc_id zonemap, stats families as JSON strings), the
    same inspectability Delta gives its checkpoint parquets.  A
    metadata AUDIT over a million-shard table is then itself a
    distributed scan, not a driver JSON parse."""
    from pu4spark_spark.sources.lake.checkpoint import (
        _checkpoint_file,
        last_checkpoint_version,
    )

    ck = last_checkpoint_version(path)
    if ck <= 0:
        raise ValueError(
            f"read_checkpoint_df: no checkpoint under {path} — run "
            "checkpoint_jsonl_dir first"
        )
    src = os.path.join(path, _checkpoint_file(ck))
    # Spark's file index skips '_'-prefixed paths (metadata-file
    # convention) — expose the immutable checkpoint under a visible
    # name in a scratch dir (hard link when possible, copy across
    # filesystems)
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="pu4spark-ckpt-")
    dst = os.path.join(scratch, f"checkpoint-v{ck}.parquet")
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)
    return spark.read.parquet(dst)


def describe_detail_jsonl_dir(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE DETAIL — Delta's one-row table summary, from manifest
    metadata only (no data scan): current version, file/row counts
    (rows as WRITTEN — the storage view), total shard bytes, the
    LOGICAL schema DDL, whether a column mapping / constraints /
    tombstones / a shallow-clone base are present, and the retained
    version span.  Driver-side metadata build, O(files) stat calls —
    the cost Delta pays reading its log."""
    import json as _json

    from pu4spark_spark.sources.lake.checkpoint import (
        last_checkpoint_version,
    )

    register_pyds(spark)
    v = _latest_manifest_version(path)
    if v <= 0:
        raise ValueError(
            f"describe_detail_jsonl_dir: no committed version under "
            f"{path}"
        )
    m = _manifest_at(path, v)
    files = _manifest_files(m)
    size = 0
    for f in files:
        try:
            size += os.path.getsize(_shard_path(path, m, f))
        except OSError:
            pass
    dvs = _dv_of(m)
    exts = {f.rsplit(".", 1)[-1] for f in files}
    payload = (
        "none"
        if not exts
        else "parquet"
        if exts == {"parquet"}
        else "mixed"
        if "parquet" in exts
        else "jsonl"
    )
    row = (
        "jsonl_docs",
        v,
        _earliest_manifest_version(path),
        len(files),
        sum(n for n in (m[f] for f in files) if n is not None),
        size,
        m.get(SCHEMA_KEY, DOCS_DDL),
        bool(_mapping_of(m)),
        len(_constraints_of(m)),
        len(_tombstones_of(m)["entries"]),
        BASE_DIR_KEY in m,
        m.get(OP_KEY, "unknown"),
        payload,
        len(dvs),
        sum(int(e.get("n", 0)) for e in dvs.values()),
        ",".join(m.get(FEATURES_KEY, [])),
        last_checkpoint_version(path),
    )
    return spark.createDataFrame(
        [row],
        "format string, version bigint, earliest_version bigint, "
        "num_files bigint, num_rows_written bigint, size_bytes bigint, "
        "schema string, has_column_mapping boolean, n_constraints bigint, "
        "n_tombstone_entries bigint, is_shallow_clone boolean, "
        "last_operation string, payload string, n_dv_shards bigint, "
        "n_dv_rows bigint, table_features string, "
        "last_checkpoint_version bigint",
    )
