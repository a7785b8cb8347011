"""Mini-lake PROTOCOL core: manifest/versioning metadata,
atomic-rename commit primitives, tombstone ledger, commit-scoped
schema (DDL helpers + typed cell converters), CHECK-constraint
compilation, rewrite markers, and shallow-clone path resolution.
Pure functions over the on-disk layout — no Spark classes, no
jobs."""

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


#: documents schema as DDL (the source serves exactly this shape)
DOCS_DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"
N_SHARDS = 4


def _json_cell(v):
    """``json.dumps(default=...)`` hook for cell types the stdlib
    encoder lacks, in the form Spark's JSON parser reads back EXACTLY:
    Decimal as a quoted string (Jackson parses quoted decimals at full
    precision — a float round-trip would shear >15 digits), datetime /
    date as ISO strings, binary as base64 (Spark's BinaryType JSON
    form)."""
    import base64
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode()
    raise TypeError(f"unserializable lake cell type {type(v).__name__}")


#: reserved manifest key recording the streaming sink's last committed
#: micro-batch id — Delta's ``txn`` action: a retried batch compares
#: its id against this and becomes a no-op, which is what turns
#: at-least-once micro-batch delivery into exactly-once lake commits.
TXN_KEY = "_txn"


#: per-shard BLOOM FILTER defaults (Delta's bloom filter index /
#: parquet column blooms): 65536 bits (8 KiB raw per shard+column,
#: ~11 KiB base64 in _STATS) at 7 hashes holds ~5k distinct values
#: under 1% false positives — sized for this mini-lake's shard rows;
#: a petabyte deployment would move the bitsets to per-file sidecars
#: like Delta's index files, the _STATS schema already isolates them
#: under one key.
BLOOM_M_BITS = 65536
BLOOM_K = 7


def _bloom_key(v) -> bytes:
    """Canonical hash input for a bloom-indexed cell — must agree
    between WRITE (rows' Python values) and PROBE (pushed filter
    literals): plain ``str`` of the value, which is identical for the
    int/str/float forms both sides carry."""
    return str(v).encode()


def _bloom_hashes(v, m: int, k: int):
    """k bit positions for value ``v`` in an m-bit filter — slices of
    one md5 (stable across processes, unlike ``hash()``)."""
    import hashlib

    h = int.from_bytes(hashlib.md5(_bloom_key(v)).digest(), "big")
    for i in range(k):
        yield (h >> (i * 18)) % m


def _bloom_add(buf: bytearray, v, m: int = BLOOM_M_BITS, k: int = BLOOM_K):
    for idx in _bloom_hashes(v, m, k):
        buf[idx >> 3] |= 1 << (idx & 7)


def _bloom_might_contain(entry: dict, v) -> bool:
    """Probe a serialized ``_STATS["_bloom"]`` entry
    (``{"m": bits, "k": hashes, "b": base64}``).  No false negatives:
    False means the shard PROVABLY lacks the value — the sound prune;
    True means maybe.  A malformed entry answers True (never prune
    blind)."""
    import base64

    try:
        m, k = int(entry["m"]), int(entry["k"])
        buf = base64.b64decode(entry["b"])
        for idx in _bloom_hashes(v, m, k):
            if not buf[idx >> 3] & (1 << (idx & 7)):
                return False
        return True
    except Exception:
        return True


def _bloom_serialize(buf: bytearray, m: int = BLOOM_M_BITS, k: int = BLOOM_K) -> dict:
    import base64

    return {"m": m, "k": k, "b": base64.b64encode(bytes(buf)).decode()}


class ManifestCommitConflict(RuntimeError):
    """Two writers prepared the same manifest version concurrently and
    this one lost the atomic claim — the commit was rolled back; the
    table state is exactly the winner's.  Loud by design: a silent
    shard-list merge would interleave two jobs' rows under one version
    and break both the time-travel and exactly-once contracts."""


#: unique sentinel prefix every ManifestCommitConflict message starts
#: with — the ONE string _is_commit_conflict matches on across the Py4J
#: boundary (a generic phrase like "concurrent commit" could appear in
#: an unrelated Spark error and silently trigger the retry loop)
_CONFLICT_SENTINEL = "concurrent commit: _MANIFEST.v"


def _is_commit_conflict(exc: BaseException) -> bool:
    """True iff ``exc`` is (or wraps) a :class:`ManifestCommitConflict`.
    The writer's commit runs driver-side but the exception crosses the
    Py4J boundary wrapped, and the captured-exception repr() drops the
    class — so callers must match on str().  ONE place owns that
    matching rule: the exact raised prefix ``_CONFLICT_SENTINEL``, and
    ONE place raises it: :func:`commit_manifest`, the claim every lake
    commit goes through."""
    return isinstance(exc, ManifestCommitConflict) or (
        _CONFLICT_SENTINEL in str(exc)
    )


def _write_atomic_excl(path: str, body: str) -> None:
    """CREATE-IF-ABSENT twin of :func:`_write_atomic`: write the body to
    a temp file, fsync, then ``os.link`` it to the final name — link(2)
    fails with ``FileExistsError`` if the name is taken, which is the
    single atomic operation the optimistic-concurrency commit races on
    (POSIX guarantees exactly one of N concurrent links wins)."""
    import uuid as _uuid

    parent = os.path.dirname(path)
    tmp = os.path.join(parent, f"_tmp-meta-{_uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        fh.write(body)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)
    dfd = os.open(parent, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _write_atomic(path: str, body: str) -> None:
    """Rename-commit a metadata file: write the full body to an
    underscore-prefixed temp name in the same directory (readers'
    listing fallback skips ``_``-files), fsync, then ``os.replace`` it
    into place.  POSIX rename atomicity means a crash mid-write or a
    concurrent reader observes the previous version or the new one —
    never truncated JSON (the time-travel and zonemap contracts both
    parse these files)."""
    import uuid as _uuid

    parent = os.path.dirname(path)
    tmp = os.path.join(parent, f"_tmp-meta-{_uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        fh.write(body)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    # fsync the DIRECTORY so the rename's directory entry is durable
    # across power loss, not just process crash (the rename itself
    # lives in directory metadata with its own write-back cache).
    dfd = os.open(parent, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


#: extensions a shard file may carry: JSONL (the original row-oriented
#: payload) and PARQUET (the columnar payload, writer option
#: ``payload_format=parquet``) — one TABLE may mix both (the manifest,
#: not the extension, is the authority; readers dispatch per shard)
SHARD_EXTENSIONS = (".json", ".jsonl", ".parquet")


def _list_shards(path: str) -> list[str]:
    return sorted(
        f
        for f in os.listdir(path)
        if f.endswith(SHARD_EXTENSIONS) and not f.startswith((".", "_"))
    )


#: reserved manifest key holding the cumulative tombstone ledger for
#: row-level DELETE / MERGE commits.  Embedding tombstones IN the
#: manifest snapshot keeps a delete commit a SINGLE atomic file claim —
#: no ordering window where a reader could see the new version's shard
#: list without its deletions (a sidecar file would need its own
#: tethering, like the .rewrite marker).  Shard-name keys never start
#: with '_', so the key can't collide; manifest consumers use
#: _manifest_files() to skip reserved keys.
#:
#: Ledger shape — Iceberg's SEQUENCE-NUMBER scoping, in JSON:
#:   {"entries": [{"v": commit_version,
#:                 "files": [key_file, ...],   # referenced DELETE FILES
#:                 "n": key_count,             # audit metadata only
#:                 "ids": [doc_ids]},          # legacy inline form
#:                ...],
#:    "added":   {shard_file: version_that_added_it, ...}}
#: An entry applies to shard f iff ``entry.v > added(f)`` (unknown
#: added = 0 — every shard already present when the ledger was created
#: predates every entry).  Version scoping, unlike a file LIST per
#: entry, survives rewrites: a compaction replaces file names, but the
#: rule "deleted by a later commit than the one that added these rows"
#: stays answerable for any shard a reader or a replaying stream can
#: deliver.  A MERGE is the exemption in action: its tombstone entry
#: and its new shards share one version, so ``v > added`` spares
#: exactly the replacement rows.
#:
#: The deleted KEYS live in delete FILES, not in the manifest
#: (Iceberg's equality-delete files / Delta's deletion vectors make
#: the same move): an entry's ``files`` name JSONL files in the table
#: directory whose rows carry ``doc_id`` — either dedicated
#: ``_delete-*`` key shards (written by :func:`delete_from_jsonl_dir`,
#: distributedly when the keys come as a DataFrame) or, for a MERGE,
#: the merge's OWN staged data shards (the keys are exactly its rows —
#: zero extra write, zero driver collect).  The manifest carries only
#: paths + counts, so a commit is O(files) metadata regardless of key
#: count, readers stream the key files executor-side at scan time
#: (cached per worker — files are immutable), compaction clears the
#: entries, and vacuum reclaims unreferenced ``_delete-*`` files.
#: Legacy inline ``ids`` entries remain readable (handy for crafted
#: fixtures); writers never produce them.
TOMBSTONE_KEY = "_tombstones"


def _manifest_files(manifest: dict) -> list[str]:
    """Shard filenames of a manifest dict, skipping reserved '_' keys."""
    return [f for f in manifest if not f.startswith("_")]


def _tombstones_of(manifest: dict | None) -> dict:
    """The ledger (see :data:`TOMBSTONE_KEY`) — empty shape if none."""
    if isinstance(manifest, dict) and TOMBSTONE_KEY in manifest:
        return manifest[TOMBSTONE_KEY]
    return {"entries": [], "added": {}}


def _tomb_sources_for(
    f: str, tombs: dict, added_v: int | None = None
) -> tuple[tuple, tuple]:
    """``(inline_ids, delete_file_names)`` tombstoning shard ``f`` —
    the sources of every entry committed AFTER the shard was added
    (``entry.v > added(f)``).  ``added_v`` overrides the ledger's
    added-map (the version stream knows each diff-delivered shard's add
    version directly).  Inline ids are the legacy fixture form; the
    delete-file names are resolved to absolute paths by the caller and
    streamed EXECUTOR-side (:func:`_load_delete_keys`) — the driver
    never materializes a key set."""
    av = (
        added_v
        if added_v is not None
        else tombs.get("added", {}).get(f, 0)
    )
    ids: set = set()
    files: list = []
    for e in tombs.get("entries", ()):
        if e["v"] > av:
            ids.update(e.get("ids", ()))
            for kf in e.get("files", ()):
                if kf not in files:
                    files.append(kf)
    return tuple(sorted(ids)), tuple(files)


@functools.lru_cache(maxsize=256)
def _load_delete_keys(path: str) -> frozenset:
    """doc_id key set of one delete/key file — runs on the EXECUTOR's
    Python worker and is memoized per worker process (delete files are
    immutable once referenced: UUID-named, written before the manifest
    claim, reclaimed only by vacuum), so a worker scanning many shards
    parses each key file once, not once per shard."""
    import json

    keys = set()
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            keys.add(json.loads(line).get("doc_id"))
    return frozenset(keys)


def _iter_jsonl(value, fields: tuple[str, ...] | None = None, convs=None):
    """Executor-side shard scan shared by every reader: ``value`` is a
    shard path, or ``(path, inline_ids, delete_file_paths[, dv])``
    when DELETE/MERGE commits apply to the shard — tombstoned rows are
    filtered here (the drop set is the inline ids plus the union of the
    referenced delete files' keys, loaded worker-side) and a DELETION
    VECTOR entry, when present, masks rows by POSITION (parsed-row
    index — no key set, no per-row hashing), so deletion is enforced
    by construction for batch, time-travel, and streaming reads alike.
    ``fields`` is the resolved commit schema's column order (default:
    the legacy documents shape)."""
    import json

    path, drop, dv = _unpack_shard_value(value)
    flds = fields or ("doc_id", "text", "lang", "source", "n_chars")
    idx = -1
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            idx += 1
            if dv is not None and _dv_test(dv, idx):
                continue
            r = json.loads(line)
            if drop is not None and r.get("doc_id") in drop:
                continue
            # missing keys read as NULL — JSONL's natural null-extension
            # is what makes add-column schema evolution rewrite-free
            if convs is None:
                yield tuple(r.get(k) for k in flds)
            else:
                yield tuple(
                    c(r.get(k)) if c else r.get(k)
                    for k, c in zip(flds, convs)
                )


def _arrow_type_of_ddl(ddl_type: str):
    """PyArrow type for one Spark DDL type — the PARQUET payload's
    column type (matches ``pyspark.sql.pandas.types.to_arrow_type``
    for every type listed, so batches built with it pass straight
    into Spark's Arrow path).  Raises on types the parquet payload
    does not serve; the caller falls back to JSONL (write) or to
    row-tuple yields (read)."""
    import pyarrow as pa

    t = ddl_type.strip().lower()
    prim = {
        "string": pa.string(),
        "bigint": pa.int64(),
        "long": pa.int64(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "smallint": pa.int16(),
        "tinyint": pa.int8(),
        "double": pa.float64(),
        "float": pa.float32(),
        "real": pa.float32(),
        "boolean": pa.bool_(),
        "date": pa.date32(),
        "binary": pa.binary(),
        # micros precision is Spark's arrow unit; stored tz-naive,
        # read back as naive datetimes — the same objects the JSONL
        # payload's isoformat round-trip yields
        "timestamp": pa.timestamp("us"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if t in prim:
        return prim[t]
    if (t.startswith("decimal(") or t.startswith("numeric(")) and t.endswith(")"):
        p, s = (int(x) for x in t[t.index("(") + 1 : -1].split(","))
        return pa.decimal128(p, s)
    if t in ("decimal", "numeric"):
        return pa.decimal128(10, 0)
    if t.startswith("array<") and t.endswith(">"):
        return pa.list_(_arrow_type_of_ddl(t[6:-1]))
    raise ValueError(
        f"jsonl_docs parquet payload: unsupported column type "
        f"{ddl_type!r} — use the JSONL payload for this schema"
    )


#: DDL type prefixes SAFE for the reader's zero-copy RecordBatch path:
#: their arrow form is position- and tz-independent, so a batch cast to
#: the declared schema is exactly what Spark's own to_arrow_schema
#: produces.  Timestamps are excluded (Spark's arrow type carries the
#: SESSION timezone, which an executor-side reader cannot know) and
#: arrays (Spark names the list's value field "element", pyarrow
#: "item") — schemas containing them fall back to row-tuple yields,
#: which Spark's per-value converters normalize.
_BATCH_SAFE_PREFIXES = (
    "string", "bigint", "long", "int", "integer", "smallint",
    "tinyint", "double", "float", "real", "boolean", "date",
    "binary", "decimal", "numeric",
)


def _arrow_batch_schema_of_ddl(ddl: str):
    """The target ``pyarrow.Schema`` (LOGICAL names) for the reader's
    RecordBatch fast path, or ``None`` when any column type is outside
    the batch-safe set (the caller then yields row tuples)."""
    import pyarrow as pa

    fields = []
    for nm, t in _typed_fields_of_ddl(ddl):
        tl = t.strip().lower()
        if not tl.startswith(_BATCH_SAFE_PREFIXES):
            return None
        try:
            fields.append(pa.field(nm, _arrow_type_of_ddl(t)))
        except ValueError:
            return None
    return pa.schema(fields)


def _unpack_shard_value(value):
    """(path, drop_set_or_None, dv_buf_or_None) of a partition value —
    the drop set is the inline tombstone ids plus the union of the
    referenced delete files' keys (loaded worker-side, memoized); the
    dv buf is the decoded positional deletion-vector bitset."""
    if isinstance(value, str):
        return value, None, None
    path = value[0]
    drop = set(value[1])
    for kf in value[2] if len(value) > 2 else ():
        drop |= _load_delete_keys(kf)
    dv = _dv_buf(value[3]) if len(value) > 3 and value[3] else None
    return path, drop, dv


def _parquet_row_groups(pf, bounds: dict | None):
    """``[(row_group_index, start_row_offset)]`` surviving the pushed
    NUMERIC bounds against the parquet FOOTER's per-row-group min/max
    — data skipping one level below the shard zonemap (parquet's own
    statistics, the row-group skip every native reader performs).
    Sound by construction: a group is dropped only when a bounded
    column's recorded [min, max] provably cannot intersect; groups
    without stats, non-numeric stats (string min/max may be
    writer-truncated), NaN stats, or incomparable types always
    survive, and Spark re-applies every filter anyway.  The start
    offset keeps deletion-vector positions exact across skipped
    groups."""
    md = pf.metadata
    n = md.num_row_groups
    if not bounds or n <= 1:
        out, start = [], 0
        for rg in range(n):
            out.append((rg, start))
            start += md.row_group(rg).num_rows
        return out
    colidx = {
        md.schema.column(i).path: i for i in range(md.num_columns)
    }
    out = []
    start = 0
    for rg in range(n):
        g = md.row_group(rg)
        keep = True
        for col, (lo, hi) in bounds.items():
            i = colidx.get(col)
            if i is None:
                continue
            try:
                st = g.column(i).statistics
            except Exception:
                continue
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if not all(
                isinstance(x, (int, float)) and not isinstance(x, bool)
                for x in (mn, mx)
            ) or mn != mn or mx != mx:
                continue
            try:
                if (hi is not None and mn > hi) or (
                    lo is not None and mx < lo
                ):
                    keep = False
                    break
            except TypeError:
                continue
        if keep:
            out.append((rg, start))
        start += g.num_rows
    return out


def _iter_parquet_rows(
    value, fields: tuple[str, ...], convs=None, rg_bounds: dict | None = None
):
    """Row-tuple scan of one PARQUET shard — the executor-side twin of
    :func:`_iter_jsonl` for columnar payloads: reads ONLY the columns
    in ``fields`` (plus doc_id when tombstones apply — columnar
    projection is the payload's point), skips row groups the pushed
    bounds prove empty (``rg_bounds``, physical-named —
    :func:`_parquet_row_groups`), null-extends columns the shard
    predates (schema evolution), applies tombstones by doc_id.
    ``convs`` is reused verbatim: parquet cells arrive already typed
    (Decimal / datetime / bytes), which every converter passes
    through."""
    import pyarrow.parquet as pq

    path, drop, dv = _unpack_shard_value(value)
    pf = pq.ParquetFile(path)
    avail = set(pf.schema_arrow.names)
    read_cols = [c for c in fields if c in avail]
    need_doc = drop is not None and "doc_id" in avail
    if need_doc and "doc_id" not in read_cols:
        read_cols = read_cols + ["doc_id"]
    cv = convs or (None,) * len(fields)
    try:
        for rg, start in _parquet_row_groups(pf, rg_bounds):
            pos = start  # global parsed-row position for the DV mask
            for batch in pf.iter_batches(
                row_groups=[rg], columns=read_cols, batch_size=8192
            ):
                d = batch.to_pydict()
                docs = d.get("doc_id") if drop is not None else None
                cols = [d.get(c) for c in fields]
                for i in range(batch.num_rows):
                    gi = pos + i
                    if dv is not None and _dv_test(dv, gi):
                        continue
                    if docs is not None and docs[i] in drop:
                        continue
                    yield tuple(
                        (c(col[i]) if c else col[i])
                        if col is not None
                        else None
                        for col, c in zip(cols, cv)
                    )
                pos += batch.num_rows
    finally:
        pf.close()


def _iter_parquet_batches(
    value, fields: tuple[str, ...], target, rg_bounds: dict | None = None
):
    """Columnar scan of one PARQUET shard yielding ``RecordBatch``es
    cast to the declared schema — the zero-per-row path (Spark's
    Python-DataSource worker streams yielded batches straight into the
    Arrow channel, skipping tuple conversion entirely).  ``fields``
    are the shard's PHYSICAL column names, ``target`` the LOGICAL
    ``pyarrow.Schema`` aligned with them; ``rg_bounds`` skips row
    groups the pushed bounds prove empty
    (:func:`_parquet_row_groups`).  Tombstones are applied as a
    vectorized anti-membership filter on doc_id (NULL doc_id rows are
    kept — a NULL key is never in a tombstone set, matching the JSONL
    reader); missing columns null-extend; narrower on-disk types
    (pre-widen shards) cast up."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path, drop, dv = _unpack_shard_value(value)
    pf = pq.ParquetFile(path)
    avail = set(pf.schema_arrow.names)
    read_cols = [c for c in fields if c in avail]
    need_doc = drop and "doc_id" in avail
    if need_doc and "doc_id" not in read_cols:
        read_cols = read_cols + ["doc_id"]
    drop_arr = pa.array(sorted(drop)) if drop else None
    def _emit(batch, pos):
        if dv is not None:
            # vectorized positional mask: unpack the bitset slice
            # covering this batch (bit i of the shard = row i)
            import numpy as np

            nrows = batch.num_rows
            bits = np.unpackbits(
                np.frombuffer(dv, dtype=np.uint8), bitorder="little"
            )
            seg = bits[pos : pos + nrows]
            if len(seg) < nrows:
                seg = np.concatenate(
                    [seg, np.zeros(nrows - len(seg), dtype=np.uint8)]
                )
            batch = batch.filter(pa.array(seg == 0))
        if drop_arr is not None and "doc_id" in batch.schema.names:
            keep = pc.fill_null(
                pc.invert(
                    pc.is_in(batch.column("doc_id"), value_set=drop_arr)
                ),
                True,
            )
            batch = batch.filter(keep)
        names = set(batch.schema.names)
        arrays = []
        for phys, field in zip(fields, target):
            if phys in names:
                col = batch.column(phys)
                if col.type != field.type:
                    col = pc.cast(col, field.type)
            else:
                col = pa.nulls(batch.num_rows, type=field.type)
            arrays.append(col)
        return pa.RecordBatch.from_arrays(arrays, schema=target)

    try:
        for rg, start in _parquet_row_groups(pf, rg_bounds):
            pos = start  # global parsed-row position for the DV mask
            for batch in pf.iter_batches(
                row_groups=[rg], columns=read_cols, batch_size=65536
            ):
                n = batch.num_rows
                yield _emit(batch, pos)
                pos += n
    finally:
        pf.close()


#: DDL type prefixes whose JSONL cell form pyarrow's C++ JSON parser
#: yields EXACTLY as ``json.loads`` + the (absent) cell converter would:
#: plain JSON scalars, no string-encoded types (decimal/timestamp/date/
#: binary all ride JSONL as quoted strings and need the row path's
#: converters) — the gate for the vectorized JSONL scan below.
_JSONL_BATCH_SAFE_PREFIXES = (
    "string", "bigint", "long", "int", "integer", "smallint",
    "tinyint", "double", "float", "real", "boolean",
)


def _jsonl_batch_safe(ddl: str) -> bool:
    """True iff every column's type allows the vectorized JSONL
    RecordBatch scan (:func:`_iter_jsonl_batches`)."""
    return all(
        t.strip().lower().startswith(_JSONL_BATCH_SAFE_PREFIXES)
        for _, t in _typed_fields_of_ddl(ddl)
    )


def _iter_jsonl_batches(value, fields: tuple[str, ...], target):
    """Columnar scan of one JSONL shard yielding ``RecordBatch``es cast
    to the declared schema — the JSONL twin of
    :func:`_iter_parquet_batches` (guide §4: the Python data source
    worker streams yielded batches straight into Spark's Arrow channel,
    so the per-row json.loads → tuple → pickle chain disappears).  The
    shard is parsed ONCE by pyarrow's multithreaded C++ JSON reader
    under an explicit physical schema (missing keys null-extend —
    schema evolution; unexpected keys ignored — dropped columns), then
    the deletion-vector positional mask and the tombstone doc_id
    anti-filter run vectorized, exactly mirroring the row path's
    per-row tests.  ``fields`` are the shard's PHYSICAL keys, ``target``
    the LOGICAL ``pyarrow.Schema`` aligned with them (same contract as
    the parquet batch path); caller guarantees
    :func:`_jsonl_batch_safe` on the projected DDL.  Any parse
    surprise (malformed line, type overflow) falls back to the exact
    row-path scan BEFORE the first yield, so dispatch-on-first-yield
    stays sound."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyarrow import json as pa_json

    path, drop, dv = _unpack_shard_value(value)
    if drop is not None and None in drop:
        # a NULL tombstone key only the row path's `in` test handles
        yield from _iter_jsonl(value, fields, None)
        return
    parse_fields = [pa.field(p, f.type) for p, f in zip(fields, target)]
    extra_doc = drop is not None and "doc_id" not in fields
    if extra_doc:
        parse_fields.append(pa.field("doc_id", pa.int64()))
    try:
        tbl = pa_json.read_json(
            path,
            parse_options=pa_json.ParseOptions(
                explicit_schema=pa.schema(parse_fields),
                unexpected_field_behavior="ignore",
            ),
        )
    except Exception:
        # blank lines / malformed cells / overflow: the row path is the
        # semantics of record — nothing has been yielded yet
        yield from _iter_jsonl(value, fields, None)
        return
    if dv is not None:
        import numpy as np

        bits = np.unpackbits(
            np.frombuffer(dv, dtype=np.uint8), bitorder="little"
        )
        n = tbl.num_rows
        seg = bits[:n]
        if len(seg) < n:
            seg = np.concatenate(
                [seg, np.zeros(n - len(seg), dtype=np.uint8)]
            )
        tbl = tbl.filter(pa.array(seg == 0))
    if drop is not None:
        keep = pc.fill_null(
            pc.invert(
                pc.is_in(
                    tbl.column("doc_id"), value_set=pa.array(sorted(drop))
                )
            ),
            True,
        )
        tbl = tbl.filter(keep)
    if extra_doc:
        tbl = tbl.drop_columns(["doc_id"])
    # physical → logical names; order/types already match by construction
    tbl = tbl.rename_columns([f.name for f in target])
    for batch in tbl.to_batches():
        if batch.num_rows:
            yield batch


def _iter_shard_rows(value, fields: tuple[str, ...] | None = None, convs=None):
    """Row-tuple scan of one shard, DISPATCHED on payload format (the
    extension): parquet shards through :func:`_iter_parquet_rows`,
    everything else through :func:`_iter_jsonl`.  The shared entry for
    every consumer that wants tuples (stream readers, the batch
    reader's non-batch-safe fallback)."""
    path = value if isinstance(value, str) else value[0]
    if path.endswith(".parquet"):
        flds = fields or ("doc_id", "text", "lang", "source", "n_chars")
        yield from _iter_parquet_rows(value, flds, convs)
    else:
        yield from _iter_jsonl(value, fields, convs)


def iter_reader_rows(reader, partition):
    """Row-tuple view of one partition's ``read()`` output regardless
    of the reader's serving form — readers yield ``RecordBatch``es on
    the vectorized path (plain-scalar schemas) and tuples otherwise;
    Spark's worker accepts both, and every direct consumer (tests,
    debugging) should go through this to stay form-agnostic."""
    import pyarrow as pa

    for item in reader.read(partition):
        if isinstance(item, pa.RecordBatch):
            cols = [col.to_pylist() for col in item.columns]
            for t in zip(*cols):
                yield t
        else:
            yield item


def _iter_shard_batches(value, fields: tuple[str, ...], target):
    """``RecordBatch`` scan of one shard, DISPATCHED on payload format
    — the columnar twin of :func:`_iter_shard_rows` for consumers whose
    projected schema passes :func:`_jsonl_batch_safe` (stream readers
    over plain-scalar tables).  Parquet shards reuse the batch reader's
    path; JSONL shards the vectorized C++ JSON parse."""
    path = value if isinstance(value, str) else value[0]
    if path.endswith(".parquet"):
        yield from _iter_parquet_batches(value, fields, target)
    else:
        yield from _iter_jsonl_batches(value, fields, target)


def _latest_manifest_version(path: str) -> int:
    return max(
        (
            int(f.rsplit(".v", 1)[1])
            for f in os.listdir(path)
            if f.startswith("_MANIFEST.v") and f.rsplit(".v", 1)[1].isdigit()
        ),
        default=0,
    )


def _version_as_of(path: str, ts_ns: int) -> int:
    """Largest committed version whose ``_ts`` stamp is <= ``ts_ns`` —
    Delta's TIMESTAMP AS OF resolution, over the versioned snapshots
    still on disk (vacuum shrinks the reachable window, same contract
    as version pins).  Legacy manifests without a stamp count as
    arbitrarily old (always eligible).  One metadata read per retained
    version — metadata-scale.  Raises if the timestamp predates every
    retained commit.

    Raw ``_ts`` stamps are NOT monotonic with version: a
    base_version-pinned writer stamps ``_ts`` before its claim and can
    stall, so v{N+1} may carry an earlier stamp than v{N}.  Resolution
    therefore CANONICALIZES each commit's effective timestamp to
    ``max(own _ts, every predecessor's _ts)`` (Delta canonicalizes
    commit timestamps for exactly this reason) — the effective series
    is monotone, so "newest commit at or before t" is well-defined and
    never resolves to a version at which an earlier-numbered commit had
    not yet landed."""
    versions = sorted(
        int(f.rsplit(".v", 1)[1])
        for f in os.listdir(path)
        if f.startswith("_MANIFEST.v") and f.rsplit(".v", 1)[1].isdigit()
    )
    # versions at-or-below a checkpoint resolve from its embedded
    # history (one parquet-footer read), tail versions from their
    # manifests — O(checkpoint + tail), the r15 metadata-plane rule
    ck_ts: dict[int, int] = {}
    from pu4spark_spark.sources.lake.checkpoint import (
        checkpoint_history,
        last_checkpoint_version,
    )

    ck = last_checkpoint_version(path)
    if ck > 0:
        for r in checkpoint_history(path, ck):
            v, t = r.get("v"), r.get("ts")
            if isinstance(v, int) and isinstance(t, int):
                ck_ts[v] = t
    best = 0
    running = 0
    for v in versions:
        if v in ck_ts:
            stamp = ck_ts[v]
        else:
            stamp = _manifest_at(path, v).get("_ts", 0)
        running = max(running, stamp)
        if running <= ts_ns:
            best = v
    if best == 0:
        raise ValueError(
            f"jsonl_docs: no commit at or before as_of_ts={ts_ns} "
            f"under {path} (vacuumed, or timestamp predates the table)"
        )
    return best


def _manifest_at(path: str, version: int) -> dict:
    import json

    if version <= 0:
        return {}
    with open(os.path.join(path, f"_MANIFEST.v{version}")) as fh:
        return json.load(fh)


#: reserved manifest key recording the table schema (DDL string) as of
#: that commit — absent = the legacy documents shape (DOCS_DDL).  The
#: schema is COMMIT-SCOPED: an :func:`evolve_jsonl_schema` commit
#: records the new DDL at version N, so pinned reads of v<N keep the
#: old shape, latest reads serve the new one (old shards' missing
#: fields read as NULL — JSONL's natural null-extension), and a
#: version stream that started under the old schema fails LOUDLY at
#: the boundary (restart picks up the new shape) — the Delta/Iceberg
#: schema-evolution contract.
SCHEMA_KEY = "_schema"


def _typed_fields_of_ddl(ddl: str) -> tuple[tuple[str, str], ...]:
    """``(name, type)`` pairs of a DDL string, in order (paren- AND
    angle-bracket-aware split, so ``decimal(10,2)`` and
    ``map<string,int>`` column types don't shear)."""
    pairs = []
    depth = 0
    start = 0
    for i, ch in enumerate(ddl + ","):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            part = ddl[start:i].strip()
            if part:
                name, _, typ = part.partition(" ")
                pairs.append((name, typ.strip()))
            start = i + 1
    return tuple(pairs)


def _fields_of_ddl(ddl: str) -> tuple[str, ...]:
    """Column names of a DDL string, in order (paren-aware split, so
    ``decimal(10,2)`` column types don't shear)."""
    return tuple(name for name, _ in _typed_fields_of_ddl(ddl))


def _cell_converter(ddl_type: str):
    """Reader-side converter for one DDL type, or ``None`` for types
    ``json.loads`` already yields in the Python object form PySpark's
    Arrow conversion expects.  Decimal / timestamp / date / binary
    need help: the JSONL form is a quoted string (written by
    :func:`_json_cell`) and Spark's conversion asserts the typed
    Python object (``decimal.Decimal`` etc.), not a str."""
    t = ddl_type.strip().lower()
    if t.startswith("decimal") or t.startswith("numeric"):
        import decimal

        return lambda v: None if v is None else decimal.Decimal(str(v))
    if t.startswith("timestamp"):
        import datetime

        return lambda v: (
            v
            if v is None or isinstance(v, datetime.datetime)
            else datetime.datetime.fromisoformat(v)
        )
    if t == "date":
        import datetime

        return lambda v: (
            v
            if v is None or not isinstance(v, str)
            else datetime.date.fromisoformat(v)
        )
    if t == "binary":
        import base64

        return lambda v: (
            None
            if v is None
            else base64.b64decode(v) if isinstance(v, str) else bytes(v)
        )
    return None


def _converters_of_ddl(ddl: str):
    """Per-field converter tuple aligned with :func:`_fields_of_ddl`
    order; all-None collapses to ``None`` (the fast path — zero
    per-cell overhead for ordinary string/bigint tables)."""
    convs = tuple(
        _cell_converter(t) for _, t in _typed_fields_of_ddl(ddl)
    )
    return convs if any(convs) else None


def _effective_manifest(options) -> dict:
    """The manifest a read with these options resolves (honoring the
    ``version`` / ``as_of_ts`` pins, else latest) — ``{}`` for legacy
    manifest-less directories.  Schema AND column mapping are
    commit-scoped properties of exactly this dict."""
    path = options.get("path")
    if not path or not os.path.isdir(path):
        return {}
    try:
        v = options.get("version")
        ts = options.get("as_of_ts")
        if v is not None:
            return _manifest_at(path, int(v))
        if ts is not None:
            return _manifest_at(path, _version_as_of(path, int(ts)))
        latest = _latest_manifest_version(path)
        return _manifest_at(path, latest) if latest else {}
    except (OSError, ValueError):
        return {}


def _effective_schema_ddl(options) -> str:
    """The DDL a read with these options sees: the pinned (or latest)
    manifest's ``_schema``, else :data:`DOCS_DDL` for legacy manifests
    and manifest-less directories."""
    return _effective_manifest(options).get(SCHEMA_KEY, DOCS_DDL)


def _project_ddl(ddl: str, columns: str | None) -> str:
    """Apply the reader's ``columns`` option (comma list) to a table
    DDL — COLUMN PROJECTION AT THE SOURCE.  Spark 4.1's Python
    DataSource API has no Catalyst column pruning (the scan always
    requests the full declared schema), so narrowing must be declared
    here: the source then SERVES only these columns, and the parquet
    payload reads only their pages — at 100 TB the difference between
    scanning 2 columns and 30.  Unknown names fail loudly; the listed
    order is the served order."""
    if not columns:
        return ddl
    want = [c.strip() for c in columns.split(",") if c.strip()]
    typed = dict(_typed_fields_of_ddl(ddl))
    unknown = [c for c in want if c not in typed]
    if unknown:
        raise ValueError(
            f"jsonl_docs: option('columns') names unknown columns "
            f"{unknown} — table schema is ({ddl})"
        )
    if len(set(want)) != len(want):
        raise ValueError(
            "jsonl_docs: option('columns') lists a column twice"
        )
    return ", ".join(f"{c} {typed[c]}" for c in want)


#: reserved manifest key holding the table's COLUMN MAPPING —
#: Delta's columnMapping (name mode): ``{"map": {logical: physical},
#: "retired": [physical, ...]}``.  Shard JSON keys are PHYSICAL names;
#: the DDL (``_schema``) speaks LOGICAL names; a logical column absent
#: from ``map`` has physical == logical (the legacy identity).  RENAME
#: is therefore a pure-metadata commit (new logical name bound to the
#: old physical key — zero data rewritten, time travel serves each
#: version's own names), and DROP hides a column without touching data
#: (its physical name moves to ``retired`` so a later add-column can
#: never collide with orphaned values).  INVARIANT (Delta's): a
#: column's physical id is assigned at creation and NEVER changes —
#: compaction carries the mapping and rewrites the mapped keys, so a
#: reader's physical name list is valid for every epoch's shards
#: (renames by stable key, drops ignored, later adds null).
MAPPING_KEY = "_column_mapping"


def _mapping_of(manifest: dict | None) -> dict[str, str]:
    """logical → physical column map of a manifest (identity absences
    omitted; ``{}`` = pure identity)."""
    return dict((manifest or {}).get(MAPPING_KEY, {}).get("map", {}))


def _retired_physicals(manifest: dict | None) -> set[str]:
    return set((manifest or {}).get(MAPPING_KEY, {}).get("retired", ()))


def _physical_fields(
    fields, mapping: dict[str, str]
) -> tuple[str, ...]:
    """The JSON keys to read for ``fields`` (logical order preserved)."""
    return tuple(mapping.get(f, f) for f in fields)


#: reserved manifest key holding the table's CHECK constraints
#: ({name: expr}) — commit-scoped like _schema: added/dropped by a
#: pure-metadata commit, enforced by every writer against the base
#: manifest it plans against, never enforced retroactively on rows
#: already committed (the Delta ALTER TABLE ADD CONSTRAINT contract
#: would scan history first; ours documents add-forward semantics)
CONSTRAINT_KEY = "_constraints"

_CONSTRAINT_OPS = {
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    "=": lambda a, b: a == b,
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<>": lambda a, b: a != b,
}


def _constraint_column(expr: str) -> str | None:
    """The column a restricted CHECK expression tests (its leading
    identifier), or None if it doesn't parse — used to refuse
    rename/drop of a constrained column (Delta's rule: alter the
    constraint first)."""
    import re as _re

    m = _re.match(r"\s*(\w+)", expr)
    return m.group(1) if m else None


def _compile_constraint(expr: str):
    """Compile a restricted CHECK-constraint grammar to a row
    predicate: ``col IS NOT NULL`` or ``col <op> literal`` (numeric or
    single-quoted string; ops ``> >= < <= = == != <>``).  SQL CHECK
    semantics: only FALSE violates — a NULL cell under a comparison is
    UNKNOWN, which passes (use an explicit IS NOT NULL to forbid it),
    the same rule Delta/ANSI apply.  The deliberately small grammar is
    what a pure-Python per-row writer can evaluate at full speed; AND
    is spelled as multiple named constraints.  Raises ValueError on
    anything else — an unparseable constraint must fail at ADD time,
    never pass silently at write time."""
    import re as _re

    m = _re.fullmatch(
        r"\s*(\w+)\s+is\s+not\s+null\s*", expr, _re.IGNORECASE
    )
    if m:
        col = m.group(1)
        return lambda row, c=col: row.get(c) is not None
    m = _re.fullmatch(
        r"\s*(\w+)\s*(>=|<=|!=|<>|==|=|>|<)\s*"
        r"('(?:[^']*)'|-?\d+(?:\.\d+)?)\s*",
        expr,
    )
    if m:
        col, op, lit = m.group(1), m.group(2), m.group(3)
        if lit.startswith("'"):
            value = lit[1:-1]
        elif "." in lit:
            value = float(lit)
        else:
            value = int(lit)
        fn = _CONSTRAINT_OPS[op]

        def pred(row, c=col, f=fn, v=value):
            cell = row.get(c)
            if cell is None:
                return True  # UNKNOWN never violates (ANSI CHECK)
            return f(cell, v)

        return pred
    raise ValueError(
        f"unsupported constraint expression {expr!r}: the grammar is "
        "'col IS NOT NULL' or 'col <op> literal' "
        "(ops > >= < <= = == != <>; numeric or 'string' literal)"
    )


def _constraints_of(manifest: dict | None) -> dict:
    if isinstance(manifest, dict) and CONSTRAINT_KEY in manifest:
        return manifest[CONSTRAINT_KEY]
    return {}


def _earliest_manifest_version(path: str) -> int:
    """Smallest committed version still on disk (0 if none) — moves
    up from 1 after :func:`vacuum_jsonl_dir` drops old snapshots."""
    return min(
        (
            int(f.rsplit(".v", 1)[1])
            for f in os.listdir(path)
            if f.startswith("_MANIFEST.v") and f.rsplit(".v", 1)[1].isdigit()
        ),
        default=0,
    )


def _rewrite_marker_valid(path: str, version: int) -> bool:
    """True iff ``_MANIFEST.v{version}.rewrite`` exists AND its body is
    the md5 of the snapshot it marks.  The tether makes a marker
    self-invalidating: a compaction that crashed between writing the
    marker and the snapshot leaves a marker whose digest matches
    nothing, so the NEXT data commit that claims the same version
    number is (correctly) streamed as data — a stale marker can never
    silently reclassify someone else's commit as a rewrite.

    Deliberately STRICT: pre-tether empty-body markers fail the check,
    so a table compacted by an older build would re-deliver its
    rewrite commit as data.  Acceptable here because mini-lake
    directories are session-scoped scratch artifacts (rebuilt per
    process, never carried across code versions); a durable table
    format would ship a marker-rewrite migration instead."""
    import hashlib

    mpath = os.path.join(path, f"_MANIFEST.v{version}.rewrite")
    try:
        with open(mpath) as fh:
            marked = fh.read().strip()
        with open(os.path.join(path, f"_MANIFEST.v{version}"), "rb") as fh:
            digest = hashlib.md5(fh.read()).hexdigest()
    except OSError:
        return False
    return marked == digest


def _remove_files(path: str, names) -> None:
    """Best-effort unlink of ``names`` under ``path`` — the rollback
    and sweep step (a file already gone is the state it wants)."""
    for f in names:
        try:
            os.remove(os.path.join(path, f))
        except OSError:
            pass


def _remove_unclaimed(path: str, version: int, names) -> None:
    """Roll back staged files after losing the claim of ``version``:
    remove every name the winner's ``_MANIFEST.v{version}`` does not
    reference.  A manifest-less first commit seeds from a directory
    LISTING, which may have caught our already-renamed files — never
    delete a file the winner's (atomic, hence complete) claim names."""
    import json

    try:
        with open(os.path.join(path, f"_MANIFEST.v{version}")) as fh:
            winner = set(json.load(fh))
    except (OSError, ValueError):
        winner = set()
    _remove_files(path, [f for f in names if f not in winner])


def commit_manifest(
    path: str,
    base: int,
    manifest: dict,
    what: str,
    stats: dict | None = None,
    rewrite: bool = False,
) -> int:
    """Commit ``manifest`` as version ``base + 1`` — the ONE routine
    every lake commit claims its version through.  In order:

    1. stamp ``_ts`` (the TIMESTAMP AS OF key) and serialize;
    2. with ``rewrite`` (dataChange=false commits: compaction, purge),
       claim the ``.rewrite`` marker first — its body is the md5 of
       the exact snapshot body, so a crash between marker and snapshot
       leaves a marker that matches nothing
       (:func:`_rewrite_marker_valid`); claimed create-if-absent, so
       two racing rewrites can never clobber each other's marker;
    3. claim ``_MANIFEST.v{base+1}`` create-if-absent (the OCC gate:
       exactly one of N racing writers wins the link).  A lost claim
       removes our marker and raises :class:`ManifestCommitConflict`;
       rolling back staged files is the caller's job;
    4. write the per-commit stats delta (no-op when empty);
    5. flip the live ``_MANIFEST`` cache only while this commit is
       still the latest (a stalled winner must not swing it back).

    Returns the committed version."""
    import hashlib
    import json
    import time

    from pu4spark_spark.sources.lake.checkpoint import write_stats_delta

    version = base + 1
    snap = os.path.join(path, f"_MANIFEST.v{version}")
    marker = snap + ".rewrite"
    manifest["_ts"] = time.time_ns()
    body = json.dumps(manifest)
    try:
        if rewrite:
            digest = hashlib.md5(body.encode()).hexdigest()
            _write_atomic_excl(marker, digest)
        try:
            _write_atomic_excl(snap, body)
        except FileExistsError:
            if rewrite:
                _remove_files(path, [os.path.basename(marker)])
            raise
    except FileExistsError:
        raise ManifestCommitConflict(
            f"{_CONFLICT_SENTINEL}{version} was claimed by another writer "
            f"after this {what} read version {base}; re-run the {what} "
            "against the new table state"
        ) from None
    write_stats_delta(path, version, stats or {})
    if _latest_manifest_version(path) == version:
        _write_atomic(os.path.join(path, "_MANIFEST"), body)
    return version


#: reserved manifest key: absolute path of the SOURCE table a shallow
#: clone references — file names missing from the clone's own dir
#: resolve there (Delta SHALLOW CLONE: metadata copied, data shared).
#: Carried forward by the '_'-key copy loops; dropped by compaction's
#: fresh manifest, which is exactly when the clone materializes.
BASE_DIR_KEY = "_base_dir"


def _shard_path(table_dir: str, manifest: dict | None, name: str) -> str:
    """Resolve a manifest file name to its physical path: the table's
    own dir, falling back to the shallow-clone base dir for names the
    clone never localized (immutable source shards)."""
    local = os.path.join(table_dir, name)
    base = (manifest or {}).get(BASE_DIR_KEY)
    if base and not os.path.exists(local):
        return os.path.join(base, name)
    return local


#: reserved manifest key holding POSITIONAL DELETION VECTORS (Delta's
#: deletion vectors): ``{shard_name: {"n": deleted_count, "b":
#: base64(zlib(bitset))}}`` — bit i set means the shard's i-th row (in
#: parsed-row order, the order every scan walks) is deleted.  Unlike
#: the tombstone ledger (key FILES replayed as a per-row membership
#: test), a DV is applied as a pure row-INDEX mask: no key set is
#: loaded, no per-row hashing — the read-path cost is O(bitmap).
#: Entries merge by bitwise OR across delete commits; compaction and
#: PURGE (REORG ... APPLY (PURGE)) rewrite the masked rows away and
#: drop the entries.  Stored inline in the manifest (zlib'd — a 1M-row
#: shard's bitmap is ~125 KB raw and compresses far below that for
#: sparse deletes); a petabyte deployment would move the bitmaps to
#: per-shard sidecar files exactly like Delta's .bin DV files — the
#: schema already isolates them under one key.
DV_KEY = "_dv"


def _dv_pack(positions, size: int) -> dict:
    """Serialize sorted row positions into a DV entry (bitset sized
    for ``size`` rows)."""
    import base64
    import zlib

    buf = bytearray((size + 7) // 8)
    n = 0
    for i in positions:
        byte, bit = i >> 3, i & 7
        if not buf[byte] & (1 << bit):
            buf[byte] |= 1 << bit
            n += 1
    return {"n": n, "b": base64.b64encode(zlib.compress(bytes(buf))).decode()}


def _dv_buf(entry: dict) -> bytes:
    """Decode a DV entry's bitset.  Positions beyond its length are
    LIVE; a malformed entry raises loudly (unlike the advisory stats,
    a deletion vector is correctness-bearing — silently treating a
    corrupt bitmap as empty would resurrect deleted rows)."""
    import base64
    import zlib

    return zlib.decompress(base64.b64decode(entry["b"]))


def _dv_test(buf: bytes, i: int) -> bool:
    byte = i >> 3
    return byte < len(buf) and bool(buf[byte] & (1 << (i & 7)))


def _dv_merge(a: dict | None, b: dict) -> dict:
    """OR two DV entries (either side may be None/absent)."""
    import base64
    import zlib

    if not a:
        return b
    ba, bb = bytearray(_dv_buf(a)), _dv_buf(b)
    if len(bb) > len(ba):
        ba, bb = bytearray(bb), bytes(ba)
    for i, x in enumerate(bb):
        ba[i] |= x
    n = sum(bin(x).count("1") for x in ba)
    return {
        "n": n,
        "b": base64.b64encode(zlib.compress(bytes(ba))).decode(),
    }


def _dv_of(manifest: dict | None) -> dict:
    return dict((manifest or {}).get(DV_KEY, {}))


#: reserved manifest key: the TABLE FEATURES this table requires a
#: consumer to understand (Delta's table-features / minReaderVersion
#: contract): a sorted list of feature names, stamped by the first
#: commit that uses each feature and STICKY from then on (carried by
#: every later commit; restore unions rather than downgrades).  Both
#: readers and writers check the list against SUPPORTED_FEATURES and
#: fail LOUDLY on an unknown name — a consumer built before a feature
#: existed must refuse the table, never silently misread it (e.g. a
#: pre-column-mapping reader would serve wrong columns; a pre-parquet
#: reader would try to JSON-parse a columnar shard).  Purely ADVISORY
#: metadata (zonemaps, null counts, blooms, partition values) is
#: deliberately NOT a feature: ignoring it costs I/O, never
#: correctness.
FEATURES_KEY = "_features"

#: every feature THIS build understands; a future build extends the
#: set together with the code that serves the feature
SUPPORTED_FEATURES = frozenset(
    {
        "column-mapping",
        "check-constraints",
        "payload-parquet",
        "change-data-feed",
        "deletion-vectors",
    }
)


def _check_features(manifest: dict | None) -> None:
    """Fail loudly if the manifest requires a feature this build does
    not understand — the read/write gate every entry point calls.
    Absent key = legacy manifest = no required features."""
    feats = set((manifest or {}).get(FEATURES_KEY, ()))
    unknown = feats - SUPPORTED_FEATURES
    if unknown:
        raise ValueError(
            "jsonl_docs: table requires unsupported feature(s) "
            f"{sorted(unknown)} (this build supports "
            f"{sorted(SUPPORTED_FEATURES)}) — refusing to read or "
            "write rather than silently misinterpreting the table"
        )


def _stamp_features(manifest: dict, *feats: str) -> None:
    """Add features to the manifest being built (in place, sorted,
    idempotent; no-op for an empty add on a feature-less table)."""
    cur = set(manifest.get(FEATURES_KEY, ()))
    new = cur | set(feats)
    if new:
        manifest[FEATURES_KEY] = sorted(new)


#: reserved manifest key: each commit's own operation name (append /
#: overwrite / delete / merge / compact / evolve-schema /
#: add-constraint / drop-constraint / streaming-append) — the
#: DESCRIBE HISTORY provenance field; every commit overwrites it
OP_KEY = "_op"

#: reserved manifest key: {str(version): [cdc file names]} — commit-
#: time CHANGE DATA FEED files (Delta's _change_data), written by DML
#: run with ``cdf=True``.  Each file holds the commit's typed change
#: rows (table columns + _change_type); carried forward like the
#: tombstone ledger (the '_'-key copy loops), CLEARED by compaction's
#: fresh manifest, reclaimed by vacuum once no retained manifest
#: carries the version.
CDC_KEY = "_cdc"
