"""Checkpointed metadata plane for the jsonl_docs lake (r15).

The r14 design kept table statistics in ONE root ``_STATS`` JSON that
every commit read-modify-rewrote and every filtered scan parsed whole —
O(table) driver metadata per commit and per plan, the last 100 TB
bottleneck in the protocol.  This module replaces it with Delta's
``_last_checkpoint`` architecture on the lake's own commit log:

- **Per-commit stats DELTAS** (``_STATS.v{N}``): each commit writes one
  small JSON naming ONLY its own shards' zonemap/partition/null/bloom
  entries — O(commit), never O(table), and two racing writers can no
  longer lose each other's entries (each version's delta has exactly
  one writer: the claimant of ``_MANIFEST.v{N}``).
- **Columnar CHECKPOINT** (``_CHECKPOINT.v{N}.parquet`` +
  ``_LAST_CHECKPOINT`` pointer): a periodic maintenance action compacts
  the manifest + assembled stats into one parquet file — one ROW per
  live shard, one COLUMN per stats family — readable as a DataFrame
  and, by the planner, with per-family column projection (a scan that
  pushed only a doc_id range never deserializes the ~11 KiB/shard
  bloom column).  Table-level metadata and the commit history ride the
  parquet footer's key-value metadata.
- **Assembly** (:func:`assemble_stats`): checkpoint base (else the
  legacy root ``_STATS``) + the tail of per-commit deltas.  Scan
  planning therefore reads O(checkpoint + tail), and DESCRIBE
  HISTORY / TIMESTAMP AS OF resolution serve versions at-or-below the
  checkpoint from its embedded history without opening their
  per-version manifests.

Stats remain ADVISORY end to end (the r14 contract is unchanged): a
missing delta, a stale entry for a rewritten-away shard, or a lost
checkpoint only disables pruning, never correctness — entries are
keyed by immutable shard file name and only files named by the
resolved manifest are ever consulted.

Reference parity note: the pu4spark reference (404 lines of Scala ML
pipeline code) has no storage layer at all; this file's design follows
the PUBLIC Delta Lake checkpoint protocol (_last_checkpoint +
columnar checkpoint + JSON tail) re-expressed for this lake's
snapshot-manifest log.
"""

from __future__ import annotations

import json
import logging
import os

from pu4spark_spark.sources.lake.protocol import (
    CDC_KEY,
    OP_KEY,
    _latest_manifest_version,
    _manifest_at,
    _manifest_files,
    _tombstones_of,
    _write_atomic,
)

logger = logging.getLogger(__name__)

#: stats keys whose values are per-shard MAPS (merged per shard name);
#: every other key is a per-shard zonemap entry merged flat
STATS_MAP_KEYS = ("_parts", "_cols", "_nulls", "_bloom")

LAST_CHECKPOINT = "_LAST_CHECKPOINT"
CHECKPOINT_PREFIX = "_CHECKPOINT.v"

#: reserved manifest key: sticky auto-checkpoint interval (Delta's
#: ``delta.checkpointInterval`` table property) — commits from either
#: writer checkpoint the metadata plane whenever version % N == 0,
#: bounding the delta tail every reader assembles
CKPT_INTERVAL_KEY = "_checkpoint_interval"


def _maybe_auto_checkpoint(
    path: str, version: int, manifest: dict
) -> None:
    """Fire the sticky-interval checkpoint after a commit.  BEST
    EFFORT by design: the commit already succeeded and the checkpoint
    is derived metadata, so a failure here (e.g. a racing writer
    claimed the same checkpoint) must never fail the write job.  It is
    logged, so a broken checkpoint path does not quietly leave readers
    an ever-growing delta tail."""
    n = manifest.get(CKPT_INTERVAL_KEY)
    if not (isinstance(n, int) and n > 0 and version % n == 0):
        return
    try:
        write_checkpoint(path)
    except Exception as exc:
        logger.warning(
            "lake auto-checkpoint of %s at version %d failed with %s: %s",
            path, version, type(exc).__name__, exc, exc_info=True,
        )

#: stats FAMILY → checkpoint parquet columns it needs (besides "file");
#: the planner passes exactly the families its pushed filters consult,
#: so e.g. a pure doc_id range scan never reads the bloom column
_FAMILY_COLUMNS = {
    "zonemap": ["zmin", "zmax"],
    "_parts": ["parts"],
    "_cols": ["cols"],
    "_nulls": ["nulls"],
    "_bloom": ["bloom"],
}


def stats_delta_path(path: str, version: int) -> str:
    return os.path.join(path, f"_STATS.v{version}")


def write_stats_delta(path: str, version: int, delta: dict) -> None:
    """Persist one commit's stats delta (root-``_STATS``-shaped dict,
    restricted to the commit's own shards).  Called AFTER the commit's
    ``_MANIFEST.v{version}`` claim succeeded, so each version's delta
    has exactly one writer; a crash before this write only loses
    pruning for the commit's shards (advisory).  Empty deltas (pure
    metadata commits) write nothing."""
    if not delta:
        return
    _write_atomic(stats_delta_path(path, version), json.dumps(delta))


def merge_stats(base: dict, delta: dict) -> dict:
    """Merge ``delta`` into ``base`` (mutating base): nested family
    maps merge per shard name, flat zonemap entries update."""
    for k in STATS_MAP_KEYS:
        if k in delta:
            base.setdefault(k, {}).update(delta[k])
    for k, v in delta.items():
        if k not in STATS_MAP_KEYS:
            base[k] = v
    return base


def stats_delta_versions(path: str) -> list[int]:
    """Committed stats-delta versions on disk, ascending."""
    out = []
    try:
        names = os.listdir(path)
    except OSError:
        return out
    for f in names:
        if f.startswith("_STATS.v"):
            v = f[len("_STATS.v"):]
            if v.isdigit():
                out.append(int(v))
    return sorted(out)


def _checkpoint_file(version: int) -> str:
    return f"{CHECKPOINT_PREFIX}{version}.parquet"


def last_checkpoint_version(path: str) -> int:
    """Version of the newest usable checkpoint, 0 if none.  The
    ``_LAST_CHECKPOINT`` pointer is a HINT (Delta's semantics): it is
    verified against the named file and falls back to a directory
    listing, so a crashed pointer flip or a racing vacuum can never
    hide a durable checkpoint or serve a missing one."""
    best = 0
    try:
        with open(os.path.join(path, LAST_CHECKPOINT)) as fh:
            v = int(json.load(fh).get("version", 0))
        if v > 0 and os.path.exists(
            os.path.join(path, _checkpoint_file(v))
        ):
            best = v
    except (OSError, ValueError):
        pass
    if best == 0:
        try:
            names = os.listdir(path)
        except OSError:
            return 0
        for f in names:
            if f.startswith(CHECKPOINT_PREFIX) and f.endswith(".parquet"):
                v = f[len(CHECKPOINT_PREFIX):-len(".parquet")]
                if v.isdigit():
                    best = max(best, int(v))
    return best


def _read_checkpoint_stats(
    path: str, version: int, families: set[str] | None
) -> dict:
    """Stats dict (root-``_STATS`` shape) from the columnar checkpoint,
    reading ONLY the parquet columns the requested families need —
    the per-pushed-column metadata projection of the r15 design."""
    import pyarrow.parquet as pq

    fams = (
        set(_FAMILY_COLUMNS) if families is None else set(families)
    )
    cols = ["file"]
    for fam in fams:
        cols.extend(_FAMILY_COLUMNS.get(fam, ()))
    try:
        tbl = pq.read_table(
            os.path.join(path, _checkpoint_file(version)), columns=cols
        )
    except Exception:
        return {}  # unreadable checkpoint: advisory, no pruning
    d = tbl.to_pydict()
    files = d["file"]
    stats: dict = {}
    if "zmin" in d:
        for f, mn, mx in zip(files, d["zmin"], d["zmax"]):
            if mn is not None and mx is not None:
                stats[f] = [mn, mx]
    for fam, col in (
        ("_parts", "parts"),
        ("_cols", "cols"),
        ("_nulls", "nulls"),
        ("_bloom", "bloom"),
    ):
        if col in d:
            m = {}
            for f, body in zip(files, d[col]):
                if body:
                    m[f] = json.loads(body)
            if m:
                stats[fam] = m
    return stats


def _checkpoint_kv(path: str, version: int) -> dict:
    """Decoded key-value footer metadata of a checkpoint, ``{}`` if
    unreadable."""
    import pyarrow.parquet as pq

    try:
        meta = pq.read_schema(
            os.path.join(path, _checkpoint_file(version))
        ).metadata or {}
    except Exception:
        return {}
    out = {}
    for k, v in meta.items():
        key = k.decode() if isinstance(k, bytes) else k
        if key.startswith("lake."):
            try:
                out[key] = json.loads(v)
            except (ValueError, TypeError):
                pass
    return out


def checkpoint_history(path: str, version: int) -> list[dict]:
    """The DESCRIBE-HISTORY rows (dicts) embedded at checkpoint time,
    covering every version retained then (all ≤ checkpoint version)."""
    h = _checkpoint_kv(path, version).get("lake.history")
    return h if isinstance(h, list) else []


def checkpoint_meta(path: str, version: int) -> dict | None:
    """The full manifest (reserved keys + shard rows) reconstructed
    from the checkpoint — a fallback snapshot for version ``version``
    when ``_MANIFEST.v{version}`` itself was vacuumed."""
    kv = _checkpoint_kv(path, version)
    meta = kv.get("lake.meta")
    if not isinstance(meta, dict):
        return None
    import pyarrow.parquet as pq

    try:
        tbl = pq.read_table(
            os.path.join(path, _checkpoint_file(version)),
            columns=["file", "rows"],
        )
    except Exception:
        return None
    m = dict(meta)
    for f, r in zip(
        tbl.column("file").to_pylist(), tbl.column("rows").to_pylist()
    ):
        m[f] = r
    return m


def assemble_stats(
    path: str,
    families: set[str] | None = None,
    base_version: int | None = None,
) -> dict:
    """The table's stats view: columnar checkpoint base (projected to
    ``families``) — else the legacy root ``_STATS`` — plus every
    per-commit delta ABOVE the base, merged per shard.  O(checkpoint +
    tail) metadata, never O(history).

    Entries are advisory and keyed by immutable shard name, so serving
    ONE assembled view to every reader (pinned time-travel reads
    included) is sound: a pinned read of shards the checkpoint dropped
    (rewritten away before it) merely loses pruning for them.
    ``base_version`` pins which checkpoint to build on (tests); default
    is the newest."""
    ck = (
        last_checkpoint_version(path)
        if base_version is None
        else base_version
    )
    if ck > 0:
        stats = _read_checkpoint_stats(path, ck, families)
    else:
        stats = {}
        root = os.path.join(path, "_STATS")
        if os.path.exists(root):
            try:
                with open(root) as fh:
                    stats = json.load(fh)
            except (OSError, ValueError):
                stats = {}
    for v in stats_delta_versions(path):
        if v <= ck:
            continue  # subsumed by (compacted into) the checkpoint
        try:
            with open(stats_delta_path(path, v)) as fh:
                merge_stats(stats, json.load(fh))
        except (OSError, ValueError):
            continue  # advisory: a torn/vacuumed delta only skips pruning
    return stats


def _history_row(version: int, m: dict) -> dict:
    """One DESCRIBE-HISTORY row from a manifest dict — the SAME fields
    ``describe_history_jsonl_dir`` computes, so checkpoint-served and
    manifest-served rows are indistinguishable."""
    files = _manifest_files(m)
    counts = [m[f] for f in files if isinstance(m.get(f), int)]
    return {
        "v": version,
        "op": m.get(OP_KEY, "unknown"),
        "n_files": len(files),
        "n_rows": sum(counts) if len(counts) == len(files) else None,
        "ledger_entries": len(_tombstones_of(m)["entries"]),
        "has_cdc": bool(m.get(CDC_KEY, {}).get(str(version))),
        "ts": m.get("_ts", 0),
    }


def write_checkpoint(path: str) -> int:
    """CHECKPOINT the table's metadata plane at its latest version N:
    assemble the stats view, join it to the live manifest, and write
    ``_CHECKPOINT.v{N}.parquet`` — one row per live shard (file, rows,
    doc_id zonemap, and the four stats families as JSON columns) with
    the manifest's reserved keys and the full retained commit history
    in the parquet footer's key-value metadata — then flip the
    ``_LAST_CHECKPOINT`` pointer forward.  Returns N.

    Semantics (Delta's checkpoint contract):

    - DERIVED metadata: the commit log stays authoritative; losing a
      checkpoint costs assembly speed, never data.  The parquet is
      claimed CREATE-IF-ABSENT, so concurrent checkpointers at the
      same version are idempotent (first wins, the rest return N).
    - The pointer only moves FORWARD; a stale flip racing a newer
      checkpoint is caught by the listing fallback in
      :func:`last_checkpoint_version`.
    - Stats entries for shards rewritten away before N are dropped
      (this is where stale entries die); deltas ≤ N become
      vacuum-reclaimable; history ≤ N becomes servable without
      opening per-version manifests."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    latest = _latest_manifest_version(path)
    if latest <= 0:
        raise ValueError(
            f"write_checkpoint: no committed version under {path}"
        )
    m = _manifest_at(path, latest)
    stats = assemble_stats(path)
    parts = stats.get("_parts", {})
    cols = stats.get("_cols", {})
    nulls = stats.get("_nulls", {})
    bloom = stats.get("_bloom", {})
    files = sorted(_manifest_files(m))
    rows_c, zmin_c, zmax_c = [], [], []
    parts_c, cols_c, nulls_c, bloom_c = [], [], [], []
    for f in files:
        rows_c.append(m.get(f))
        zm = stats.get(f)
        ok = (
            isinstance(zm, (list, tuple))
            and len(zm) == 2
            and all(isinstance(x, int) for x in zm)
        )
        zmin_c.append(zm[0] if ok else None)
        zmax_c.append(zm[1] if ok else None)
        for src, dst in (
            (parts, parts_c),
            (cols, cols_c),
            (nulls, nulls_c),
            (bloom, bloom_c),
        ):
            e = src.get(f)
            dst.append(json.dumps(e) if e else None)
    # retained history, prior-checkpoint rows first (so history depth
    # survives repeated checkpoint+vacuum cycles without re-opening
    # vacuumed manifests)
    prev_ck = last_checkpoint_version(path)
    hist: list[dict] = []
    seen: set[int] = set()
    if prev_ck > 0:
        for r in checkpoint_history(path, prev_ck):
            v = r.get("v")
            if isinstance(v, int) and v <= latest and v not in seen:
                hist.append(r)
                seen.add(v)
    for v in range(1, latest + 1):
        if v in seen:
            continue
        try:
            hist.append(_history_row(v, _manifest_at(path, v)))
        except OSError:
            continue  # vacuumed below the previous checkpoint
    hist.sort(key=lambda r: r["v"])
    meta_keys = {k: v for k, v in m.items() if k.startswith("_")}
    tbl = pa.table(
        {
            "file": pa.array(files, pa.string()),
            "rows": pa.array(rows_c, pa.int64()),
            "zmin": pa.array(zmin_c, pa.int64()),
            "zmax": pa.array(zmax_c, pa.int64()),
            "parts": pa.array(parts_c, pa.string()),
            "cols": pa.array(cols_c, pa.string()),
            "nulls": pa.array(nulls_c, pa.string()),
            "bloom": pa.array(bloom_c, pa.string()),
        }
    )
    tbl = tbl.replace_schema_metadata(
        {
            b"lake.version": str(latest).encode(),
            b"lake.meta": json.dumps(meta_keys).encode(),
            b"lake.history": json.dumps(hist).encode(),
        }
    )
    tmp = os.path.join(path, f"_tmp-ckpt-{uuid.uuid4().hex[:8]}")
    pq.write_table(tbl, tmp, compression="zstd")
    final = os.path.join(path, _checkpoint_file(latest))
    try:
        os.link(tmp, final)
    except FileExistsError:
        pass  # concurrent checkpointer at the same version: idempotent
    finally:
        os.unlink(tmp)
    cur = last_checkpoint_version(path)
    if latest >= cur:
        _write_atomic(
            os.path.join(path, LAST_CHECKPOINT),
            json.dumps(
                {"version": latest, "file": _checkpoint_file(latest)}
            ),
        )
    return latest
