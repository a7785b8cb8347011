"""Output checks.  Each returns ``None`` when the output is correct and a
one-line reason when it is not; none of them needs Spark, so the
corruption tests run them on plain Python values."""

from __future__ import annotations

import zlib

import numpy as np

# -- PU ----------------------------------------------------------------------


def roc_auc(scores, truth) -> float:
    """ROC AUC by the rank-sum formula, ties given their mean rank."""
    scores = np.asarray(scores, dtype=float)
    truth = np.asarray(truth, dtype=bool)
    order = np.argsort(scores, kind="mergesort")
    ranks = np.empty(len(scores))
    s = scores[order]
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and s[j + 1] == s[i]:
            j += 1
        ranks[order[i:j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    n_pos = int(truth.sum())
    n_neg = len(truth) - n_pos
    return float((ranks[truth].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))


def check_pu(rows, truth, auc_floor: float):
    """``rows`` is the collected ``(id, finalLabel)`` list.  Returns
    ``(reason or None, auc)``."""
    n = len(truth)
    if len(rows) != n:
        return f"{len(rows)} rows, want {n}", 0.0
    ids = np.fromiter((r[0] for r in rows), dtype=np.int64, count=n)
    if ids.min() != 0 or ids.max() != n - 1 or len(np.unique(ids)) != n:
        return "ids are not exactly 0..n-1", 0.0
    p = [r[1] for r in rows]
    if any(v is None for v in p):
        return "null finalLabel", 0.0
    p = np.asarray(p, dtype=float)
    if np.isnan(p).any() or p.min() < 0.0 or p.max() > 1.0:
        return "finalLabel outside [0, 1]", 0.0
    score = np.empty(n)
    score[ids] = p
    auc = roc_auc(score, truth)
    if auc < auc_floor:
        return f"auc {auc:.4f} below floor {auc_floor}", auc
    return None, auc


# -- lake --------------------------------------------------------------------

#: row digest constants: sum over rows of
#: (doc_id*K_ID + n_chars*K_CHARS + crc32(text)) mod P — the same
#: expression the benchmark asks Spark to aggregate
K_ID, K_CHARS, P = 2654435761, 40503, 2147483647


def row_digest(doc_id: int, n_chars: int, text: str) -> int:
    return (doc_id * K_ID + n_chars * K_CHARS + zlib.crc32(text.encode())) % P


def snapshot_digest(rows: dict) -> tuple[int, int, int]:
    """``rows`` maps doc_id → (n_chars, row digest).  Returns
    (row count, sum of n_chars, sum of row digests)."""
    return (
        len(rows),
        sum(v[0] for v in rows.values()),
        sum(v[1] for v in rows.values()),
    )


def check_lake_read(got, want):
    got = tuple(int(x or 0) for x in got)
    if got != tuple(want):
        return f"read (rows, sum n_chars, digest) {got}, want {tuple(want)}"
    return None


def check_cdf(got: dict, want: dict):
    got = {k: v for k, v in got.items() if v}
    want = {k: v for k, v in want.items() if v}
    if got != want:
        return f"change counts {sorted(got.items())}, want {sorted(want.items())}"
    return None


# -- registry ----------------------------------------------------------------


def canonical_result(cols, types, rows, canon_type, rowset):
    """Columns sorted by name with canonical type names, and the
    order-insensitive row set, as tools/check_oracle.py compares them."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        [cols[i] for i in order],
        [canon_type(types[i]) for i in order],
        rowset([[r[i] for i in order] for r in rows]),
    )


def check_registry(got, want):
    gcols, gtypes, grows = got
    wcols, wtypes, wrows = want
    if gcols != wcols:
        return f"columns {gcols}, want {wcols}"
    if gtypes != wtypes:
        return f"types {gtypes}, want {wtypes}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows, want {len(wrows)}"
    if grows != wrows:
        bad = next(i for i, (a, b) in enumerate(zip(grows, wrows)) if a != b)
        return f"row {bad} differs: {grows[bad]} vs {wrows[bad]}"
    return None
