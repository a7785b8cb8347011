"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py

The check tests need no Spark and run in a second.  The smoke tests run
every workload at tiny size, once untraced and once traced (about four
minutes), and assert that every metric ``BENCHMARK.json`` names is
emitted with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import run  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- the benchmark definition -------------------------------------------------


def test_benchmark_json_matches_the_code():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


# -- each output check catches one dropped row and one altered value ----------


def test_pu_check():
    rng = np.random.default_rng(0)
    truth = rng.random(200) < 0.3
    rows = [(i, 0.9 if t else 0.1) for i, t in enumerate(truth)]
    assert checks.check_pu(rows, truth, 0.9)[0] is None
    assert checks.check_pu(rows[1:], truth, 0.9)[0] is not None
    dup = rows[:-1] + [(0, rows[-1][1])]
    assert checks.check_pu(dup, truth, 0.9)[0] is not None
    for bad in (1.5, -0.1, None, float("nan")):
        altered = rows[:-1] + [(rows[-1][0], bad)]
        assert checks.check_pu(altered, truth, 0.9)[0] is not None
    flipped = [(i, 1.0 - p) for i, p in rows]
    assert checks.check_pu(flipped, truth, 0.9)[0] is not None


def test_roc_auc_matches_pairwise_count():
    rng = np.random.default_rng(1)
    truth = rng.random(60) < 0.4
    score = np.round(rng.random(60), 1)  # many ties
    pos, neg = score[truth], score[~truth]
    pairs = sum((p > q) + 0.5 * (p == q) for p in pos for q in neg)
    assert checks.roc_auc(score, truth) == pytest.approx(pairs / (len(pos) * len(neg)))


def test_lake_read_check():
    rows = {i: (10 + i, checks.row_digest(i, 10 + i, f"text {i}")) for i in range(50)}
    want = checks.snapshot_digest(rows)
    assert checks.check_lake_read(want, want) is None
    dropped = dict(rows)
    del dropped[7]
    assert checks.check_lake_read(checks.snapshot_digest(dropped), want) is not None
    for n_chars, text in ((18, "text 7"), (17, "text 7!")):
        altered = dict(rows)
        altered[7] = (n_chars, checks.row_digest(7, n_chars, text))
        assert checks.check_lake_read(checks.snapshot_digest(altered), want) is not None


def test_cdf_check():
    want = Counter(insert=20, update_preimage=20, update_postimage=20)
    assert checks.check_cdf(dict(want), want) is None
    assert checks.check_cdf({**want, "insert": 19}, want) is not None
    assert checks.check_cdf({**want, "delete": 1}, want) is not None


def test_registry_check():
    from tools import check_oracle as co

    def canon(rows):
        return checks.canonical_result(
            ["b", "a"], ["bigint", "string"], rows, co.spark_canon_type, co.rowset)

    rows = [(1, "x"), (2, "y"), (3, "z")]
    want = canon(rows)
    assert checks.check_registry(canon(list(reversed(rows))), want) is None
    assert checks.check_registry(canon(rows[:-1]), want) is not None
    assert checks.check_registry(canon([(1, "x"), (2, "y"), (4, "z")]), want) is not None
    duck = checks.canonical_result(
        ["a", "b"], ["VARCHAR", "BIGINT"], [("x", 1), ("y", 2), ("z", 3)],
        co.duck_canon_type, co.rowset)
    assert checks.check_registry(want, duck) is None


# -- tiny end-to-end runs -----------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == {m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in got.values())
