"""``bench.one_line``: the last line ``bench.py`` prints stays within
its character budget however many per-query entries are omitted."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import one_line  # noqa: E402

HEADER = {"metric": "headline_queries_total_sec", "value": 612.5,
          "unit": "sec", "queries": {}, "sf": "sf0.1", "n_queries": 336}


def test_one_line_fits_the_budget_when_entries_are_omitted():
    for width in range(1, 60):
        per_query = {f"q{i:03d}_" + "x" * width: 1.234 for i in range(336)}
        line = one_line(HEADER, per_query)
        assert len(line) <= 1850, width
        out = json.loads(line)
        assert out["queries_omitted"] == 336 - len(out["queries"]) > 0
        assert list(out["queries"]) == list(per_query)[:len(out["queries"])]


def test_one_line_keeps_every_entry_that_fits():
    per_query = {"q1": 1.5, "q2": 2.25}
    out = json.loads(one_line(HEADER, per_query))
    assert out["queries"] == per_query
    assert "queries_omitted" not in out
    assert HEADER["queries"] == {}  # the caller's dict is not changed
