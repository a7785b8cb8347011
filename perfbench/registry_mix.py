"""``registry_mix``: registered operator queries, each checked against
its DuckDB oracle.

Set-up writes the ten input tables for the run's seed and computes
every query's expected result with DuckDB from the query's
``oracle_sql``.  Each op runs one query from the package registry and
collects it; the result must equal the oracle's after the
order-insensitive canonicalisation of ``tools/check_oracle.py``
(column names, canonical types and the sorted row set).  The seed also
sets the order of the queries in each pass.

A query is listed only if it matched its oracle on the inputs of many
seeds.  Lake (``*_pyds_*``) and ``pu_*`` queries are left out: the other
workloads cover those layers.
"""

from __future__ import annotations

import os
import sys

import numpy as np

import checks
import datagen
from spans import Workload, median

#: package module → listed queries
QUERIES = {
    "relational": ["rollup_order_status", "customers_with_urgent_orders"],
    "tpch_extra": ["q13_custdist", "q19_disjunctive"],
    "asof": ["range_click_purchases"],
    "dedup": ["dedup_exact_docs", "dedup_events_first"],
    "similarity": ["embedding_label_centroids", "embedding_quantize_int8"],
    "text": ["text_token_stats", "text_zscore_by_lang"],
    "curation": ["curation_pii_redact", "curation_shard_pack"],
    "pipeline": ["pipeline_observed_metrics"],
    "multimodal": ["mm_pack_stats"],
    "streaming": ["streaming_lang_router"],
}
MODULE_OF = {q: m for m, qs in QUERIES.items() for q in qs}
NAMES = [q for qs in QUERIES.values() for q in qs]

#: table scale (1 = the smallest published test scale)
SCALE = {"full": 1.0, "tiny": 0.2}

LAYER = {}
for _m in QUERIES:
    LAYER[f"{_m}.s"] = "s"
    LAYER[f"{_m}.jobs"] = "count"
    LAYER[f"{_m}.driver_s"] = "s"


def _oracle_tools():
    """``canon``/``rowset`` and the type canonicalisers of the repo's
    oracle self-check, imported rather than copied."""
    from tools import check_oracle

    return check_oracle


class RegistryMix(Workload):
    def __init__(self, ctx):
        super().__init__(ctx)
        self.data = os.path.join(ctx.work, "tables")
        self.tools = _oracle_tools()
        self.rng = np.random.default_rng(ctx.seed)
        self.order: list[str] = []
        self.per_query: dict[str, list] = {q: [] for q in NAMES}

    def generate(self, rep: int) -> None:
        datagen.write_registry_tables(
            self.data, self.ctx.seed, SCALE[self.ctx.scale])

    def expect(self, rep: int) -> None:
        import duckdb

        from pu4spark_spark.queries import ORACLE_SQL
        from pu4spark_spark.sources.tables import TABLES

        tools = self.tools
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {}
            for q in NAMES:
                rel = con.sql(ORACLE_SQL[q])
                self.expected[q] = checks.canonical_result(
                    list(rel.columns), [str(t) for t in rel.types],
                    rel.fetchall(), tools.duck_canon_type, tools.rowset)
        finally:
            con.close()

    def warmup(self) -> None:
        for q in NAMES:
            _wall, reason, _trace = self._query(q)
            if reason is not None:
                self.setup_failures += 1
                print(f"warm-up {q} failed: {reason}", file=sys.stderr)

    def enough(self, i: int) -> bool:
        """Stop only after whole passes, so every run times each query
        equally often."""
        return i > 0 and i % len(NAMES) == 0

    def _query(self, name: str):
        from pu4spark_spark.queries import QUERIES as REGISTRY

        tools = self.tools
        fn = REGISTRY[name]

        def call():
            df = fn(self.spark, self.data)
            return df, df.collect()

        wall, (df, rows), trace = self.timed(call)
        got = checks.canonical_result(
            df.columns, [f.dataType.simpleString() for f in df.schema.fields],
            [tuple(r) for r in rows], tools.spark_canon_type, tools.rowset)
        return wall, checks.check_registry(got, self.expected[name]), trace

    def op(self, i: int):
        if not self.order:
            self.order = list(self.rng.permutation(NAMES))
        name = self.label = self.order.pop()
        wall, reason, trace = self._query(name)
        self.per_query[name].append((wall, trace and trace[0]))
        return wall, reason

    def layer_metrics(self) -> dict:
        out = dict.fromkeys(LAYER, 0.0)
        for q, runs in self.per_query.items():
            m = MODULE_OF[q]
            traced = [t for _w, t in runs if t is not None]
            out[f"{m}.s"] += median(w for w, _t in runs)
            out[f"{m}.jobs"] += median(t["jobs"] for t in traced)
            out[f"{m}.driver_s"] += median(t["driver_s"] for t in traced)
        return out
