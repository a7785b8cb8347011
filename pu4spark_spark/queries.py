"""Central registry of driver-checkable queries.

Each operator module exposes ``QUERIES`` (name → (spark, sf_dir) →
DataFrame) and ``ORACLE_SQL`` (name → DuckDB SQL); this module merges
them.  Names present in ``QUERIES`` but not ``ORACLE_SQL`` get the
driver's weaker rows-only check (non-SQL-expressible ML/streaming ops).
"""

from __future__ import annotations

from pu4spark_spark.operators import pu_queries

_MODULES = [pu_queries]

from pu4spark_spark.operators import (  # noqa: E402
    asof,
    curation,
    dedup,
    multimodal,
    pipeline,
    relational,
    similarity,
    text,
    tpch_extra,
)
from pu4spark_spark.sources import formats as fmt_sources  # noqa: E402
from pu4spark_spark.sources.lake import queries as pyds_sources  # noqa: E402
from pu4spark_spark.streaming import events as streaming_events  # noqa: E402
from pu4spark_spark.streaming import ingest as streaming_ingest  # noqa: E402
from pu4spark_spark.streaming import sketch as streaming_sketch  # noqa: E402
from pu4spark_spark.streaming import stateful as streaming_stateful  # noqa: E402
from pu4spark_spark.streaming import upsert as streaming_upsert  # noqa: E402

_MODULES += [
    relational,
    tpch_extra,
    asof,
    curation,
    dedup,
    similarity,
    text,
    multimodal,
    pipeline,
    fmt_sources,
    pyds_sources,
    streaming_events,
    streaming_ingest,
    streaming_sketch,
    streaming_stateful,
    streaming_upsert,
]

QUERIES = {}
ORACLE_SQL = {}
for _m in _MODULES:
    for _k in _m.QUERIES:
        if _k in QUERIES:
            raise ValueError(f"duplicate query name {_k!r}")
    QUERIES.update(_m.QUERIES)
    ORACLE_SQL.update(getattr(_m, "ORACLE_SQL", {}))

missing = set(ORACLE_SQL) - set(QUERIES)
if missing:
    raise ValueError(f"oracle_sql without queries: {missing}")

#: Driver-evidence ordering.  The round-2 and round-3 driver correctness
#: artifacts each stopped at exactly the first 50 registry entries, so
#: registry order decides which queries get driver-recorded evidence —
#: the per-round window is a ROTATION slot, and the committed
#: ``CORRECTNESS_r0N.json`` artifacts accumulate across rounds.
#: History: r5 and r6 windows rotated never-witnessed oracle-backed
#: queries until r01∪…∪r06 witnessed 208 of 230; the r7 window below
#: finishes the program (every oracle-backed query driver-witnessed at
#: least once) and starts giving the rows-only entries driver
#: rows-evidence too.  Queries outside every window are covered by the
#: committed full-registry self-check (``tools/check_oracle.py`` →
#: ``CORRECTNESS_FULL_r0N``).
DRIVER_FIRST = [
    # Round-15 rotation (CORRECTNESS_r14: 49/49 hash-green; the only
    # never-witnessed entries are the three r15 additions).
    # r16 PLAN: once the driver writes CORRECTNESS_r15.json, re-run
    # tools/rotation.py — window = r16's new queries first, then
    # re-verification of whatever r16 touches, then cheapest fillers.
    # Window = (A) the 3 r15-NEW queries (the checkpointed metadata
    # plane: per-commit _STATS.v{N} deltas + the columnar
    # _CHECKPOINT.v{N}.parquet with its _LAST_CHECKPOINT pointer —
    # roundtrip/time-travel/CDF across the boundary, post-checkpoint
    # pruning from projected columnar stats, and DESCRIBE HISTORY
    # from checkpoint + tail); (B) re-verification of EVERY lake
    # query: r15 replaced the root-_STATS plane wholesale — both
    # writers' commits, DML commits, compaction/purge/OPTIMIZE-WHERE
    # stats handling, clone, vacuum retention, the reader's pruning
    # assembly, the batch CDF's new DV guards, and the mixed-subset
    # parquet-payload preservation; (C) cheapest witnessed fillers.
    # -- A: the 3 r15-new queries ------------------------------------------
    "fmt_pyds_metadata_checkpoint",
    "fmt_pyds_checkpoint_pruning",
    "fmt_pyds_checkpoint_history",
    # -- B: re-verification of the r15-touched lake surface ----------------
    "fmt_pyds_parquet_roundtrip",
    "fmt_pyds_parquet_mixed",
    "fmt_pyds_parquet_projection",
    "fmt_pyds_deletion_vectors",
    "fmt_pyds_optimize_where",
    "fmt_pyds_multicol_pruning",
    "streaming_pyds_sink_mapped",
    "streaming_pyds_sink_partitioned",
    "fmt_pyds_cdf_clone",
    "fmt_pyds_zorder_compaction",
    "fmt_pyds_nullcount_pruning",
    "fmt_pyds_bloom_pruning",
    "fmt_pyds_constraints",
    "fmt_pyds_schema_evolution",
    "fmt_pyds_sql_surface",
    "fmt_pyds_partitioned_scan",
    "fmt_pyds_restore",
    "fmt_pyds_clone",
    "fmt_pyds_merge_clauses",
    "fmt_pyds_describe_history",
    "curation_lake_release",
    "fmt_pyds_cdf_read",
    "streaming_pyds_cdf_feed",
    "fmt_pyds_jsonl_roundtrip",
    "fmt_pyds_jsonl_write_roundtrip",
    "fmt_pyds_snapshot_read",
    "fmt_pyds_snapshot_diff",
    "fmt_pyds_compaction",
    "fmt_pyds_compaction_cluster",
    "fmt_pyds_stats_pruning",
    "fmt_pyds_commit_conflict",
    "fmt_pyds_commit_retry",
    "fmt_pyds_delete_merge",
    "fmt_pyds_update",
    "fmt_pyds_column_mapping",
    "fmt_pyds_type_widening",
    "fmt_pyds_time_travel_ts",
    "streaming_pyds_docs",
    "streaming_pyds_snapshot",
    "streaming_pyds_compaction_skip",
    "streaming_pyds_delete_feed",
    "streaming_pyds_lake_sink",
    "streaming_pyds_rate_limited",
    # -- C: cheapest witnessed fillers (sf0.1 bench sec ascending) ---------
    "pu_label_index",                  # 0.091
    "pu_relabel_keep",                 # 0.101
    "sql_parts_by_brand",              # 0.117
    "pu_binarize_gradual",             # 0.122
    "mm_pack_stats",                   # 0.123
    "pu_binarize_traditional",         # 0.134
    "text_length_histogram",           # 0.137
]


_first = [n for n in DRIVER_FIRST if n in QUERIES]
_missing_first = set(DRIVER_FIRST) - set(QUERIES)
if _missing_first:
    raise ValueError(f"DRIVER_FIRST names not registered: {_missing_first}")
# rows-only entries ARE allowed in the curated prefix as of r7 — the
# driver records a weaker rows>0 check for them, which is still the
# only driver-side evidence the ML/sketch paths can ever get.  The
# gate below only guards against ACCIDENTAL oracle omissions: adding a
# rows-only name to the window must be an explicit decision here.
_ROWS_ONLY_WINDOWED = {
    "pu_spy_em_lr", "pu_elkan_noto_lr", "pu_bagging_lr", "pu_sar_lr",
    "pu_class_prior", "pu_f1_proxy", "pu_auc_zero_step",
    "dedup_minhash_ml_slice", "ann_ivf",
    "ann_ivf_recall", "embedding_pca_project", "text_bpe_learn_merges",
    "text_bpe_encode", "mm_cdc_chunks", "mm_cdc_dup_chunks",
    "pu_doc_quality_soft_lr",
    "dedup_kcore", "events_hll_sketch_merge",
}
_no_oracle_first = [
    n
    for n in _first
    if n not in ORACLE_SQL and n not in _ROWS_ONLY_WINDOWED
]
if _no_oracle_first:
    raise ValueError(f"DRIVER_FIRST lacks oracle: {_no_oracle_first}")
# After the curated prefix: every remaining ORACLE-checked query (registry
# order), then the rows-only ML/sketch entries — so WHEREVER a
# time-budgeted driver run truncates, the artifact records the maximum
# number of hash-checkable results.
_rest_oracle = [
    n for n in QUERIES if n not in set(_first) and n in ORACLE_SQL
]
_rest_rows_only = [
    n for n in QUERIES if n not in set(_first) and n not in ORACLE_SQL
]
def _with_release(fn):
    """Wrap a registry callable so the PREVIOUS query's cached() frames
    are unpersisted when this one starts — per-query cache hygiene for
    any harness (driver, bench, self-check) that walks the registry.
    By entry time the previous result has been consumed, so releasing
    is always safe (a released frame re-derives on demand)."""
    import functools

    @functools.wraps(fn)
    def run(spark, sf_dir):
        from pu4spark_spark.plans import release_cached

        release_cached()
        return fn(spark, sf_dir)

    return run


QUERIES = {
    n: _with_release(QUERIES[n])
    for n in (*_first, *_rest_oracle, *_rest_rows_only)
}
