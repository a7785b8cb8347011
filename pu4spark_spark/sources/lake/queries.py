"""Registered BATCH lake queries + DuckDB oracles: every
``fmt_pyds_*`` entry the driver checks, exercising the protocol
end to end on real fixtures, plus the QUERIES/ORACLE_SQL registry
for the whole lake."""

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
from pu4spark_spark.sources.lake.cdf import (
    table_changes_jsonl_dir,
)
from pu4spark_spark.sources.lake.dml import (
    delete_from_jsonl_dir,
    merge_into_jsonl_dir,
    update_jsonl_dir,
)
from pu4spark_spark.sources.lake.maintenance import (
    add_constraint_jsonl_dir,
    drop_jsonl_column,
    rename_jsonl_column,
    widen_jsonl_column,
    append_with_retry,
    clone_jsonl_dir,
    compact_jsonl_dir,
    compact_partitions_jsonl_dir,
    describe_history_jsonl_dir,
    evolve_jsonl_schema,
    purge_jsonl_dir,
    restore_jsonl_dir,
)
from pu4spark_spark.sources.lake.protocol import (
    DOCS_DDL,
    N_SHARDS,
    _is_commit_conflict,
)
from pu4spark_spark.sources.lake.queries_stream import (
    SQL_STREAMING_PYDS_RATE_LIMITED,
    SQL_STREAMING_PYDS_SINK_MAPPED,
    SQL_STREAMING_PYDS_SINK_PARTITIONED,
    q_streaming_pyds_rate_limited,
    q_streaming_pyds_sink_mapped,
    q_streaming_pyds_sink_partitioned,
    SQL_CURATION_LAKE_RELEASE,
    SQL_STREAMING_PYDS_CDF_FEED,
    SQL_STREAMING_PYDS_DELETE_FEED,
    SQL_STREAMING_PYDS_DOCS,
    _jsonl_shard_dir,
    q_curation_lake_release,
    q_streaming_pyds_cdf_feed,
    q_streaming_pyds_compaction_skip,
    q_streaming_pyds_delete_feed,
    q_streaming_pyds_docs,
    q_streaming_pyds_lake_sink,
    q_streaming_pyds_snapshot,
)
from pu4spark_spark.sources.lake.source import (
    register_pyds,
)



def q_fmt_pyds_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSONL shards → custom Python data source → per-lang
    aggregate; the oracle runs the same aggregate on the original
    parquet, so any row the source drops, mangles, or duplicates
    hash-mismatches."""
    shard_dir = _jsonl_shard_dir(spark, sf_dir)
    register_pyds(spark)
    back = spark.read.format("jsonl_docs").option("path", shard_dir).load()
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.countDistinct("source").alias("n_sources"),
    )


SQL_FMT_PYDS_JSONL_ROUNDTRIP = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc,
       COUNT(DISTINCT source) AS n_sources
FROM documents
GROUP BY lang
"""

def q_fmt_pyds_jsonl_write_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """documents → the CUSTOM Python writer (executor-side JSONL shards
    + driver manifest) → the custom reader → per-lang aggregate — the
    write half of the connector surface, value-checked end to end
    against the parquet truth (any row the writer drops, mangles, or
    double-writes hash-mismatches)."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    # per-process suffix: mode('overwrite') clears the target driver-
    # side, so concurrent sessions must not share one directory
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_w_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("overwrite")  # writer clears the target driver-side
        .save()
    )
    back = spark.read.format("jsonl_docs").option("path", out).load()
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.countDistinct("source").alias("n_sources"),
    )


def q_fmt_pyds_parquet_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COLUMNAR (parquet) shard payload under the SAME manifest/OCC/
    stats protocol (VERDICT r13 next #1 — Delta stores parquet under
    its JSON log for the same reason): documents written with
    ``option("payload_format", "parquet")`` — executor tasks stage
    row-grouped parquet shards, the commit claims the manifest
    exactly like JSONL — then read back through the reader's
    RecordBatch fast path (columnar decode, zero per-row Python; the
    scan reads ONLY the projected columns) into a filtered per-lang
    aggregate.  The oracle runs the same aggregate on the parquet
    truth, so a row the columnar path drops, mangles, retypes, or
    duplicates hash-mismatches.  Shard-skipping against parquet
    shards and the projection win are pinned in
    ``tests/test_lake_parquet.py``."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_pq_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("payload_format", "parquet")
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("jsonl_docs").option("path", out).load()
        # a filter + narrow projection: the columnar payload's point —
        # the parquet scan reads 3 of 5 columns, and the pushed
        # n_chars envelope still prunes via _STATS
        .filter(F.col("n_chars") >= 64)
        .select("doc_id", "lang", "n_chars")
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_FMT_PYDS_PARQUET_ROUNDTRIP = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE n_chars >= 64
GROUP BY lang
"""


def q_fmt_pyds_parquet_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SOURCE-LEVEL COLUMN PROJECTION over the columnar payload:
    Spark 4.1's Python DataSource API has no Catalyst column pruning
    (the scan always requests the declared schema), so the projection
    is declared at the source — ``option("columns", "lang,n_chars")``
    narrows the SERVED schema and the parquet payload reads only
    those columns' pages (SCALING.md §payload: the 100 TB lever).
    The oracle aggregates the same two columns from the parquet
    truth, so a projection that reorders, drops, or misbinds columns
    hash-mismatches."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_pj_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("payload_format", "parquet")
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("columns", "lang,n_chars")
        .load()
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.avg("n_chars").alias("avg_chars"),
    )


SQL_FMT_PYDS_PARQUET_PROJECTION = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       AVG(n_chars) AS avg_chars
FROM documents
GROUP BY lang
"""


#: the mixed-payload demo's delete predicate — constant so the oracle
#: is fixed SQL
PARQUET_MIXED_DELETE_MOD = 9


def q_fmt_pyds_parquet_mixed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ONE table, BOTH payload formats: v1 overwrites the even doc_ids
    as JSONL shards, v2 appends the odd half as PARQUET shards (the
    manifest — not the extension — is the authority; the reader
    dispatches per shard), v3 row-level-DELETEs ``doc_id % 9 == 0``
    (tombstones must apply to BOTH formats' scans), and OPTIMIZE with
    ``payload_format="parquet"`` then rewrites everything columnar —
    the jsonl→parquet MIGRATION path.  The post-compaction read must
    equal the parquet truth minus the deletes exactly; any format's
    scan leaking a tombstoned row, losing a row across the rewrite,
    or shearing a value hash-mismatches."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_px_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("payload_format", "parquet")
        .option("base_version", 1)
        .mode("append")
        .save()
    )
    v = delete_from_jsonl_dir(
        out,
        docs.filter(F.col("doc_id") % PARQUET_MIXED_DELETE_MOD == 0)
        .select("doc_id")
        .repartition(2),
        base_version=2,
    )
    if v != 3:
        raise AssertionError(f"delete committed v{v}, expected v3")
    v = compact_jsonl_dir(
        spark, out, N_SHARDS, payload_format="parquet"
    )
    if v != 4:
        raise AssertionError(f"compaction committed v{v}, expected v4")
    back = spark.read.format("jsonl_docs").option("path", out).load()
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_FMT_PYDS_PARQUET_MIXED = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE doc_id % {PARQUET_MIXED_DELETE_MOD} <> 0
GROUP BY lang
"""


def q_fmt_pyds_optimize_where(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION-SCOPED OPTIMIZE (Delta's ``OPTIMIZE ... WHERE part =
    value``): documents written partitioned by ``lang`` (one shard
    per lang per task — deliberately fragmented), then
    ``compact_partitions_jsonl_dir(..., {"lang": "en"})`` rewrites
    ONLY the 'en' shards; every other partition keeps its exact
    files.  Result = the per-lang aggregate over the whole table plus
    a second pass restricted to the compacted partition (scanning the
    rewritten shards through partition pruning) — the oracle
    re-derives both from the parquet truth, so a scoped rewrite that
    loses, duplicates, or leaks rows across the partition boundary
    hash-mismatches.  The only-the-named-partition-is-rewritten file
    contract is pinned in pytest (`test_partition_scoped_optimize`)."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_ow_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("partition_by", "lang")
        .mode("overwrite")
        .save()
    )
    v = compact_partitions_jsonl_dir(
        spark, out, {"lang": "en"}, target_shards=1
    )
    if v != 2:
        raise AssertionError(f"scoped optimize committed v{v}, want 2")

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    whole = spark.read.format("jsonl_docs").option("path", out).load()
    # fresh load for the filtered pass (pushdown-sharing rule)
    en = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .load()
        .filter(F.col("lang") == "en")
    )
    return agg(whole, "all").unionByName(agg(en, "en_partition"))


SQL_FMT_PYDS_OPTIMIZE_WHERE = """
SELECT 'all' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents GROUP BY lang
UNION ALL
SELECT 'en_partition' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents WHERE lang = 'en' GROUP BY lang
"""


#: the deletion-vector demo's delete predicate — constant so the
#: oracle is fixed SQL
DV_DELETE_MOD = 7


def q_fmt_pyds_deletion_vectors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POSITIONAL DELETION VECTORS (Delta's DVs, VERDICT r13 next #6):
    documents written half JSONL / half parquet, then
    ``delete_from_jsonl_dir(..., deletion_vectors=True)`` — ONE
    distributed position scan records per-shard row-index bitmaps in
    the manifest, and every later read applies a pure positional MASK
    (no key files loaded, no per-row membership hash — the plan is the
    ordinary pruned shard scan, no tombstone replay of any kind).
    Then ``purge_jsonl_dir`` (REORG ... APPLY (PURGE)) rewrites ONLY
    the DV-carrying shards, physically reclaiming the rows.  Result =
    union of the pre-delete time travel (full corpus), the post-DV
    read, and the post-purge read; the oracle re-derives all three
    from the parquet truth, so a mask that leaks, over-applies, or is
    lost by the purge rewrite hash-mismatches.  Stream retraction
    semantics, the fully-masked-shard skip, and the purge
    only-rewrites-dv-shards contract are pinned in
    ``tests/test_lake_dv.py``."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_dv_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("payload_format", "parquet")
        .option("base_version", 1)
        .mode("append")
        .save()
    )
    v = delete_from_jsonl_dir(
        out,
        docs.filter(F.col("doc_id") % DV_DELETE_MOD == 0)
        .select("doc_id")
        .repartition(2),
        base_version=2,
        spark=spark,
        deletion_vectors=True,
    )
    if v != 3:
        raise AssertionError(f"dv delete committed v{v}, expected v3")

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    pre = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("version", 2)
        .load()
    )
    # pinned to v3: the plan is lazy and the purge below commits v4
    # first — an unpinned read would resolve post-purge and never
    # exercise the DV mask path this query exists to check
    post_dv = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("version", 3)
        .load()
    )
    res = agg(pre, "pre").unionByName(agg(post_dv, "dv"))
    vp = purge_jsonl_dir(spark, out)
    if vp != 4:
        raise AssertionError(f"purge committed v{vp}, expected v4")
    post_purge = (
        spark.read.format("jsonl_docs").option("path", out).load()
    )
    return res.unionByName(agg(post_purge, "purged"))


SQL_FMT_PYDS_DELETION_VECTORS = f"""
SELECT 'pre' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents GROUP BY lang
UNION ALL
SELECT 'dv' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents WHERE doc_id % {DV_DELETE_MOD} <> 0 GROUP BY lang
UNION ALL
SELECT 'purged' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents WHERE doc_id % {DV_DELETE_MOD} <> 0 GROUP BY lang
"""


def q_fmt_pyds_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the custom source's versioned commit log: write
    commit v1 (even doc_ids, overwrite) → append commit v2 (odd
    doc_ids) → read BOTH ``option("version", 1)`` and latest.  The v1
    snapshot must equal the even half exactly — appends add shards but
    never mutate them, so an old manifest's shard list IS the table as
    of that commit (the minimal form of a lake table's snapshot read,
    on the engine's own connector).  The oracle re-derives both
    snapshots from the parquet truth, so a snapshot that leaks
    post-commit rows (or loses pre-commit ones) hash-mismatches.

    Scale: a snapshot read costs ONE extra metadata file read on the
    driver; executors fan out over the listed shards exactly like the
    latest-version read."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_tt_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    (
        even.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    (
        odd.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("append")
        .save()
    )

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    at_v1 = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("version", 1)
        .load()
    )
    latest = spark.read.format("jsonl_docs").option("path", out).load()
    return agg(at_v1, "v1").unionByName(agg(latest, "latest"))


SQL_FMT_PYDS_SNAPSHOT_READ = """
SELECT 'v1' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents WHERE doc_id % 2 = 0
GROUP BY lang
UNION ALL
SELECT 'latest' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang
"""


def q_fmt_pyds_time_travel_ts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIMESTAMP AS OF on the mini-lake: every commit stamps wall-clock
    ns into its manifest (``_ts``), and ``option("as_of_ts", t)``
    resolves the newest commit at or before ``t`` — Delta's
    timestamp-based time travel beside the version pin
    (``fmt_pyds_snapshot_read``).  The fixture writes v1 (even
    doc_ids), captures a timestamp, appends v2 (odd) — the as-of-mid
    read must equal exactly the even half and the as-of-now read the
    full corpus; a resolution that rounds the wrong way (returning v2
    for the mid timestamp, or v1 for now) hash-mismatches the oracle.

    Scale: resolution is one metadata read per retained snapshot on
    the driver; executors fan out over the resolved manifest exactly
    like any pinned read."""
    import hashlib
    import time as _time

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_ts_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    _time.sleep(0.005)  # commit stamps are wall-clock ns: separate them
    t_mid = _time.time_ns()
    _time.sleep(0.005)
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("base_version", 1)
        .mode("append")
        .save()
    )

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    at_mid = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("as_of_ts", t_mid)
        .load()
    )
    at_now = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("as_of_ts", _time.time_ns())
        .load()
    )
    return agg(at_mid, "asof_mid").unionByName(agg(at_now, "asof_now"))


SQL_FMT_PYDS_TIME_TRAVEL_TS = """
SELECT 'asof_mid' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents WHERE doc_id % 2 = 0
GROUP BY lang
UNION ALL
SELECT 'asof_now' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang
"""


def q_fmt_pyds_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC FROM SNAPSHOTS: the row-level delta between two manifest
    versions of the same table — read@v1 FULL OUTER JOIN read@v2 on the
    key, each row labeled added/removed/unchanged, rolled up per
    (status, lang).  This is how downstream consumers without a CDC
    feed derive one from a snapshotted table (the lake pattern); on
    this fixture v2 appends the odd half, so the oracle re-derives the
    exact delta from the parquet truth.

    Scale shape: both snapshot reads fan out over their manifest's
    shards; the diff is one equi-join on the key (sort-merge at 100 TB,
    broadcast at fixture scale) and one tiny-key rollup."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_sd_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("append").save()
    )
    v1 = (
        spark.read.format("jsonl_docs")
        .option("path", out).option("version", 1).load()
        .select("doc_id", F.col("lang").alias("lang_a"))
    )
    v2 = (
        spark.read.format("jsonl_docs")
        .option("path", out).option("version", 2).load()
        .select("doc_id", F.col("lang").alias("lang_b"))
    )
    status = (
        F.when(F.col("lang_a").isNull(), F.lit("added"))
        .when(F.col("lang_b").isNull(), F.lit("removed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        v1.join(v2, "doc_id", "full_outer")
        .select(
            status.alias("status"),
            F.coalesce(F.col("lang_b"), F.col("lang_a")).alias("lang"),
        )
        .groupBy("status", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_FMT_PYDS_SNAPSHOT_DIFF = """
SELECT CASE WHEN doc_id % 2 = 1 THEN 'added' ELSE 'unchanged' END AS status,
       lang,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


def q_fmt_pyds_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full lake maintenance cycle on the engine's own connector,
    value-checked end to end: write (v1, N_SHARDS files) → append (v2)
    → COMPACT to 2 files (v3, a rewrite commit — old snapshots still
    readable) → aggregate the compacted table.  Compaction must be
    content-neutral: the oracle is the plain full-corpus aggregate, so
    a rewrite that drops, duplicates, or mangles one row
    hash-mismatches.  Shard-count reduction and post-vacuum snapshot
    failure are pinned by pytest (vacuum is destructive, so the
    registered query stops at the compaction commit)."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_cp_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    (
        even.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    (
        odd.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("append").save()
    )
    compact_jsonl_dir(spark, out, target_shards=2)
    back = spark.read.format("jsonl_docs").option("path", out).load()
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_FMT_PYDS_COMPACTION = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang
"""


#: doc_id cut for the pruning demo — constant across sfs so the oracle
#: is one fixed predicate
PRUNE_THRESHOLD = 250


def q_fmt_pyds_stats_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA SKIPPING on the custom source: documents written
    range-clustered on ``doc_id`` (so each shard owns a contiguous id
    range and the writer's ``_STATS`` zonemap is selective), then read
    back with ``doc_id >= {PRUNE_THRESHOLD}`` — Catalyst pushes the
    comparison into the Python reader's ``pushFilters``, which folds
    it into an interval and SKIPS whole shards whose [min, max] can't
    intersect (parquet row-group stats / Iceberg manifest pruning, on
    the engine's own connector).  Every filter is also re-applied by
    Spark, so pruning is purely an I/O saving; correctness comes from
    the oracle on the parquet truth, and the shard-skip itself is
    pinned in pytest by driving the reader directly.

    The write clusters by RANGE deliberately: the hash-sharded layout
    the other pyds queries use spreads every id range over all shards,
    and a zonemap over hash shards prunes nothing — the same layout
    choice zordering makes for parquet."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_zm_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.repartitionByRange(N_SHARDS * 2, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .load()
        .filter(F.col("doc_id") >= PRUNE_THRESHOLD)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_FMT_PYDS_STATS_PRUNING = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE doc_id >= {PRUNE_THRESHOLD}
GROUP BY lang
"""


#: conjunction cut for the multi-column pruning demo — n_chars spans
#: ~[44, 577] at every sf, so 300 splits the corpus roughly in half
MULTICOL_THRESHOLD = 300


def q_fmt_pyds_multicol_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-COLUMN DATA SKIPPING: documents written range-clustered
    on ``(lang, n_chars)`` — so each shard owns one language's
    contiguous length range while ``doc_id`` stays SCATTERED across
    every shard — then read back with the conjunction
    ``lang = 'en' AND n_chars >= {MULTICOL_THRESHOLD}``.  The writer
    records per-column [min, max] for every pushable column in
    ``_STATS["_cols"]`` (the parquet-footer / Iceberg per-column
    stats position), and the reader's ``pushFilters`` folds BOTH
    predicates into per-column envelopes, skipping shards the
    doc_id-only zonemap structurally cannot (their doc_id ranges all
    overlap the filter).  Every filter is re-applied by Spark, so
    pruning is purely an I/O saving; correctness comes from the
    oracle on the parquet truth, and the shard skip itself is pinned
    in pytest by driving the reader directly
    (``test_multicol_zonemap_pruning``)."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_mc_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.repartitionByRange(N_SHARDS * 2, "lang", "n_chars")
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .load()
        .filter(
            (F.col("lang") == "en")
            & (F.col("n_chars") >= MULTICOL_THRESHOLD)
        )
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_FMT_PYDS_MULTICOL_PRUNING = f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE lang = 'en' AND n_chars >= {MULTICOL_THRESHOLD}
GROUP BY source
"""


def q_fmt_pyds_zorder_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE ZORDER, value-checked content-neutral: documents
    written hash-scattered (every shard spans the full (doc_id,
    n_chars) space — no zonemap selectivity on either dimension),
    then rewritten with ``zorder_by=["doc_id", "n_chars"]`` — equi-
    depth bucket ids from one approxQuantile pass, Morton-interleaved,
    range-repartitioned — so per-shard [min, max] tightens on BOTH
    dimensions at once and the ``_cols``/doc_id zonemaps prune
    predicates on EITHER column (Delta's OPTIMIZE ZORDER job on the
    engine's own connector; hierarchical ``cluster_by`` serves only
    the leading column — the contrast is pinned in pytest
    ``test_zorder_compaction_prunes_both_dimensions``).  The read
    back filters on n_chars ALONE — the dimension a doc_id layout
    never serves — and the oracle re-derives the aggregate from the
    parquet truth, so a rewrite that drops, duplicates, or mangles
    one row hash-mismatches."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_zo_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.repartition(N_SHARDS, "text")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    compact_jsonl_dir(
        spark, out, target_shards=N_SHARDS * 2,
        zorder_by=["doc_id", "n_chars"],
    )
    back = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .load()
        .filter(F.col("n_chars") >= MULTICOL_THRESHOLD)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_FMT_PYDS_ZORDER_COMPACTION = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE n_chars >= {MULTICOL_THRESHOLD}
GROUP BY lang
"""


#: bloom point-lookup keys — present at every sf (doc_id 0..499 is the
#: smallest fixture); constant so the oracle is fixed SQL
BLOOM_LOOKUP_IDS = (5, 105, 205, 305, 405)


def q_fmt_pyds_bloom_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BLOOM-FILTER DATA SKIPPING (Delta's bloom filter index):
    documents written HASH-scattered on ``text`` — every shard spans
    the full doc_id range, so the min/max envelope prunes nothing —
    with ``option("bloom_filter_columns", "doc_id")`` building one
    bitset per shard, then read back with a point lookup
    ``doc_id IN {BLOOM_LOOKUP_IDS}``: the reader probes the pushed
    value set against each shard's bloom and skips shards that
    PROVABLY lack every value (no false negatives, so never a wrong
    skip; Spark re-applies the filter on survivors).  The oracle
    re-derives the lookup from the parquet truth; the shard skip
    itself is pinned in pytest (``test_bloom_filter_pruning``)."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_bl_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.repartition(N_SHARDS * 2, "text")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("bloom_filter_columns", "doc_id")
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .load()
        .filter(F.col("doc_id").isin(*BLOOM_LOOKUP_IDS))
    )
    return back.select(
        "doc_id", "lang", "source", "n_chars"
    )


SQL_FMT_PYDS_BLOOM_PRUNING = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id IN {BLOOM_LOOKUP_IDS}
"""


#: the nullcount demo predicate — every doc_id % 7 == 0 row gets a
#: non-null subtitle; constant so the oracle is fixed SQL
NULLCOUNT_MOD = 7


def q_fmt_pyds_nullcount_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NULL-COUNT DATA SKIPPING: documents extended with a sparse
    ``subtitle`` column (non-null only when ``doc_id % {NULLCOUNT_MOD}
    == 0``), written range-clustered on doc_id so some shards are
    all-null in the column, then read back with ``subtitle IS NOT
    NULL`` — the writer's per-shard null counts
    (``_STATS["_nulls"]``, parquet's null_count position) let the
    pushed IsNotNull skip all-null shards (and Spark pushes an
    implicit IsNotNull with every comparison, so the axis rides any
    filtered read).  Every filter is re-applied by Spark; correctness
    comes from the oracle on the parquet truth, the shard skip is
    pinned in pytest (``test_nullcount_zonemap_pruning``)."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_nc_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        F.when(
            F.col("doc_id") % NULLCOUNT_MOD == 0, F.col("text")
        ).alias("subtitle"),
    )
    (
        docs.repartitionByRange(N_SHARDS * 2, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .load()
        .filter(F.col("subtitle").isNotNull())
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_FMT_PYDS_NULLCOUNT_PRUNING = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE doc_id % {NULLCOUNT_MOD} = 0
GROUP BY lang
"""


#: cdf-over-clone demo predicates — constant so the oracle is fixed SQL
CDFC_DEL_MOD, CDFC_MERGE_MOD = 3, 5


def q_fmt_pyds_cdf_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED ACROSS A SHALLOW-CLONE COMMIT, value-checked
    end to end: build a source with history (full corpus v1 → DELETE
    %10=={CDFC_DEL_MOD} v2 → MERGE %10=={CDFC_MERGE_MOD} with
    n_chars+1000 v3), shallow-clone it, then read the batch
    ``table_changes`` of the CLONE from 0.  The clone's v1 grafts the
    source's tombstone ledger with fractional stamps; the feed must
    apply that ledger and emit exactly the VISIBLE snapshot as
    ``insert`` rows — tombstoned source rows leaking in as phantom
    inserts (the pre-r13 over-delivery) or merge pre-images surviving
    hash-mismatch against the oracle's re-derived state.  The
    ``_change_type`` literal rides in the result so a misclassified
    row also mismatches."""
    import hashlib
    import shutil as _shutil

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    src = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_ccsrc_{tag}_{os.getpid()}"
    )
    dst = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_ccdst_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    # re-runnable: the clone target refuses an existing table by design
    _shutil.rmtree(dst, ignore_errors=True)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", src).mode("overwrite").save()
    )
    delete_from_jsonl_dir(
        src,
        docs.filter(F.col("doc_id") % 10 == CDFC_DEL_MOD)
        .select("doc_id")
        .repartition(2),
        base_version=1,
    )
    upserts = docs.filter(
        F.col("doc_id") % 10 == CDFC_MERGE_MOD
    ).select(
        "doc_id",
        "text",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
    )
    merge_into_jsonl_dir(spark, upserts.repartition(2, "doc_id"), src)
    clone_jsonl_dir(src, dst)
    feed = table_changes_jsonl_dir(spark, dst, 0)
    return feed.groupBy("lang", "_change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_FMT_PYDS_CDF_CLONE = f"""
SELECT lang,
       'insert' AS _change_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN doc_id % 10 = {CDFC_MERGE_MOD}
                     THEN n_chars + 1000 ELSE n_chars END) AS BIGINT)
           AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE doc_id % 10 <> {CDFC_DEL_MOD}
GROUP BY lang
"""


def q_fmt_pyds_compaction_cluster(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE-WITH-CLUSTERING, value-checked content-neutral: the
    same write→append→compact cycle as ``fmt_pyds_compaction`` but the
    rewrite range-partitions on ``doc_id`` (``cluster_by``), restoring
    a selective ``_STATS`` zonemap after hash-scattered appends
    destroyed it — Delta's OPTIMIZE ZORDER job on the engine's own
    connector.  The oracle is the plain full-corpus aggregate, so a
    clustering rewrite that drops, duplicates, or mangles one row
    hash-mismatches; the pruning gain itself is pinned in pytest
    (``test_clustered_compaction_restores_zonemap_pruning``)."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_cz_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("base_version", 1)
        .mode("append")
        .save()
    )
    compact_jsonl_dir(spark, out, target_shards=2, cluster_by="doc_id")
    back = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .load()
        # the interval read that the restored zonemap serves shard-
        # skippingly (pushdown is an I/O saving — results identical)
        .filter(F.col("doc_id") >= PRUNE_THRESHOLD)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_FMT_PYDS_COMPACTION_CLUSTER = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE doc_id >= {PRUNE_THRESHOLD}
GROUP BY lang
"""

def q_fmt_pyds_commit_conflict(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMISTIC-CONCURRENCY WITNESS on the mini-lake: two appenders
    both plan against table version 1 (``option("base_version", 1)``)
    and race to commit version 2.  Exactly one wins the atomic
    create-if-absent claim on ``_MANIFEST.v2``; the loser raises
    ``ManifestCommitConflict`` and its shards are rolled back — never a
    silent shard-list merge (the first failure mode a real
    parallel-ingest user hits on a table without commit semantics).

    The loser here appends POISON rows (shifted doc_ids, lang
    ``'xx'``) — if any of them leaked into the committed table, the
    read@latest aggregate below would grow an extra lang group and
    hash-mismatch the oracle, which is built from the winner's content
    only (base even half + winner's odd half = the full documents
    table).

    Scale: conflict detection costs ONE link(2) syscall at commit time
    regardless of table size; losers retry against the new version with
    only their own shards re-staged (shards are task-side, the claim is
    driver-side)."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_cc_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    (
        even.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    # writer A: planned against v1, commits v2 — the winner
    (
        odd.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("base_version", 1)
        .mode("append")
        .save()
    )
    # writer B: ALSO planned against v1 (stale — A already took v2).
    # Its claim of _MANIFEST.v2 must lose and surface the conflict
    # loudly through the job; the poison rows must be rolled back.
    poison = odd.limit(100).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        "text",
        F.lit("xx").alias("lang"),
        "source",
        "n_chars",
    )
    conflicted = False
    try:
        (
            poison.repartition(1)
            .write.format("jsonl_docs")
            .option("path", out)
            .option("base_version", 1)
            .mode("append")
            .save()
        )
    except Exception as exc:  # Py4J wraps ManifestCommitConflict
        if not _is_commit_conflict(exc):
            raise
        conflicted = True
    if not conflicted:
        raise AssertionError(
            "stale base_version commit succeeded — optimistic "
            "concurrency is broken"
        )
    back = spark.read.format("jsonl_docs").option("path", out).load()
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_FMT_PYDS_COMMIT_CONFLICT = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang
"""


#: the delete/merge demo predicates — constant so the oracle is fixed SQL
DELETE_MOD, MERGE_MOD = 3, 7


def q_fmt_pyds_delete_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL DELETE + MERGE, value-checked end to end: write v1
    (even doc_ids) → append v2 (odd) → DELETE every ``doc_id % 10 == 3``
    (v3, pure-metadata tombstone commit) → MERGE an upsert batch that
    rewrites every ``doc_id % 10 == 7`` row with ``n_chars + 1000``
    (v4: tombstone-the-old + insert-the-new in one claim).  The result
    unions read@v2 (``pre`` — time travel BEFORE the delete must still
    equal the full corpus) with read@latest (``post`` — %3 rows gone,
    %7 rows replaced, everything else untouched).  The oracle
    re-derives both states from the parquet truth, so a tombstone that
    leaks (deleted row surviving), over-applies (killing the merged
    replacement), or misses a snapshot boundary hash-mismatches.

    OCC interplay (delete racing an append), physical reclaim through
    compaction + vacuum, and the stream ``ignore_deletes`` contract are
    pinned in ``tests/test_formats.py``."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_dm_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("base_version", 1)
        .mode("append")
        .save()
    )
    # v3: DELETE — the keys go straight from a DataFrame predicate into
    # distributed _delete-* key shards; the driver never holds an id
    v = delete_from_jsonl_dir(
        out,
        docs.filter(F.col("doc_id") % 10 == DELETE_MOD)
        .select("doc_id")
        .repartition(2),
        base_version=2,
    )
    if v != 3:
        raise AssertionError(f"delete committed v{v}, expected v3")
    # v4: MERGE — replace the %7 rows with bumped n_chars
    upserts = docs.filter(F.col("doc_id") % 10 == MERGE_MOD).select(
        "doc_id",
        "text",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
    )
    v = merge_into_jsonl_dir(spark, upserts.repartition(2, "doc_id"), out)
    if v != 4:
        raise AssertionError(f"merge committed v{v}, expected v4")

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    pre = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("version", 2)
        .load()
    )
    post = spark.read.format("jsonl_docs").option("path", out).load()
    return agg(pre, "pre").unionByName(agg(post, "post"))


SQL_FMT_PYDS_DELETE_MERGE = f"""
SELECT 'pre' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang
UNION ALL
SELECT 'post' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 10 = {MERGE_MOD}
                     THEN n_chars + 1000 ELSE n_chars END) AS BIGINT)
         AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE doc_id % 10 <> {DELETE_MOD}
GROUP BY lang
"""


def q_fmt_pyds_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCHEMA EVOLUTION AS A LAKE COMMIT, value-checked across the
    boundary: write v1 (even doc_ids, the 5-column documents shape) →
    ``evolve_jsonl_schema`` adds ``priority bigint`` (v2, pure-metadata
    commit) → append odd doc_ids WITH priority = doc_id % 5 (v3).  The
    result unions read@v1 (time travel must serve the OLD 5-column
    shape — the column count is part of the checked output) with
    read@latest (6 columns; pre-evolution rows null-extend, so priority
    is NULL on evens and populated on odds).  The oracle re-derives
    both states from the parquet truth, so an evolution that leaks the
    new column into old snapshots, loses it on new rows, or
    null-extends the wrong side hash-mismatches.  The version-stream
    fail-loudly boundary and compaction carrying the evolved schema are
    pinned in ``tests/test_formats.py``."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_se_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    v = evolve_jsonl_schema(out, DOCS_DDL + ", priority bigint")
    if v != 2:
        raise AssertionError(f"evolve committed v{v}, expected v2")
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .withColumn("priority", F.col("doc_id") % 5)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("base_version", 2)
        .mode("append")
        .save()
    )
    old = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("version", 1)
        .load()
    )
    new = spark.read.format("jsonl_docs").option("path", out).load()
    if len(old.columns) != 5 or len(new.columns) != 6:
        raise AssertionError(
            f"schema resolution wrong: v1 has {len(old.columns)} cols, "
            f"latest has {len(new.columns)}"
        )
    pre = old.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    ).select(
        F.lit("v1").alias("snapshot"),
        "*",
        F.lit(5).cast("int").alias("n_cols"),
        F.lit(0).cast("bigint").alias("n_prio"),
        F.lit(0).cast("bigint").alias("sum_prio"),
    )
    post = new.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.count("priority").alias("n_prio"),
        F.coalesce(F.sum("priority"), F.lit(0)).alias("sum_prio"),
    ).select(
        F.lit("latest").alias("snapshot"),
        "lang",
        "n_docs",
        "sum_chars",
        F.lit(6).cast("int").alias("n_cols"),
        "n_prio",
        "sum_prio",
    )
    return pre.unionByName(post)


SQL_FMT_PYDS_SCHEMA_EVOLUTION = """
SELECT 'v1' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(5 AS INT) AS n_cols,
       CAST(0 AS BIGINT) AS n_prio,
       CAST(0 AS BIGINT) AS sum_prio
FROM documents WHERE doc_id % 2 = 0
GROUP BY lang
UNION ALL
SELECT 'latest' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(6 AS INT) AS n_cols,
       CAST(COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT)
         AS n_prio,
       CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 1
                               THEN doc_id % 5 END), 0) AS BIGINT)
         AS sum_prio
FROM documents
GROUP BY lang
"""


def q_fmt_pyds_merge_clauses(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONDITIONAL MERGE CLAUSES, all three forms in ONE commit,
    value-checked pre+post: write v1 (even doc_ids), then MERGE the
    ``doc_id % 5 == 0`` slice of the corpus with::

        WHEN MATCHED AND t.n_chars % 2 = 0
            THEN UPDATE SET n_chars = s.n_chars + 500
        WHEN MATCHED AND t.n_chars % 2 = 1 AND t.n_chars % 3 = 0
            THEN DELETE
        WHEN NOT MATCHED AND s.n_chars % 3 <> 0 THEN INSERT

    Matched keys are exactly ``doc_id % 10 == 0`` (the even half of the
    source), so the post state must show: those rows updated or
    deleted per the predicates — with the rows NEITHER clause takes
    left untouched (the upsert-vs-MERGE difference) — non-source
    target rows untouched, and exactly the insert-predicate slice of
    the unmatched source (``% 10 == 5``) added.  The oracle re-derives
    both snapshots from the parquet truth, so a clause that
    over-applies (upserting an untouched matched row), under-applies,
    or leaks across the matched/not-matched split hash-mismatches.
    The OCC contract (a clause merge racing an append fails loudly —
    its split is stale) is pinned in ``tests/test_formats.py``."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_mc_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    src = docs.filter(F.col("doc_id") % 5 == 0).repartition(2, "doc_id")
    v = merge_into_jsonl_dir(
        spark,
        src,
        out,
        when_matched_update="t.n_chars % 2 = 0",
        when_matched_delete="t.n_chars % 2 = 1 AND t.n_chars % 3 = 0",
        when_not_matched_insert="s.n_chars % 3 != 0",
        update_set={"n_chars": "s.n_chars + 500"},
    )
    if v != 2:
        raise AssertionError(f"clause merge committed v{v}, expected v2")

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    pre = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("version", 1)
        .load()
    )
    post = spark.read.format("jsonl_docs").option("path", out).load()
    return agg(pre, "pre").unionByName(agg(post, "post"))


SQL_FMT_PYDS_MERGE_CLAUSES = """
SELECT 'pre' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents WHERE doc_id % 2 = 0
GROUP BY lang
UNION ALL
SELECT 'post' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM (
  -- target rows the merge leaves alone: non-source keys, plus matched
  -- rows neither clause takes (n_chars odd and not divisible by 3)
  SELECT doc_id, lang, n_chars FROM documents
  WHERE doc_id % 2 = 0
    AND (doc_id % 10 <> 0
         OR (n_chars % 2 = 1 AND n_chars % 3 <> 0))
  UNION ALL
  -- WHEN MATCHED AND t.n_chars % 2 = 0 THEN UPDATE
  SELECT doc_id, lang, n_chars + 500 FROM documents
  WHERE doc_id % 10 = 0 AND n_chars % 2 = 0
  UNION ALL
  -- WHEN NOT MATCHED AND s.n_chars % 3 <> 0 THEN INSERT
  SELECT doc_id, lang, n_chars FROM documents
  WHERE doc_id % 10 = 5 AND n_chars % 3 <> 0
)
GROUP BY lang
"""


def q_fmt_pyds_commit_retry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONFLICT → REFRESH → RETRY, end to end: writer A and writer B
    both plan against version 1; A commits v2 first; B's first claim
    LOSES (witnessed — the query asserts the stale attempt raised) and
    :func:`append_with_retry` re-reads the latest version and lands B's
    rows as v3.  The final table must hold base + A + B exactly once
    each — a retry that double-committed B's shards (or lost them)
    hash-mismatches the oracle over the full documents table.

    Together with ``fmt_pyds_commit_conflict`` (loser fails loudly,
    no merge) this pins the complete optimistic-concurrency contract a
    parallel-ingest user relies on."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_cr_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    third = F.col("doc_id") % 3
    (
        docs.filter(third == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    # writer A: planned against v1, wins v2
    (
        docs.filter(third == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("base_version", 1)
        .mode("append")
        .save()
    )
    # writer B: stale claim of v2 must lose...
    b_rows = docs.filter(third == 2).repartition(N_SHARDS, "doc_id")
    stale_conflicted = False
    try:
        (
            b_rows.write.format("jsonl_docs")
            .option("path", out)
            .option("base_version", 1)
            .mode("append")
            .save()
        )
    except Exception as exc:
        if not _is_commit_conflict(exc):
            raise
        stale_conflicted = True
    if not stale_conflicted:
        raise AssertionError("stale claim won — OCC broken")
    # ...then the retry loop refreshes the base and lands v3
    committed = append_with_retry(b_rows, out)
    if committed != 3:
        raise AssertionError(f"retry landed v{committed}, expected v3")
    back = spark.read.format("jsonl_docs").option("path", out).load()
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def q_fmt_pyds_partitioned_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """METADATA-TRACKED PARTITIONED TABLE, value-checked end to end:
    write the documents corpus partitioned by ``lang``
    (``option("partition_by", "lang")`` — each task writes one shard
    per lang value, the commit records the value per shard in
    ``_STATS["_parts"]``) across two commits (evens v1, odds v2), then
    read back twice: an equality filter (one lang) and an IN filter
    (two langs), both of which push down and prune whole shards by
    partition value before any row is read.  At 100 TB partition
    pruning is the FIRST lever — a lang='en' filter over a corpus
    partitioned by lang should list en's shards, not scan the corpus.
    The oracle re-derives both aggregates from the parquet truth, so a
    pruning that drops a matching shard (wrong results) or the writer
    splitting rows into the wrong partition hash-mismatches; the
    pruned-shard COUNT and the never-prune-blind rule (compaction
    drops parts entries) are pytest-pinned."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_part_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition("lang")
        .write.format("jsonl_docs")
        .option("path", out).option("partition_by", "lang")
        .mode("overwrite").save()
    )
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition("lang")
        .write.format("jsonl_docs")
        .option("path", out).option("partition_by", "lang")
        .option("base_version", 1).mode("append").save()
    )
    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).select(F.lit(snap).alias("probe"), "*")

    def fresh() -> DataFrame:
        # ONE load() PER FILTERED CONSUMER — the pushdown-sharing rule
        # (see JsonlDocsReader docstring): branching a single loaded
        # DataFrame under different filters executes both branches
        # against one reader's pruned partition list
        return spark.read.format("jsonl_docs").option("path", out).load()

    one = agg(fresh().filter(F.col("lang") == "en"), "eq")
    two = agg(fresh().filter(F.col("lang").isin("de", "fr")), "in")
    return one.unionByName(two)


SQL_FMT_PYDS_PARTITIONED = """
SELECT 'eq' AS probe, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents WHERE lang = 'en'
GROUP BY lang
UNION ALL
SELECT 'in', lang, COUNT(*), CAST(SUM(n_chars) AS BIGINT),
       MIN(doc_id), MAX(doc_id)
FROM documents WHERE lang IN ('de', 'fr')
GROUP BY lang
"""


def q_fmt_pyds_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK CONSTRAINTS as lake commits, value-checked on the passing
    path: write evens (v1) → ADD ``n_chars >= 0`` (v2, pure-metadata
    commit through the OCC gate) → ADD ``lang IS NOT NULL`` (v3) →
    append odds (v4 — every row validated on the EXECUTOR before
    staging, one violation fails the job before any claim) → aggregate
    the constrained table, which must equal the full parquet truth.
    The enforcement failure path (violating batch commits NOTHING,
    merge staging enforced, ANSI NULL semantics, DROP) is pinned in
    tests/test_formats.py — a failure can't be oracle-checked."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_ck_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    add_constraint_jsonl_dir(out, "chars_nonneg", "n_chars >= 0")
    add_constraint_jsonl_dir(out, "lang_set", "lang IS NOT NULL")
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).option("base_version", 3)
        .mode("append").save()
    )
    back = spark.read.format("jsonl_docs").option("path", out).load()
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_FMT_PYDS_CONSTRAINTS = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang
"""


#: clone fixture predicates over the evens table
CLN_DEL_MOD, CLN_MERGE_MOD, CLN_BRANCH_DEL_MOD = 8, 4, 0


def q_fmt_pyds_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE, value-checked end to end: build a source with
    history (evens v1 → DELETE %10==8 v2 → MERGE %10==4 with
    n_chars+1000 v3), clone it ZERO-COPY (the clone's v1 manifest
    references the source's shards via ``_base_dir``; the tombstone
    ledger grafts with stamps normalized into (0,1) so copied entries
    keep their exact scope), then DIVERGE: delete %10==0 in the CLONE
    only.  The result unions the clone's live aggregate (source
    history applied + branch delete) with the source's (untouched by
    the branch).  The oracle re-derives both from the parquet truth,
    so a grafted tombstone over- or under-applying, a branch write
    leaking into the source, or a clone that re-copied data (pinned
    zero-data-files in pytest) all hash-mismatch."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    src = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_clsrc_{tag}_{os.getpid()}"
    )
    dst = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_cldst_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    # RE-RUNNABLE fixture: the clone target refuses an existing table
    # by design, so a bench rerun (the suspicious-rerun guard measures
    # the same query twice in one process) must start from a clean dst
    # — the overwrite save only clears src
    import shutil as _shutil

    _shutil.rmtree(dst, ignore_errors=True)
    docs = load_table(spark, "documents", sf_dir)
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    (
        evens.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", src).mode("overwrite").save()
    )
    delete_from_jsonl_dir(
        src,
        evens.filter(F.col("doc_id") % 10 == CLN_DEL_MOD)
        .select("doc_id")
        .repartition(2),
        base_version=1,
    )
    upserts = evens.filter(
        F.col("doc_id") % 10 == CLN_MERGE_MOD
    ).select(
        "doc_id",
        "text",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
    )
    merge_into_jsonl_dir(spark, upserts.repartition(2, "doc_id"), src)
    clone_jsonl_dir(src, dst)
    delete_from_jsonl_dir(
        dst,
        evens.filter(F.col("doc_id") % 10 == CLN_BRANCH_DEL_MOD)
        .select("doc_id")
        .repartition(2),
    )

    def agg(path: str, half: str) -> DataFrame:
        return (
            spark.read.format("jsonl_docs")
            .option("path", path)
            .load()
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .select(F.lit(half).alias("half"), "*")
        )

    return agg(dst, "branch").unionByName(agg(src, "source"))


SQL_FMT_PYDS_CLONE = f"""
SELECT 'branch' AS half, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 10 = {CLN_MERGE_MOD}
                     THEN n_chars + 1000 ELSE n_chars END) AS BIGINT)
         AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents
WHERE doc_id % 2 = 0 AND doc_id % 10 <> {CLN_DEL_MOD}
      AND doc_id % 10 <> {CLN_BRANCH_DEL_MOD}
GROUP BY lang
UNION ALL
SELECT 'source', lang, COUNT(*),
       CAST(SUM(CASE WHEN doc_id % 10 = {CLN_MERGE_MOD}
                     THEN n_chars + 1000 ELSE n_chars END) AS BIGINT),
       MIN(doc_id), MAX(doc_id)
FROM documents
WHERE doc_id % 2 = 0 AND doc_id % 10 <> {CLN_DEL_MOD}
GROUP BY lang
"""


#: restore fixture predicates over the evens table
RST_DEL_MOD, RST_MERGE_MOD = 2, 6


def q_fmt_pyds_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE, value-checked end to end: build v1 (evens) → DELETE
    %10==2 (v2) → MERGE %10==6 with n_chars+1000 (v3) → RESTORE TO
    VERSION 1 (v4, a pure-metadata snapshot copy through the OCC
    gate).  The result unions read@latest (must equal the ORIGINAL
    evens exactly — deletes undone, merged values reverted) with
    read@v3 (history preserved: the pre-restore state stays
    time-travelable).  The oracle re-derives both from the parquet
    truth, so a restore that leaks the ledger, loses a shard, or
    clobbers history hash-mismatches.  Vacuumed-target and
    missing-file refusals plus the stream restart contract are
    pytest-pinned."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_rst_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    (
        evens.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    delete_from_jsonl_dir(
        out,
        evens.filter(F.col("doc_id") % 10 == RST_DEL_MOD)
        .select("doc_id")
        .repartition(2),
        base_version=1,
    )
    upserts = evens.filter(
        F.col("doc_id") % 10 == RST_MERGE_MOD
    ).select(
        "doc_id",
        "text",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
    )
    merge_into_jsonl_dir(spark, upserts.repartition(2, "doc_id"), out)
    v = restore_jsonl_dir(out, 1)
    if v != 4:
        raise AssertionError(f"restore committed v{v}, expected v4")

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    restored = (
        spark.read.format("jsonl_docs").option("path", out).load()
    )
    pre = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("version", 3)
        .load()
    )
    return agg(restored, "restored").unionByName(agg(pre, "pre_restore"))


SQL_FMT_PYDS_RESTORE = f"""
SELECT 'restored' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents WHERE doc_id % 2 = 0
GROUP BY lang
UNION ALL
SELECT 'pre_restore', lang, COUNT(*),
       CAST(SUM(CASE WHEN doc_id % 10 = {RST_MERGE_MOD}
                     THEN n_chars + 1000 ELSE n_chars END) AS BIGINT),
       MIN(doc_id), MAX(doc_id)
FROM documents
WHERE doc_id % 2 = 0 AND doc_id % 10 <> {RST_DEL_MOD}
GROUP BY lang
"""


#: history fixture predicates over the evens table
HIST_DEL_MOD, HIST_MERGE_MOD = 4, 8


def q_fmt_pyds_describe_history(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DESCRIBE HISTORY, value-checked end to end: build a 4-commit
    history — overwrite evens (v1, N_SHARDS files) → DELETE %10==4
    with ``cdf=True`` (v2, metadata commit + CDC pre-images) →
    fast-MERGE %10==8 upserts in 2 staged shards (v3) → COMPACT to 2
    files (v4, ledger cleared) — and return the history table built
    from MANIFEST METADATA ONLY (op name, physical file/row counts,
    ledger depth, CDC presence).  The oracle re-derives every count
    from the parquet truth: a commit site that forgets its op stamp, a
    merge that stages the wrong shard count, physical rows that drift
    from written rows, a ledger that doesn't clear on compaction, or
    CDC flagged on the wrong commit all hash-mismatch."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_hist_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    (
        evens.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    delete_from_jsonl_dir(
        out,
        evens.filter(F.col("doc_id") % 10 == HIST_DEL_MOD)
        .select("doc_id")
        .repartition(2),
        base_version=1,
        spark=spark,
        cdf=True,
    )
    upserts = evens.filter(
        F.col("doc_id") % 10 == HIST_MERGE_MOD
    ).select(
        "doc_id",
        "text",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
    )
    merge_into_jsonl_dir(spark, upserts.repartition(2, "doc_id"), out)
    compact_jsonl_dir(spark, out, target_shards=2)
    return describe_history_jsonl_dir(spark, out)


SQL_FMT_PYDS_DESCRIBE_HISTORY = f"""
SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS op,
       CAST({N_SHARDS} AS BIGINT) AS n_files,
       (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0) AS n_rows,
       CAST(0 AS BIGINT) AS ledger_entries, FALSE AS has_cdc
UNION ALL
SELECT 2, 'delete', {N_SHARDS},
       (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0),
       1, TRUE
UNION ALL
SELECT 3, 'merge', {N_SHARDS} + 2,
       (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0)
       + (SELECT COUNT(*) FROM documents
          WHERE doc_id % 10 = {HIST_MERGE_MOD}),
       2, FALSE
UNION ALL
SELECT 4, 'compact', 2,
       (SELECT COUNT(*) FROM documents
        WHERE doc_id % 2 = 0 AND doc_id % 10 <> {HIST_DEL_MOD}),
       0, FALSE
"""


#: checkpoint-demo predicates (constants so the oracles are fixed SQL)
CK_DEL1_MOD, CK_DEL2_MOD = 10, 9  # v2: evens %10==2; v4: all %9==0
CK_DEL1_VAL = 2


def q_fmt_pyds_metadata_checkpoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The r15 METADATA-PLANE CHECKPOINT end to end (Delta's
    ``_last_checkpoint`` semantics on this lake's log — VERDICT r14
    next #1): overwrite evens (v1) → DELETE evens %10==2 (v2) →
    ``checkpoint_jsonl_dir`` compacts manifest + per-commit stats
    deltas into ONE columnar parquet → append odds (v3) → DELETE
    %9==0 (v4) → checkpoint again (supersede).  Result = union of
    (a) the latest read (served from checkpoint + tail), (b) time
    travel to v1 (below BOTH checkpoints), and (c) the batch CDF over
    the post-first-checkpoint tail (insert + delete derivation across
    the checkpoint boundary), each value-checked against the parquet
    truth — a checkpoint that loses shards, stats, tombstones, or
    history breaks one of the three legs.  The
    O(checkpoint + tail) file-open contract and vacuum interaction
    are pinned in ``tests/test_lake_checkpoint.py``."""
    import hashlib

    from pu4spark_spark.sources.lake.maintenance import (
        checkpoint_jsonl_dir,
    )

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_ck_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    (
        evens.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    delete_from_jsonl_dir(
        out,
        evens.filter(F.col("doc_id") % CK_DEL1_MOD == CK_DEL1_VAL)
        .select("doc_id")
        .repartition(2),
        base_version=1,
        spark=spark,
    )
    ck1 = checkpoint_jsonl_dir(out)
    if ck1 != 2:
        raise AssertionError(f"first checkpoint at v{ck1}, want 2")
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("base_version", 2)
        .mode("append")
        .save()
    )
    delete_from_jsonl_dir(
        out,
        docs.filter(F.col("doc_id") % CK_DEL2_MOD == 0)
        .select("doc_id")
        .repartition(2),
        base_version=3,
        spark=spark,
    )
    ck2 = checkpoint_jsonl_dir(out)
    if ck2 != 4:
        raise AssertionError(f"second checkpoint at v{ck2}, want 4")

    def agg(df: DataFrame, snap: str, grp) -> DataFrame:
        return df.groupBy(grp.alias("grp")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    latest = (
        spark.read.format("jsonl_docs").option("path", out).load()
    )
    pre = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("version", 1)
        .load()
    )
    feed = table_changes_jsonl_dir(spark, out, starting_version=2)
    return (
        agg(latest, "latest", F.col("lang"))
        .unionByName(agg(pre, "v1", F.col("lang")))
        .unionByName(agg(feed, "cdf", F.col("_change_type")))
    )


SQL_FMT_PYDS_METADATA_CHECKPOINT = f"""
WITH latest AS (
  SELECT * FROM documents
  WHERE ((doc_id % 2 = 0 AND doc_id % {CK_DEL1_MOD} <> {CK_DEL1_VAL})
         OR doc_id % 2 = 1)
    AND doc_id % {CK_DEL2_MOD} <> 0
), v3_live AS (
  SELECT * FROM documents
  WHERE (doc_id % 2 = 0 AND doc_id % {CK_DEL1_MOD} <> {CK_DEL1_VAL})
     OR doc_id % 2 = 1
)
SELECT 'latest' AS snapshot, lang AS grp,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM latest GROUP BY lang
UNION ALL
SELECT 'v1', lang, COUNT(*), CAST(SUM(n_chars) AS BIGINT),
       MIN(doc_id), MAX(doc_id)
FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
UNION ALL
SELECT 'cdf', 'insert', COUNT(*), CAST(SUM(n_chars) AS BIGINT),
       MIN(doc_id), MAX(doc_id)
FROM documents WHERE doc_id % 2 = 1
UNION ALL
SELECT 'cdf', 'delete', COUNT(*), CAST(SUM(n_chars) AS BIGINT),
       MIN(doc_id), MAX(doc_id)
FROM v3_live WHERE doc_id % {CK_DEL2_MOD} = 0
"""


def q_fmt_pyds_checkpoint_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Post-checkpoint DATA SKIPPING from the COLUMNAR stats (r15
    directive #2): documents written partitioned by lang with a
    doc_id bloom index (v1) + an append (v2) → CHECKPOINT → VACUUM
    reclaims the subsumed v1 stats delta — so the partition-pruned
    and bloom/zonemap-pruned reads below are served from the
    checkpoint parquet's projected stats columns (plus the one tail
    delta), not from any root JSON.  Values re-derived from the
    parquet truth; the planner-level only-pushed-families projection
    and the file-open counts are plan-gated in
    ``tests/test_lake_checkpoint.py``."""
    import hashlib

    from pu4spark_spark.sources.lake.maintenance import (
        checkpoint_jsonl_dir,
        vacuum_jsonl_dir,
    )

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_ckpr_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("partition_by", "lang")
        .option("bloom_filter_columns", "doc_id")
        .mode("overwrite")
        .save()
    )
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("partition_by", "lang")
        .option("bloom_filter_columns", "doc_id")
        .option("base_version", 1)
        .mode("append")
        .save()
    )
    v = checkpoint_jsonl_dir(out)
    if v != 2:
        raise AssertionError(f"checkpoint at v{v}, want 2")
    vacuum_jsonl_dir(out, keep_versions=1, stale_grace_s=600.0)

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    en = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .load()
        .filter(F.col("lang") == "en")
    )
    rng = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .load()
        .filter(
            (F.col("doc_id") >= 100) & (F.col("doc_id") <= 500)
        )
    )
    return agg(en, "en_partition").unionByName(agg(rng, "doc_range"))


SQL_FMT_PYDS_CHECKPOINT_PRUNING = """
SELECT 'en_partition' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents WHERE lang = 'en' GROUP BY lang
UNION ALL
SELECT 'doc_range', lang, COUNT(*), CAST(SUM(n_chars) AS BIGINT),
       MIN(doc_id), MAX(doc_id)
FROM documents WHERE doc_id BETWEEN 100 AND 500 GROUP BY lang
"""


def q_fmt_pyds_checkpoint_history(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DESCRIBE HISTORY served from CHECKPOINT + TAIL (r15 directive
    #5): the exact 4-commit fixture of ``fmt_pyds_describe_history``
    with a checkpoint after v2 — rows ≤ 2 come from the checkpoint's
    embedded history, rows 3-4 from the tail manifests, and the
    assembled table must be INDISTINGUISHABLE from the
    manifest-walked one (same oracle).  The ≤-checkpoint manifests
    are never opened (file-open-count pinned in
    ``tests/test_lake_checkpoint.py``)."""
    import hashlib

    from pu4spark_spark.sources.lake.maintenance import (
        checkpoint_jsonl_dir,
    )

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_ckh_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    (
        evens.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    delete_from_jsonl_dir(
        out,
        evens.filter(F.col("doc_id") % 10 == HIST_DEL_MOD)
        .select("doc_id")
        .repartition(2),
        base_version=1,
        spark=spark,
        cdf=True,
    )
    v = checkpoint_jsonl_dir(out)
    if v != 2:
        raise AssertionError(f"checkpoint at v{v}, want 2")
    upserts = evens.filter(
        F.col("doc_id") % 10 == HIST_MERGE_MOD
    ).select(
        "doc_id",
        "text",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
    )
    merge_into_jsonl_dir(spark, upserts.repartition(2, "doc_id"), out)
    compact_jsonl_dir(spark, out, target_shards=2)
    return describe_history_jsonl_dir(spark, out)


def q_fmt_pyds_sql_surface(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PURE-SQL access to the mini-lake — ``CREATE TEMPORARY VIEW ...
    USING jsonl_docs OPTIONS (...)``, the Spark-SQL surface a
    BI/notebook user drives without touching the DataFrame API: one
    view over the live table, one pinned ``version '1'`` (SQL time
    travel), both aggregated by a ``spark.sql`` statement.  The
    whole read path — view resolution, option plumbing, snapshot pin,
    manifest read — runs through Spark's SQL catalog; the oracle
    re-derives both snapshots from the parquet truth."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_sqls_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).option("base_version", 1)
        .mode("append").save()
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW pyds_sql_lake "
        f"USING jsonl_docs OPTIONS (path '{out}')"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW pyds_sql_lake_v1 "
        f"USING jsonl_docs OPTIONS (path '{out}', version '1')"
    )
    return spark.sql(
        """
        SELECT 'pre' AS snapshot, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM pyds_sql_lake_v1 GROUP BY lang
        UNION ALL
        SELECT 'post', lang, COUNT(*),
               CAST(SUM(n_chars) AS BIGINT), MIN(doc_id), MAX(doc_id)
        FROM pyds_sql_lake GROUP BY lang
        """
    )


SQL_FMT_PYDS_SQL_SURFACE = """
SELECT 'pre' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents WHERE doc_id % 2 = 0
GROUP BY lang
UNION ALL
SELECT 'post', lang, COUNT(*),
       CAST(SUM(n_chars) AS BIGINT), MIN(doc_id), MAX(doc_id)
FROM documents
GROUP BY lang
"""


#: CDF fixture predicates: deletes hit doc_id%9==0 (⊂ the %3==0 rows
#: live since v1), updates hit doc_id%12==3 minus the deleted ones,
#: merge-inserts hit doc_id%3==2 ∧ doc_id%5==0 (never live before)
CDF_DEL_MOD, CDF_UPD_MOD, CDF_INS_MOD = 9, 12, 5


def q_fmt_pyds_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH CHANGE DATA FEED, value-checked end to end: build a
    5-commit history — v1 seed (doc_id%3==0) → v2 append (%3==1) → v3
    DELETE (%9==0) → v4 MERGE (update %12==3 rows with n_chars+1000,
    insert %3==2 ∧ %5==0) → v5 COMPACT — then read
    ``table_changes(1, latest)`` and aggregate per (commit, change
    type).  The oracle re-derives every change set from the parquet
    truth: a preimage served with post values, a delete row leaking
    from the rewrite commit (v5 must contribute NOTHING — compaction
    is dataChange=false), or an update misclassified as
    insert+delete all hash-mismatch.  update_preimage rows must carry
    the ORIGINAL n_chars, update_postimage the +1000 values — both
    sums are checked."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_cdf_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.filter(F.col("doc_id") % 3 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    (
        docs.filter(F.col("doc_id") % 3 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).option("base_version", 1)
        .mode("append").save()
    )
    delete_from_jsonl_dir(
        out,
        docs.filter(F.col("doc_id") % CDF_DEL_MOD == 0)
        .select("doc_id")
        .repartition(2),
        base_version=2,
    )
    updates = docs.filter(
        (F.col("doc_id") % CDF_UPD_MOD == 3)
        & (F.col("doc_id") % CDF_DEL_MOD != 0)
    ).select(
        "doc_id",
        "text",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
    )
    inserts = docs.filter(
        (F.col("doc_id") % 3 == 2) & (F.col("doc_id") % CDF_INS_MOD == 0)
    )
    merge_into_jsonl_dir(
        spark, updates.unionByName(inserts).repartition(2, "doc_id"), out
    )
    compact_jsonl_dir(spark, out, target_shards=2)
    feed = table_changes_jsonl_dir(spark, out, starting_version=1)
    return feed.groupBy(
        F.col("_commit_version").alias("commit_version"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_FMT_PYDS_CDF_READ = f"""
SELECT CAST(2 AS BIGINT) AS commit_version, 'insert' AS change_type,
       COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents WHERE doc_id % 3 = 1
UNION ALL
SELECT CAST(3 AS BIGINT), 'delete', COUNT(*), CAST(SUM(n_chars) AS BIGINT),
       MIN(doc_id), MAX(doc_id)
FROM documents WHERE doc_id % {CDF_DEL_MOD} = 0
UNION ALL
SELECT CAST(4 AS BIGINT), 'update_preimage', COUNT(*), CAST(SUM(n_chars) AS BIGINT),
       MIN(doc_id), MAX(doc_id)
FROM documents
WHERE doc_id % {CDF_UPD_MOD} = 3 AND doc_id % {CDF_DEL_MOD} <> 0
UNION ALL
SELECT CAST(4 AS BIGINT), 'update_postimage', COUNT(*),
       CAST(SUM(n_chars + 1000) AS BIGINT), MIN(doc_id), MAX(doc_id)
FROM documents
WHERE doc_id % {CDF_UPD_MOD} = 3 AND doc_id % {CDF_DEL_MOD} <> 0
UNION ALL
SELECT CAST(4 AS BIGINT), 'insert', COUNT(*), CAST(SUM(n_chars) AS BIGINT),
       MIN(doc_id), MAX(doc_id)
FROM documents
WHERE doc_id % 3 = 2 AND doc_id % {CDF_INS_MOD} = 0
"""



#: the UPDATE demo predicate/delta — constants so the oracle is fixed SQL
UPD_MOD, UPD_DELTA = 4, 100


def q_fmt_pyds_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UPDATE`` sugar value-checked end to end (Delta parity,
    VERDICT r11 next-round #7): write v1 → ``update_jsonl_dir(SET
    n_chars = n_chars + 100, source = 'edited' WHERE doc_id % 10 =
    4, cdf=True)`` (v2, a MATCHED-UPDATE-only clause-merge commit
    with CDC files) → union three aggregates: the post-state table,
    the feed's update_preimage rows (must carry the OLD values), and
    the update_postimage rows (the NEW values).  The oracle
    re-derives all three from the parquet truth, so an update that
    misses rows, touches unmatched rows, or mis-stamps either CDC
    image hash-mismatches.  OCC (a rival landing mid-update raises)
    is pinned in ``tests/test_formats.py``."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_upd_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    v = update_jsonl_dir(
        spark,
        out,
        {"n_chars": f"n_chars + {UPD_DELTA}", "source": "'edited'"},
        f"doc_id % 10 = {UPD_MOD}",
        cdf=True,
    )
    if v != 2:
        raise AssertionError(f"update committed v{v}, expected v2")

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(
                (F.col("source") == "edited").cast("bigint")
            ).alias("n_edited"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    post = spark.read.format("jsonl_docs").option("path", out).load()
    feed = table_changes_jsonl_dir(spark, out, 1, 2)
    return (
        agg(post, "post")
        .unionByName(
            agg(
                feed.filter(F.col("_change_type") == "update_preimage"),
                "feed_pre",
            )
        )
        .unionByName(
            agg(
                feed.filter(F.col("_change_type") == "update_postimage"),
                "feed_post",
            )
        )
    )


SQL_FMT_PYDS_UPDATE = f"""
WITH matched AS (
    SELECT * FROM documents WHERE doc_id % 10 = {UPD_MOD}
)
SELECT 'post' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 10 = {UPD_MOD}
                     THEN n_chars + {UPD_DELTA} ELSE n_chars END)
            AS BIGINT) AS sum_chars,
       CAST(SUM(CASE WHEN doc_id % 10 = {UPD_MOD} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_edited
FROM documents GROUP BY lang
UNION ALL
SELECT 'feed_pre' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(0 AS BIGINT) AS n_edited
FROM matched GROUP BY lang
UNION ALL
SELECT 'feed_post' AS snapshot, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars + {UPD_DELTA}) AS BIGINT) AS sum_chars,
       CAST(COUNT(*) AS BIGINT) AS n_edited
FROM matched GROUP BY lang
"""


#: column-mapping demo predicates — constants so the oracle is fixed SQL
CM_DEL_MOD, CM_INS_MOD, CM_DELTA = 6, 2, 1000


def q_fmt_pyds_column_mapping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COLUMN MAPPING (Delta name-mode parity) value-checked end to
    end: write v1 → cdf DELETE ``doc_id % 10 = 6`` (v2, CDC files
    under the pre-rename name) → RENAME ``n_chars``→``length`` (v3,
    pure metadata — zero data rewritten, pinned by pytest) → append
    post-rename rows (v4, physical keys on disk) → DROP ``source``
    (v5, metadata).  The result unions three reads: the latest table
    (new names, old+new shards), time travel to v1 (OLD names — the
    commit-scoped schema), and the batch change feed from 0 (END
    names for the whole range: v1 inserts and the v2 delete
    pre-images must surface under ``length`` with real values, never
    nulls — the physical-identity projection).  The oracle re-derives
    every branch from the parquet truth."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_cm_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    v = delete_from_jsonl_dir(
        out,
        docs.filter(F.col("doc_id") % 10 == CM_DEL_MOD).select("doc_id"),
        base_version=1,
        spark=spark,
        cdf=True,
    )
    if v != 2:
        raise AssertionError(f"delete committed v{v}, expected v2")
    if rename_jsonl_column(out, "n_chars", "length") != 3:
        raise AssertionError("rename did not commit v3")
    inserts = docs.filter(F.col("doc_id") % 10 == CM_INS_MOD).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "text",
        "lang",
        "source",
        (F.col("n_chars") + CM_DELTA).alias("length"),
    )
    (
        inserts.repartition(2, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("base_version", 3)
        .mode("append")
        .save()
    )
    if drop_jsonl_column(out, "source") != 5:
        raise AssertionError("drop did not commit v5")

    post = spark.read.format("jsonl_docs").option("path", out).load()
    travel = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("version", 1)
        .load()
    )
    feed = table_changes_jsonl_dir(spark, out, 0)

    def agg(df: DataFrame, snap: str, col: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(col).alias("sum_len"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    return (
        agg(post, "post", "length")
        .unionByName(agg(travel, "travel", "n_chars"))
        .unionByName(
            agg(
                feed.filter(F.col("_change_type") == "delete"),
                "feed_del",
                "length",
            )
        )
    )


SQL_FMT_PYDS_COLUMN_MAPPING = f"""
SELECT 'post' AS snapshot, lang,
       COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS sum_len
FROM (
    SELECT lang, n_chars AS len FROM documents
    WHERE doc_id % 10 <> {CM_DEL_MOD}
    UNION ALL
    SELECT lang, n_chars + {CM_DELTA} AS len FROM documents
    WHERE doc_id % 10 = {CM_INS_MOD}
) GROUP BY lang
UNION ALL
SELECT 'travel' AS snapshot, lang,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_len
FROM documents GROUP BY lang
UNION ALL
SELECT 'feed_del' AS snapshot, lang,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_len
FROM documents WHERE doc_id % 10 = {CM_DEL_MOD} GROUP BY lang
"""


#: type-widening demo predicates — constants so the oracle is fixed SQL
TW_INS_MOD, TW_BIG = 3, 3_000_000_000


def q_fmt_pyds_type_widening(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TYPE WIDENING (Delta parity) value-checked end to end: write v1
    with ``n_chars`` declared ``int`` → WIDEN to ``bigint`` (v2, pure
    metadata — old shards' JSON numbers parse into the wider type
    exactly) → append rows whose n_chars exceeds int range (v3).  The
    result unions the post-widen aggregate (values spanning both
    epochs, 64-bit sums) with the time-travel read of v1 (served as
    ``int`` — commit-scoped schema; summed as bigint for a stable
    oracle shape).  Narrowing refusals and the stream restart boundary
    are pytest-pinned."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_tw_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.withColumn("n_chars", F.col("n_chars").cast("int"))
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).mode("overwrite").save()
    )
    if widen_jsonl_column(out, "n_chars", "bigint") != 2:
        raise AssertionError("widen did not commit v2")
    big = docs.filter(F.col("doc_id") % 10 == TW_INS_MOD).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "text",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(TW_BIG)).alias("n_chars"),
    )
    (
        big.repartition(2, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("base_version", 2)
        .mode("append")
        .save()
    )
    post = spark.read.format("jsonl_docs").option("path", out).load()
    travel = (
        spark.read.format("jsonl_docs")
        .option("path", out)
        .option("version", 1)
        .load()
    )

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).alias("sum_chars"),
        ).select(F.lit(snap).alias("snapshot"), "*")

    return agg(post, "post").unionByName(agg(travel, "travel"))


SQL_FMT_PYDS_TYPE_WIDENING = f"""
SELECT 'post' AS snapshot, lang,
       COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS sum_chars
FROM (
    SELECT lang, n_chars AS len FROM documents
    UNION ALL
    SELECT lang, n_chars + {TW_BIG} AS len FROM documents
    WHERE doc_id % 10 = {TW_INS_MOD}
) GROUP BY lang
UNION ALL
SELECT 'travel' AS snapshot, lang,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
"""

QUERIES = {
    "fmt_pyds_jsonl_roundtrip": q_fmt_pyds_jsonl_roundtrip,
    "fmt_pyds_jsonl_write_roundtrip": q_fmt_pyds_jsonl_write_roundtrip,
    "fmt_pyds_snapshot_read": q_fmt_pyds_snapshot_read,
    "fmt_pyds_time_travel_ts": q_fmt_pyds_time_travel_ts,
    "fmt_pyds_compaction": q_fmt_pyds_compaction,
    "fmt_pyds_compaction_cluster": q_fmt_pyds_compaction_cluster,
    "fmt_pyds_snapshot_diff": q_fmt_pyds_snapshot_diff,
    "fmt_pyds_stats_pruning": q_fmt_pyds_stats_pruning,
    "fmt_pyds_multicol_pruning": q_fmt_pyds_multicol_pruning,
    "fmt_pyds_zorder_compaction": q_fmt_pyds_zorder_compaction,
    "fmt_pyds_nullcount_pruning": q_fmt_pyds_nullcount_pruning,
    "fmt_pyds_bloom_pruning": q_fmt_pyds_bloom_pruning,
    "fmt_pyds_commit_conflict": q_fmt_pyds_commit_conflict,
    "fmt_pyds_commit_retry": q_fmt_pyds_commit_retry,
    "fmt_pyds_delete_merge": q_fmt_pyds_delete_merge,
    "fmt_pyds_update": q_fmt_pyds_update,
    "fmt_pyds_column_mapping": q_fmt_pyds_column_mapping,
    "fmt_pyds_type_widening": q_fmt_pyds_type_widening,
    "fmt_pyds_merge_clauses": q_fmt_pyds_merge_clauses,
    "fmt_pyds_schema_evolution": q_fmt_pyds_schema_evolution,
    "fmt_pyds_cdf_read": q_fmt_pyds_cdf_read,
    "fmt_pyds_partitioned_scan": q_fmt_pyds_partitioned_scan,
    "fmt_pyds_constraints": q_fmt_pyds_constraints,
    "fmt_pyds_describe_history": q_fmt_pyds_describe_history,
    "fmt_pyds_sql_surface": q_fmt_pyds_sql_surface,
    "curation_lake_release": q_curation_lake_release,
    "fmt_pyds_restore": q_fmt_pyds_restore,
    "fmt_pyds_clone": q_fmt_pyds_clone,
    "streaming_pyds_delete_feed": q_streaming_pyds_delete_feed,
    "streaming_pyds_cdf_feed": q_streaming_pyds_cdf_feed,
    "streaming_pyds_docs": q_streaming_pyds_docs,
    "streaming_pyds_snapshot": q_streaming_pyds_snapshot,
    "streaming_pyds_compaction_skip": q_streaming_pyds_compaction_skip,
    "streaming_pyds_lake_sink": q_streaming_pyds_lake_sink,
    "streaming_pyds_rate_limited": q_streaming_pyds_rate_limited,
    "streaming_pyds_sink_mapped": q_streaming_pyds_sink_mapped,
    "streaming_pyds_sink_partitioned": q_streaming_pyds_sink_partitioned,
    "fmt_pyds_cdf_clone": q_fmt_pyds_cdf_clone,
    "fmt_pyds_parquet_roundtrip": q_fmt_pyds_parquet_roundtrip,
    "fmt_pyds_parquet_mixed": q_fmt_pyds_parquet_mixed,
    "fmt_pyds_parquet_projection": q_fmt_pyds_parquet_projection,
    "fmt_pyds_deletion_vectors": q_fmt_pyds_deletion_vectors,
    "fmt_pyds_optimize_where": q_fmt_pyds_optimize_where,
    "fmt_pyds_metadata_checkpoint": q_fmt_pyds_metadata_checkpoint,
    "fmt_pyds_checkpoint_pruning": q_fmt_pyds_checkpoint_pruning,
    "fmt_pyds_checkpoint_history": q_fmt_pyds_checkpoint_history,
}

ORACLE_SQL = {
    # columnar payload: filtered/projected read off parquet shards
    "fmt_pyds_parquet_roundtrip": SQL_FMT_PYDS_PARQUET_ROUNDTRIP,
    # mixed jsonl+parquet table, tombstones on both formats, then the
    # jsonl→parquet migration rewrite
    "fmt_pyds_parquet_mixed": SQL_FMT_PYDS_PARQUET_MIXED,
    # source-level column projection (option('columns')) off parquet
    "fmt_pyds_parquet_projection": SQL_FMT_PYDS_PARQUET_PROJECTION,
    # positional deletion vectors: pre-delete travel / post-DV mask /
    # post-purge physical reclaim all hash-checked
    "fmt_pyds_deletion_vectors": SQL_FMT_PYDS_DELETION_VECTORS,
    # partition-scoped OPTIMIZE: whole-table + compacted-partition
    # passes both content-exact after the scoped rewrite
    "fmt_pyds_optimize_where": SQL_FMT_PYDS_OPTIMIZE_WHERE,
    # r15 metadata checkpoint: latest read + pre-checkpoint time
    # travel + cross-boundary CDF all exact after two checkpoints
    "fmt_pyds_metadata_checkpoint": SQL_FMT_PYDS_METADATA_CHECKPOINT,
    # post-checkpoint data skipping from the columnar stats (deltas
    # vacuumed), partition + zonemap/bloom legs value-exact
    "fmt_pyds_checkpoint_pruning": SQL_FMT_PYDS_CHECKPOINT_PRUNING,
    # DESCRIBE HISTORY assembled from checkpoint-embedded rows + tail
    # manifests — same oracle as the manifest-walked history
    "fmt_pyds_checkpoint_history": SQL_FMT_PYDS_DESCRIBE_HISTORY,
    "fmt_pyds_update": SQL_FMT_PYDS_UPDATE,
    "fmt_pyds_column_mapping": SQL_FMT_PYDS_COLUMN_MAPPING,
    "fmt_pyds_type_widening": SQL_FMT_PYDS_TYPE_WIDENING,
    "fmt_pyds_jsonl_roundtrip": SQL_FMT_PYDS_JSONL_ROUNDTRIP,
    "fmt_pyds_jsonl_write_roundtrip": SQL_FMT_PYDS_JSONL_ROUNDTRIP,
    "fmt_pyds_snapshot_read": SQL_FMT_PYDS_SNAPSHOT_READ,
    # as-of-mid == pre-append truth; as-of-now == full corpus
    "fmt_pyds_time_travel_ts": SQL_FMT_PYDS_TIME_TRAVEL_TS,
    "fmt_pyds_compaction": SQL_FMT_PYDS_COMPACTION,
    # clustered rewrite is content-neutral; interval read post-OPTIMIZE
    "fmt_pyds_compaction_cluster": SQL_FMT_PYDS_COMPACTION_CLUSTER,
    "fmt_pyds_snapshot_diff": SQL_FMT_PYDS_SNAPSHOT_DIFF,
    "fmt_pyds_stats_pruning": SQL_FMT_PYDS_STATS_PRUNING,
    "fmt_pyds_multicol_pruning": SQL_FMT_PYDS_MULTICOL_PRUNING,
    "fmt_pyds_zorder_compaction": SQL_FMT_PYDS_ZORDER_COMPACTION,
    "fmt_pyds_nullcount_pruning": SQL_FMT_PYDS_NULLCOUNT_PRUNING,
    "fmt_pyds_bloom_pruning": SQL_FMT_PYDS_BLOOM_PRUNING,
    # post-conflict read@latest must equal the WINNING writer's content
    "fmt_pyds_commit_conflict": SQL_FMT_PYDS_COMMIT_CONFLICT,
    # after the retry lands, the table holds base + A + B exactly once
    "fmt_pyds_commit_retry": SQL_FMT_PYDS_COMMIT_CONFLICT,
    # pre-delete time travel = full corpus; latest = deletes applied,
    # merged rows replaced
    "fmt_pyds_delete_merge": SQL_FMT_PYDS_DELETE_MERGE,
    # all three MERGE clause forms in one commit; untouched matched
    # rows prove first-match-wins and the no-clause-taken case
    "fmt_pyds_merge_clauses": SQL_FMT_PYDS_MERGE_CLAUSES,
    # v1 time travel = old 5-col shape; latest = 6 cols, old rows
    # null-extended on the evolved column
    "fmt_pyds_schema_evolution": SQL_FMT_PYDS_SCHEMA_EVOLUTION,
    # batch CDF: per-commit insert/update_pre/update_post/delete sets,
    # compaction (v5) contributes nothing
    "fmt_pyds_cdf_read": SQL_FMT_PYDS_CDF_READ,
    # partitioned write + partition-pruned equality/IN reads
    "fmt_pyds_partitioned_scan": SQL_FMT_PYDS_PARTITIONED,
    # constrained writes on the passing path == full corpus truth
    "fmt_pyds_constraints": SQL_FMT_PYDS_CONSTRAINTS,
    # commit provenance from manifest metadata only
    "fmt_pyds_describe_history": SQL_FMT_PYDS_DESCRIBE_HISTORY,
    # CREATE TEMPORARY VIEW ... USING jsonl_docs, incl. SQL time travel
    "fmt_pyds_sql_surface": SQL_FMT_PYDS_SQL_SURFACE,
    # bronze→silver release + GDPR purge with CDF propagation witness
    "curation_lake_release": SQL_CURATION_LAKE_RELEASE,
    # RESTORE: latest == original state, pre-restore stays travelable
    "fmt_pyds_restore": SQL_FMT_PYDS_RESTORE,
    # zero-copy branch: grafted ledger exact, divergence isolated
    "fmt_pyds_clone": SQL_FMT_PYDS_CLONE,
    # lagging subscriber = non-retraction union; fresh = current state
    "streaming_pyds_delete_feed": SQL_STREAMING_PYDS_DELETE_FEED,
    # typed change rows per commit: snapshot inserts + CDC-file changes
    "streaming_pyds_cdf_feed": SQL_STREAMING_PYDS_CDF_FEED,
    # the incremental path must agree with the batch oracle
    "streaming_pyds_rate_limited": SQL_STREAMING_PYDS_RATE_LIMITED,
    "streaming_pyds_sink_mapped": SQL_STREAMING_PYDS_SINK_MAPPED,
    "streaming_pyds_sink_partitioned": SQL_STREAMING_PYDS_SINK_PARTITIONED,
    "fmt_pyds_cdf_clone": SQL_FMT_PYDS_CDF_CLONE,
    "streaming_pyds_docs": SQL_STREAMING_PYDS_DOCS,
    # two checkpointed version-offset drains == batch truth; orphan
    # debris (poison lang) must never surface
    "streaming_pyds_snapshot": SQL_STREAMING_PYDS_DOCS,
    # rewrite commit skipped: no compacted row delivered twice
    "streaming_pyds_compaction_skip": SQL_STREAMING_PYDS_DOCS,
    # landing stream → sink commits → batch read == documents truth
    "streaming_pyds_lake_sink": SQL_STREAMING_PYDS_DOCS,
}
