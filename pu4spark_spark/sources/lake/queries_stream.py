"""Registered STREAMING lake queries + the composed
``curation_lake_release`` pipeline: microbatch drains of the
landing/version/CDF stream readers, the lake streaming sink, and
their DuckDB oracles."""

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
)
from pu4spark_spark.sources.lake.maintenance import (
    add_constraint_jsonl_dir,
    compact_jsonl_dir,
)
from pu4spark_spark.sources.lake.protocol import (
    N_SHARDS,
    _latest_manifest_version,
)
from pu4spark_spark.sources.lake.source import (
    register_pyds,
)



def _jsonl_shard_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write the documents table as JSONL shards once per sf_dir (the
    fixture for the round-trip; written by Spark's own distributed JSON
    writer, hash-repartitioned into N_SHARDS files)."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"pu4spark_jsonl_{tag}")
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        docs = load_table(spark, "documents", sf_dir)
        docs.repartition(N_SHARDS, "doc_id").write.mode("overwrite").json(d)
    return d


def q_streaming_pyds_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-lang aggregate computed INCREMENTALLY through the
    custom source's stream reader (availableNow drain): offsets step
    through the shard files, executors read only the new ones per
    microbatch.  Complete-mode memory sink is legitimate here — the
    output is the result-sized 5-row aggregate, not the corpus (the
    production corpus-sized drain is ``streaming_hourly_file_sink``)."""

    shard_dir = _jsonl_shard_dir(spark, sf_dir)
    register_pyds(spark)
    stream = (
        spark.readStream.format("jsonl_docs").option("path", shard_dir).load()
    )
    # no countDistinct: distinct aggregation is unsupported on streams
    agg = stream.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    from pu4spark_spark.streaming.drain import drain_to_memory

    return drain_to_memory(spark, agg, "pyds_docs_stream", "complete")


def q_streaming_pyds_lake_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LANDING STREAM → LAKE SINK, value-checked end to end: the
    custom source's stream reader drains the JSONL landing shards and
    the custom STREAM WRITER commits each micro-batch into a mini-lake
    directory through the OCC manifest claim — then a second
    availableNow drain of the same checkpoint must commit NOTHING new
    (offsets already consumed; a duplicated batch would double every
    count), and the batch read of the lake must equal the documents
    truth.  This closes the connector matrix: batch read/write,
    stream read (listing + versioned), and now stream write, all over
    one commit log — so the lake a streaming job populates is the
    same lake batch jobs append to, time travel reads, and downstream
    versioned streams tail.  Retried-batch idempotence (the _txn
    no-op) and the downstream tail are pinned in pytest."""
    import hashlib
    import shutil

    shard_dir = _jsonl_shard_dir(spark, sf_dir)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    lake = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_sink_{tag}_{os.getpid()}"
    )
    ckpt = os.path.join(lake, "_ckpt")
    shutil.rmtree(lake, ignore_errors=True)
    register_pyds(spark)
    from pu4spark_spark.streaming.drain import drain_partitions

    def drain() -> None:
        with drain_partitions(spark, 8):
            q = (
                spark.readStream.format("jsonl_docs")
                .option("path", shard_dir)
                .load()
                .writeStream.format("jsonl_docs")
                .option("path", lake)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()

    drain()
    v1 = _latest_manifest_version(lake)
    drain()  # nothing new landed: must commit no further version
    if _latest_manifest_version(lake) != v1:
        raise AssertionError(
            "lake sink re-committed an already-consumed batch"
        )
    back = spark.read.format("jsonl_docs").option("path", lake).load()
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def q_streaming_pyds_sink_mapped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING SINK INTO A COLUMN-MAPPED TABLE, value-checked end to
    end: create the lake table (empty docs-shaped v1), RENAME
    ``lang`` → ``language`` (v2 — a pure-metadata commit; the column's
    PHYSICAL JSON key stays ``lang``), then stream the full landing
    corpus through the sink under the new LOGICAL schema.  The sink
    must serialize each row under the table's physical keys (the
    writers-keep-writing-the-physical-key invariant) — the pre-r13
    sink wrote logical keys, so every streamed row read back NULL
    under ``language`` and this aggregate would hash-mismatch the
    parquet truth."""
    import hashlib
    import shutil

    from pu4spark_spark.sources.lake.maintenance import (
        rename_jsonl_column,
    )

    shard_dir = _jsonl_shard_dir(spark, sf_dir)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    lake = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_sinkm_{tag}_{os.getpid()}"
    )
    ckpt = os.path.join(lake, "_ckpt")
    shutil.rmtree(lake, ignore_errors=True)
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.limit(0)
        .repartition(1)
        .write.format("jsonl_docs")
        .option("path", lake)
        .mode("overwrite")
        .save()
    )
    rename_jsonl_column(lake, "lang", "language")
    from pu4spark_spark.streaming.drain import drain_partitions

    with drain_partitions(spark, 8):
        q = (
            spark.readStream.format("jsonl_docs")
            .option("path", shard_dir)
            .load()
            .withColumnRenamed("lang", "language")
            .writeStream.format("jsonl_docs")
            .option("path", lake)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    back = spark.read.format("jsonl_docs").option("path", lake).load()
    return back.groupBy("language").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_STREAMING_PYDS_SINK_MAPPED = """
SELECT lang AS language,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang
"""


def q_streaming_pyds_sink_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITIONED STREAMING SINK, value-checked end to end: the
    landing corpus streams through the sink with
    ``option("partition_by", "lang")`` — each micro-batch task writes
    one shard per language it sees and the commit records the values
    under ``_STATS["_parts"]`` — then the batch read back filters
    ``lang = 'en'``, which the reader serves with whole-shard
    PARTITION PRUNING (the hourly partitioned-ingest shape at
    100 TB).  The oracle re-derives the filtered aggregate from the
    parquet truth, so a row landing in the wrong partition shard, a
    dropped secondary shard (tasks pack extra shards per value), or
    over-pruning all hash-mismatch; the shard skip itself is pinned
    in pytest (``test_stream_sink_partitioned``)."""
    import hashlib
    import shutil

    shard_dir = _jsonl_shard_dir(spark, sf_dir)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    lake = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_sinkp_{tag}_{os.getpid()}"
    )
    ckpt = os.path.join(lake, "_ckpt")
    shutil.rmtree(lake, ignore_errors=True)
    register_pyds(spark)
    from pu4spark_spark.streaming.drain import drain_partitions

    with drain_partitions(spark, 8):
        q = (
            spark.readStream.format("jsonl_docs")
            .option("path", shard_dir)
            .load()
            .writeStream.format("jsonl_docs")
            .option("path", lake)
            .option("partition_by", "lang")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    back = (
        spark.read.format("jsonl_docs")
        .option("path", lake)
        .load()
        .filter(F.col("lang") == "en")
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_STREAMING_PYDS_SINK_PARTITIONED = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE lang = 'en'
GROUP BY source
"""


def _versioned_lang_drain(
    spark: SparkSession, out: str, ckpt: str, name: str
) -> None:
    """One availableNow drain of the VERSIONED stream over ``out`` into
    the complete-mode memory sink ``name``, resuming from ``ckpt`` —
    the shared microbatch step of the snapshot-stream queries (same
    per-lang aggregate, so all hash against the same batch truth)."""
    _versioned_lang_drain_opts(spark, out, ckpt, name)


def q_streaming_pyds_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-FROM-TABLE under concurrent append, value-checked: the
    versioned stream reader drains commit v1 (even docs), a writer
    appends v2 (odd docs) while the stream is down, an ORPHAN shard
    with poison rows lands in the directory OUTSIDE any manifest (what
    a conflicted/crashed commit leaves behind), and the checkpointed
    stream resumes — its second microbatch must read exactly v2's
    shards: the final complete-mode aggregate equals the batch truth
    over ALL documents, and any poison leak (a listing-based source
    would read the orphan) breaks the hash.

    At 100 TB this is the table-as-a-feed shape: downstream consumers
    tail the commit log at version granularity, paying per-batch work
    sized by the new commit only, immune to in-flight and aborted
    writer debris."""
    import hashlib
    import json as _json
    import shutil
    import uuid as _uuid

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_ss_{tag}_{os.getpid()}"
    )
    ckpt = os.path.join(out, "_ckpt")  # _-prefixed: invisible to readers
    shutil.rmtree(out, ignore_errors=True)
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

    name = f"pyds_snapshot_{_uuid.uuid4().hex[:8]}"
    _versioned_lang_drain(spark, out, ckpt, name)  # consumes v1
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("base_version", 1)
        .mode("append")
        .save()
    )
    # orphan debris: a visible-named shard in NO committed manifest —
    # poison lang so any leak into the aggregate hash-mismatches
    with open(os.path.join(out, "part-99999-orphan00.jsonl"), "w") as fh:
        fh.write(
            _json.dumps(
                {
                    "doc_id": 10_000_001,
                    "text": "poison",
                    "lang": "xx",
                    "source": "orphan",
                    "n_chars": 6,
                }
            )
            + "\n"
        )
    # resumes at version offset 1, reads exactly v2
    _versioned_lang_drain(spark, out, ckpt, name)
    return spark.table(name)


def q_streaming_pyds_compaction_skip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM × COMPACTION interplay — the lake-semantics trap this
    round's ``.rewrite`` sidecar closes: a compaction commit rewrites
    every live row into fresh consolidated shards; a version-offset
    stream that treated it as a data commit would re-deliver the whole
    table (every compacted row twice).  Sequence: drain v1 (even docs),
    append v2 (odd docs), COMPACT (v3, dataChange=false), drain again —
    the second drain must pick up exactly v2's original shards and skip
    v3 entirely.  The complete-mode aggregate hash-matches the batch
    truth over all documents; any double-delivery doubles every count.

    This is Delta's ``dataChange=false`` / Iceberg's rewrite-commit
    contract on the engine's own connector — without it, OPTIMIZE and
    downstream streams cannot coexist, which at 100 TB they must."""
    import hashlib
    import shutil
    import uuid as _uuid

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_cs_{tag}_{os.getpid()}"
    )
    ckpt = os.path.join(out, "_ckpt")
    shutil.rmtree(out, ignore_errors=True)
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)

    name = f"pyds_compact_skip_{_uuid.uuid4().hex[:8]}"
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    _versioned_lang_drain(spark, out, ckpt, name)  # consumes v1
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out)
        .option("base_version", 2 - 1)
        .mode("append")
        .save()
    )
    v = compact_jsonl_dir(spark, out, target_shards=2)  # v3, rewrite
    if v != 3:
        raise AssertionError(f"compaction committed v{v}, expected v3")
    # must read exactly v2's shards, skip the rewrite
    _versioned_lang_drain(spark, out, ckpt, name)
    return spark.table(name)


def _versioned_lang_drain_opts(
    spark: SparkSession,
    out: str,
    ckpt: str,
    name: str,
    ignore_deletes: bool = False,
    max_versions_per_trigger: int | None = None,
) -> None:
    """One availableNow drain of the VERSIONED stream over ``out`` into
    the complete-mode memory sink ``name`` — the ``ignore_deletes`` /
    rate-limited twin of :func:`_versioned_lang_drain` for tables with
    row-level DELETE/MERGE history."""
    from pu4spark_spark.streaming.drain import drain_partitions

    reader = (
        spark.readStream.format("jsonl_docs")
        .option("path", out)
        .option("versioned", "true")
    )
    if ignore_deletes:
        reader = reader.option("ignore_deletes", "true")
    if max_versions_per_trigger is not None:
        reader = reader.option(
            "max_versions_per_trigger", str(max_versions_per_trigger)
        )
    stream = reader.load()
    agg = stream.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    with drain_partitions(spark, 8):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()


def q_streaming_pyds_rate_limited(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RATE-LIMITED stream drain, value-checked for semantics
    NEUTRALITY: the documents table lands as four separate commits
    (quarters by ``doc_id % 4``, each a version), then one
    ``availableNow`` drain with ``max_versions_per_trigger=1`` — the
    per-trigger bound changes HOW MANY microbatches the catch-up
    takes, never WHAT arrives.  The complete-mode aggregate must equal
    the plain batch truth over all documents; a version skipped,
    replayed, or split mid-commit by the limiter hash-mismatches.
    Per-trigger advance and offset-floor monotonicity are pinned at
    the reader level in ``tests/test_formats.py``."""
    import hashlib
    import shutil
    import uuid as _uuid

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_rl_{tag}_{os.getpid()}"
    )
    ckpt = os.path.join(out, "_ckpt")
    shutil.rmtree(out, ignore_errors=True)
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    for i in range(4):
        w = (
            docs.filter(F.col("doc_id") % 4 == i)
            .repartition(2, "doc_id")
            .write.format("jsonl_docs")
            .option("path", out)
        )
        if i == 0:
            w.mode("overwrite").save()
        else:
            w.option("base_version", i).mode("append").save()
    name = f"pyds_rate_{_uuid.uuid4().hex[:8]}"
    _versioned_lang_drain_opts(
        spark, out, ckpt, name, max_versions_per_trigger=1
    )
    return spark.sql(f"SELECT * FROM {name}")


SQL_STREAMING_PYDS_RATE_LIMITED = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents GROUP BY lang
"""


#: delete/merge mods for the STREAM feed demo — even-parity so they hit
#: the evens-only fixture (constant, so the oracle is fixed SQL)
FEED_DELETE_MOD, FEED_MERGE_MOD = 4, 8


def q_streaming_pyds_delete_feed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM × DELETE/MERGE through Spark's real microbatch engine —
    both halves of the append-only-stream contract, value-checked:

    - A LAGGING checkpointed subscriber (drained before the changes,
      resumed after, ``ignore_deletes``) exhibits NON-RETRACTION: the
      delete commit contributes nothing (its removals are never
      retracted from the sink), the merge commit streams exactly its
      replacement shards — so the complete-mode aggregate equals
      "initial snapshot + merge rows", with superseded key versions
      counted too.  That double-count is the documented semantics
      (Delta's ignoreDeletes), pinned here BY the oracle rather than
      despite it.
    - A FRESH subscriber's initial batch applies the tombstone ledger:
      its aggregate equals the CURRENT table (deletes gone, merged
      keys exactly once, at their new values).

    Both states are re-derived by the DuckDB oracle from the parquet
    truth, so a tombstone leak, a double-delivered merge shard, or a
    retraction that shouldn't happen all hash-mismatch."""
    import hashlib
    import shutil
    import uuid as _uuid

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_df_{tag}_{os.getpid()}"
    )
    ckpt = os.path.join(out, "_ckpt")
    shutil.rmtree(out, ignore_errors=True)
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
    lag = f"pyds_feed_lag_{_uuid.uuid4().hex[:8]}"
    _versioned_lang_drain_opts(
        spark, out, ckpt, lag, ignore_deletes=True
    )  # consumes v1 = all evens
    # v2: DELETE %10==4 — distributed key shards, no driver id collect
    delete_from_jsonl_dir(
        out,
        evens.filter(F.col("doc_id") % 10 == FEED_DELETE_MOD)
        .select("doc_id")
        .repartition(2),
        base_version=1,
    )
    # v3: MERGE — replace %10==8 rows with bumped n_chars
    upserts = evens.filter(F.col("doc_id") % 10 == FEED_MERGE_MOD).select(
        "doc_id",
        "text",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
    )
    merge_into_jsonl_dir(spark, upserts.repartition(2, "doc_id"), out)
    # lagging subscriber resumes: v2 contributes nothing, v3 streams
    # its replacement shards only
    _versioned_lang_drain_opts(spark, out, ckpt, lag, ignore_deletes=True)
    # fresh subscriber: initial snapshot with the ledger applied
    fresh = f"pyds_feed_fresh_{_uuid.uuid4().hex[:8]}"
    _versioned_lang_drain_opts(
        spark,
        out,
        os.path.join(out, "_ckpt_fresh"),
        fresh,
        ignore_deletes=True,
    )
    return (
        spark.table(lag)
        .select(F.lit("lagging").alias("subscriber"), "*")
        .unionByName(
            spark.table(fresh).select(
                F.lit("fresh").alias("subscriber"), "*"
            )
        )
    )


#: streaming-CDF fixture predicates over the evens table: deletes hit
#: %10==6, updates %10==2, the post-stream append inserts odds %10==1
CDFS_DEL_MOD, CDFS_UPD_MOD, CDFS_INS_MOD = 6, 2, 1


def q_streaming_pyds_cdf_feed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING CHANGE DATA FEED through Spark's real microbatch
    engine (``option("read_change_feed", "true")`` — Delta's
    readChangeFeed), value-checked end to end: build v1 (evens) →
    DELETE %10==6 with ``cdf=True`` (v2 — pre-images staged as
    commit-time ``_cdc`` files) → MERGE-upsert %10==2 with
    ``cdf=True`` (v3 — update pre+post images) → append odds %10==1
    (v4 — plain inserts, no CDC files needed), then drain the change
    stream fresh: the initial snapshot arrives as v1 ``insert`` rows
    and every later commit as its typed changes.  The aggregate per
    (change type, commit version) is re-derived by the oracle from
    the parquet truth, so a missing pre-image, a post-image with the
    old value, a compaction row leaking as change, or an initial
    snapshot that misses the ledger all hash-mismatch.  The
    fail-loudly contract for non-cdf DML commits is pinned in
    tests/test_formats.py."""
    import hashlib
    import shutil
    import uuid as _uuid

    from pu4spark_spark.streaming.drain import drain_partitions

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(
        tempfile.gettempdir(), f"pu4spark_pyds_cdfs_{tag}_{os.getpid()}"
    )
    shutil.rmtree(out, ignore_errors=True)
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
        evens.filter(F.col("doc_id") % 10 == CDFS_DEL_MOD)
        .select("doc_id")
        .repartition(2),
        base_version=1,
        spark=spark,
        cdf=True,
    )
    upserts = evens.filter(
        F.col("doc_id") % 10 == CDFS_UPD_MOD
    ).select(
        "doc_id",
        "text",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
    )
    merge_into_jsonl_dir(
        spark, upserts.repartition(2, "doc_id"), out, cdf=True
    )
    (
        docs.filter(
            (F.col("doc_id") % 2 == 1)
            & (F.col("doc_id") % 10 == CDFS_INS_MOD)
        )
        .repartition(2, "doc_id")
        .write.format("jsonl_docs")
        .option("path", out).option("base_version", 3)
        .mode("append").save()
    )
    name = f"pyds_cdf_feed_{_uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("jsonl_docs")
        .option("path", out)
        .option("read_change_feed", "true")
        .load()
    )
    with drain_partitions(spark, 8):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option(
                "checkpointLocation", os.path.join(out, "_ckpt_cdf")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").alias("commit_version"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


SQL_STREAMING_PYDS_CDF_FEED = f"""
SELECT 'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version,
       COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT 'delete', CAST(2 AS BIGINT), COUNT(*),
       CAST(SUM(n_chars) AS BIGINT), MIN(doc_id), MAX(doc_id)
FROM documents WHERE doc_id % 10 = {CDFS_DEL_MOD}
UNION ALL
SELECT 'update_preimage', CAST(3 AS BIGINT), COUNT(*),
       CAST(SUM(n_chars) AS BIGINT), MIN(doc_id), MAX(doc_id)
FROM documents WHERE doc_id % 10 = {CDFS_UPD_MOD}
UNION ALL
SELECT 'update_postimage', CAST(3 AS BIGINT), COUNT(*),
       CAST(SUM(n_chars + 1000) AS BIGINT), MIN(doc_id), MAX(doc_id)
FROM documents WHERE doc_id % 10 = {CDFS_UPD_MOD}
UNION ALL
SELECT 'insert', CAST(4 AS BIGINT), COUNT(*),
       CAST(SUM(n_chars) AS BIGINT), MIN(doc_id), MAX(doc_id)
FROM documents
WHERE doc_id % 2 = 1 AND doc_id % 10 = {CDFS_INS_MOD}
"""


SQL_STREAMING_PYDS_DELETE_FEED = f"""
SELECT 'lagging' AS subscriber, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM (
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, lang, n_chars + 1000 FROM documents
  WHERE doc_id % 10 = {FEED_MERGE_MOD}
)
GROUP BY lang
UNION ALL
SELECT 'fresh' AS subscriber, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 10 = {FEED_MERGE_MOD}
                     THEN n_chars + 1000 ELSE n_chars END) AS BIGINT)
         AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE doc_id % 2 = 0 AND doc_id % 10 <> {FEED_DELETE_MOD}
GROUP BY lang
"""


#: lake-release fixture: mirror-duplicate evens %10==0, quality gate
#: n_chars >= 100, purge source 'src3'
LR_DUP_MOD, LR_MIN_CHARS, LR_PURGE_SRC = 10, 100, "src3"


def q_curation_lake_release(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE LAKE AND THE PIPELINE COMPOSED — a bronze→silver training-
    data release with a GDPR purge, every hop on the engine's own
    table format, value-checked end to end:

    1. BRONZE lands in two commits (evens, then odds plus planted
       mirror duplicates — same text, doc_id+100000).
    2. SILVER = bronze latest → exact text-dedup keeping the smallest
       doc_id (the mirrors lose by construction) → quality gate
       ``n_chars >= 100`` → written to a second lake table, which
       then gets that same gate as a CHECK constraint (future appends
       can't regress the release).
    3. GDPR PURGE: all of source 'src3' is deleted from silver with
       ``cdf=True`` — a metadata commit plus CDC pre-images.
    4. The result unions the silver LIVE aggregate with the purge's
       change-feed ``delete`` rows (the downstream-propagation
       witness: a subscriber syncing silver sees exactly the purged
       rows, typed).

    The oracle re-derives both halves from the parquet truth: a
    mirror surviving dedup, a quality leak, a purge that misses a row
    or leaks into the feed, all hash-mismatch."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    bronze = os.path.join(
        tempfile.gettempdir(), f"pu4spark_lr_bronze_{tag}_{os.getpid()}"
    )
    silver = os.path.join(
        tempfile.gettempdir(), f"pu4spark_lr_silver_{tag}_{os.getpid()}"
    )
    register_pyds(spark)
    docs = load_table(spark, "documents", sf_dir)
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    (
        evens.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", bronze).mode("overwrite").save()
    )
    mirrors = evens.filter(F.col("doc_id") % LR_DUP_MOD == 0).select(
        (F.col("doc_id") + F.lit(100000)).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .unionByName(mirrors)
        .repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", bronze).option("base_version", 1)
        .mode("append").save()
    )
    b = spark.read.format("jsonl_docs").option("path", bronze).load()
    keep = b.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    curated = (
        b.join(keep, ["text", "doc_id"], "inner")  # smallest id per text
        .filter(F.col("n_chars") >= LR_MIN_CHARS)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    (
        curated.repartition(N_SHARDS, "doc_id")
        .write.format("jsonl_docs")
        .option("path", silver).mode("overwrite").save()
    )
    add_constraint_jsonl_dir(
        silver, "release_quality", f"n_chars >= {LR_MIN_CHARS}"
    )
    s = spark.read.format("jsonl_docs").option("path", silver).load()
    purge_keys = s.filter(F.col("source") == LR_PURGE_SRC).select(
        "doc_id"
    )
    v = delete_from_jsonl_dir(
        silver, purge_keys.repartition(2), spark=spark, cdf=True
    )
    live = (
        spark.read.format("jsonl_docs").option("path", silver).load()
    )

    def agg(df: DataFrame, half: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).select(F.lit(half).alias("half"), "*")

    feed = table_changes_jsonl_dir(spark, silver, v - 1, v).filter(
        F.col("_change_type") == "delete"
    )
    return agg(live, "silver").unionByName(
        agg(feed.select("doc_id", "lang", "n_chars"), "purged")
    )


SQL_CURATION_LAKE_RELEASE = f"""
SELECT 'silver' AS half, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents
WHERE n_chars >= {LR_MIN_CHARS} AND source <> '{LR_PURGE_SRC}'
GROUP BY lang
UNION ALL
SELECT 'purged', lang, COUNT(*),
       CAST(SUM(n_chars) AS BIGINT), MIN(doc_id), MAX(doc_id)
FROM documents
WHERE n_chars >= {LR_MIN_CHARS} AND source = '{LR_PURGE_SRC}'
GROUP BY lang
"""
SQL_STREAMING_PYDS_DOCS = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang
"""
