"""``sources/lake`` — the mini-lake: a Delta-style table protocol
over JSONL shards, built on the PySpark 4 Python DataSource API.
Module map:

- ``lake.protocol``     — manifest/versioning metadata, atomic commit
  primitives and the one version claim every commit goes through
  (``commit_manifest``), tombstone ledger, DDL/typed-cell helpers,
  constraints compilation, rewrite markers, clone path resolution
- ``lake.checkpoint``   — per-commit stats deltas and the checkpointed
  metadata plane
- ``lake.source``       — the ``jsonl_docs`` DataSource: batch
  reader/writer, streaming sink, registration
- ``lake.streaming``    — streaming readers (landing feed, version
  stream, change-data-feed stream)
- ``lake.maintenance``  — schema evolution, constraints DDL,
  compaction, vacuum, clone, restore, history, commit retry
- ``lake.dml``          — DELETE / MERGE, sidecar staging, CDC files
- ``lake.cdf``          — batch change feed (``table_changes``)
- ``lake.queries`` / ``lake.queries_stream`` — registered driver
  queries + DuckDB oracles
"""

from pu4spark_spark.sources.lake import (  # noqa: F401
    cdf,
    dml,
    maintenance,
    protocol,
    queries,
    queries_stream,
    source,
    streaming,
)
