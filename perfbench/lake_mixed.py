"""``lake_mixed``: a seeded op mix on one ``jsonl_docs`` table.

Ops run in a fixed cycle of ten: an append, a DELETE and a MERGE, each
followed by a latest read, plus a time-travel read, a change-feed read of
the MERGE, a compaction and a vacuum.  The
compaction and vacuum in every cycle keep the file count and the
retained history bounded however long the run lasts.  The seed sets
every row, key and time-travel version.  The table is fresh for every
run, has a sticky checkpoint interval, and its DELETE and MERGE commits
write change-data files so that change-feed reads do not rebuild
pre-images.

The benchmark keeps its own model of the table: the live rows after
every retained version and the changes each commit made.  Reads are
checked exactly against it (row count, sum of ``n_chars`` and a digest
over doc id, ``n_chars`` and the text), change-feed reads by their
count per change type, and each commit by the version it returns.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter

import numpy as np
import pyarrow as pa

import checks
import datagen
from spans import Workload, dir_bytes, median

#: rows at creation / appended per append / per MERGE half / per DELETE
SIZES = {
    "full": {"create": 1000, "append": 100, "merge": 20, "delete": 20},
    "tiny": {"create": 60, "append": 10, "merge": 4, "delete": 4},
}
#: a checkpoint every third version: the first timed append is version 3
CHECKPOINT_INTERVAL = 3
KEEP_VERSIONS = 6
TARGET_SHARDS = 4
#: one cycle, in order.  Latest reads are the commonest op, as in a
#: read-mostly table; the change-feed read follows the MERGE and reads
#: exactly its change set.
CYCLE = ("append", "read_latest", "delete", "read_latest", "read_asof",
         "merge", "read_latest", "cdf", "compact", "vacuum")
#: ops run once before timing starts: the code paths whose first call
#: pays a one-time cost of seconds (the other ops cost about the same
#: cold as warm once these and the first write have run)
WARMUP = ("read_latest", "delete")
KINDS = ("append", "delete", "merge", "read_latest", "read_asof", "cdf",
         "compact", "vacuum")
WRITES = ("append", "delete", "merge")
READS = ("read_latest", "read_asof", "cdf")

LAYER = {}
for _k in KINDS:
    LAYER[f"lake.{_k}_s"] = "s"
    LAYER[f"lake.{_k}.driver_s"] = "s"
    LAYER[f"lake.{_k}.job_s"] = "s"
LAYER.update({
    "lake.write_p50_s": "s",
    "lake.read_p50_s": "s",
    "lake.checkpoint_s": "s",
    "lake.checkpoints": "count",
    "lake.versions": "count",
    "lake.live_files": "count",
    "lake.read_tasks": "count",
    "lake.bytes_written_per_user_byte": "ratio",
    "lake.table_bytes_per_user_byte": "ratio",
})


def _json_len(row: dict) -> int:
    return len(json.dumps(row, separators=(",", ":"))) + 1


class LakeMixed(Workload):
    def __init__(self, ctx):
        super().__init__(ctx)
        self.sizes = SIZES[ctx.scale]
        self.path = os.path.join(ctx.work, "lake", "docs")
        self.ops: list[tuple[str, float, dict | None]] = []
        self.checkpoints = 0
        self.live_files: list[int] = []
        self.written = 0
        self.user_bytes = 0

    # -- model -----------------------------------------------------------
    def _reset_model(self) -> None:
        self.rng = np.random.default_rng(self.ctx.seed)
        self.live: dict[int, tuple] = {}
        self.version = 0
        self.digests: dict[int, tuple] = {}
        self.changes: dict[int, Counter] = {}
        self.floor = 1
        self.next_id = 0

    def _rows(self, ids) -> tuple[dict, list]:
        cols = datagen.docs_rows(self.rng, ids)
        rows = [dict(zip(cols, vals)) for vals in zip(*cols.values())]
        return cols, rows

    def _commit(self, changes: Counter) -> None:
        self.version += 1
        self.digests[self.version] = checks.snapshot_digest(self.live)
        self.changes[self.version] = changes

    def _apply(self, rows) -> None:
        for r in rows:
            self.live[r["doc_id"]] = (
                r["n_chars"],
                checks.row_digest(r["doc_id"], r["n_chars"], r["text"]),
                _json_len(r),
            )

    # -- set-up ----------------------------------------------------------
    def generate(self, rep: int) -> None:
        self._reset_model()
        n = self.sizes["create"]
        self.create_cols, rows = self._rows(range(n))
        self.next_id = n
        self._apply(rows)

    def expect(self, rep: int) -> None:
        self.changes.clear()
        self._commit(Counter(insert=len(self.live)))

    def warmup(self) -> None:
        from pu4spark_spark.sources.lake.source import register_pyds

        register_pyds(self.spark)
        t = time.perf_counter()
        (
            self._frame(self.create_cols, TARGET_SHARDS)
            .write.format("jsonl_docs")
            .option("path", self.path)
            .option("checkpoint_interval", CHECKPOINT_INTERVAL)
            .mode("overwrite")
            .save()
        )
        print(f"warm-up create {time.perf_counter() - t:.3f}s", file=sys.stderr)
        for kind in WARMUP:
            _wall, reason = self._run(kind, record=False)
            if reason is not None:
                self.setup_failures += 1
                print(f"warm-up {kind} failed: {reason}", file=sys.stderr)

    def enough(self, i: int) -> bool:
        return i >= len(CYCLE)

    def _frame(self, cols: dict, partitions: int = 1):
        """The rows as a DataFrame; a small batch is one partition, so
        it lands as one shard."""
        from pu4spark_spark.sources.lake.protocol import DOCS_DDL

        return self.spark.createDataFrame(
            pa.table(cols).to_pandas(), schema=DOCS_DDL).coalesce(partitions)

    # -- ops -------------------------------------------------------------
    def op(self, i: int):
        self.label = CYCLE[i % len(CYCLE)]
        return self._run(self.label, record=True)

    def _run(self, kind: str, record: bool):
        import pu4spark_spark.sources.lake.checkpoint as ckpt

        before = self._files() if record and self.tracer.enabled else None
        wall, reason, trace = getattr(self, f"_{kind}")()
        if record:
            self.ops.append((kind, wall, trace and trace[0]))
            if trace is not None:
                after = self._files()
                new = [f for f, size in after.items() if before.get(f) != size]
                self.written += sum(after[f] for f in new)
                self.checkpoints += sum(
                    f.startswith(ckpt.CHECKPOINT_PREFIX) for f in new)
        return wall, reason

    def _files(self) -> dict:
        with os.scandir(self.path) as it:
            return {e.name: e.stat().st_size for e in it if e.is_file()}

    def _expect_version(self, got) -> str | None:
        if got != self.version:
            return f"commit returned version {got}, model is at {self.version}"
        return None

    def _append(self):
        n = self.sizes["append"]
        ids = range(self.next_id, self.next_id + n)
        self.next_id += n
        cols, rows = self._rows(ids)
        df = self._frame(cols)
        self.user_bytes += sum(_json_len(r) for r in rows)

        def call():
            df.write.format("jsonl_docs").option("path", self.path) \
                .mode("append").save()

        wall, _, trace = self.timed(call)
        self._apply(rows)
        self._commit(Counter(insert=n))
        return wall, None, trace

    def _delete(self):
        from pu4spark_spark.sources.lake.dml import delete_from_jsonl_dir

        keys = self.rng.choice(
            sorted(self.live), size=self.sizes["delete"], replace=False)
        keys_df = self.spark.createDataFrame(
            [(int(k),) for k in keys], "doc_id bigint").coalesce(1)
        wall, got, trace = self.timed(
            lambda: delete_from_jsonl_dir(
                self.path, keys_df, spark=self.spark, cdf=True))
        for k in keys:
            del self.live[int(k)]
        self._commit(Counter(delete=len(keys)))
        return wall, self._expect_version(got), trace

    def _merge(self):
        from pu4spark_spark.sources.lake.dml import merge_into_jsonl_dir

        m = self.sizes["merge"]
        old = self.rng.choice(sorted(self.live), size=m, replace=False)
        new = range(self.next_id, self.next_id + m)
        self.next_id += m
        cols, rows = self._rows([*old, *new])
        df = self._frame(cols)
        self.user_bytes += sum(_json_len(r) for r in rows)
        wall, got, trace = self.timed(
            lambda: merge_into_jsonl_dir(self.spark, df, self.path, cdf=True))
        self._apply(rows)
        self._commit(Counter(update_preimage=m, update_postimage=m, insert=m))
        return wall, self._expect_version(got), trace

    def _read(self, version: int | None):
        from pyspark.sql import functions as F

        reader = self.spark.read.format("jsonl_docs").option("path", self.path)
        if version is not None:
            reader = reader.option("version", version)
        digest = F.pmod(
            F.col("doc_id") * F.lit(checks.K_ID)
            + F.col("n_chars") * F.lit(checks.K_CHARS)
            + F.crc32(F.col("text")),
            F.lit(checks.P),
        )

        def call():
            return reader.load().agg(
                F.count(F.lit(1)), F.sum("n_chars"), F.sum(digest)
            ).collect()[0]

        wall, row, trace = self.timed(call)
        want = self.digests[version if version is not None else self.version]
        return wall, checks.check_lake_read(row, want), trace

    def _read_latest(self):
        return self._read(None)

    def _read_asof(self):
        return self._read(int(self.rng.integers(self.floor, self.version + 1)))

    def _cdf(self):
        from pu4spark_spark.sources.lake.cdf import table_changes_jsonl_dir

        start = self.version - 1

        def call():
            feed = table_changes_jsonl_dir(
                self.spark, self.path, starting_version=start)
            return feed.groupBy("_change_type").count().collect()

        wall, rows, trace = self.timed(call)
        want = Counter()
        for v in range(start + 1, self.version + 1):
            want.update(self.changes[v])
        got = {r[0]: r[1] for r in rows}
        return wall, checks.check_cdf(got, want), trace

    def _compact(self):
        from pu4spark_spark.sources.lake.maintenance import compact_jsonl_dir

        if self.tracer.enabled:
            self.live_files.append(self._num_files())
        wall, got, trace = self.timed(
            lambda: compact_jsonl_dir(self.spark, self.path, TARGET_SHARDS))
        self._commit(Counter())
        return wall, self._expect_version(got), trace

    def _vacuum(self):
        from pu4spark_spark.sources.lake.maintenance import vacuum_jsonl_dir

        wall, _, trace = self.timed(
            lambda: vacuum_jsonl_dir(
                self.path, keep_versions=KEEP_VERSIONS, stale_grace_s=0))
        self.floor = max(1, self.version - KEEP_VERSIONS + 1)
        return wall, None, trace

    def _num_files(self) -> int:
        from pu4spark_spark.sources.lake.maintenance import (
            describe_detail_jsonl_dir,
        )

        return int(describe_detail_jsonl_dir(self.spark, self.path)
                   .collect()[0]["num_files"])

    # -- results ---------------------------------------------------------
    def layer_metrics(self) -> dict:
        from pu4spark_spark.sources.lake.maintenance import (
            checkpoint_jsonl_dir,
            compact_jsonl_dir,
            vacuum_jsonl_dir,
        )

        out = {}
        for kind in KINDS:
            mine = [o for o in self.ops if o[0] == kind]
            out[f"lake.{kind}_s"] = median(o[1] for o in mine)
            traced = [o[2] for o in mine if o[2] is not None]
            out[f"lake.{kind}.driver_s"] = median(t["driver_s"] for t in traced)
            out[f"lake.{kind}.job_s"] = median(t["job_wall_s"] for t in traced)
        out["lake.write_p50_s"] = median(o[1] for o in self.ops if o[0] in WRITES)
        out["lake.read_p50_s"] = median(o[1] for o in self.ops if o[0] in READS)
        out["lake.checkpoints"] = self.checkpoints
        out["lake.versions"] = self.version
        out["lake.live_files"] = median(self.live_files)
        out["lake.read_tasks"] = median(
            o[2]["tasks"] for o in self.ops
            if o[0] in ("read_latest", "read_asof") and o[2] is not None)
        if self.user_bytes:
            out["lake.bytes_written_per_user_byte"] = self.written / self.user_bytes
        # appends checkpoint inside the writer's commit, in a Spark
        # Python worker the benchmark cannot wrap, so one checkpoint of
        # the final table is timed here instead
        compact_jsonl_dir(self.spark, self.path, TARGET_SHARDS)
        t = time.perf_counter()
        checkpoint_jsonl_dir(self.path)
        out["lake.checkpoint_s"] = time.perf_counter() - t
        # the table's footprint with no history retained
        vacuum_jsonl_dir(self.path, keep_versions=1, stale_grace_s=0)
        live_bytes = sum(v[2] for v in self.live.values())
        out["lake.table_bytes_per_user_byte"] = dir_bytes(self.path) / live_bytes
        return out
