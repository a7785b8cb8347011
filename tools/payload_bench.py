"""Columnar-payload evidence (VERDICT r13 next #1 "SCALING row
showing the projection win on a wide-schema fixture"): build ONE
wide table (24 value columns × N rows) in BOTH shard payloads under
the same manifest protocol, then time two reads through the engine —
a 2-column projected aggregate (the shape a 100 TB pipeline runs all
day) and a full-width aggregate — best-of-3 each, warmed once.

The jsonl payload must parse every row's full JSON regardless of the
projection; the parquet payload reads only the projected columns'
pages and streams arrow RecordBatches with zero per-row Python.

Usage: python tools/payload_bench.py [rows]   (default 200_000)
Prints one JSON line; paste the table into SCALING.md §payload.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pu4spark_spark.session import get_spark  # noqa: E402
from pu4spark_spark.sources.lake.source import register_pyds  # noqa: E402

N_VALUE_COLS = 24


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark(app_name="payload_bench")
    spark.sparkContext.setLogLevel("ERROR")
    register_pyds(spark)
    base = tempfile.mkdtemp(prefix="pu4spark_payload_bench_")
    cols = [
        f"cast(id * {j + 3} % 1000 as bigint) as c{j}"
        for j in range(N_VALUE_COLS)
    ]
    wide = spark.range(rows).selectExpr(
        "id as doc_id", *cols, "repeat('x', 64) as pad"
    )
    dirs = {}
    sizes = {}
    for fmt in ("jsonl", "parquet"):
        out = os.path.join(base, fmt)
        (
            wide.repartition(8, "doc_id")
            .write.format("jsonl_docs")
            .option("path", out)
            .option("payload_format", fmt)
            .mode("overwrite")
            .save()
        )
        dirs[fmt] = out
        sizes[fmt] = sum(
            os.path.getsize(os.path.join(out, f))
            for f in os.listdir(out)
            if not f.startswith("_")
        )

    def timed(fmt: str, narrow: bool) -> float:
        r = spark.read.format("jsonl_docs").option("path", dirs[fmt])
        if narrow:
            # Spark 4.1's Python DataSource API has no Catalyst column
            # pruning, so projection must be declared at the SOURCE:
            # option("columns") narrows the served schema itself — the
            # parquet payload then reads only those columns' pages
            r = r.option("columns", "c1,c7")
        df = r.load()
        if narrow:
            q = df.selectExpr("sum(c1) as s1", "sum(c7) as s7")
        else:
            q = df.selectExpr(
                *[f"sum(c{j}) as s{j}" for j in range(N_VALUE_COLS)]
            )
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            q.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return round(best, 3)

    # warm the python workers / JIT once
    timed("parquet", True)
    out = {
        "rows": rows,
        "value_cols": N_VALUE_COLS,
        "bytes_jsonl": sizes["jsonl"],
        "bytes_parquet": sizes["parquet"],
        "narrow_2col_jsonl_sec": timed("jsonl", True),
        "narrow_2col_parquet_sec": timed("parquet", True),
        "full_width_jsonl_sec": timed("jsonl", False),
        "full_width_parquet_sec": timed("parquet", False),
    }
    out["narrow_speedup"] = round(
        out["narrow_2col_jsonl_sec"] / out["narrow_2col_parquet_sec"], 2
    )
    out["full_speedup"] = round(
        out["full_width_jsonl_sec"] / out["full_width_parquet_sec"], 2
    )
    out["size_ratio"] = round(
        out["bytes_jsonl"] / out["bytes_parquet"], 2
    )
    shutil.rmtree(base, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
