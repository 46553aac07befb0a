"""Streaming<->batch parity at sf1 under the RocksDB state store
(VERDICT r4 item 5): the bit-parity sweep tests/test_stream_batch_parity.py
runs at sf0.001 on the default (HDFS/heap) provider; this harness re-runs
the stateful cores — windowed aggregations and streaming dedup — at sf1
(~1M events) with ``rocksdb_state_conf()`` applied, asserts exact
equality against the batch plans over the same files, and records the
state-store metrics (state rows vs memory used) that back PERF.md's
"streaming state at 100 TB" sizing table.

Usage: python tools/parity_sf1.py [SF_DIR] [--out PARITY_sf1.json]
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import uuid
from pathlib import Path

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

_DEC = "decimal(18,4)"


def _cores():
    """name -> (output_mode, core_fn). Stateful cores only — the point is
    the state store, not stateless projections (those are covered at
    sf0.001 in the pytest sweep)."""

    def tumbling_daily(df):
        return df.groupBy(
            F.window("ts", "1 day").alias("win"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(_DEC)).alias("sum_value"),
        )

    def sliding_6h(df):
        return df.groupBy(
            F.window("ts", "6 hours", "3 hours").alias("win")
        ).agg(F.count(F.lit(1)).alias("n"))

    def user_minmax(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )

    def stream_dedup(df):
        # stateful streaming dedup: one state row PER DISTINCT KEY — the
        # core whose state grows with the corpus, i.e. the reason RocksDB
        # (off-heap, disk-backed) is the 100 TB configuration
        return df.dropDuplicates(["event_id"]).select("event_id", "event_type")

    return {
        "tumbling_daily": ("complete", tumbling_daily),
        "sliding_6h": ("complete", sliding_6h),
        "user_minmax": ("complete", user_minmax),
        "stream_dedup": ("append", stream_dedup),
    }


def _canon(df):
    return sorted(tuple(str(v) for v in row) for row in df.collect())


def _state_metrics(progresses) -> dict:
    """Fold a query's progress events into peak state metrics."""
    out = {"state_rows": 0, "state_memory_bytes": 0, "provider": None}
    for p in progresses:
        for op in p.get("stateOperators", []):
            out["state_rows"] = max(out["state_rows"], op.get("numRowsTotal", 0))
            out["state_memory_bytes"] = max(
                out["state_memory_bytes"], op.get("memoryUsedBytes", 0)
            )
            cm = op.get("customMetrics", {})
            if any(k.startswith("rocksdb") for k in cm):
                out["provider"] = "rocksdb"
                for src_key, dst_key in (
                    ("rocksdbTotalMemoryUsage", "rocksdb_total_memory_bytes"),
                    ("rocksdbSstFileSize", "rocksdb_sst_file_bytes"),
                    ("rocksdbPinnedBlocksMemoryUsage", "rocksdb_pinned_block_bytes"),
                    ("rocksdbTotalBytesWritten", "rocksdb_bytes_written"),
                ):
                    if src_key in cm:
                        out[dst_key] = max(out.get(dst_key, 0), cm[src_key])
    return out


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("sf_dir", nargs="?", default=".scale/sf1")
    parser.add_argument("--out", default="PARITY_sf1.json")
    ns = parser.parse_args()

    from autonomous_orchestrator_ai_spark.plans.registry import table
    from autonomous_orchestrator_ai_spark.session import get_spark
    from autonomous_orchestrator_ai_spark.streaming.pipeline import (
        ROCKSDB_STATE_PROVIDER,
        rocksdb_state_conf,
    )

    spark = get_spark("parity-sf1", extra_conf=rocksdb_state_conf())
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == ROCKSDB_STATE_PROVIDER
    )

    work = Path(tempfile.mkdtemp(prefix="parity_sf1_"))
    # materialize once via registry.table (normalizes nanos timestamps)
    # so batch and stream read byte-identical files
    src = str(work / "events")
    table(spark, ns.sf_dir, "events").write.parquet(src)
    src_schema = spark.read.parquet(src).schema
    n_events = spark.read.parquet(src).count()

    results: dict[str, dict] = {}
    ok = True

    for name, (mode, core) in _cores().items():
        batch = _canon(core(spark.read.parquet(src)))
        sdf = spark.readStream.schema(src_schema).parquet(src)
        out = core(sdf)
        if mode == "append":
            outdir, ck = str(work / f"{name}_out"), str(work / f"{name}_ck")
            q = (
                out.writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            stream = _canon(spark.read.schema(out.schema).parquet(outdir))
        else:
            qname = f"parity_{uuid.uuid4().hex[:8]}"
            q = (
                out.writeStream.format("memory")
                .queryName(qname)
                .outputMode("complete")
                .option("checkpointLocation", str(work / f"{name}_ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            stream = _canon(spark.table(qname))
        metrics = _state_metrics(
            [json.loads(p.json) for p in q.recentProgress]
        )
        match = batch == stream
        ok &= match
        results[name] = {
            "parity": "exact" if match else "MISMATCH",
            "batch_rows": len(batch),
            "stream_rows": len(stream),
            **metrics,
        }
        print(f"{'OK  ' if match else 'FAIL'} {name}: {results[name]}")

    artifact = {
        "harness": "tools/parity_sf1.py (availableNow file streaming, "
        "RocksDB state store + changelog checkpointing, local[16])",
        "sf_dir": ns.sf_dir,
        "n_events": n_events,
        "cores": results,
    }
    Path(ns.out).write_text(json.dumps(artifact, indent=2) + "\n")
    print(json.dumps({"ok": ok, "out": ns.out}))
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
