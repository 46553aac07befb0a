"""Streaming pipeline wrapper (reference process_stream,
ingest_transform.py:338-392, rebuilt).

Differences from the reference, by design (SURVEY.md §3.2 defects):

- run metrics come from ``df.observe``, summed over the micro-batches of
  ``query.recentProgress`` — the reference's post-hoc ``.agg().collect()``
  on a streaming DF is unsupported and silently broken;
- the watermark actually bounds state here (it feeds
  dropDuplicatesWithinWatermark and the stream-stream join); in the
  reference it was inert;
- bounded runs use ``trigger(availableNow=True)`` for deterministic tests
  and backfills instead of only wall-clock ``awaitTermination``.

All transform stages are the same batch operators from
``operators.transform`` — they're Column-expression-only, so they run
unchanged under a streaming plan.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.functions.temporal import WATERMARK_DELAY
from autonomous_orchestrator_ai_spark.operators.report import report_metric_columns
from autonomous_orchestrator_ai_spark.operators.transform import enrich_customer_events

OBSERVATION_NAME = "run_stats"

#: second observation channel: the trained-classifier curation score
#: (sum + count ride each micro-batch so the cross-batch MEAN is exact)
QUALITY_OBSERVATION = "quality_stats"


def with_quality_score(
    df: DataFrame,
    weights: dict[int, float],
    text_col: str = "name",
    score_col: str = "quality_score",
    n_buckets: int | None = None,
    bias: float = 0.0,
) -> DataFrame:
    """Curation-scoring stage for the bounded-stream tick (r7, VERDICT r6
    item 8): score each record with the trained classifier's weight table
    via the STATELESS per-row form (operators.classify.trained_score_expr
    — the model is a bounded constant embedded as two parsed array
    literals, so building the stage costs the same driver time whatever
    the model size, and it is a map-only stage: no shuffle, no state,
    append-mode-safe, rides the same micro-batch the DQ flags do) and
    observe (n, score_sum) so the run report carries the exact
    cross-batch mean."""
    from autonomous_orchestrator_ai_spark.operators.classify import (
        TRAIN_BUCKETS,
        trained_score_expr,
    )

    scored = df.withColumn(
        score_col,
        trained_score_expr(
            text_col, weights, n_buckets or TRAIN_BUCKETS, bias
        ),
    )
    return scored.observe(
        QUALITY_OBSERVATION,
        F.count(score_col).alias("quality_n"),
        F.sum(score_col).alias("quality_score_sum"),
    )


def streaming_enrich(
    parsed: DataFrame,
    watermark_delay: str = WATERMARK_DELAY,
    processing_time: Column | None = None,
) -> DataFrame:
    """parse-output -> watermark -> full enrichment chain (T1 + F1-F5 +
    P3-P9). Watermark is applied on event_timestamp right after it exists,
    mirroring ingest_transform.py:349-350 but *before* stateful ops so it
    actually bounds their state."""
    enriched = enrich_customer_events(parsed, processing_time=processing_time)
    return enriched.withWatermark("event_timestamp", watermark_delay)


def with_run_observation(df: DataFrame) -> DataFrame:
    """Attach the A1 run-report metrics as an Observation (streaming-safe:
    metrics ride each micro-batch, no extra job)."""
    return df.observe(OBSERVATION_NAME, *report_metric_columns())


def stream_dedup(enriched: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Stateful streaming dedup bounded by the watermark (T7):
    dropDuplicatesWithinWatermark on the event id."""
    return enriched.dropDuplicatesWithinWatermark(keys or ["id"])


def _await_bounded(query, checkpoint: str, timeout_seconds: float | None) -> None:
    """Wait for an availableNow query to drain its backlog. A run still
    active after ``timeout_seconds`` is stopped and raises TimeoutError:
    a bounded run either finishes or fails, never hands back the totals
    of a partial backlog. The checkpoint keeps the committed batches, so
    a re-run on it resumes where the stopped one ended."""
    query.awaitTermination(timeout_seconds)
    if query.isActive:
        query.stop()
        raise TimeoutError(
            f"bounded streaming run on checkpoint {checkpoint} did not "
            f"finish within {timeout_seconds} s"
        )


def run_bounded(
    df: DataFrame,
    sink_path: str,
    checkpoint: str,
    partition_by: list[str] = (),
    output_mode: str = "append",
    timeout_seconds: float | None = None,
) -> dict:
    """Bounded streaming run (T6): availableNow trigger processes the whole
    backlog then stops — the deterministic twin of the reference's
    ``awaitTermination(duration*60)`` wall-clock runs. Returns the run
    stats summed over the query's progress reports; raises TimeoutError
    if the backlog is not drained within ``timeout_seconds``."""
    writer = (
        df.writeStream.format("parquet")
        .outputMode(output_mode)
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    query = writer.start()
    _await_bounded(query, checkpoint, timeout_seconds)
    # recentProgress is synchronous post-termination (listener events are
    # delivered on a separate thread and may lag a bounded run's end)
    totals = {k: 0 for k in ("total_records", "late_records", "dq_failures", "schema_drift_count")}
    qual_n, qual_sum = 0, 0.0
    for progress in query.recentProgress:
        doc = json.loads(progress.json)  # StreamingQueryProgress: attr access is restricted
        observed = doc.get("observedMetrics") or {}
        metrics = observed.get(OBSERVATION_NAME)
        if metrics:
            for k in totals:
                totals[k] += int(metrics.get(k, 0) or 0)
        q = observed.get(QUALITY_OBSERVATION)
        if q:
            qual_n += int(q.get("quality_n", 0) or 0)
            qual_sum += float(q.get("quality_score_sum", 0.0) or 0.0)
    if qual_n:  # the quality stage is optional — keys appear only when it ran
        totals["quality_scored_records"] = qual_n
        totals["quality_mean_score"] = qual_sum / qual_n
    return totals


def incremental_dedup_sink(
    docs_stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    timeout_seconds: float | None = None,
) -> None:
    """Streaming corpus dedup: T4 (foreachBatch) composed with the
    continuous-ingestion dedup operators (operators/curation.py). Each
    micro-batch is anti-joined against the on-disk fingerprint index;
    survivors append to the corpus sink and their fingerprints advance the
    index, so duplicates are dropped across batches, runs, and restarts.

    The survivors frame is ``localCheckpoint``-materialized before either
    write: both sinks read it without re-reading ``index_path``, which the
    second write is itself appending to (reading and writing one path in a
    single plan is undefined). Replays of committed batches are no-ops by
    construction (their fingerprints are indexed, the anti-join drops
    everything); the residual at-least-once window is a crash between the
    two appends — at scale, put the index in a transactional table format
    and MERGE both writes atomically.
    """
    from autonomous_orchestrator_ai_spark.operators.curation import (
        dedup_batch_against_index,
    )

    def dedup_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        try:
            index = spark.read.parquet(index_path)
        except Exception:  # first batch: no index yet
            index = spark.createDataFrame([], "fp string")
        kept = dedup_batch_against_index(
            batch_df, index, text_col, id_col
        ).localCheckpoint()
        kept.drop("fp").write.mode("append").parquet(out_path)
        kept.select("fp").write.mode("append").parquet(index_path)

    run_foreach_batch(docs_stream, dedup_batch, checkpoint, timeout_seconds)


def run_foreach_batch(
    df: DataFrame,
    batch_fn,
    checkpoint: str,
    timeout_seconds: float | None = None,
) -> None:
    """foreachBatch sink (T4/S5) under an availableNow bounded run;
    raises TimeoutError if the backlog is not drained within
    ``timeout_seconds``."""
    query = (
        df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(query, checkpoint, timeout_seconds)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "30 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: pair each left row with right rows
    of the same ``key`` whose timestamp lands in [left_ts, left_ts +
    ``within``] (the view→click attribution shape).

    Both sides carry a watermark AND the join condition bounds the time
    range — that pair is what lets Spark expire join state instead of
    buffering both streams forever; without it a stream-stream join is an
    unbounded-memory plan. State size is O(events inside watermark +
    ``within``), independent of total stream length. Output columns:
    ``key``, ``left_ts``, ``right_ts`` plus disambiguated left_/right_
    copies of remaining columns."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}"))
    )
    joined = l.join(r, cond, how)
    keep = [
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{left_ts}").alias(left_ts),
        F.col(f"r.{right_ts}").alias(right_ts),
    ]
    for side, df_, ts in (("left", left, left_ts), ("right", right, right_ts)):
        for c in df_.columns:
            if c not in (key, left_ts, right_ts):
                keep.append(
                    F.col(f"{side[0]}.{c}").alias(f"{side}_{c}")
                )
    return joined.select(*keep)


def bucketed_upsert_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    key_cols: list[str],
    seq_col: str,
    n_buckets: int = 64,
    timeout_seconds: float | None = None,
    staging_dir: str | None = None,
) -> None:
    """Streaming SCD-1 upsert (latest-wins MERGE) with bucket-pruned
    rewrites — the keyed-table complement of ``incremental_dedup_sink``.

    The table lives at ``table_path`` hash-partitioned by
    ``__bucket = pmod(xxhash64(keys), n_buckets)``. Each micro-batch:

    1. collapses itself to one row per key (highest ``seq_col`` wins,
       batch rows out-rank existing rows on ties);
    2. computes the distinct buckets it touches (≤ ``n_buckets`` values —
       a driver-side collect of a tiny aggregate);
    3. reads ONLY those partitions back (partition pruning on the filter),
       merges, and dynamic-partition-overwrites exactly those buckets.

    Per-batch cost is O(affected buckets), not O(table) — at 100 TB with
    well-spread keys a micro-batch touching 1k keys rewrites ~1k/64ths of
    nothing: each bucket is table_size/n_buckets, so size ``n_buckets``
    for bucket ≈ a few GB. Dynamic partition overwrite is atomic only
    per-partition on plain parquet; a crash mid-commit can leave a mix of
    old/new buckets (each internally consistent). A transactional table
    format gives the cross-partition commit; the dataflow stays identical.

    Table existence is decided by an explicit committed-data probe
    (directory exists AND holds a non-hidden entry — never by catching
    read/union errors): a drifted batch schema or a transient storage
    failure fails the micro-batch loudly — Structured Streaming retries
    it — instead of being mistaken for "first batch" and
    dynamic-overwriting live buckets with batch-only rows; a crashed
    first write's ``_temporary`` husk still counts as "no table".

    Durability: the merged result must be materialized before the
    overwrite deletes the partitions it was read from. The default uses
    ``localCheckpoint`` — blocks live on executor-local storage with
    truncated lineage, so losing an executor between materialization and
    the write (e.g. dynamic-allocation scale-in) fails the batch; the
    parquet commit is job-atomic and replay repairs, so this is an
    availability gap, not corruption. For long-running deployments pass
    ``staging_dir``: the merge is staged to reliable storage and re-read,
    surviving executor loss at the cost of one extra write.
    """

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        bucket = F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")
        incoming = batch_df.withColumn("__bucket", bucket).withColumn(
            "__prio", F.lit(1)
        )
        affected = [
            r[0] for r in incoming.select("__bucket").distinct().collect()
        ]
        if _table_has_data(spark, table_path):
            current = (
                spark.read.parquet(table_path)
                .filter(F.col("__bucket").isin(affected))
                .withColumn("__prio", F.lit(0))
            )
            # outside any guard: a schema-drifted batch fails the union
            # (and the micro-batch) instead of silently dropping `current`
            merged_in = incoming.unionByName(current)
        else:  # first batch: table doesn't exist yet
            merged_in = incoming
        w = Window.partitionBy(*key_cols).orderBy(
            F.desc(seq_col), F.desc("__prio")
        )
        merged = (
            merged_in.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__prio")
        )
        # the upsert read-modify-writes the same path: materialize before
        # the overwrite drops the partitions being read
        stage = None
        if staging_dir is not None:
            stage = f"{staging_dir.rstrip('/')}/epoch={epoch_id}"
            merged.write.mode("overwrite").parquet(stage)
            merged = spark.read.parquet(stage)
        else:
            merged = merged.localCheckpoint()
        # mode=overwrite + the per-write dynamic partitionOverwriteMode
        # option replaces only the buckets present in `merged` (and creates
        # the table on the first batch); committed-epoch replays rewrite the
        # same buckets to the same state, so the sink is idempotent. The
        # per-write option takes precedence over the session conf, so
        # concurrent writers on this SparkSession are unaffected.
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(table_path)
        )
        if stage is not None:
            # the table write committed; the staged copy is now redundant —
            # delete it so staging retention stays O(1) epochs (a crash
            # between the two leaves at most this one epoch dir, which the
            # replay's mode=overwrite stage write reclaims)
            _hadoop_delete(spark, stage)

    run_foreach_batch(stream, merge_batch, checkpoint, timeout_seconds)


def _hadoop_fs(spark, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _table_has_data(spark, path: str) -> bool:
    """True iff ``path`` holds committed table data: the directory exists
    AND contains at least one non-hidden entry (partition dir or data
    file). A bare ``exists`` probe would mistake the husk a crashed first
    write leaves behind (only ``_temporary``/``_SUCCESS``) for a real
    table and wedge every retry on an unreadable read."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return False
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        # same exemption as Spark's file index: an '='-bearing name is a
        # partition directory even when the column starts with '_'
        # (this table's partition dirs are literally `__bucket=N`)
        if "=" in name or not (name.startswith("_") or name.startswith(".")):
            return True
    return False


def _hadoop_delete(spark, path: str) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def read_upsert_table(spark, table_path: str) -> DataFrame:
    """Current state of a ``bucketed_upsert_sink`` table (drops the
    bucketing column)."""
    return spark.read.parquet(table_path).drop("__bucket")


ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def rocksdb_state_conf(
    changelog_checkpointing: bool = True,
) -> dict[str, str]:
    """Session conf for RocksDB-backed streaming state — the 100 TB
    requirement for stateful streaming (SURVEY.md §7.4 'Streaming state
    at 100 TB'): the default HDFS-backed store keeps every key in
    executor HEAP memory, so watermark/window/dedup state is bounded by
    the JVM; RocksDB holds it off-heap on local disk with incremental
    (changelog) checkpointing, bounding memory regardless of key
    cardinality. Apply via ``get_spark(extra_conf=rocksdb_state_conf())``
    (the provider must be set before the streaming query starts).

    ``changelog_checkpointing`` uploads per-batch changelogs instead of
    full RocksDB snapshots — the steady-state checkpoint cost becomes
    proportional to the batch's CHANGED keys, not total state size."""
    conf = {"spark.sql.streaming.stateStore.providerClass":
            ROCKSDB_STATE_PROVIDER}
    if changelog_checkpointing:
        conf[
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        ] = "true"
    return conf
