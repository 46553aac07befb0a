"""Persisted LSH index (operators/ann_index.py): result parity with the
inline operator + partition pruning of probes."""

from pyspark.sql import functions as F

from autonomous_orchestrator_ai_spark.operators.ann_index import (
    build_lsh_index,
    query_lsh_index,
)
from autonomous_orchestrator_ai_spark.operators.similarity import (
    lsh_bucketed_topk,
)
from autonomous_orchestrator_ai_spark.plans.registry import table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim, r.rank) for r in df.collect()
    )


class TestLshIndex:
    def test_index_probe_matches_inline_operator(self, spark, tmp_path):
        emb = table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        path = str(tmp_path / "lsh_index")
        build_lsh_index(emb, path, n_planes=4, n_tables=4, dim=64)
        via_index = query_lsh_index(
            spark, path, queries, k=5, n_planes=4, n_tables=4, dim=64
        )
        inline = lsh_bucketed_topk(
            emb, queries, k=5, n_planes=4, n_tables=4, dim=64
        )
        assert _rows(via_index) == _rows(inline)

    def test_probe_scan_is_partition_pruned(self, spark, tmp_path):
        emb = table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 2)
        path = str(tmp_path / "lsh_index")
        build_lsh_index(emb, path, n_planes=4, n_tables=2, dim=64)
        probed = query_lsh_index(
            spark, path, queries, k=3, n_planes=4, n_tables=2, dim=64
        )
        plan = probed._jdf.queryExecution().executedPlan().toString()
        # the scan carries partition filters on the bucket columns...
        assert "PartitionFilters: [" in plan
        assert "table_id" in plan.split("PartitionFilters:")[1][:500]
        # ...and reads fewer partition dirs than the index holds
        import re

        m = re.search(r"partition count: (\d+)", plan)
        if m:  # spark prints this for pruned in-memory file indexes
            total = (
                spark.read.parquet(path)
                .select("table_id", "bucket")
                .distinct()
                .count()
            )
            assert int(m.group(1)) < total

    def test_index_layout_is_bucket_partitioned(self, spark, tmp_path):
        import os

        emb = table(spark, SF, "embeddings")
        path = str(tmp_path / "lsh_index")
        build_lsh_index(emb, path, n_planes=2, n_tables=2, dim=64)
        tables = {
            d for d in os.listdir(path) if d.startswith("table_id=")
        }
        assert tables == {"table_id=0", "table_id=1"}
        buckets = {
            b
            for t in tables
            for b in os.listdir(os.path.join(path, t))
            if b.startswith("bucket=")
        }
        assert buckets  # 2 planes -> up to 4 buckets per table
        assert all(0 <= int(b.split("=")[1]) < 4 for b in buckets)


class TestIncrementalAppend:
    def test_appended_vectors_are_findable_and_old_files_untouched(
        self, spark, tmp_path
    ):
        import os

        from autonomous_orchestrator_ai_spark.operators.ann_index import (
            append_to_lsh_index,
        )

        emb = table(spark, SF, "embeddings")
        base = emb.filter(F.col("vec_id") < 400)
        extra = emb.filter(F.col("vec_id") >= 400)
        path = str(tmp_path / "idx")
        build_lsh_index(base, path, n_planes=4, n_tables=2, dim=64)
        mtimes = {}
        for root, _d, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    mtimes[p] = os.path.getmtime(p)

        append_to_lsh_index(extra, path, batch_id=1, n_planes=4, n_tables=2, dim=64)
        # every original file still present and unmodified (append never
        # rewrites existing partitions)
        for p, m in mtimes.items():
            assert os.path.exists(p) and os.path.getmtime(p) == m

        # index now equals a from-scratch build over the full corpus
        queries = emb.filter(F.col("vec_id") < 5)
        incremental = query_lsh_index(
            spark, path, queries, k=5, n_planes=4, n_tables=2, dim=64
        )
        full_path = str(tmp_path / "idx_full")
        build_lsh_index(emb, full_path, n_planes=4, n_tables=2, dim=64)
        full = query_lsh_index(
            spark, full_path, queries, k=5, n_planes=4, n_tables=2, dim=64
        )
        assert _rows(incremental) == _rows(full)


def test_query_with_empty_batch_returns_empty(spark, tmp_path):
    emb = table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_lsh_index(emb, path, n_planes=2, n_tables=2, dim=64)
    none = emb.filter(F.col("vec_id") < 0)
    out = query_lsh_index(spark, path, none, k=3, n_planes=2, n_tables=2, dim=64)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "neighbor_id", "cosine_sim", "rank"}


def test_streaming_index_maintenance_via_foreach_batch(spark, tmp_path):
    """append_to_lsh_index wired as a streaming foreachBatch sink: the
    index stays queryable and complete as vector batches arrive."""
    import json as _json

    from autonomous_orchestrator_ai_spark.operators.ann_index import (
        append_to_lsh_index,
    )
    from autonomous_orchestrator_ai_spark.streaming.pipeline import (
        run_foreach_batch,
    )

    emb = table(spark, SF, "embeddings")
    rows = emb.limit(200).collect()
    in_dir = tmp_path / "vec_in"
    in_dir.mkdir()
    for i, chunk in enumerate([rows[:100], rows[100:]]):
        (in_dir / f"b{i}.jsonl").write_text(
            "\n".join(
                _json.dumps({"vec_id": r.vec_id, "embedding": list(r.embedding)})
                for r in chunk
            )
        )
    path = str(tmp_path / "idx")
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    run_foreach_batch(
        stream,
        lambda batch, epoch: append_to_lsh_index(
            batch, path, batch_id=epoch, n_planes=4, n_tables=2, dim=64
        ),
        str(tmp_path / "ckpt"),
        timeout_seconds=180,
    )
    # index holds every vector once per hash table
    idx = spark.read.parquet(path)
    assert idx.count() == 200 * 2
    # and answers identically to a batch-built index over the same rows
    base = emb.filter(F.col("vec_id").isin([r.vec_id for r in rows]))
    queries = base.filter(F.col("vec_id") < 5)
    streamed = query_lsh_index(spark, path, queries, k=3, n_planes=4, n_tables=2, dim=64)
    batch_path = str(tmp_path / "idx_batch")
    build_lsh_index(base, batch_path, n_planes=4, n_tables=2, dim=64)
    batch = query_lsh_index(spark, batch_path, queries, k=3, n_planes=4, n_tables=2, dim=64)
    assert _rows(streamed) == _rows(batch)


def test_append_replay_is_idempotent_and_family_checked(spark, tmp_path):
    from autonomous_orchestrator_ai_spark.operators.ann_index import (
        append_to_lsh_index,
    )

    emb = table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") < 100)
    extra = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    path = str(tmp_path / "idx")
    build_lsh_index(base, path, n_planes=4, n_tables=2, dim=64)
    append_to_lsh_index(extra, path, batch_id=0, n_planes=4, n_tables=2, dim=64)
    n1 = spark.read.parquet(path).count()
    # replaying the SAME batch (at-least-once foreachBatch) changes nothing
    append_to_lsh_index(extra, path, batch_id=0, n_planes=4, n_tables=2, dim=64)
    assert spark.read.parquet(path).count() == n1 == 150 * 2

    # a mismatched hash family is rejected instead of corrupting the index
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash-family mismatch"):
        append_to_lsh_index(extra, path, batch_id=1, n_planes=8, n_tables=2, dim=64)

    # negative batch ids are reserved for the base build — an append at -1
    # would dynamic-overwrite (delete) base partitions
    with _pytest.raises(ValueError, match="batch_id must be >= 0"):
        append_to_lsh_index(extra, path, batch_id=-1, n_planes=4, n_tables=2, dim=64)


def test_corrupt_meta_fails_loudly(spark, tmp_path):
    """An unparseable/empty meta dir must raise, not silently disable the
    hash-family guard (the guard exists exactly for that failure mode)."""
    import pytest as _pytest

    from autonomous_orchestrator_ai_spark.operators.ann_index import (
        append_to_lsh_index,
    )

    emb = table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "idx")
    build_lsh_index(base, path, n_planes=4, n_tables=2, dim=64)
    # corrupt the meta: blank out every json part file
    import pathlib

    meta = pathlib.Path(path) / "_lsh_index_meta"
    for p in meta.glob("*.json"):
        p.write_text("not json at all {{{")
    with _pytest.raises(ValueError, match="could not be read or parsed"):
        append_to_lsh_index(
            emb.filter(F.col("vec_id") >= 20),
            path,
            batch_id=0,
            n_planes=4,
            n_tables=2,
            dim=64,
        )
    # a genuinely MISSING meta dir (pre-metadata index) still passes
    for p in meta.glob("*"):
        p.unlink()
    meta.rmdir()
    append_to_lsh_index(
        emb.filter(F.col("vec_id") >= 20),
        path,
        batch_id=0,
        n_planes=4,
        n_tables=2,
        dim=64,
    )


def test_preloaded_index_handle_matches_fresh_read(spark, tmp_path):
    """Serving contract: a load_lsh_index handle passed as index_df gives
    byte-identical results to a per-call fresh read — the handle exists
    purely to amortize partition discovery across repeated probes."""
    from autonomous_orchestrator_ai_spark.operators.ann_index import (
        load_lsh_index,
    )

    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "lsh_index")
    build_lsh_index(emb, path, n_planes=4, n_tables=4, dim=64)
    handle = load_lsh_index(spark, path)
    preloaded = query_lsh_index(
        spark, path, queries, k=5, n_planes=4, n_tables=4, dim=64,
        index_df=handle,
    )
    fresh = query_lsh_index(
        spark, path, queries, k=5, n_planes=4, n_tables=4, dim=64
    )
    assert _rows(preloaded) == _rows(fresh)
    # the handle is reusable across probe batches
    q2 = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    again = query_lsh_index(
        spark, path, q2, k=3, n_planes=4, n_tables=4, dim=64,
        index_df=handle,
    )
    assert len(_rows(again)) > 0


# ---------------------------------------------------------------------------
# Bucket manifest (the metastore-catalog stand-in)
# ---------------------------------------------------------------------------

from autonomous_orchestrator_ai_spark.operators.ann_index import (  # noqa: E402
    append_to_lsh_index,
    load_lsh_index,
    read_lsh_manifest,
)


def _manifest_totals(spark, path):
    m = read_lsh_manifest(spark, path)
    assert m is not None
    return sorted(
        (r["table_id"], r["bucket"], r["__batch"], r["n_rows"])
        for r in m.collect()
    )


def test_manifest_matches_data_and_survives_append_replay(spark, tmp_path):
    emb = table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") < 80)
    batch = emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 100))
    path = str(tmp_path / "lsh_index")
    build_lsh_index(base, path, n_planes=4, n_tables=2, dim=64)

    def data_counts():
        return sorted(
            (r["table_id"], r["bucket"], r["__batch"], r["n"])
            for r in load_lsh_index(spark, path)
            .groupBy("table_id", "bucket", "__batch")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    assert _manifest_totals(spark, path) == data_counts()
    append_to_lsh_index(batch, path, batch_id=0, n_planes=4, n_tables=2, dim=64)
    after_append = _manifest_totals(spark, path)
    assert after_append == data_counts()
    # replaying the same batch leaves data AND manifest identical
    append_to_lsh_index(batch, path, batch_id=0, n_planes=4, n_tables=2, dim=64)
    assert _manifest_totals(spark, path) == after_append == data_counts()


def test_cold_probe_via_manifest_matches_handle_path(spark, tmp_path):
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 6)
    path = str(tmp_path / "lsh_index")
    build_lsh_index(emb, path, n_planes=4, n_tables=2, dim=64)
    cold = query_lsh_index(  # no index_df -> manifest fast path
        spark, path, queries, k=4, n_planes=4, n_tables=2, dim=64
    )
    handle = query_lsh_index(
        spark, path, queries, k=4, n_planes=4, n_tables=2, dim=64,
        index_df=load_lsh_index(spark, path),
    )
    assert _rows(cold) == _rows(handle)
    # and the manifest exists (i.e. the fast path was available)
    assert read_lsh_manifest(spark, path) is not None


def test_probe_of_dead_buckets_returns_typed_empty(spark, tmp_path):
    emb = table(spark, SF, "embeddings")
    # index only vec 0; probe with a far-away query whose buckets are
    # unlikely to all collide -> may hit zero live partitions; either way
    # the call must not crash and must return the contract schema
    base = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "lsh_index")
    build_lsh_index(base, path, n_planes=8, n_tables=1, dim=64)
    queries = emb.filter(F.col("vec_id") == 1)
    out = query_lsh_index(
        spark, path, queries, k=3, n_planes=8, n_tables=1, dim=64,
        multiprobe_bits=0,
    )
    assert out.columns == ["query_id", "neighbor_id", "cosine_sim", "rank"]
    out.collect()  # executes without error regardless of bucket overlap
    # certain hit vs certain miss: the base vector finds itself; its
    # negation flips every sign bit, so its one probed bucket is never
    # live and the cold manifest path returns the typed empty result
    kw = dict(
        k=3, n_planes=8, n_tables=1, dim=64, multiprobe_bits=0,
        exclude_self=False,
    )
    hit = query_lsh_index(spark, path, base, **kw)
    assert hit.count() == 1
    negated = base.select(
        (F.col("vec_id") + 1).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    dead = query_lsh_index(spark, path, negated, **kw)
    assert dead.count() == 0
    assert out.dtypes == dead.dtypes == hit.dtypes


def test_partial_append_fails_loudly_then_heals_on_replay(spark, tmp_path):
    """r7 (ADVICE): the append writes MANIFEST first, entries second. If
    the job dies between the two writes, a bucket newly created by that
    batch is listed in the manifest but has no data directory — a cold
    probe of it must fail LOUDLY (listed-but-missing path), never
    silently return incomplete results; replaying the batch heals both
    sides."""
    import pytest

    from autonomous_orchestrator_ai_spark.operators.ann_index import (
        LAYOUT,
        _index_rows,
    )

    emb = table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "lsh_index")
    build_lsh_index(base, path, n_planes=8, n_tables=1, dim=64)
    base_buckets = {
        (r["table_id"], r["bucket"])
        for r in load_lsh_index(spark, path).select("table_id", "bucket").collect()
    }
    # find a vector whose bucket differs from the base's (deterministic:
    # computed with the index's own hash family, not assumed)
    cand = emb.filter(F.col("vec_id") > 0).limit(50)
    cand_buckets = {
        r["neighbor_id"]: (r["table_id"], r["bucket"])
        for r in _index_rows(cand, 8, 1, 64, 42, "vec_id", "embedding")
        .select("neighbor_id", "table_id", "bucket")
        .collect()
    }
    new_vec_id = next(
        vid for vid, tb in sorted(cand_buckets.items()) if tb not in base_buckets
    )
    batch = emb.filter(F.col("vec_id") == new_vec_id)
    # simulate dying between the two writes: manifest lands, entries don't
    rows = _index_rows(batch, 8, 1, 64, 42, "vec_id", "embedding")
    LAYOUT.write_manifest(LAYOUT.entries(rows, 0), path, dynamic=True)
    queries = batch  # probes exactly the new (missing) bucket
    with pytest.raises(Exception, match="PATH_NOT_FOUND|Path does not exist"):
        query_lsh_index(
            spark, path, queries, k=3, n_planes=8, n_tables=1, dim=64,
            multiprobe_bits=0, exclude_self=False,
        ).collect()
    # replay the batch through the real append: both sides heal
    append_to_lsh_index(batch, path, batch_id=0, n_planes=8, n_tables=1, dim=64)
    healed = query_lsh_index(
        spark, path, queries, k=3, n_planes=8, n_tables=1, dim=64,
        multiprobe_bits=0, exclude_self=False,
    )
    assert new_vec_id in {r["neighbor_id"] for r in healed.collect()}
