"""Scale-adaptive streaming shuffle partitions (r13 optimization).

AQE cannot coalesce inside a streaming plan, so the runner derives the
per-query partition count from the stream's input size (clamped to the
session ceiling) and latches it around .start(). These tests pin the
resolution precedence, the conf restore, and that an adaptive run still
computes the same result as the batch semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from streamprocessors_spark.streaming import runner as R


def test_resolution_precedence(spark):
    # pending suggestion alone
    R._PENDING_PARTS.clear()
    R._PENDING_PARTS.append(3)
    assert R._resolve_stream_partitions(spark, None) == 3
    assert R._PENDING_PARTS == []  # consumed

    # explicit caller value beats pending
    R._PENDING_PARTS.append(3)
    assert R._resolve_stream_partitions(spark, 7) == 7

    # env override beats both
    R._PENDING_PARTS.append(3)
    os.environ["SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS"] = "11"
    try:
        assert R._resolve_stream_partitions(spark, 7) == 11
    finally:
        del os.environ["SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS"]

    # nothing pending, nothing passed -> keep session conf (None)
    assert R._resolve_stream_partitions(spark, None) is None


def test_suggestion_scales_with_bytes_and_clamps(spark, sf_dir):
    R._PENDING_PARTS.clear()
    path = os.path.join(sf_dir, "documents.parquet")
    R._suggest_partitions(spark, path)
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    got = R._PENDING_PARTS.pop()
    n_bytes = os.path.getsize(path)
    expect = max(2, -(-n_bytes // R._STREAM_TARGET_BYTES))
    assert got == min(expect, ceiling)
    # a 1 TB input would hit the session ceiling, never exceed it
    big = -(-(1 << 40) // R._STREAM_TARGET_BYTES)
    assert min(max(2, big), ceiling) == ceiling


def test_directory_input_sized_by_its_part_files(spark, tmp_path, monkeypatch):
    # a dataset directory of part-files sizes by the bytes of its parts,
    # not by the directory inode (which would floor every dataset to 2)
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "docs.parquet"
    d.mkdir()
    for i in range(3):
        blob = pa.array([os.urandom(1024) for _ in range(128)], pa.binary())
        pq.write_table(
            pa.table({"b": blob}), d / f"part-{i}.parquet", compression="none"
        )
    total = sum(f.stat().st_size for f in d.iterdir())
    assert total > 3 * 128 * 1024
    # just over a fifth of the parts per partition -> exactly 5
    monkeypatch.setattr(R, "_STREAM_TARGET_BYTES", total // 5 + 1)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 5

    R._PENDING_PARTS.clear()
    R._suggest_partitions(spark, str(d))
    assert R._PENDING_PARTS.pop() == 5

    # an input already past one split is left to split natively
    df = spark.range(1)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(total - 1))
    try:
        assert R._spread_small_input(spark, df, str(d)) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_conf_latched_and_restored(spark, sf_dir):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    ev = R.stream_events(spark, sf_dir)
    agg = ev.groupBy("event_type").count()
    sink = R.run_available_now(agg, output_mode="complete")
    # session conf restored after .start()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # the streamed aggregation matches the batch aggregation exactly
    from streamprocessors_spark.session import read_table

    batch = (
        read_table(spark, sf_dir, "events").groupBy("event_type").count()
    )
    got = {r["event_type"]: r["count"] for r in sink.collect()}
    want = {r["event_type"]: r["count"] for r in batch.collect()}
    assert got == want


def test_schema_probe_memoized(spark, sf_dir):
    path = os.path.join(sf_dir, "documents.parquet")
    s1 = R._cached_schema(spark, path)
    key = (spark.sparkContext.applicationId, path)
    assert key in R._SCHEMA_CACHE
    # same object back on the second call (no re-read)
    assert R._cached_schema(spark, path) is s1
    assert s1 == spark.read.parquet(path).schema


def test_explicit_partitions_reach_the_stream(spark, sf_dir):
    # a forced 2-partition run still yields exact results on a stateful
    # complete-mode aggregation (partitioning is a pure layout choice)
    docs = R.stream_documents(spark, sf_dir)
    agg = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    sink = R.run_available_now(
        agg, output_mode="complete", shuffle_partitions=2
    )
    from streamprocessors_spark.session import read_table

    batch = (
        read_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {r["source"]: r["n"] for r in sink.collect()}
    want = {r["source"]: r["n"] for r in batch.collect()}
    assert got == want
