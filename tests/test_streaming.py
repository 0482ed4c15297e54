"""Structured Streaming operators: the streaming results must agree with
their batch twins (events window counts; stateful canonicalization with
out-of-order turn arrival across micro-batches)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from sz_spark.session import build_session

    s = build_session(master="local[4]", shuffle_partitions=4, app_name="stream-tests")
    yield s
    s.stop()


def test_stream_events_hourly_matches_batch(spark, tmp_path):
    from sz_spark.streaming import stream_events_hourly

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # split into two micro-batch files (out-of-order halves)
    src = str(tmp_path / "src")
    a, b = events.randomSplit([0.5, 0.5], seed=7)
    b.write.mode("overwrite").parquet(src)  # second half arrives first
    a.write.mode("append").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        stream_events_hourly(stream)
        .writeStream.format("memory")
        .queryName("ev_hourly")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.sql("SELECT * FROM ev_hourly")
        .orderBy("hour", "event_type")
        .toPandas()
    )
    exp = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("hour", "event_type")
        .toPandas()
    )
    assert len(got) == len(exp)
    assert (got["n"].values == exp["n"].values).all()
    assert (abs(got["sum_value"].values - exp["sum_value"].values) < 1e-6).all()


def test_stream_canonicalize_matches_batch(spark, tmp_path):
    from sz_spark import canonicalize as canon
    from sz_spark.streaming import stream_canonicalize
    from sz_spark.transcripts import build_transcripts

    tr = build_transcripts(spark, SF_DIR).filter(F.col("conv_id").isin(
        ["c0", "c1", "c2", "d0", "d2", "e0"]
    )).localCheckpoint()

    # out-of-order across micro-batches: odd turns land before even ones
    src = str(tmp_path / "turns")
    tr.filter(F.col("turn_idx") % 2 == 1).write.mode("overwrite").parquet(src)
    tr.filter(F.col("turn_idx") % 2 == 0).write.mode("append").parquet(src)

    stream = spark.readStream.schema(tr.schema).parquet(src)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream_canonicalize(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    # run until the quiet-timeout fires and every conversation's doc
    # appears (not every listed conv_id exists in the corpus)
    deadline = time.time() + 120
    expected_n = tr.select("conv_id").distinct().count()
    while time.time() < deadline:
        time.sleep(2)
        try:
            if (
                os.path.exists(out_dir)
                and spark.read.parquet(out_dir).count() >= expected_n
            ):
                break
        except Exception:
            pass
    q.stop()

    got = spark.read.parquet(out_dir).orderBy("conv_id").toPandas()
    exp = (
        canon.canonicalize(tr)
        .orderBy("conv_id")
        .toPandas()
    )
    assert list(got["conv_id"]) == list(exp["conv_id"])
    assert list(got["doc"]) == list(exp["doc"])
    assert list(got["n_turns"]) == list(exp["n_turns"])


def test_stream_turn_fingerprints_matches_batch_merge(spark, tmp_path):
    """Bag-of-turns sketch: streaming (out-of-order turns, replayed
    duplicates, multiple micro-batches) must equal the batch min-merge
    over each conversation's turns — the sketch merge law in an actual
    stateful operator."""
    import numpy as np

    from sz_spark import kernels as K
    from sz_spark.streaming import stream_turn_fingerprints
    from sz_spark.transcripts import build_transcripts

    convs = ["c0", "c1", "c2", "d0"]
    tr = (
        build_transcripts(spark, SF_DIR)
        .filter(F.col("conv_id").isin(convs))
        .localCheckpoint()
    )

    src = str(tmp_path / "turns")
    odd = tr.filter(F.col("turn_idx") % 2 == 1)
    even = tr.filter(F.col("turn_idx") % 2 == 0)
    odd.write.mode("overwrite").parquet(src)
    even.write.mode("append").parquet(src)
    odd.write.mode("append").parquet(src)  # replayed duplicates

    stream = spark.readStream.schema(tr.schema).parquet(src)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        stream_turn_fingerprints(stream, ndim=16)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        time.sleep(2)
        try:
            if os.path.exists(out_dir) and spark.read.parquet(out_dir).count() >= len(convs):
                break
        except Exception:
            pass
    q.stop()

    got = {
        r["conv_id"]: (list(r["min_hashes"]), list(r["min_counts"]), r["n_turns"])
        for r in spark.read.parquet(out_dir).collect()
    }
    rows = tr.select("conv_id", "turn_idx", "text").collect()
    by_conv: dict = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], []).append((r["turn_idx"], r["text"]))
    for conv, turns in by_conv.items():
        texts = [t.encode() for _, t in sorted(turns)]
        th, tc = K.fingerprints(texts, ndim=16)
        h = np.full(16, K.MAX_HASH_U32, dtype=np.uint32)
        c = np.zeros(16, dtype=np.uint32)
        for i in range(len(texts)):
            h, c = K.merge_count_min_sketches(h, c, th[i], tc[i])
        gh, gc, gn = got[conv]
        assert gn == len(texts)
        assert gh == [int(x) for x in h], conv
        assert gc == [int(x) for x in c], conv
