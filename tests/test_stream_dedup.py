"""Streaming dedup: Bloom-gated first-seen emission with replay idempotency,
and the exact watermark-bounded wrapper."""

import glob

import pytest
from pyspark.sql import functions as F


def _run_batches(spark, dedup, batches):
    """Feed explicit micro-batches through the foreachBatch callback — the
    deterministic way to exercise cross-batch and replay behavior."""
    for bid, keys in batches:
        df = spark.createDataFrame([(k,) for k in keys], "key string")
        dedup(df, bid)


class TestBloomStreamDedup:
    def test_first_seen_only_across_batches(self, spark, tmp_path):
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.streaming import BloomStreamDedup

        out = str(tmp_path / "out")
        dd = BloomStreamDedup(
            str(tmp_path / "state"), BloomSketch.factory(100_000, 1e-6), "key", out
        )
        _run_batches(
            spark,
            dd,
            [
                (0, [f"doc-{i:06d}" for i in range(100)]),
                # 50 repeats from batch 0 + 50 new + in-batch dup
                (1, [f"doc-{i:06d}" for i in range(50, 150)] + ["doc-000000"]),
                (2, [f"doc-{i:06d}" for i in range(100, 200)]),
            ],
        )
        got = sorted(r["key"] for r in spark.read.parquet(out).collect())
        assert got == sorted(f"doc-{i:06d}" for i in range(200))  # each exactly once

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.streaming import BloomStreamDedup

        out = str(tmp_path / "out")
        dd = BloomStreamDedup(
            str(tmp_path / "state"), BloomSketch.factory(10_000, 1e-6), "key", out
        )
        _run_batches(spark, dd, [(0, ["a", "b"]), (1, ["b", "c"])])
        # the sink re-offers batch 1 after a restart: must change nothing
        _run_batches(spark, dd, [(1, ["b", "c"])])
        got = sorted(r["key"] for r in spark.read.parquet(out).collect())
        assert got == ["a", "b", "c"]
        # zero FN: every emitted key is in the filter
        sk = dd.current()
        assert all(sk.filter.contains_bytes(k.encode()) for k in ["a", "b", "c"])

    def test_crash_between_output_and_state_is_idempotent(self, spark, tmp_path):
        import os

        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.streaming import BloomStreamDedup

        out = str(tmp_path / "out")
        state_dir = str(tmp_path / "state")
        dd = BloomStreamDedup(
            state_dir, BloomSketch.factory(10_000, 1e-6), "key", out
        )
        _run_batches(spark, dd, [(0, ["a", "b"])])
        saved = open(os.path.join(state_dir, "dedup.state"), "rb").read()
        _run_batches(spark, dd, [(1, ["b", "c"])])
        # simulate a crash where batch 1's parquet landed but the state
        # write did not: roll the state file back and replay batch 1
        with open(os.path.join(state_dir, "dedup.state"), "wb") as f:
            f.write(saved)
        _run_batches(spark, dd, [(1, ["b", "c"])])
        got = sorted(r["key"] for r in spark.read.parquet(out).collect())
        assert got == ["a", "b", "c"]  # batch=1 dir was overwritten, not doubled

    def test_size_guard(self, tmp_path, monkeypatch):
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.streaming import BloomStreamDedup

        def no_dumps(self):
            raise AssertionError("sizing serialized the 3.6 GB filter")

        # the guard must size the refused filter without writing its pages
        monkeypatch.setattr(BloomSketch, "dumps", no_dumps)
        with pytest.raises(ValueError, match="ShardedBloomStream"):
            BloomStreamDedup(
                str(tmp_path / "s"), BloomSketch.factory(10**9, 1e-6), "key",
                str(tmp_path / "o"), max_state_bytes=1 << 20,
            )


class TestExactStreamDedup:
    def test_dedup_within_watermark(self, spark, tmp_path):
        import time

        from poppy_spark.spark.streaming import exact_stream_dedup

        # each batch advances event time 10s; key k lives in exactly two
        # consecutive batches (a 10s duplicate span, inside the 30s
        # watermark), so every cross-batch duplicate must be suppressed and
        # every key emitted exactly once
        stream = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 100)
            .option("numPartitions", 2)
            .option("startTimestamp", 0)
            .option("advanceMillisPerBatch", 10_000)
            .load()
            .select(
                F.col("timestamp").alias("ts"),
                F.format_string(
                    "k%07d",
                    (F.floor(F.col("value") / 100) * 50 + F.pmod(F.col("value"), F.lit(100))),
                ).alias("k"),
            )
        )
        q = (
            exact_stream_dedup(stream, ["k"], "ts", "30 seconds")
            .writeStream.format("memory")
            .queryName("exact_dedup")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                n = spark.sql("SELECT count(DISTINCT k) c FROM exact_dedup").first()["c"]
                if n >= 200:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        rows = spark.sql("SELECT k FROM exact_dedup").collect()
        keys = [r["k"] for r in rows]
        assert len(set(keys)) >= 200
        assert len(keys) == len(set(keys))  # every key exactly once
