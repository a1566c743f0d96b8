"""Adaptive streaming partitioning (streaming/tuning.py, r11 opt round)."""

from __future__ import annotations

from prosnet_prefect_pipelines_spark.streaming.tuning import (
    stream_partitioning,
    stream_shuffle_partitions,
)


def test_small_replay_hits_floor(spark):
    # bench-scale: ~1-2k rows/batch -> the 8-partition floor
    assert stream_shuffle_partitions(spark, 5000, 4) == 8


def test_large_replay_scales_up_to_cap(spark):
    # 100 TB regime: per-batch rows push the count to the cluster cap
    # (4 x defaultParallelism by default), never below the session value
    cap = max(
        4 * spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    assert stream_shuffle_partitions(spark, 10_000_000_000, 4) == cap
    # mid-scale: proportional to rows/batch / target(2000). The expected
    # width is derived from the clamp so it lies strictly between the
    # floor and the cap on any host with cap >= 10 (16 at 4 cores).
    want = max(8, (8 + cap) // 2)
    assert stream_shuffle_partitions(spark, want * 2000 * 4, 4) == want


def test_context_manager_sets_and_restores(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    with stream_partitioning(spark, 5000, 4) as n:
        assert n == 8
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
