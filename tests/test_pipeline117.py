"""Streaming preference monitors (plans/q_pipeline117.py, batch 117).

Pins the replay-oracle claims: (1) the final last-write-wins rows equal
the batch-116 reports, (2) the replay is slicing-insensitive (stats are
a pure function of the accumulated roster SET), (3) re-delivered
candidates are idempotent (doc_id dedup in state).
"""

from __future__ import annotations

from pyspark.sql import functions as F

import prosnet_prefect_pipelines_spark.plans.q_pipeline116 as P116
import prosnet_prefect_pipelines_spark.plans.q_pipeline117 as P117


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_margin_monitor_equals_batch_report(spark, sf_dir):
    got = _rows(P117.q_stream_preference_margin_monitor(spark, sf_dir))
    want = _rows(P116.q_preference_margin_report(spark, sf_dir))
    assert got == want and got


def test_length_bias_monitor_equals_batch_audit(spark, sf_dir):
    got = _rows(P117.q_stream_length_bias_monitor(spark, sf_dir))
    want = _rows(P116.q_length_bias_audit(spark, sf_dir))
    assert got == want and got


def test_replay_slicing_insensitive(spark, sf_dir, tmp_path):
    ref = _rows(P117.q_stream_preference_margin_monitor(spark, sf_dir))

    # monkeypatch the stage to ONE file: a single mega-batch replay
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    one = str(tmp_path / "stage1")
    docs.coalesce(1).write.parquet(one)

    orig = P117.replay_stage
    P117.replay_stage = lambda _df, _src, _name, n_files=4: one
    try:
        got = _rows(P117.q_stream_preference_margin_monitor(spark, sf_dir))
    finally:
        P117.replay_stage = orig
    assert got == ref


def test_redelivery_idempotent(spark, sf_dir, tmp_path):
    """The same candidates delivered twice (8 files = each quarter
    duplicated) must produce the identical final stats — state dedups
    by doc_id, and unchanged rosters emit nothing."""
    ref = _rows(P117.q_stream_preference_margin_monitor(spark, sf_dir))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    dup = str(tmp_path / "stage_dup")
    docs.repartition(4).write.parquet(dup)
    # duplicate every data file under a new name -> re-delivery
    import glob
    import shutil

    for i, part in enumerate(sorted(glob.glob(f"{dup}/part-*.parquet"))):
        shutil.copy2(part, f"{dup}/redeliver_{i}.parquet")

    orig = P117.replay_stage
    P117.replay_stage = lambda _df, _src, _name, n_files=4: dup
    try:
        got = _rows(P117.q_stream_preference_margin_monitor(spark, sf_dir))
    finally:
        P117.replay_stage = orig
    assert got == ref


def _final_stats_memos() -> list:
    """The session.memo entries holding the monitor's final stats."""
    from prosnet_prefect_pipelines_spark.session import _MEMO

    return [v for (_app, key), v in _MEMO.items() if key[0] == "q_pipeline117.final_stats"]


def test_monitors_share_one_maintained_state(spark, sf_dir):
    """The two metric queries read ONE maintained monitor (r11 opt):
    after the margin monitor runs, the length-bias monitor must not
    replay the stream — its rows derive from the memoized final stats."""
    from prosnet_prefect_pipelines_spark.session import reset_memo_fixtures

    reset_memo_fixtures(spark)
    _rows(P117.q_stream_preference_margin_monitor(spark, sf_dir))
    assert len(_final_stats_memos()) == 1
    cached_df = _final_stats_memos()[0]
    got = _rows(P117.q_stream_length_bias_monitor(spark, sf_dir))
    # still the same single entry (no second replay), same frame object
    assert len(_final_stats_memos()) == 1
    assert _final_stats_memos()[0] is cached_df
    want = _rows(P116.q_length_bias_audit(spark, sf_dir))
    assert got == want


def test_memo_reset_forces_fresh_replay(spark, sf_dir):
    """reset_memo_fixtures (the bench's repeat-cold reset) must clear
    the maintained monitor state so a later pass pays the replay."""
    from prosnet_prefect_pipelines_spark.session import reset_memo_fixtures

    _rows(P117.q_stream_preference_margin_monitor(spark, sf_dir))
    assert len(_final_stats_memos()) == 1
    reset_memo_fixtures(spark)
    assert len(_final_stats_memos()) == 0
    got = _rows(P117.q_stream_preference_margin_monitor(spark, sf_dir))
    want = _rows(P116.q_preference_margin_report(spark, sf_dir))
    assert got == want
