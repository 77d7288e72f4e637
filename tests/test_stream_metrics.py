"""MetricsListener batch-close latency: every executed epoch counts once,
the zero-input timer epoch that closes most batches included. The first two
tests feed synthetic progress records and need no Spark session."""

from __future__ import annotations

import pytest

from exposure_notifications_private_analytics_ingestion_spark.model.schema import (
    TURNS_SCHEMA,
)
from exposure_notifications_private_analytics_ingestion_spark.sources import (
    generate_turns,
)
from exposure_notifications_private_analytics_ingestion_spark.streaming import (
    StreamOptions,
    start_stream_ingestion,
)
from exposure_notifications_private_analytics_ingestion_spark.streaming.metrics import (
    MetricsListener,
)


def _rec(run, batch, rows, ms):
    return {"run_id": run, "batch_id": batch, "num_input_rows": rows,
            "batch_duration_ms": ms}


def test_batch_close_counts_timer_epochs_once_per_batch_id():
    ml = MetricsListener()
    assert ml.batch_close_p95_ms() is None
    ml.progress = [
        _rec("a", 0, 100, 400),
        _rec("a", 1, 0, 9000),  # timer-only epoch: its timeouts close batches
        _rec("a", 1, 0, 5),  # the same epoch reported again
        _rec("a", 2, 50, 300),
        _rec("b", 0, 20, 200),  # another query's epoch 0 is its own epoch
    ]
    assert ml.epoch_durations_ms() == [200, 300, 400, 9000]
    assert ml.batch_close_p95_ms() == 9000
    assert ml.batch_close_ms(0.5) == 400


def test_records_without_run_id_dedupe_by_batch_id():
    ml = MetricsListener()
    ml.progress = [
        {"batch_id": 0, "num_input_rows": 10, "batch_duration_ms": 30},
        {"batch_id": 1, "num_input_rows": 0, "batch_duration_ms": 70},
        {"batch_id": 1, "num_input_rows": 0, "batch_duration_ms": 1},
    ]
    assert ml.epoch_durations_ms() == [30, 70]


@pytest.mark.slow
def test_read_after_termination_includes_the_final_timer_epoch(spark, tmp_path):
    # progress reaches listeners asynchronously; a read right after
    # awaitTermination must still see the last (timer) epoch
    inp = str(tmp_path / "in")
    pdf = generate_turns(n_convs=20, seed=3, hours=3, dup_frac=0.0)
    spark.createDataFrame(pdf, schema=TURNS_SCHEMA).coalesce(1).write.parquet(inp)
    ml = MetricsListener()
    spark.streams.addListener(ml)
    try:
        q = start_stream_ingestion(
            spark, inp, str(tmp_path / "out"), str(tmp_path / "ck"),
            StreamOptions(batch_size=20),
        )
        q.awaitTermination(240)
        durations = ml.epoch_durations_ms()
    finally:
        spark.streams.removeListener(ml)
    progress = q.recentProgress
    assert any(p["numInputRows"] == 0 for p in progress)  # a timer epoch ran
    assert durations == sorted(p["batchDuration"] for p in progress)
