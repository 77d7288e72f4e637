"""Exactly-once sink semantics: a retried epoch (same epoch id) must replace
its own output, never duplicate it — the property the reference approximates
with deterministic file UUIDs (BatchWriterFn.java:135-150) and foreachBatch
delivers exactly."""

from __future__ import annotations

import json
import os

from exposure_notifications_private_analytics_ingestion_spark.streaming.sink import (
    make_epoch_sink,
)

JAN = 1704067200

BATCH_COLS = [
    "conv_id", "turn_idx", "text", "ts_ms", "window_start_s",
    "batch_ordinal", "batch_id", "close_reason",
]


BATCH_SCHEMA = (
    "conv_id string, turn_idx int, text string, ts_ms long, "
    "window_start_s long, batch_ordinal int, batch_id string, "
    "close_reason string"
)


def _batch_rows(spark, n=20):
    rows = [
        ("c1", i, f"t{i}", (JAN + i) * 1000, JAN, 0, "batch-aaaa", "size")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, BATCH_SCHEMA)


def _multi_batch_rows(spark):
    """3 conversations × 7 turns, chunked in batches of 4: 21 rows,
    6 batches."""
    rows = [
        (f"c{c}", i, f"t{c}-{i}", (JAN + 60 * c + i) * 1000, JAN, i // 4,
         f"batch-c{c}-{i // 4}", "size" if i < 4 else "window")
        for c in range(3)
        for i in range(7)
    ]
    return spark.createDataFrame(rows, BATCH_SCHEMA)


def _header_rows(spark, out):
    return sorted(spark.read.parquet(f"{out}/batch_headers").collect())


def test_epoch_retry_overwrites_not_duplicates(spark, tmp_path):
    out = str(tmp_path / "out")
    sink = make_epoch_sink(out)
    df = _batch_rows(spark)

    sink(df, epoch_id=7)
    first = spark.read.parquet(f"{out}/packets").count()
    # retry of the SAME epoch (Spark replays foreachBatch with the same id)
    sink(df, epoch_id=7)
    again = spark.read.parquet(f"{out}/packets").count()
    assert first == again == 40  # 20 turns × 2 destinations, no duplication

    # a NEW epoch appends alongside, untouched by the retry
    sink(_batch_rows(spark, n=5), epoch_id=8)
    total = spark.read.parquet(f"{out}/packets").count()
    assert total == 40 + 10
    epochs = {
        r["epoch"]
        for r in spark.read.parquet(f"{out}/packets").select("epoch").distinct().collect()
    }
    assert epochs == {7, 8}


def test_empty_epoch_writes_nothing(spark, tmp_path):
    out = str(tmp_path / "out")
    sink = make_epoch_sink(out)
    empty = _batch_rows(spark).limit(0)
    sink(empty, epoch_id=1)

    assert not os.path.exists(out)


def test_epoch_retry_rewrites_one_lineage_record(spark, tmp_path):
    out = str(tmp_path / "out")
    sink = make_epoch_sink(out)
    df = _multi_batch_rows(spark)

    sink(df, epoch_id=3)
    headers = _header_rows(spark, out)
    sink(df, epoch_id=3)  # retry of the same epoch
    assert os.listdir(f"{out}/lineage") == ["epoch-3.json"]
    assert _header_rows(spark, out) == headers
    assert len(headers) == 6 * 2  # one per (batch, destination)

    with open(f"{out}/lineage/epoch-3.json") as f:
        rec = json.load(f)
    assert rec["epoch"] == 3
    assert (rec["n_rows"], rec["n_batches"], rec["n_convs"]) == (21, 6, 3)
    assert (rec["min_ts_ms"], rec["max_ts_ms"]) == (JAN * 1000, (JAN + 126) * 1000)
