"""Bucketed stateful assembler (StreamOptions.bucket_by): output pinned to a
golden file on multi-epoch out-of-order input, plus checkpoint resume.

``tests/golden/stream_packets_{tumbling,session}.csv`` hold the packet rows
the retired per-conversation assembler (one state key per conv_id) wrote for
``_epochs_multiwindow()``; the bucketed layout must reproduce them at any
bucket count, which guards the state-layout plumbing (pickle blob,
bucket-wide timeouts, per-conv routing inside a bucket)."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
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

from tests.test_streaming import _turn


def _write_epochs(spark, inp, epochs):
    for rows in epochs:
        pdf = pd.DataFrame(rows) if not isinstance(rows, pd.DataFrame) else rows
        pdf = pdf.copy()
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        spark.createDataFrame(pdf, schema=TURNS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)


def _packets(spark, out):
    cols = [
        "conv_id",
        "turn_idx",
        "destination",
        "window_start_s",
        "batch_ordinal",
        "batch_id",
        "close_reason",
    ]
    return (
        spark.read.parquet(f"{out}/packets")
        .select(*cols)
        .toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )


def _epochs_multiwindow():
    """3 single-file epochs: out-of-order windows, cross-epoch duplicates,
    skewed conv sizes (one conv exceeds batch_size → size-closes)."""
    g = generate_turns(n_convs=40, seed=13, hours=3, dup_frac=0.05, hot_convs=1, hot_mult=20)
    third = len(g) // 3
    e1 = g.iloc[:third]
    e2 = g.iloc[third : 2 * third]
    e3 = pd.concat(
        [g.iloc[2 * third :], pd.DataFrame([_turn("conv-wm", i, 12 * 3600 + i) for i in range(3)])],
        ignore_index=True,
    )
    return [e1, e2, e3]


GOLDEN = Path(__file__).resolve().parent / "golden"


@pytest.mark.slow
@pytest.mark.parametrize("bucket_by", [None, 7], ids=["derived", "7"])
@pytest.mark.parametrize("mode_kw", [
    {"mode": "tumbling", "window_s": 3600, "watermark": "30 minutes"},
    {"mode": "session", "session_gap_s": 900, "watermark": "30 minutes"},
], ids=["tumbling", "session"])
def test_bucketed_matches_golden(spark, tmp_path, mode_kw, bucket_by):
    inp, out, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_epochs(spark, inp, _epochs_multiwindow())
    q = start_stream_ingestion(
        spark, inp, out, ck,
        StreamOptions(batch_size=25, max_files_per_trigger=1,
                      bucket_by=bucket_by, **mode_kw),
    )
    q.awaitTermination(240)
    got = _packets(spark, out)
    golden = pd.read_csv(GOLDEN / f"stream_packets_{mode_kw['mode']}.csv")
    pd.testing.assert_frame_equal(got, golden.astype(got.dtypes.to_dict()))
    assert len(got) > 0


@pytest.mark.slow
def test_bucketed_resume_from_checkpoint(spark, tmp_path):
    inp, out, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    opts = StreamOptions(batch_size=10, max_files_per_trigger=1, bucket_by=5,
                         watermark="30 minutes")
    _write_epochs(spark, inp, [[_turn("conv-a", i, i * 5) for i in range(12)]])
    q = start_stream_ingestion(spark, inp, out, ck, opts)
    q.awaitTermination(240)
    # second run: new rows + replayed duplicates + watermark advancer;
    # buffered state (conv-a's partial window) must survive the restart
    _write_epochs(
        spark, inp,
        [[_turn("conv-a", i, i * 5) for i in range(6)]  # dups, in-window
         + [_turn("conv-a", 100 + i, 120 + i * 5) for i in range(4)]  # new
         + [_turn("conv-wm", i, 6 * 3600 + i) for i in range(2)]],
    )
    q = start_stream_ingestion(spark, inp, out, ck, opts)
    q.awaitTermination(240)
    pk = _packets(spark, out)
    pha = pk[(pk["conv_id"] == "conv-a") & (pk["destination"] == "pha")]
    assert sorted(pha["turn_idx"]) == list(range(12)) + [100, 101, 102, 103]
    # size-close of 10 happened in run 1; remainder flushed on window close
    sizes = pha.groupby("batch_id").size().sort_values(ascending=False).tolist()
    assert sizes == [10, 6]
