"""Streaming metrics: the M2 counter surface (``model/DataShare.java:46-55``,
``pipeline/IngestionPipeline.java:140-155``) as a StreamingQueryListener.

Captures per-microbatch progress — input rows, processed rows/sec, state
rows, batch duration — into an in-memory list and an optional JSONL file.
Batch-close latency (the headline streaming latency metric) is derived from
``batchDuration`` across every executed epoch, including the zero-input
timer epochs that close most batches.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class MetricsListener(StreamingQueryListener):
    def __init__(self, jsonl_path: str | None = None):
        self.progress: list[dict] = []
        self.jsonl_path = jsonl_path

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "processed_rows_per_sec": p.processedRowsPerSecond,
            "batch_duration_ms": p.batchDuration,
            "state_rows": sum(
                s.numRowsTotal for s in (p.stateOperators or [])
            ),
            # rows the watermark silently discarded as too-late — the
            # streaming analog of the batch validator's drop counters; a
            # nonzero steady-state value means the watermark is tighter
            # than the source's actual lateness and data is being LOST
            "late_rows_dropped": sum(
                s.numRowsDroppedByWatermark for s in (p.stateOperators or [])
            ),
        }
        self.progress.append(rec)
        if self.jsonl_path:
            with open(self.jsonl_path, "a") as f:
                f.write(json.dumps(rec) + "\n")

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def late_rows_dropped(self) -> int:
        """Total watermark-discarded rows across observed microbatches."""
        return sum(r.get("late_rows_dropped", 0) for r in self.progress)

    def epoch_durations_ms(self) -> list[int]:
        """Sorted ``batchDuration`` of every executed epoch, counted once per
        (run, batch_id) — a zero-input timer epoch counts, because its
        timeouts close batches."""
        # listeners hear progress asynchronously: drain the bus, or a read
        # right after awaitTermination()/stop() misses the last epoch —
        # typically the timer epoch that closes the remaining batches
        spark = SparkSession.getActiveSession()
        if spark is not None:
            try:
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            except Py4JJavaError:  # still busy after 10 s: use what arrived
                pass
        first: dict[tuple, int] = {}
        for r in self.progress:
            first.setdefault((r.get("run_id"), r["batch_id"]), r["batch_duration_ms"])
        return sorted(first.values())

    def batch_close_ms(self, q: float) -> float | None:
        ds = self.epoch_durations_ms()  # q-quantile, nearest rank
        if not ds:
            return None
        return ds[min(len(ds) - 1, int(q * len(ds)))]

    def batch_close_p95_ms(self) -> float | None:
        return self.batch_close_ms(0.95)
