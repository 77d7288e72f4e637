"""Stream workload: an open loop into one continuous
``streaming.start_stream_ingestion`` query with the default state options
(per-conversation state, RocksDB).

Waves are written to a staging directory during set-up. At fixed due times
each wave is renamed into the source directory, so a slow engine cannot slow
the schedule; the generator does no other work. A final far-future sentinel
wave lifts the watermark past every open window.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from . import checks
from .workloads import StreamInput, StreamParams, write_wave

WATERMARK_MS = 3600 * 1000  # StreamOptions' default watermark, "1 hour"
DRAIN_TIMEOUT_S = 90.0


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def epoch_bounds(prog: dict) -> tuple[float, float]:
    """(start, commit) wall time of an epoch, in seconds."""
    start = datetime.fromisoformat(prog["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + prog["durationMs"].get("triggerExecution", 0) / 1000


def _wait(q, done, timeout_s: float) -> bool:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if q.exception() is not None:
            return False
        if done(_progress(q)) and not q.status["isTriggerActive"]:
            return True
        time.sleep(0.05)
    return False


def _rows_in(prog: list[dict]) -> int:
    return sum(p["numInputRows"] for p in prog)


def run_stream(spark, p: StreamParams, inp: StreamInput, work: Path,
               on_setup_done, listener=None) -> dict:
    """Feed the waves on schedule and wait until the sentinel's timers have
    fired. Returns due and rename times per wave and every epoch's
    progress record."""
    from exposure_notifications_private_analytics_ingestion_spark.streaming import (
        StreamOptions,
        start_stream_ingestion,
    )

    staging, source = work / "staging", work / "source"
    staging.mkdir(parents=True)
    source.mkdir(parents=True)
    feed = [*inp.waves, inp.sentinel]
    names = [f"wave-{k:05d}.parquet" for k in range(len(feed))]
    for pdf, name in zip(feed, names):
        write_wave(pdf, staging / name)

    os.rename(staging / names[0], source / names[0])
    if listener is not None:
        spark.streams.addListener(listener)
    q = start_stream_ingestion(
        spark, str(source), str(work / "out"), str(work / "ck"),
        StreamOptions(batch_size=p.batch_size, window_s=p.window_s),
        available_now=False,
    )
    run = {"due": [0.0] * len(feed), "fed": [0.0] * len(feed), "error": None,
           "drained": False}
    run["due"][0] = run["fed"][0] = time.time()
    try:
        n0 = len(feed[0])
        if not _wait(q, lambda pr: _rows_in(pr) >= n0, DRAIN_TIMEOUT_S):
            raise RuntimeError("warm-up wave was not processed")
        os.sync()  # no writeback of the set-up's files runs during the measured waves
        on_setup_done()
        t0 = time.time() + 0.05
        run["t_measure"] = t0
        for k in range(1, len(feed)):
            due = t0 + (k - 1) * p.wave_interval_s
            time.sleep(max(0.0, due - time.time()))
            os.rename(staging / names[k], source / names[k])
            run["due"][k], run["fed"][k] = due, time.time()
        total = sum(len(f) for f in feed)
        # the sentinel lifts the watermark into the sentinel's month; the
        # zero-input epoch that runs under it fires every remaining timer
        sentinel_wm = str(inp.sentinel["ts"].iloc[0].date())[:7]

        def drained(pr):
            if not pr or _rows_in(pr) < total:
                return False
            wm = pr[-1].get("eventTime", {}).get("watermark", "")
            return pr[-1]["numInputRows"] == 0 and wm >= sentinel_wm

        run["drained"] = _wait(q, drained, DRAIN_TIMEOUT_S)
    except Exception as e:  # a failed query is a measured outcome
        run["error"] = f"{type(e).__name__}: {e}"
    finally:
        run["progress"] = _progress(q)
        exc = q.exception()
        if exc is not None and not run["error"]:
            run["error"] = f"query failed: {exc}"
        q.stop()
        if listener is not None:
            spark.streams.removeListener(listener)
    return run


def read_output(out: Path) -> tuple[pd.DataFrame, pd.DataFrame]:
    def load(path: Path) -> pd.DataFrame:
        if not path.exists():
            return pd.DataFrame()
        return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()

    return load(out / "packets"), load(out / "batch_headers")


def close_latencies(p: StreamParams, inp: StreamInput, run: dict,
                    packets: pd.DataFrame) -> tuple[np.ndarray, list[str], dict]:
    """Per closed batch: commit time of the epoch that wrote it minus the due
    time of the wave that made it closable. Batches made closable by the
    warm-up wave are left out."""
    feed = [*inp.waves, inp.sentinel]
    commit = {pr["batchId"]: epoch_bounds(pr)[1] for pr in run["progress"]}
    wave_of = {}
    for k, w in enumerate(feed):
        wave_of.update(dict.fromkeys(checks.uuid_of(w["conv_id"], w["turn_idx"]), k))
    max_ts_ms = np.maximum.accumulate(
        [int(pd.to_datetime(w["ts"]).max().value // 10**6) for w in feed]
    )
    watermark = max_ts_ms - WATERMARK_MS
    one = packets[packets["destination"] == "pha"]
    out, problems = [], []
    by_reason: dict[str, list[float]] = {}
    for (bid, epoch, reason, ws), g in one.groupby(
        ["batch_id", "epoch", "close_reason", "window_start_s"], sort=False
    ):
        if reason == "size":
            k = max(wave_of[u] for u in g["uuid"])
        else:
            end_ms = (int(ws) + p.window_s) * 1000
            k = int(np.searchsorted(watermark, end_ms, side="right"))
        if k == 0:
            continue
        lat = (commit[int(epoch)] - run["due"][k]) * 1000
        if lat < 0:
            problems.append(f"batch {bid} committed before its closing wave was due")
        out.append(lat)
        by_reason.setdefault(reason, []).append(lat)
    summary = {r: {"n": len(v), "p50_ms": float(np.median(v))} for r, v in by_reason.items()}
    return np.asarray(out, dtype=float), problems, summary


def check_output(p: StreamParams, inp: StreamInput, packets: pd.DataFrame,
                 headers: pd.DataFrame, late_dropped: int) -> dict[int, list[str]]:
    """Problems per epoch; key -1 holds problems of the run as a whole."""
    fed = pd.concat(inp.waves, ignore_index=True).drop_duplicates(["conv_id", "turn_idx"])
    expected = checks.expected_packets(fed, payload=False)
    problems = {-1: checks.check_turn_set(expected, packets, allowed_missing=late_dropped)}
    problems[-1] += checks.check_batch_sizes(packets, p.batch_size,
                                             ["conv_id", "window_start_s"])
    for epoch, g in packets.groupby("epoch"):
        problems[int(epoch)] = checks.check_headers(headers[headers["epoch"] == epoch], g)
    return {k: v for k, v in problems.items() if v}
