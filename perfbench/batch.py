"""Batch workloads: ``plans.ingestion.run_ingestion`` once per consecutive
event-time window, in order, as the reference's scheduled job calls it.

An untimed warm-up window runs first, on a small input of its own; windows
1.. of the main input are then timed back to back, as many as take about
``--seconds`` on the reference host (at least one). Every timed window's
output is then checked from outside (see ``checks``).
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from dataclasses import replace
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from . import checks
from .workloads import FIXTURE_REASONS, HOUR_S, BatchInput, BatchParams

# A window slower than this counts as a failed (timed-out) operation.
WINDOW_TIMEOUT_S = 60.0
# Wall time of one timed batch-shares window on the reference host (4 cores).
WINDOW_NOMINAL_S = 6.5
# The warm-up input carries this fraction of the timed windows' traffic.
WARMUP_TRAFFIC_DIVISOR = 8


def scanned_hours(window_start_s: int) -> list[int]:
    """Hour partitions ``run_ingestion`` reads for a window: one hour of
    grace before it, the window hour, and the hours up to one hour after its
    end, inclusive of the end boundary."""
    return [window_start_s + k * HOUR_S for k in (-1, 0, 1, 2)]


def ingestion_options(p: BatchParams, window_start_s: int, key_pem: bytes):
    from exposure_notifications_private_analytics_ingestion_spark.plans.ingestion import (
        IngestionOptions,
    )

    return IngestionOptions(
        window_start_s=window_start_s,
        duration_s=HOUR_S,
        batch_size=p.batch_size,
        emit_avro_containers=p.avro,
        signing_key_pem=key_pem,
    )


def windows_for(seconds: float) -> int:
    """Timed windows per run: one per WINDOW_NOMINAL_S of ``--seconds``, at
    least one. The count depends only on ``--seconds``, so every run of a
    workload does the same work; a run-time-dependent count made faster
    runs include a larger, later window and read faster still."""
    return max(1, int(seconds // WINDOW_NOMINAL_S))


def warmup_params(p: BatchParams) -> BatchParams:
    return replace(p, convs_per_hour=max(1, p.convs_per_hour // WARMUP_TRAFFIC_DIVISOR))


def warm_up(spark, p: BatchParams, inp: BatchInput, in_path: Path, out_path: Path,
            key_pem: bytes) -> None:
    """One untimed window over a small input of its own, so the session's
    cold start (JIT, Python workers) is paid outside the timed windows and
    their output directory holds only timed windows."""
    from exposure_notifications_private_analytics_ingestion_spark.plans.ingestion import (
        run_ingestion,
    )

    spark.sparkContext.setJobGroup("warmup", f"window {inp.windows[0]}")
    run_ingestion(spark, str(in_path), str(out_path),
                  ingestion_options(p, inp.windows[0], key_pem))


def run_windows(spark, p: BatchParams, inp: BatchInput, in_path: Path,
                out_path: Path, key_pem: bytes, n_windows: int) -> list[dict]:
    """Time windows 1..``n_windows`` back to back. Returns one record per
    timed window."""
    from exposure_notifications_private_analytics_ingestion_spark.plans.ingestion import (
        run_ingestion,
    )

    sc = spark.sparkContext
    ops = []
    for i, ws in enumerate(inp.windows[1 : 1 + n_windows], start=1):
        sc.setJobGroup(f"op-{i}", f"window {ws}")
        rec = {"op": f"op-{i}", "window_start_s": ws, "error": None, "stats": {}}
        rec["t0"] = time.time()
        try:
            rec["stats"] = run_ingestion(spark, str(in_path), str(out_path),
                                         ingestion_options(p, ws, key_pem))
        except Exception as e:  # a failed window is a measured outcome
            rec["error"] = f"{type(e).__name__}: {e}"
        rec["t1"] = time.time()
        rec["wall_s"] = rec["t1"] - rec["t0"]
        if rec["wall_s"] > WINDOW_TIMEOUT_S and not rec["error"]:
            rec["error"] = f"timed out after {rec['wall_s']:.1f} s"
        ops.append(rec)
    sc.setJobGroup("checks", "output checks")
    return ops


def _read(path: Path, window_start_s: int) -> pd.DataFrame:
    if not path.exists():
        return pd.DataFrame()
    d = ds.dataset(path, format="parquet", partitioning="hive")
    t = d.to_table(filter=ds.field("window_start_s") == window_start_s)
    return t.to_pandas()


def input_counts(inp: BatchInput, ws: int) -> dict[str, int]:
    """Documents the window is responsible for (stamped in its hour), the
    valid ones among them, and the rows of every hour partition its scan
    selects."""
    mine = inp.hour == ws
    return {
        "docs": int(mine.sum()),
        "valid_docs": int((mine & (inp.reason == "")).sum()),
        "scanned_rows": int(np.isin(inp.hour, scanned_hours(ws)).sum()),
    }


def check_window(p: BatchParams, inp: BatchInput, out_path: Path, ws: int,
                 stats: dict, pub_der_b64: str) -> tuple[list[str], dict]:
    """Problems found in one window's output, and its output counts."""
    in_window = (inp.reason == "") & (inp.secs >= ws) & (inp.secs < ws + HOUR_S)
    turns = inp.docs[in_window].drop_duplicates(["conv_id", "turn_idx"])
    expected = checks.expected_packets(turns, p.payload)

    packets = _read(out_path / "packets", ws)
    headers = _read(out_path / "batch_headers", ws)
    signatures = _read(out_path / "signatures", ws)
    if packets.empty:
        return ["no packets written"], {}
    problems = checks.check_turn_set(expected, packets)
    problems += checks.check_batch_sizes(packets, p.batch_size, ["conv_id"])
    problems += checks.check_headers(headers, packets)
    problems += checks.check_signatures(headers, signatures, pub_der_b64)

    scanned = np.isin(inp.hour, scanned_hours(ws))
    injected = pd.Series(inp.reason[scanned & (inp.reason != "")]).value_counts()
    problems += checks.check_counters(stats, injected.to_dict(), FIXTURE_REASONS)
    return problems, {"n_batches": int(headers["batch_id"].nunique()),
                      "n_signatures": len(signatures)}


def _containers_per_window(avro_root: Path) -> tuple[Counter, Counter]:
    """Container files and bytes per ``YYYY/MM/dd/HH/mm`` directory, the
    windowed layout ``{destination}/{conversation}/YYYY/MM/dd/HH/mm/{batch}.batch.avro``."""
    files: Counter = Counter()
    size: Counter = Counter()
    for d, _dirs, _names in os.walk(avro_root):
        stamp = "/".join(d.rsplit(os.sep, 5)[1:])
        with os.scandir(d) as it:
            for e in it:
                if e.name.endswith(".batch.avro") and e.is_file():
                    files[stamp] += 1
                    size[stamp] += e.stat().st_size
    return files, size


def check_avro(spark, out_path: Path, ops: list[dict]) -> dict[str, tuple]:
    """Avro read-back of every timed window against its parquet packets;
    per window, (problems, {avro_files, avro_bytes})."""
    from exposure_notifications_private_analytics_ingestion_spark.sources.avro_packets import (
        read_packet_containers,
    )

    avro = read_packet_containers(spark, str(out_path / "avro")).toPandas()
    files, size = _containers_per_window(out_path / "avro")
    root = os.path.normpath(out_path) + os.sep
    out = {}
    for rec in ops:
        ws = rec["window_start_s"]
        packets = _read(out_path / "packets", ws)
        headers = _read(out_path / "batch_headers", ws)
        manifest = _read(out_path / "avro_manifest", ws)
        stamp = time.strftime("%Y/%m/%d/%H/%M", time.gmtime(ws))
        n_files = files[stamp]
        stray = [p for p in manifest.get("path", [])
                 if not os.path.normpath(p).startswith(root)]
        mine = avro[avro["batch_id"].isin(set(headers["batch_id"]))]
        out[rec["op"]] = (
            checks.check_avro(mine, packets, len(headers), n_files, stray),
            {"avro_files": n_files, "avro_bytes": size[stamp]},
        )
    return out


def published_key(out_path: Path) -> str:
    with open(out_path / "signing_key.json") as f:
        return json.load(f)["public_key_der_b64"]
