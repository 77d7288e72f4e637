"""Benchmark of the ingestion engine, measured from outside its public calls.

    python3 perfbench/run.py --workload batch-turns --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/METRICS.md for what each loads and bypasses):
  batch-turns   run_ingestion per event-time window over plain turns
  batch-shares  run_ingestion per window over Prio documents, with Avro
  stream-open   open-loop waves into one continuous start_stream_ingestion

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the session also writes a Spark event log and Python UDF
profiles, and the last line carries the per-layer metrics. The line before
it is the run record: host, seed, workload parameters and per-operation
detail. Exit status is 0 when the run completed (even if outputs were
wrong: ``correct`` says so), 2 when the engine is not beside perfbench/.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from dataclasses import asdict  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
ENGINE = "exposure_notifications_private_analytics_ingestion_spark"
WORKLOADS = ("batch-turns", "batch-shares", "stream-open")


def _p(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q))


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _measured(marks: dict, mem) -> None:
    """End of the measured period: the peak memory is the program's own,
    not that of the output checks that follow."""
    marks["measured"] = time.time()
    mem.freeze()


def run_batch(args, work: Path, spark, marks: dict, mem) -> dict:
    from exposure_notifications_private_analytics_ingestion_spark.functions.signing import (
        generate_signing_key_pem,
    )

    from perfbench import batch, common, trace, workloads

    p = workloads.BATCH_TURNS if args.workload == "batch-turns" else workloads.BATCH_SHARES
    n_timed = batch.windows_for(args.seconds)
    inp = workloads.make_batch_input(p, args.seed, n_timed)
    in_path, out_path = work / "in", work / "out"
    workloads.write_hour_partitioned(inp, p.payload, in_path)
    warm_p = batch.warmup_params(p)
    warm = workloads.make_batch_input(warm_p, args.seed, 0)
    workloads.write_hour_partitioned(warm, p.payload, work / "warmup-in")
    key = generate_signing_key_pem(f"perfbench-{args.seed}")
    marks["inputs_written"] = time.time()

    batch.warm_up(spark, warm_p, warm, work / "warmup-in", work / "warmup-out", key)
    os.sync()  # no writeback of the set-up's files runs during the timed windows
    marks["setup_done"] = time.time()
    if args.trace:
        trace.clear_profiles(spark)
    ops = batch.run_windows(spark, p, inp, in_path, out_path, key, n_timed)
    _measured(marks, mem)
    pub = batch.published_key(out_path)
    avro_problems = batch.check_avro(spark, out_path, ops) if p.avro else {}
    # the container tree is most of the run's files; it is not read again
    removal = common.remove_in_background(
        [out_path / "avro", work / "warmup-in", work / "warmup-out"])
    for rec in ops:
        rec.update(batch.input_counts(inp, rec["window_start_s"]))
        if rec["error"]:
            rec["problems"] = [rec["error"]]
            continue
        rec["problems"], counts = batch.check_window(
            p, inp, out_path, rec["window_start_s"], rec["stats"], pub
        )
        rec.update(counts)
        problems, counts = avro_problems.get(rec["op"], ([], {}))
        rec["problems"] += problems
        rec.update(counts)
    removal.join()
    marks["checked"] = time.time()
    walls = [r["wall_s"] for r in ops]
    # every batch of a window becomes closable when the window's scheduled
    # run is due (its call starts) and is committed when the call returns;
    # percentiles are over calls, so each window counts once
    lat = [w * 1000 for w in walls]
    return {
        "params": {**asdict(p), "timed_windows": len(ops),
                   "warmup_convs_per_hour": warm_p.convs_per_hour},
        "ops": ops,
        "failed": sum(1 for r in ops if r["problems"]),
        "e2e": {
            "turns_per_s": _metric(sum(r["docs"] for r in ops) / sum(walls), "docs/s"),
            "close_latency_p50_ms": _metric(_p(lat, 50), "ms"),
            "close_latency_p95_ms": _metric(_p(lat, 95), "ms"),
        },
        "samples": {"windows": len(ops), "batches": sum(r.get("n_batches", 0) for r in ops)},
    }


def run_stream_workload(args, work: Path, spark, marks: dict, mem) -> dict:
    import numpy as np

    from exposure_notifications_private_analytics_ingestion_spark.streaming import (
        MetricsListener,
    )

    from perfbench import stream, trace, workloads

    p = workloads.STREAM_OPEN
    n_measured = max(2, int(args.seconds // p.wave_interval_s))
    inp = workloads.make_stream_input(p, args.seed, n_waves=1 + n_measured)

    def setup_done():
        marks["setup_done"] = time.time()
        if args.trace:
            trace.clear_profiles(spark)

    listener = MetricsListener() if args.trace else None
    run = stream.run_stream(spark, p, inp, work, setup_done, listener)
    _measured(marks, mem)
    packets, headers = stream.read_output(work / "out")
    prog = run["progress"]
    t_measure = run.get("t_measure", float("inf"))
    measured = [pr for pr in prog if stream.epoch_bounds(pr)[0] >= t_measure - 0.05]
    late_dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for pr in prog for s in pr.get("stateOperators", [])
    )
    problems: dict[int, list[str]] = {}
    lat, by_reason = np.asarray([]), {}
    if run["error"] is None and not packets.empty:
        problems = stream.check_output(p, inp, packets, headers, late_dropped)
        lat, lat_problems, by_reason = stream.close_latencies(p, inp, run, packets)
        if lat_problems:
            problems.setdefault(-1, []).extend(lat_problems[:5])
    elif run["error"] is None:
        problems[-1] = ["no packets written"]
    if run["error"]:
        problems.setdefault(-1, []).append(run["error"])
    if not run["drained"]:
        problems.setdefault(-1, []).append("stream did not drain after the sentinel")
    marks["checked"] = time.time()
    attempted = max(1, len(measured))
    failed_epochs = {k for k in problems if k >= 0}
    failed = min(attempted, len(failed_epochs) + (1 if -1 in problems else 0))
    busy_s = sum(pr["durationMs"].get("triggerExecution", 0) for pr in measured) / 1000
    rows = sum(pr["numInputRows"] for pr in measured)
    late_ms = [(f - d) * 1000 for f, d in zip(run["fed"][1:], run["due"][1:])]
    span_s = (max(stream.epoch_bounds(pr)[1] for pr in measured) - t_measure) if measured else 0
    e2e = {
        "turns_per_s": _metric(rows / busy_s if busy_s else 0.0, "docs/s"),
        "close_latency_p50_ms": _metric(_p(lat, 50) if len(lat) else 0.0, "ms"),
        "close_latency_p95_ms": _metric(_p(lat, 95) if len(lat) else 0.0, "ms"),
    }
    return {
        "params": {**asdict(p), "measured_waves": n_measured},
        "ops": [{"op": f"epoch-{pr['batchId']}", "rows": pr["numInputRows"],
                 "start_s": round(stream.epoch_bounds(pr)[0] - T_PROCESS, 3),
                 "duration_ms": pr["durationMs"]}
                for pr in measured],
        "problems": {str(k): v for k, v in problems.items()},
        "failed": failed,
        "attempted": attempted,
        "e2e": e2e,
        "gen_late_p95_ms": _p(late_ms, 95),
        "late_rows_dropped": late_dropped,
        "listener_p95_ms": listener.batch_close_p95_ms() if listener else None,
        "samples": {"epochs": len(measured), "batches": int(len(lat)),
                    "busy_frac": busy_s / span_s if span_s else 0.0,
                    "by_close_reason": by_reason},
        "progress": prog,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="also write the span tree to this JSON file")
    args = ap.parse_args(argv)
    if not (ROOT / ENGINE).is_dir():
        print(f"engine package {ENGINE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import common

    work = common.fresh_dir(
        ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    marks: dict[str, float] = {}
    try:
        with common.MemorySampler() as mem:
            spark = common.start_session(work, bool(args.trace))
            marks["session_started"] = time.time()
            try:
                runner = run_stream_workload if args.workload == "stream-open" else run_batch
                res = runner(args, work, spark, marks, mem)
                profiles = None
                if args.trace:
                    from perfbench import trace

                    profiles = trace.udf_profiles(spark)
            finally:
                common.stop_session(spark)
        marks["stopped"] = time.time()
        res["e2e"]["setup_s"] = _metric(marks.get("setup_done", time.time()) - T_PROCESS, "s")
        res["e2e"]["peak_pss_mb"] = _metric(mem.peak_mb, "MB")
        attempted = res.get("attempted", len(res["ops"])) or 1
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": common.host_info(),
            "params": res["params"],
            "samples": res["samples"],
            "phases_s": {k: round(v - T_PROCESS, 3) for k, v in sorted(marks.items(), key=lambda kv: kv[1])},
            "failed_frac": res["failed"] / attempted,
            "peak_pss_largest_process_mb": mem.peak_largest_bytes / (1 << 20),
            "e2e": res["e2e"],
            "ops": [{k: v for k, v in r.items() if k not in ("stats", "problems")}
                    for r in res["ops"]],
        }
        if args.trace:
            from perfbench import trace

            layers, spans = trace.analyse(args.workload, work, res, profiles)
            record["per_layer"] = layers
            record["python_kernels_s"] = profiles
            if args.trace_out:
                Path(args.trace_out).write_text(json.dumps({"record": record, "spans": spans}))
            metrics = layers
        else:
            metrics = res["e2e"]
        record["problems"] = (
            res.get("problems")
            or {r["op"]: r["problems"] for r in res["ops"] if r.get("problems")}
        )
        print(json.dumps(record))
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": attempted,
            "failed": res["failed"],
            "metrics": metrics,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run's directory is left
        except OSError:
            pass
        os.sync()  # the removal's journal work ends with this run, not in the next
    return 0


if __name__ == "__main__":
    sys.exit(main())
