"""Tests of the benchmark itself: its output checks catch injected faults,
and its event-log and progress parsers recover what Spark observed.

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import checks  # noqa: E402


def _turns(n_convs: int = 3, n_turns: int = 5) -> pd.DataFrame:
    rows = [(f"c{c}", t, f"text {c}-{t}") for c in range(n_convs) for t in range(n_turns)]
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])


def _emit(turns: pd.DataFrame, batch_size: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """A correct engine output for ``turns``: packets and headers."""
    exp = checks.expected_packets(turns, payload=False)
    exp["conv_id"] = exp["uuid"].str.split("#").str[0]
    exp["turn_idx"] = exp["uuid"].str.split("#").str[1].astype(int)
    exp = exp.sort_values(["conv_id", "destination", "turn_idx"])
    ordinal = exp.groupby(["conv_id", "destination"]).cumcount() // batch_size
    exp["batch_id"] = exp["conv_id"] + "/" + ordinal.astype(str)
    packets = exp.rename(columns={"payload": "encrypted_payload"}).reset_index(drop=True)
    headers = pd.DataFrame(
        [
            {"batch_id": b, "destination": d, "n_packets": len(g),
             "packet_file_digest": checks.digest(g["uuid"], g["encrypted_payload"])}
            for (b, d), g in packets.groupby(["batch_id", "destination"])
        ]
    )
    return packets, headers


def _problems(packets, headers, turns, batch_size=2) -> list[str]:
    expected = checks.expected_packets(turns, payload=False)
    return (
        checks.check_turn_set(expected, packets)
        + checks.check_batch_sizes(packets, batch_size, ["conv_id"])
        + checks.check_headers(headers, packets)
    )


def test_checks_accept_correct_output():
    turns = _turns()
    packets, headers = _emit(turns, 2)
    assert _problems(packets, headers, turns) == []


def test_checks_reject_dropped_turn():
    turns = _turns()
    packets, headers = _emit(turns, 2)
    dropped = packets[packets["uuid"] != "c1#3"]
    problems = _problems(dropped, headers, turns)
    assert any("missing" in p for p in problems)
    assert any("n_packets" in p for p in problems)


def test_checks_reject_duplicated_turn():
    turns = _turns()
    packets, headers = _emit(turns, 2)
    duplicated = pd.concat([packets, packets[packets["uuid"] == "c0#0"]], ignore_index=True)
    problems = _problems(duplicated, headers, turns)
    assert any("more than once" in p for p in problems)


def test_checks_reject_wrong_digest():
    turns = _turns()
    packets, headers = _emit(turns, 2)
    headers.loc[0, "packet_file_digest"] = "0" * 64
    assert any("packet_file_digest" in p for p in _problems(packets, headers, turns))


def test_checks_reject_wrong_payload_and_split_batch():
    turns = _turns()
    packets, headers = _emit(turns, 2)
    packets.loc[0, "encrypted_payload"] = b"tampered"
    assert any("wrong payload" in p for p in _problems(packets, headers, turns))
    packets, headers = _emit(turns, 2)
    packets.loc[packets["uuid"] == "c2#0", "batch_id"] = "c2/extra"
    assert any("short batch" in p for p in _problems(packets, headers, turns))


def _stream_case():
    """A correct stream output for one wave of turns, all in epoch 1."""
    from perfbench import workloads

    turns = _turns()
    turns["ts"] = pd.Timestamp("2024-01-01 00:10")
    inp = workloads.StreamInput(waves=[turns], sentinel=turns.iloc[:0])
    params = workloads.StreamParams(convs_per_hour=3, wave_interval_s=1.0, step_s=3600,
                                    window_s=3600, batch_size=2)
    packets, headers = _emit(turns, 2)
    packets["window_start_s"] = 1704067200
    packets["epoch"] = headers["epoch"] = 1
    return params, inp, packets, headers


def _stream_problems(params, inp, packets, headers, late_dropped=0) -> list[str]:
    from perfbench import stream

    return [p for ps in stream.check_output(params, inp, packets, headers,
                                            late_dropped).values() for p in ps]


def test_stream_check_accepts_correct_output_and_accounted_drops():
    params, inp, packets, headers = _stream_case()
    assert _stream_problems(params, inp, packets, headers) == []
    # a turn the watermark dropped is absent from packets and headers alike
    kept = packets[packets["uuid"] != "c1#4"].copy()
    _, kept_headers = _emit(inp.waves[0][lambda t: ~((t.conv_id == "c1") & (t.turn_idx == 4))], 2)
    kept_headers["epoch"] = 1
    assert _stream_problems(params, inp, kept, kept_headers, late_dropped=1) == []


def test_stream_check_rejects_dropped_turn():
    params, inp, packets, headers = _stream_case()
    dropped = packets[packets["uuid"] != "c1#3"]
    problems = _stream_problems(params, inp, dropped, headers)
    assert any("missing" in p for p in problems)


def test_stream_check_rejects_duplicated_turn():
    params, inp, packets, headers = _stream_case()
    again = packets[packets["uuid"] == "c0#0"].assign(epoch=2)
    problems = _stream_problems(params, inp, pd.concat([packets, again]), headers)
    assert any("more than once" in p for p in problems)


def test_stream_check_rejects_wrong_digest():
    params, inp, packets, headers = _stream_case()
    headers.loc[1, "packet_file_digest"] = "f" * 64
    problems = _stream_problems(params, inp, packets, headers)
    assert any("packet_file_digest" in p for p in problems)


def _avro_case():
    packets, headers = _emit(_turns(), 2)
    packets["r_pit"] = range(len(packets))
    return packets.copy(), packets, headers


def test_avro_check_accepts_equal_read_back():
    avro, packets, headers = _avro_case()
    assert checks.check_avro(avro, packets, len(headers), len(headers), []) == []


def test_avro_check_rejects_mismatched_read_back():
    avro, packets, headers = _avro_case()
    n = len(headers)
    assert any("avro holds" in p for p in
               checks.check_avro(avro.iloc[1:], packets, n, n, []))
    twice = pd.concat([avro, avro.iloc[:1]], ignore_index=True)
    assert any("avro holds" in p for p in checks.check_avro(twice, packets, n, n, []))
    avro.loc[3, "encrypted_payload"] = b"tampered"
    assert any("differ" in p for p in checks.check_avro(avro, packets, n, n, []))
    avro, packets, headers = _avro_case()
    avro.loc[0, "r_pit"] = -1
    assert any("differ" in p for p in checks.check_avro(avro, packets, n, n, []))
    assert any("containers for" in p for p in checks.check_avro(avro, packets, n, n - 1, []))
    assert any("outside the output root" in p
               for p in checks.check_avro(avro, packets, n, n, ["/elsewhere/x.avro"]))


def test_signature_check_rejects_foreign_signature():
    from exposure_notifications_private_analytics_ingestion_spark.functions.signing import (
        generate_signing_key_pem,
        public_key_der_b64,
    )

    headers = pd.DataFrame({"batch_id": ["b"], "destination": ["pha"],
                            "packet_file_digest": ["ab" * 32]})
    pem = generate_signing_key_pem("test-signer")
    sig = _sign(pem, "ab" * 32)
    good = pd.DataFrame({"batch_id": ["b"], "destination": ["pha"],
                         "batch_header_signature": [sig]})
    assert checks.check_signatures(headers, good, public_key_der_b64(pem)) == []
    other = public_key_der_b64(generate_signing_key_pem("someone-else"))
    assert checks.check_signatures(headers, good, other)


def _sign(pem: bytes, digest_hex: str) -> str:
    import base64

    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import ec, utils
    from cryptography.hazmat.primitives.serialization import load_pem_private_key

    key = load_pem_private_key(pem, None)
    sig = key.sign(bytes.fromhex(digest_hex), ec.ECDSA(utils.Prehashed(hashes.SHA256())))
    return base64.b64encode(sig).decode()


def test_counter_check_compares_every_reason():
    reasons = ["missing_prime", "wrong_prime"]
    assert checks.check_counters({"missing_prime": "2", "packets_written": "9"},
                                 {"missing_prime": 2}, reasons) == []
    assert checks.check_counters({"missing_prime": "1"}, {"missing_prime": 2}, reasons)
    assert checks.check_counters({"wrong_prime": "1"}, {}, reasons)


def test_share_intervals_sum_to_parent():
    from perfbench.trace import share_intervals

    self_s, got = share_intervals(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0), (8.0, 12.0)])
    assert got == pytest.approx([2.5, 2.5, 2.0])
    assert self_s + sum(got) == pytest.approx(10.0)


def test_run_refuses_a_checkout_without_the_engine(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream-open",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


# ------------------------------------------------------- traced session


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """One tiny traced window pair and one tiny traced stream, in a single
    session; yields what Spark's status tracker saw and the parsed log."""
    from exposure_notifications_private_analytics_ingestion_spark.functions.signing import (
        generate_signing_key_pem,
    )

    from perfbench import batch, common, stream, trace, workloads

    work = tmp_path_factory.mktemp("traced")
    spark = common.start_session(work, trace=True)
    try:
        bp = workloads.BatchParams(convs_per_hour=30, batch_size=4, dup_frac=0.05,
                                   payload=False, invalid_frac=0.0, avro=False)
        inp = workloads.make_batch_input(bp, seed=5, n_timed=2)
        workloads.write_hour_partitioned(inp, False, work / "in")
        ops = batch.run_windows(spark, bp, inp, work / "in", work / "out",
                                generate_signing_key_pem("t"), 2)
        tracker = spark.sparkContext.statusTracker()
        seen_jobs = {op["op"]: len(tracker.getJobIdsForGroup(op["op"])) for op in ops}

        sp = workloads.StreamParams(convs_per_hour=10, wave_interval_s=0.5,
                                    step_s=3600, window_s=3600, batch_size=4)
        sinp = workloads.make_stream_input(sp, seed=5, n_waves=3)
        (work / "s").mkdir()
        run = stream.run_stream(spark, sp, sinp, work / "s", lambda: None)
    finally:
        common.stop_session(spark)
    log = trace.EventLog(work / "eventlog")
    for op in ops:
        op.update(batch.input_counts(inp, op["window_start_s"]))
    blayers, bspans = trace.batch_layers(log, {"ops": ops}, {})
    t_measure = run["t_measure"]
    measured = [pr for pr in run["progress"] if stream.epoch_bounds(pr)[0] >= t_measure - 0.05]
    sres = {"progress": run["progress"], "late_rows_dropped": 0, "gen_late_p95_ms": 0.0,
            "ops": [{"op": f"epoch-{pr['batchId']}"} for pr in measured]}
    slayers, _ = trace.stream_layers(log, sres)
    return {"ops": ops, "seen_jobs": seen_jobs, "bspans": bspans, "blayers": blayers,
            "slayers": slayers, "run": run}


@pytest.mark.slow
def test_event_log_recovers_job_count(traced):
    assert traced["ops"], "no timed window ran"
    from perfbench.trace import jobs_of

    for op, span in zip(traced["ops"], traced["bspans"]):
        assert len(list(jobs_of(span))) == traced["seen_jobs"][op["op"]] > 0
    mean_jobs = sum(traced["seen_jobs"].values()) / len(traced["seen_jobs"])
    assert traced["blayers"]["ingestion.jobs"] == pytest.approx(mean_jobs)


@pytest.mark.slow
def test_progress_parser_sees_timer_epoch_after_sentinel(traced):
    assert traced["run"]["drained"]
    assert traced["slayers"]["epoch.timer_n"] >= 1
    assert traced["slayers"]["epoch.data_n"] >= 1


def test_benchmark_json_lists_the_metrics_the_run_prints():
    import json

    from perfbench.trace import PER_LAYER

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    assert [m["unit"] for m in bench["per_layer"]] == [u for u, _b, _d in PER_LAYER.values()]
    e2e = {m["name"] for m in bench["end_to_end"]}
    assert e2e == {"setup_s", "turns_per_s", "close_latency_p50_ms",
                   "close_latency_p95_ms", "peak_pss_mb"}
