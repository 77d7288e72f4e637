"""Stream ≡ batch: the streaming engine and the hourly batch job, fed the
same turns, write the same packets and the same header digests.

The stream side reads the turns as files arriving in event-time order
(one file per micro-batch), with exact duplicates and rows that arrive
after other conversations' later rows but inside the watermark; a
far-future sentinel closes every window. The batch side runs
``run_ingestion`` once per hourly window into its own output root and the
roots are unioned (the reader pattern the empty-window layout exists for).
"""

from __future__ import annotations

import tempfile
from datetime import datetime, timezone
from pathlib import Path

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from exposure_notifications_private_analytics_ingestion_spark.model.schema import (
    TURNS_SCHEMA,
)
from exposure_notifications_private_analytics_ingestion_spark.plans import (
    IngestionOptions,
    run_ingestion,
)
from exposure_notifications_private_analytics_ingestion_spark.sources import (
    write_turns_table,
)
from exposure_notifications_private_analytics_ingestion_spark.streaming import (
    StreamOptions,
    start_stream_ingestion,
)

JAN = 1704067200
HOUR = 3600
N_HOURS = 4
# arrival files cover FILE_S of arrival time each; a row arrives at most
# MAX_DELAY_S after its event time, so with a watermark delay of 30 minutes
# every non-duplicate row is at least 10 minutes inside the watermark
FILE_S = 20 * 60
MAX_DELAY_S = 20 * 60 - 60
WATERMARK = "30 minutes"


def _row(conv: str, idx: int, ts_s: int, text: str) -> dict:
    return {
        "conv_id": conv,
        "turn_idx": idx,
        "role": "user",
        "text": text,
        "tool": "",
        "ts": datetime.fromtimestamp(JAN + ts_s, tz=timezone.utc).replace(tzinfo=None),
    }


@st.composite
def scenarios(draw):
    """(batch_size, turns with an ``arrival_s`` column); one of the
    N_HOURS windows gets no event times at all."""
    batch_size = draw(st.integers(2, 4))
    empty_hour = draw(st.integers(0, N_HOURS - 1))
    hours = [h for h in range(N_HOURS) if h != empty_hour]
    # event times on a one-minute grid, never in the empty hour
    slots = [h * HOUR + m * 60 for h in hours for m in range(60)]
    delays = st.sampled_from([0, 0, 0, 5 * 60, 12 * 60, MAX_DELAY_S])
    texts = st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=["Cs", "Cc"]),
        min_size=1,
        max_size=6,
    )

    rows = []
    n_convs = draw(st.integers(2, 5))
    for c in range(n_convs):
        if c == 0:
            # one conversation holds more than batch_size turns in one
            # window, so batches close on size as well as on window end
            h = draw(st.sampled_from(hours))
            pool = [s for s in slots if s // HOUR == h]
            lo, hi = batch_size + 1, 3 * batch_size + 1
        else:
            pool, lo, hi = slots, 1, 2 * batch_size + 2
        secs = sorted(draw(st.lists(st.sampled_from(pool), min_size=lo,
                                    max_size=hi, unique=True)))
        arrival = 0
        for idx, ts_s in enumerate(secs):
            # ts strictly increases with turn_idx, and so does arrival:
            # a conversation's own turns never overtake each other
            arrival = max(arrival, ts_s + draw(delays))
            rows.append({**_row(f"c{c}", idx, ts_s, draw(texts)), "arrival_s": arrival})

    # a fixed late witness in a drawn non-empty hour: "late-a" arrives in
    # the second file of the hour, after "late-b"'s later row in the first
    h = draw(st.sampled_from(hours)) * HOUR
    rows.append({**_row("late-a", 0, h + 15 * 60, "a"), "arrival_s": h + 21 * 60})
    rows.append({**_row("late-b", 0, h + 19 * 60, "b"), "arrival_s": h + 19 * 60})

    # exact duplicates, re-sent up to an hour later: inside the watermark
    # they meet the in-state dedup, past it they are dropped as late
    picks = draw(st.lists(st.integers(0, len(rows) - 1), min_size=1, max_size=4))
    for i in picks:
        extra = draw(st.sampled_from([0, 7 * 60, 25 * 60, HOUR]))
        rows.append({**rows[i], "arrival_s": rows[i]["arrival_s"] + extra})
    return batch_size, pd.DataFrame(rows)


def _write_arrivals(spark, turns: pd.DataFrame, inp: str) -> None:
    """One parquet file per FILE_S of arrival time, written in arrival order,
    then a far-future sentinel that closes every window."""
    sentinel = pd.DataFrame([{**_row("sentinel", 0, 48 * HOUR, "s"), "arrival_s": 0}])
    files = [g for _, g in turns.groupby(turns["arrival_s"] // FILE_S, sort=True)]
    for g in files + [sentinel]:
        pdf = g.drop(columns="arrival_s").copy()
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        spark.createDataFrame(pdf, schema=TURNS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)


def _packet_rows(df) -> list[tuple]:
    pdf = df.select("batch_id", "destination", "uuid", "encrypted_payload").toPandas()
    pdf["encrypted_payload"] = pdf["encrypted_payload"].map(bytes.hex)
    return sorted(pdf.itertuples(index=False, name=None))


def _header_map(df) -> dict:
    rows = df.select("batch_id", "destination", "n_packets", "packet_file_digest").collect()
    out = {(r["batch_id"], r["destination"]): (r["n_packets"], r["packet_file_digest"]) for r in rows}
    assert len(out) == len(rows), "one header per (batch_id, destination)"
    return out


def _stream_side(spark, turns, batch_size, work: Path):
    inp, out, ck = str(work / "s-in"), str(work / "s-out"), str(work / "s-ck")
    _write_arrivals(spark, turns, inp)
    q = start_stream_ingestion(
        spark, inp, out, ck,
        StreamOptions(batch_size=batch_size, window_s=HOUR, mode="tumbling",
                      watermark=WATERMARK, max_files_per_trigger=1),
    )
    q.awaitTermination(240)
    return (_packet_rows(spark.read.parquet(f"{out}/packets")),
            _header_map(spark.read.parquet(f"{out}/batch_headers")))


def _batch_side(spark, turns, batch_size, work: Path):
    inp = write_turns_table(spark, turns.drop(columns="arrival_s"), str(work / "b-in"))
    packets, headers = [], {}
    for h in range(N_HOURS):
        out = str(work / f"b-out-{h}")
        run_ingestion(spark, inp, out, IngestionOptions(
            window_start_s=JAN + h * HOUR, duration_s=HOUR, batch_size=batch_size,
        ))
        packets += _packet_rows(spark.read.parquet(f"{out}/packets"))
        headers.update(_header_map(spark.read.parquet(f"{out}/batch_headers")))
    return sorted(packets), headers


@pytest.mark.slow
@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(scenario=scenarios())
def test_stream_equals_batch(spark, scenario):
    batch_size, turns = scenario
    with tempfile.TemporaryDirectory() as tmp:
        work = Path(tmp)
        s_packets, s_headers = _stream_side(spark, turns, batch_size, work)
        b_packets, b_headers = _batch_side(spark, turns, batch_size, work)

    # every distinct turn is written twice, and the sentinel's window never
    # closes; then the two sides must agree row for row
    assert len(b_packets) == 2 * len(turns.drop_duplicates(["conv_id", "turn_idx"]))
    assert s_packets == b_packets
    assert s_headers == b_headers
