"""Seeded inputs for the three workloads.

All inputs are generated here, in the benchmark's own process, from the
engine's public generators (``sources.generate_turns`` and
``sources.generate_turns_with_payload``), and written to parquet with
pyarrow; the engine only ever sees the files. The same ``--seed`` gives the
same files.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HOUR_S = 3600
EPOCH_S = 1704067200  # 2024-01-01T00:00:00Z, the generators' time origin

# One row per failure class, in the row order of
# ``sources.invalid_fixture_rows()`` (see the comments there).
FIXTURE_REASONS = [
    "missing_payload",
    "missing_created",
    "missing_schema_version",
    "invalid_schema_version",
    "missing_prio_params",
    "missing_prime",
    "wrong_prime",
    "invalid_bins",
    "wrong_number_servers",
    "share_count_mismatch",
    "invalid_base64_payload",
    "missing_signature",
    "missing_cert_chain",
    "missing_epsilon",
    "missing_encryption_key_id",
]


@dataclass(frozen=True)
class BatchParams:
    # conversations started per hour of event time; a window then holds
    # about 11 documents per conversation started in an hour
    convs_per_hour: int
    batch_size: int
    dup_frac: float
    payload: bool
    invalid_frac: float
    avro: bool


@dataclass(frozen=True)
class StreamParams:
    convs_per_hour: int  # offered load: conversations started per wave
    wave_interval_s: float  # wall time between wave due times
    step_s: int  # event time one wave advances
    window_s: int
    batch_size: int


BATCH_TURNS = BatchParams(
    convs_per_hour=1000, batch_size=16, dup_frac=0.02, payload=False,
    invalid_frac=0.0, avro=False,
)
# About 12,000 documents per timed window. Larger windows are dominated by
# per-document work but spread too much between runs on the reference host
# (perfbench/METRICS.md).
BATCH_SHARES = BatchParams(
    convs_per_hour=1000, batch_size=16, dup_frac=0.02, payload=True,
    invalid_frac=0.01, avro=True,
)
STREAM_OPEN = StreamParams(
    convs_per_hour=75, wave_interval_s=10.0, step_s=2 * HOUR_S, window_s=HOUR_S,
    batch_size=16,
)


def _arrow_schema(payload: bool) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    from exposure_notifications_private_analytics_ingestion_spark.model.schema import (
        TURNS_SCHEMA,
        TURNS_WITH_PAYLOAD_SCHEMA,
    )

    schema = to_arrow_schema(TURNS_WITH_PAYLOAD_SCHEMA if payload else TURNS_SCHEMA)
    # timestamps as UTC instants, the way Spark itself writes TimestampType
    i = schema.get_field_index("ts")
    return schema.set(i, pa.field("ts", pa.timestamp("us", tz="UTC")))


def _to_table(pdf: pd.DataFrame, payload: bool) -> pa.Table:
    schema = _arrow_schema(payload)
    cols = [f.name for f in schema]
    frame = pdf[cols].copy()
    frame["ts"] = pd.to_datetime(frame["ts"]).dt.tz_localize("UTC")
    return pa.Table.from_pandas(frame, schema=schema, preserve_index=False)


def ts_seconds(pdf: pd.DataFrame) -> np.ndarray:
    """Event time in epoch seconds (NaN where ts is null)."""
    ts = pd.to_datetime(pdf["ts"])
    return (ts - pd.Timestamp("1970-01-01")).dt.total_seconds().to_numpy()


@dataclass
class BatchInput:
    docs: pd.DataFrame  # every written row
    reason: np.ndarray  # injected invalid reason per row ("" if valid)
    secs: np.ndarray  # event time in epoch seconds (NaN for null ts)
    hour: np.ndarray  # ts floored to the hour (epoch s); -1 for null ts
    windows: list[int]  # window starts in run order; [0] is the warm-up


def make_batch_input(p: BatchParams, seed: int, n_timed: int) -> BatchInput:
    """Input for the warm-up window and ``n_timed`` timed windows.
    Conversations start over one more hour than that, so every timed
    window holds the same steady traffic; window 0 holds the ramp-up."""
    from exposure_notifications_private_analytics_ingestion_spark.sources import (
        generate_turns,
        generate_turns_with_payload,
        invalid_fixture_rows,
    )

    rng = np.random.default_rng(seed)
    hours = n_timed + 2
    n_convs = p.convs_per_hour * hours
    if p.payload:
        docs = generate_turns_with_payload(n_convs=n_convs, seed=seed, hours=hours)
        n = len(docs)
        dup = docs.iloc[rng.integers(0, n, int(n * p.dup_frac))]
        fixture = invalid_fixture_rows()
        n_bad = int(n * p.invalid_frac)
        pick = np.arange(n_bad) % len(fixture)
        bad = fixture.iloc[pick].reset_index(drop=True)
        bad["conv_id"] = [f"bad-{k:06d}" for k in range(n_bad)]
        bad_ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
            rng.integers(0, hours * HOUR_S, n_bad), unit="s"
        )
        bad["ts"] = bad_ts.where(bad["ts"].notna().to_numpy(), pd.NaT)
        reason = np.concatenate(
            [np.full(n + len(dup), "", dtype=object),
             np.array(FIXTURE_REASONS, dtype=object)[pick]]
        )
        docs = pd.concat([docs, dup, bad], ignore_index=True)
    else:
        docs = generate_turns(
            n_convs=n_convs, seed=seed, hours=hours, dup_frac=p.dup_frac
        )
        reason = np.full(len(docs), "", dtype=object)
    order = rng.permutation(len(docs))
    docs = docs.iloc[order].reset_index(drop=True)
    reason = reason[order]
    secs = ts_seconds(docs)
    hour = np.where(np.isnan(secs), -1, np.floor(np.nan_to_num(secs) / HOUR_S) * HOUR_S)
    windows = [EPOCH_S + h * HOUR_S for h in range(1 + n_timed)]
    return BatchInput(docs, reason, secs, hour.astype(np.int64), windows)


def write_hour_partitioned(inp: BatchInput, payload: bool, path: Path) -> None:
    """The layout ``sources.write_turns_table`` produces: one hive partition
    per ``ts_hour=yyyy-MM-dd-HH``; null event times land in the default
    partition."""
    table = _to_table(inp.docs, payload)
    for h in np.unique(inp.hour):
        if h < 0:
            label = "__HIVE_DEFAULT_PARTITION__"
        else:
            label = pd.Timestamp(int(h), unit="s").strftime("%Y-%m-%d-%H")
        d = path / f"ts_hour={label}"
        d.mkdir(parents=True, exist_ok=True)
        idx = np.nonzero(inp.hour == h)[0]
        pq.write_table(table.take(pa.array(idx)), d / "part-00000.parquet")


@dataclass
class StreamInput:
    waves: list[pd.DataFrame]  # arrival order; wave 0 is the warm-up
    sentinel: pd.DataFrame


def make_stream_input(p: StreamParams, seed: int, n_waves: int) -> StreamInput:
    """Turns over ``n_waves`` steps of event time, cut into waves by
    on-time event time. A late row (``generate_turns`` moves 2% of rows 30
    minutes back) arrives in the wave of its on-time stamp, i.e. late."""
    from exposure_notifications_private_analytics_ingestion_spark.sources import (
        generate_turns,
    )

    # two spare hours of conversation starts, so the last fed waves are
    # as dense as the middle ones
    hours = n_waves * p.step_s // HOUR_S + 2
    kw = dict(n_convs=p.convs_per_hour * hours, seed=seed, hours=hours, dup_frac=0.02)
    docs = generate_turns(late_frac=0.02, **kw)
    # same seed and draws with late_frac=0 gives each row's on-time stamp
    on_time = ts_seconds(generate_turns(late_frac=0.0, **kw))
    wave = ((on_time - EPOCH_S) // p.step_s).astype(np.int64)
    waves = [docs[wave == w].reset_index(drop=True) for w in range(n_waves)]
    sentinel = pd.DataFrame(
        {
            "conv_id": ["sentinel"],
            "turn_idx": np.array([0], dtype=np.int32),
            "role": ["system"],
            "text": ["sentinel"],
            "tool": [""],
            "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(days=365)],
        }
    )
    return StreamInput(waves, sentinel)


def write_wave(pdf: pd.DataFrame, path: Path) -> None:
    pq.write_table(_to_table(pdf, payload=False), path)
