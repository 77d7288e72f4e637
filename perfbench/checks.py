"""Outside-in output checks.

Each check compares what the engine wrote against what the benchmark
generated, recomputing the expected values in pandas, and returns a list of
problems (empty when the output is correct). The checks never call the
engine's own packet, digest or batching code.
"""

from __future__ import annotations

import base64
import hashlib

import numpy as np
import pandas as pd

DESTINATIONS = ("pha", "facilitator")


def uuid_of(conv_id: pd.Series, turn_idx: pd.Series) -> pd.Series:
    return conv_id.astype(str) + "#" + turn_idx.astype(np.int64).astype(str)


def expected_packets(turns: pd.DataFrame, payload: bool) -> pd.DataFrame:
    """(uuid, destination, payload) expected for a set of deduped turns:
    each turn fans out to both destinations; plain turns carry their text,
    Prio documents their base64-decoded share for that destination."""
    uuid = uuid_of(turns["conv_id"], turns["turn_idx"]).to_numpy()
    frames = []
    for pos, dest in enumerate(DESTINATIONS):
        if payload:
            body = [base64.b64decode(s[pos]["payload"]) for s in turns["encrypted_shares"]]
        else:
            body = [t.encode("utf-8") for t in turns["text"]]
        frames.append(pd.DataFrame({"uuid": uuid, "destination": dest, "payload": body}))
    return pd.concat(frames, ignore_index=True)


def check_turn_set(
    expected: pd.DataFrame, emitted: pd.DataFrame, allowed_missing: int = 0
) -> list[str]:
    """Every expected (uuid, destination) emitted exactly once with an equal
    payload; nothing else emitted. ``emitted`` has uuid, destination and
    encrypted_payload. Up to ``allowed_missing`` turns may be absent (rows
    the engine reports as dropped)."""
    problems = []
    key = ["uuid", "destination"]
    counts = emitted.groupby(key).size()
    dups = counts[counts > 1]
    if len(dups):
        problems.append(f"{len(dups)} packets emitted more than once, e.g. {dups.index[0]}")
    got = emitted.drop_duplicates(key).set_index(key)["encrypted_payload"]
    want = expected.set_index(key)["payload"]
    extra = got.index.difference(want.index)
    if len(extra):
        problems.append(f"{len(extra)} unexpected packets, e.g. {extra[0]}")
    missing = want.index.difference(got.index)
    missing_turns = missing.get_level_values(0).nunique() if len(missing) else 0
    if missing_turns > allowed_missing:
        problems.append(
            f"{missing_turns} turns missing (allowed {allowed_missing}), e.g. {missing[0]}"
        )
    common = want.index.intersection(got.index)
    a = want.loc[common].map(bytes)
    b = got.loc[common].map(bytes)
    bad = (a.to_numpy() != b.to_numpy()).sum()
    if bad:
        problems.append(f"{bad} packets with a wrong payload")
    return problems


def check_batch_sizes(
    packets: pd.DataFrame, batch_size: int, key_cols: list[str]
) -> list[str]:
    """Per key and destination, every batch holds exactly ``batch_size``
    packets except at most one smaller (the last) batch."""
    sizes = packets.groupby([*key_cols, "destination", "batch_id"]).size()
    over = int((sizes > batch_size).sum())
    n_short = (sizes < batch_size).groupby(level=list(range(len(key_cols) + 1))).sum()
    problems = []
    if over:
        problems.append(f"{over} batches larger than {batch_size}")
    if (n_short > 1).any():
        problems.append(f"{int((n_short > 1).sum())} keys with more than one short batch")
    return problems


def digest(uuids, payloads) -> str:
    """sha256 over the batch's ``uuid:HEX(payload)`` strings in sorted order."""
    pairs = sorted(zip(uuids, (bytes(p).hex().upper() for p in payloads)))
    return hashlib.sha256("".join(f"{u}:{h}" for u, h in pairs).encode()).hexdigest()


def digests(packets: pd.DataFrame, key: list[str]) -> dict[tuple, tuple[int, str]]:
    """(n_packets, digest) per batch key, as ``digest`` computes them."""
    frame = packets[[*key, "uuid"]].copy()
    frame["hex"] = [bytes(p).hex().upper() for p in packets["encrypted_payload"]]
    frame = frame.sort_values([*key, "uuid", "hex"], kind="stable")
    lines = (frame["uuid"].astype(str) + ":" + frame["hex"]).tolist()
    keys = list(frame[key].itertuples(index=False, name=None))
    out = {}
    start = 0
    for i in range(1, len(keys) + 1):
        if i == len(keys) or keys[i] != keys[start]:
            text = "".join(lines[start:i]).encode()
            out[keys[start]] = (i - start, hashlib.sha256(text).hexdigest())
            start = i
    return out


def check_headers(headers: pd.DataFrame, packets: pd.DataFrame) -> list[str]:
    """One header per (batch_id, destination) of the packets, with
    ``n_packets`` and ``packet_file_digest`` recomputed from the packets."""
    problems = []
    key = ["batch_id", "destination"]
    recomputed = digests(packets, key)
    seen = set()
    wrong_n = wrong_digest = 0
    for row in headers[[*key, "n_packets", "packet_file_digest"]].itertuples(index=False):
        k = (row.batch_id, row.destination)
        if k in seen:
            problems.append(f"duplicate header {k}")
            continue
        seen.add(k)
        if k not in recomputed:
            problems.append(f"header without packets {k}")
            continue
        n, d = recomputed[k]
        wrong_n += int(row.n_packets) != n
        wrong_digest += row.packet_file_digest != d
    if wrong_n:
        problems.append(f"{wrong_n} headers with a wrong n_packets")
    if wrong_digest:
        problems.append(f"{wrong_digest} headers with a wrong packet_file_digest")
    missing = set(recomputed) - seen
    if missing:
        problems.append(f"{len(missing)} batches without a header")
    return problems


def check_signatures(
    headers: pd.DataFrame, signatures: pd.DataFrame, pub_der_b64: str
) -> list[str]:
    """Every header has one signature that verifies over its digest under
    the published public key."""
    from exposure_notifications_private_analytics_ingestion_spark.functions.signing import (
        verify_header_signature,
    )

    key = ["batch_id", "destination"]
    merged = headers[[*key, "packet_file_digest"]].merge(
        signatures[[*key, "batch_header_signature"]], on=key, how="left"
    )
    problems = []
    if len(merged) != len(headers):
        problems.append("headers with more than one signature")
    unsigned = int(merged["batch_header_signature"].isna().sum())
    if unsigned:
        problems.append(f"{unsigned} headers without a signature")
    bad = sum(
        not verify_header_signature(d, s, pub_der_b64)
        for d, s in zip(merged["packet_file_digest"], merged["batch_header_signature"])
        if isinstance(s, str)
    )
    if bad:
        problems.append(f"{bad} signatures fail to verify")
    return problems


def check_counters(
    reported: dict, expected: dict[str, int], reasons: list[str]
) -> list[str]:
    """The engine's invalid-reason counters equal the injected counts."""
    got = {k: int(v) for k, v in reported.items() if k in reasons and int(v)}
    want = {k: v for k, v in expected.items() if v}
    return [] if got == want else [f"invalid counters {got} != injected {want}"]


def check_avro(avro: pd.DataFrame, packets: pd.DataFrame, n_headers: int,
               n_files: int, stray: list[str]) -> list[str]:
    """Avro read-back equals the parquet packets; one container per header;
    no container outside the output root."""
    problems = []
    if n_files != n_headers:
        problems.append(f"{n_files} containers for {n_headers} headers")
    if stray:
        problems.append(f"{len(stray)} containers outside the output root, e.g. {stray[0]}")
    cols = ["batch_id", "destination", "uuid", "r_pit", "encrypted_payload"]
    a = avro[cols].assign(encrypted_payload=avro["encrypted_payload"].map(bytes))
    b = packets[cols].assign(encrypted_payload=packets["encrypted_payload"].map(bytes))
    a = a.sort_values(cols[:3]).reset_index(drop=True)
    b = b.sort_values(cols[:3]).reset_index(drop=True)
    if len(a) != len(b):
        problems.append(f"avro holds {len(a)} packets, parquet {len(b)}")
    elif not a.astype(str).equals(b.astype(str)):
        problems.append("avro packets differ from parquet packets")
    return problems
