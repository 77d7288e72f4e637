"""X1 — packet split: each share fans out to exactly NUMBER_OF_SERVERS(=2)
packets, index 0 → 'pha', index 1 → 'facilitator'.

Reference: ``PrioSerializationHelper.splitPackets``
(``pipeline/PrioSerializationHelper.java:106-121``) nulls
``encryption_key_id`` / ``version_configuration`` / ``device_nonce`` on the
output packets; routing + size check in ``pipeline/BatchWriterFn.java:121-133``.
Fork-consistency contract (``IngestionPipelineIT.java:601-630``): both
destinations carry the same uuid set with equal r_pit.

Spark shape: ``posexplode`` on the shares array — a pure narrow transform, no
shuffle, fully codegen'd (Generate node). uuid = ``conv_id#turn_idx``
(FIXTURES.md §4).

W2 — ``header_digests`` is the per-(batch, destination) manifest core both
the batch job and the streaming sink build their headers on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DESTINATIONS = ["pha", "facilitator"]


def turn_uuid() -> F.Column:
    return F.concat_ws("#", F.col("conv_id"), F.col("turn_idx").cast("string"))


def split_packets(
    df: DataFrame,
    payload_col: str = "encrypted_shares",
    carry: tuple[str, ...] = ("conv_id", "turn_idx", "ts"),
) -> DataFrame:
    """Valid turns (with a 2-element shares array) → 2 packet rows each.

    If ``payload_col`` is absent (plain transcript turns), both forks carry
    the turn text bytes — the graft's per-turn parity column.

    Output: ``batch_id, destination, uuid, r_pit, encrypted_payload`` and the
    three nulled reference fields, then the ``carry`` columns copied through
    unchanged (they must exist in ``df``; the batch job carries the turn's
    ``ts``, the streaming sink its closed-batch bookkeeping), then the
    batch's Prio fields when ``df`` has ``prio_params``.
    """
    if payload_col in df.columns:
        exploded = df.select(
            "*", F.posexplode(payload_col).alias("_pos", "_share")
        )
        payload = F.unbase64(F.col("_share.payload"))
    else:
        exploded = df.select(
            "*",
            F.posexplode(F.array(F.lit(0), F.lit(1))).alias("_pos", "_ignored"),
        )
        payload = F.encode(F.col("text"), "UTF-8")

    dest = F.when(F.col("_pos") == 0, F.lit(DESTINATIONS[0])).otherwise(
        F.lit(DESTINATIONS[1])
    )
    cols = [
        F.col("batch_id"),
        dest.alias("destination"),
        turn_uuid().alias("uuid"),
        (F.col("r_pit") if "r_pit" in df.columns else F.lit(None).cast("long")).alias("r_pit"),
        payload.alias("encrypted_payload"),
        F.lit(None).cast(T.StringType()).alias("encryption_key_id"),
        F.lit(None).cast(T.StringType()).alias("version_configuration"),
        F.lit(None).cast(T.BinaryType()).alias("device_nonce"),
        *carry,
    ]
    if "prio_params" in df.columns:
        # carry the batch's Prio metadata to the header stage — the reference
        # derives header fields from DataShareMetadata, never from constants
        # (pipeline/BatchWriterFn.java:152-176)
        cols += [
            F.col("prio_params.bins").cast("int").alias("bins"),
            F.col("prio_params.epsilon").cast("double").alias("epsilon"),
            F.col("prio_params.hamming_weight").cast("int").alias("hamming_weight"),
            F.col("prio_params.prime").cast("long").alias("prime"),
        ]
    return exploded.select(*cols)


def header_digests(packets: DataFrame, *aggs: Column) -> DataFrame:
    """One row per ``(batch_id, destination)`` of ``packets``: ``name`` (the
    batch's conversation), ``n_packets``, the caller's own ``aggs``, and
    ``packet_file_digest`` — sha256 over the batch's ``uuid:hex(payload)``
    strings concatenated in sorted order, so the digest is replay-stable
    regardless of shuffle order (``pipeline/BatchWriterFn.java:211-216``,
    ``PrioSerializationHelper.java:90-104``). collect_list is bounded by
    batch_size (the reference's own memory rationale,
    ``BatchWriterFn.java:120``)."""
    entry = F.struct("uuid", F.hex("encrypted_payload").alias("payload_hex"))
    return packets.groupBy("batch_id", "destination").agg(
        F.first("conv_id").alias("name"),
        F.count("*").alias("n_packets"),
        *aggs,
        F.sha2(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(entry)),
                    lambda s: F.concat(s["uuid"], F.lit(":"), s["payload_hex"]),
                ),
            ),
            256,
        ).alias("packet_file_digest"),
    )
