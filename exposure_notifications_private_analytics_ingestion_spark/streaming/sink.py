"""Exactly-once dual-destination sink for the streaming CEP core.

The reference achieves retry-idempotence with deterministic file UUIDs so a
rerun overwrites the same destination (``BatchWriterFn.java:135-150``). Spark
foreachBatch gives a stronger primitive: the epoch id is stable across
micro-batch retries, so writing each epoch's output under an epoch-keyed
partition with overwrite makes the whole sink exactly-once — a retried epoch
replaces exactly its own files.

On Iceberg this is one ``MERGE INTO``/``overwriteByFilter`` transaction; on
the parquet stand-in it's dynamic partition overwrite on ``epoch=<id>``.

Each epoch writes, with the batch job's own packet and header functions
(``operators.packets``), so stream and batch output agree on the same input
(``tests/test_stream_batch_parity.py``):
- ``packets/`` — ×2 fan-out rows (pha + facilitator) from ``split_packets``,
  in the batch packet schema, carrying the closed-batch bookkeeping columns
- ``batch_headers/`` — per-(batch, destination) manifest with the
  packet-file digest from ``header_digests``
- ``lineage/`` — per-epoch provenance: epoch id, exact row, batch and
  conversation counts, ts bounds (the north_rule's per-partition lineage
  record)

Plan shape: ONE shuffle per epoch — the closed turn rows are repartitioned
by batch_id with an EXPLICIT partition count (AQE would otherwise coalesce
the repartition-by-column to a handful of partitions and cap the downstream
parquet/digest parallelism — measured as a flat ~25 s sink at every core
count) and cached. The lineage aggregate is the epoch's first action: it
fills the cache and answers the emptiness check in the same job. The ×2
fan-out is a narrow Generate on top of the cache, so the packet write
inherits the batch_id partitioning, and the packet write and the
per-(batch, destination) digest both read the cache instead of re-running
the stateful micro-batch.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.packets import header_digests, split_packets

# closed-batch bookkeeping the packet rows carry through the fan-out
CARRY = ("conv_id", "turn_idx", "ts_ms", "window_start_s", "batch_ordinal", "close_reason")


def make_epoch_sink(output_root: str):
    """foreachBatch callable: idempotent epoch-partitioned write + lineage."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # NOTE: in foreachBatch EVERY action on batch_df re-executes the
        # stateful microbatch plan, so persist first and run every action,
        # the emptiness check included, against the cache. The EXPLICIT
        # partition count pins the shuffle width (AQE coalesces a
        # repartition-by-column, capping downstream parallelism).
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        closed = batch_df.repartition(n_part, "batch_id").persist()
        # lineage stats double as the emptiness check: one job fills the
        # cache and yields every count
        stats = closed.agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("batch_id").alias("n_batches"),
            F.count_distinct("conv_id").alias("n_convs"),
            F.min("ts_ms").alias("min_ts_ms"),
            F.max("ts_ms").alias("max_ts_ms"),
        ).collect()[0]
        if stats["n_rows"] == 0:
            closed.unpersist()
            return
        # exactly-once via DIRECT epoch-directory overwrite: the write targets
        # .../packets/epoch=<id> itself, so a retried epoch replaces exactly
        # its own subtree with the plain (non-dynamic) committer — no
        # staging-and-move pass over the whole table, no driver-side serial
        # file shuffling across epochs. Readers see the identical hive layout
        # (epoch=<id>/destination=<d>) via partition discovery.
        packets = split_packets(closed, carry=CARRY)
        (
            packets.write.mode("overwrite")
            .partitionBy("destination")
            .parquet(f"{output_root}/packets/epoch={epoch_id}")
        )
        headers = header_digests(
            packets,
            F.first("window_start_s").alias("batch_start_time"),
            F.min("ts_ms").alias("min_ts_ms"),
            F.max("ts_ms").alias("max_ts_ms"),
        ).select(
            "batch_id",
            "destination",
            "name",
            "batch_start_time",
            "n_packets",
            "min_ts_ms",
            "max_ts_ms",
            "packet_file_digest",
        )
        headers.write.mode("overwrite").parquet(
            f"{output_root}/batch_headers/epoch={epoch_id}"
        )
        # lineage: one JSON record per epoch (atomic rename for idempotence);
        # turn-level rows, so each turn counts once
        os.makedirs(f"{output_root}/lineage", exist_ok=True)
        rec = {"epoch": epoch_id, **stats.asDict(), "wall_time": time.time()}
        tmp = f"{output_root}/lineage/.epoch-{epoch_id}.tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, f"{output_root}/lineage/epoch-{epoch_id}.json")
        closed.unpersist()

    return sink
