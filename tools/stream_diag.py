"""Diagnostic: run the streaming CEP leg once at a given core count and dump
per-microbatch progress durations (where does the 4N leg lose time?).

Usage: python tools/stream_diag.py <cores> [bucket_by] [ck_root] [workdir]
bucket_by 0 (the default) leaves the state bucket count to the engine,
which derives it from spark.sql.shuffle.partitions (this tool's session
sets 64).
Prints one DIAG json line: wall, n_turns, and per-batch durationMs +
stateOperators timing.
"""

from __future__ import annotations

import json
import shutil
import sys
import time

REPO = "/root/repo"
sys.path.insert(0, REPO)

from exposure_notifications_private_analytics_ingestion_spark.session import get_spark  # noqa: E402
from exposure_notifications_private_analytics_ingestion_spark.streaming import (  # noqa: E402
    StreamOptions,
    start_stream_ingestion,
)


def main():
    cores = int(sys.argv[1])
    bucket_by = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    ck_root = sys.argv[3] if len(sys.argv) > 3 else "/tmp/enpa-scaling"
    workdir = sys.argv[4] if len(sys.argv) > 4 else "/tmp/enpa-scaling"
    turns = f"{workdir}/turns"
    spark = get_spark(app_name=f"diag-{cores}", cores=cores, shuffle_partitions=64)
    warm = spark.read.parquet(turns)
    warm.write.format("noop").mode("overwrite").save()
    n = warm.count()

    out = f"{workdir}/diag-out-{cores}"
    ck = f"{ck_root}/diag-ck-{cores}"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    t0 = time.time()
    q = start_stream_ingestion(
        spark,
        turns,
        out,
        ck,
        StreamOptions(batch_size=5000, window_s=6 * 3600, watermark="1 hour",
                      bucket_by=bucket_by or None),
        rocksdb_state=False,
    )
    q.awaitTermination(3600)
    wall = time.time() - t0
    prog = []
    for p in q.recentProgress:
        d = p
        prog.append(
            {
                "batchId": d.get("batchId"),
                "numInputRows": d.get("numInputRows"),
                "durationMs": d.get("durationMs"),
                "state": [
                    {
                        k: so.get(k)
                        for k in (
                            "numRowsTotal",
                            "numRowsUpdated",
                            "allUpdatesTimeMs",
                            "commitTimeMs",
                            "memoryUsedBytes",
                            "numShufflePartitions",
                        )
                    }
                    for so in d.get("stateOperators", [])
                ],
            }
        )
    print(
        "DIAG "
        + json.dumps(
            {
                "cores": cores,
                "n_turns": n,
                "wall": round(wall, 2),
                "tps": round(n / wall, 1),
                "n_batches": len(prog),
                "batches": prog,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
