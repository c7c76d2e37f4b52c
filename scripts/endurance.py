"""10^8-event endurance replay — 1% of the north rule's 10^10 target,
executed end-to-end on one box.

Correctness at this scale can't use the pandas oracle; instead the
incremental engine result is cross-checked against an INDEPENDENT
single-shot Spark computation (one global LWW over the whole log — a
different code path: no micro-batches, no watermarks, no merge-on-read),
compared by row count + an order-insensitive xxhash64 checksum over every
column including the full token arrays.

    python scripts/endurance.py [--events 100000000] [--changes /dev/shm/chg100m]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--events", type=int, default=100_000_000)
    p.add_argument("--docs", type=int, default=10_000_000)
    p.add_argument("--batches", type=int, default=50)
    p.add_argument("--parts", type=int, default=32)
    p.add_argument("--cores", type=int, default=32)
    p.add_argument("--changes", default="/dev/shm/chg100m")
    p.add_argument("--warehouse", default="/dev/shm/endurance_wh")
    args = p.parse_args()

    from pyspark.sql import functions as F

    from tenzir_spark.cdc.changegen import generate_changes
    from tenzir_spark.cdc.runner import IngestRunner
    from tenzir_spark.session import get_spark

    if not os.path.exists(os.path.join(args.changes, "manifest.json")):
        print("generating ...", file=sys.stderr)
        generate_changes(args.changes, n_events=args.events, n_docs=args.docs,
                         n_parts=args.parts, n_batches=args.batches, seed=42,
                         token_len=(8, 32))

    shutil.rmtree(args.warehouse, ignore_errors=True)
    spark = get_spark("endurance", cores=args.cores, driver_memory="12g",
                      extra_conf={"spark.local.dir": "/dev/shm/endurance_local"})

    runner = IngestRunner(spark, args.warehouse, n_buckets=128, async_compact=True)
    t0 = time.monotonic()
    stats = runner.run(args.changes)
    wall = time.monotonic() - t0

    final = runner.final_state()
    chk_cols = [c for c in final.columns]
    engine = final.agg(
        F.count("*").alias("rows"),
        F.sum(F.xxhash64(*chk_cols).cast("decimal(38,0)")).alias("checksum"),
    ).collect()[0]

    # independent single-shot oracle: one global LWW over the raw log
    log = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(args.changes)
    )
    data = log.filter((F.col("op") != "schema_change") & F.col("doc_id").isNotNull())
    payload = [c for c in final.columns if c != "doc_id"]
    winner = (
        data.groupBy("doc_id")
        .agg(F.max_by(F.struct("op", *payload), F.col("lsn")).alias("w"))
        .filter(F.col("w.op") != "delete")
        .select("doc_id", *[F.col(f"w.{c}").alias(c) for c in payload])
    )
    oracle = winner.agg(
        F.count("*").alias("rows"),
        F.sum(F.xxhash64(*chk_cols).cast("decimal(38,0)")).alias("checksum"),
    ).collect()[0]

    out = {
        "metric": "endurance_replay",
        "events_in": stats["events_in"],
        "batches": stats["batches"],
        "wall_sec": round(wall, 1),
        "events_per_sec": round(stats["events_in"] / wall, 1),
        "engine_rows": engine["rows"],
        "oracle_rows": oracle["rows"],
        "engine_checksum": str(engine["checksum"]),
        "oracle_checksum": str(oracle["checksum"]),
        "match": engine["rows"] == oracle["rows"]
        and engine["checksum"] == oracle["checksum"],
        "cores": args.cores,
    }
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(args.warehouse, ignore_errors=True)


if __name__ == "__main__":
    main()
