"""Rolling endurance replay: generate → apply → delete, no full-log
staging — the storage shape of a real binlog tail, sized for 10^9+
events on one box (the staged generator caps out near 10^8; see
tenzir_spark/cdc/changegen_stream.py).

Pipeline per batch (double-buffered):

    gen thread:  write_batch(b+1)          (numpy/pyarrow, ~1 core)
    main thread: runner.apply_batch(b)     (Spark, all cores)
    then:        rm batch b                (after gen(b+1) done — the
                                            generator reads b for
                                            cross-batch redelivery)

Verification WITHOUT retaining the log: pass 1 records each doc's
winning lsn; pass 2 regenerates winner rows only (an independent
derivation of the final state from the generator's determinism, not
from the engine) and the engine table is compared by row count + an
order-insensitive xxhash64 checksum over every column including the
full token arrays — scripts/endurance.py semantics, unbounded scale.

    python scripts/endurance_stream.py --events 1000000000 --docs 10000000 \
        --batches 200 --cores 32
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--events", type=int, default=1_000_000_000)
    p.add_argument("--docs", type=int, default=10_000_000)
    p.add_argument("--batches", type=int, default=200)
    p.add_argument("--parts", type=int, default=64)
    p.add_argument("--cores", type=int, default=32)
    p.add_argument("--base", default="/dev/shm/endurance_stream")
    p.add_argument("--schema-change-batch", type=int, default=3)
    p.add_argument("--retain-snapshots", type=int, default=None,
                   help="expire history after each fold (REQUIRED for "
                        "10^9-scale runs on tmpfs: full history of "
                        "hundreds of batches outgrows /dev/shm; the "
                        "final-state checksum is retention-agnostic)")
    p.add_argument("--keep", action="store_true",
                   help="keep warehouse + expected dirs for inspection")
    args = p.parse_args()

    from pyspark.sql import functions as F

    from tenzir_spark.cdc.changegen_stream import StreamedChangeGen
    from tenzir_spark.cdc.runner import IngestRunner
    from tenzir_spark.session import get_spark

    base = args.base
    chg = os.path.join(base, "chg")
    wh = os.path.join(base, "wh")
    exp = os.path.join(base, "expected")
    local = os.path.join(base, "spark_local")
    for d in (chg, wh, exp):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(chg, exist_ok=True)

    # 8g driver heap OOMs 32-thread runs at >=4M-event batches (async
    # compaction overlaps the apply; batch size, not doc count, drives
    # heap — see CLAUDE.md perf facts). Default up to 14g for big
    # batches; an explicit TENZIR_SPARK_DRIVER_MEM still wins.
    per_batch = args.events // max(args.batches, 1)
    mem = os.environ.get(
        "TENZIR_SPARK_DRIVER_MEM", "14g" if per_batch >= 3_000_000 else None)
    # max_by(struct) LWW plans as SortAggregateExec in Spark 4.1
    # (struct-with-array buffer is neither hash- nor object-hash-
    # supported): partial aggs sort full rows INCLUDING token arrays.
    # The 20g 1e9 run OOM'd at batch ~380/400 with free heap — G1
    # humongous fragmentation from multi-MB sort pages. get_spark owns
    # the fix (32m regions for >=16 GiB heaps via wants_big_heap_tuning);
    # smaller scan splits here bound per-task sort runs as fold buckets
    # grow with the table.
    spark = get_spark("endurance_stream", cores=args.cores,
                      driver_memory=mem,
                      extra_conf={
                          "spark.local.dir": local,
                          "spark.sql.files.maxPartitionBytes":
                              str(64 << 20),
                          "spark.ui.showConsoleProgress": "false",
                      })
    gen = StreamedChangeGen(
        n_events=args.events, n_docs=args.docs, n_parts=args.parts,
        n_batches=args.batches, seed=42, token_len=(64, 256),
        schema_change_batch=args.schema_change_batch, compression="lz4")
    gen.write_manifest(chg)
    runner = IngestRunner(spark, wh, n_buckets=64, async_compact=True,
                          retain_snapshots=args.retain_snapshots)
    runner.ensure_table()

    t_start = time.monotonic()
    gen_walls: list[float] = []
    apply_walls: list[float] = []

    # prime the pipeline: batch 0 generated synchronously
    t0 = time.monotonic()
    paths = {0: gen.write_batch(chg, 0)}
    gen_walls.append(time.monotonic() - t0)

    def _gen(b: int) -> None:
        t0 = time.monotonic()
        paths[b] = gen.write_batch(chg, b)
        gen_walls.append(time.monotonic() - t0)

    for b in range(args.batches):
        th = None
        if b + 1 < args.batches:
            th = threading.Thread(target=_gen, args=(b + 1,), daemon=True)
            th.start()
        t0 = time.monotonic()
        runner.apply_batch(paths[b], b)
        apply_walls.append(time.monotonic() - t0)
        if th is not None:
            th.join()  # generator reads batch b for redelivery — GC after
        shutil.rmtree(paths.pop(b), ignore_errors=True)
        if (b + 1) % 10 == 0:
            done = sum(apply_walls)
            print(f"batch {b + 1}/{args.batches}  apply {apply_walls[-1]:.2f}s  "
                  f"gen {gen_walls[-1]:.2f}s  cum {done:.0f}s", file=sys.stderr,
                  flush=True)
    runner.finish_compaction()
    ingest_wall = time.monotonic() - t_start

    # ---- pass 2: independent expected state from the generator
    t0 = time.monotonic()
    expected_rows = gen.write_expected(exp)
    pass2_wall = time.monotonic() - t0

    # ---- compare: count + order-insensitive checksum over ALL columns
    # (including the full token arrays — the north rule's per-row
    # token-array-equality invariant, endurance.py semantics)
    cols = ["doc_id", "tokens", "n_tok", "source", "meta"]
    final = runner.final_state().select(*cols)
    exp_raw = spark.read.option("mergeSchema", "true").parquet(exp)
    if "meta" not in exp_raw.columns:
        exp_raw = exp_raw.withColumn("meta", F.lit(None).cast("string"))
    exp_df = exp_raw.select(*cols)

    def _chk(df):
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"] or 0)

    n_eng, h_eng = _chk(final)
    n_exp, h_exp = _chk(exp_df)
    ok = (n_eng == n_exp) and (h_eng == h_exp)

    steady = apply_walls[1:]
    ev_per_batch = args.events / args.batches
    out = {
        "metric": "endurance_stream_events_per_sec",
        "value": round(args.events / sum(apply_walls), 1),
        "unit": "events/sec",
        "events": args.events,
        "docs": args.docs,
        "batches": args.batches,
        "ingest_wall_sec": round(ingest_wall, 1),
        "apply_wall_sec": round(sum(apply_walls), 1),
        "steady_events_per_sec": round(
            ev_per_batch * len(steady) / sum(steady), 1) if steady else None,
        "gen_overlap_ratio": round(sum(gen_walls) / sum(apply_walls), 2),
        "expected_rows": expected_rows,
        "engine_rows": n_eng,
        "checksum_match": ok,
        "pass2_wall_sec": round(pass2_wall, 1),
    }
    print(json.dumps(out))
    if not args.keep:
        for d in (chg, wh, exp):
            shutil.rmtree(d, ignore_errors=True)
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
