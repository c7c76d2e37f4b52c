"""CDC ingest job — the spark-submit entry point.

Synthesizes (or reuses) a deterministic binlog change stream, replays it
through the IngestRunner into a lake table, and prints ONE JSON line of
throughput stats. Run it at two parallelism levels for the scaling report:

    python jobs/run_ingest.py --cores 8  --events 2000000 --changes /tmp/chg --warehouse /tmp/whA
    python jobs/run_ingest.py --cores 32 --events 2000000 --changes /tmp/chg --warehouse /tmp/whB

On a real cluster submit with:
    spark-submit --py-files tenzir_spark.zip jobs/run_ingest.py --master yarn ...
(local[N] here stands in for N executor cores; the engine itself only uses
DataFrame ops + hash bucketing, so the same plan distributes unchanged.)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--events", type=int, default=1_000_000)
    p.add_argument("--docs", type=int, default=100_000)
    p.add_argument("--parts", type=int, default=8)
    p.add_argument("--batches", type=int, default=10)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    p.add_argument("--changes", default="/tmp/tenzir_spark_changes")
    p.add_argument("--warehouse", default="/tmp/tenzir_spark_wh")
    p.add_argument("--schema-change-batch", type=int, default=None)
    p.add_argument("--start-batch", type=int, default=0, help="resume position (watermarks make over-replay safe)")
    p.add_argument("--fresh", action="store_true", help="wipe warehouse before running")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--driver-mem", default=os.environ.get("TENZIR_SPARK_DRIVER_MEM", "12g"),
                   help="local-mode heap. Measured: oversizing (48g) is 3x "
                        "SLOWER than 8-12g here (G1 region sizing + cold "
                        "pages); don't throw memory at local mode")
    p.add_argument("--master", default=None,
                   help="Spark master URL (e.g. spark://host:7077) for a "
                        "real multi-executor cluster; default local[cores]. "
                        "With spark-submit, ship the library via "
                        "--py-files dist/tenzir_spark.zip (scripts/package.py)")
    p.add_argument("--async-compact", action="store_true",
                   help="fold merge-on-read debt in a background thread "
                        "(commit rebase keeps newer deltas); hides the "
                        "compaction spikes from ingest wall time")
    p.add_argument("--sorted-compaction", action="store_true",
                   help="key-sort each bucket file during folds (row-group-"
                        "pruned point lookups; ~25%% extra fold time)")
    p.add_argument("--no-writer-lease", action="store_true",
                   help="skip the cross-process single-writer flock on the "
                        "table (on by default for the one-shot CLI)")
    p.add_argument("--dlq", action="store_true",
                   help="quarantine fresh null-key events to "
                        "<warehouse>/<table>_dlq/batch=<id>/ instead of "
                        "dropping them (one extra filtered write per batch)")
    p.add_argument("--retain-snapshots", type=int, default=None,
                   help="expire snapshot manifests beyond the newest N after "
                        "each fold and GC the files only they referenced "
                        "(Iceberg expire_snapshots). Default: retain all "
                        "(full time travel; storage grows with history)")
    p.add_argument("--local-dir", default=None,
                   help="spark.local.dir (shuffle spill). In local mode every "
                        "'executor' thread shares ONE disk — an artifact a real "
                        "cluster doesn't have (per-node disks scale with N). "
                        "Point at tmpfs (/dev/shm/...) for scaling experiments "
                        "to measure compute, not the sandbox's single vda.")
    args = p.parse_args()

    from tenzir_spark.cdc.changegen import generate_changes
    from tenzir_spark.cdc.runner import IngestRunner
    from tenzir_spark.session import get_spark

    manifest_path = os.path.join(args.changes, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest["n_events"] != args.events or manifest["seed"] != args.seed:
            shutil.rmtree(args.changes)
    if not os.path.exists(manifest_path):
        t0 = time.monotonic()
        manifest = generate_changes(
            args.changes,
            n_events=args.events,
            n_docs=args.docs,
            n_parts=args.parts,
            n_batches=args.batches,
            seed=args.seed,
            schema_change_batch=args.schema_change_batch,
        )
        print(f"generated {args.events} events in {time.monotonic() - t0:.1f}s", file=sys.stderr)

    if args.fresh and os.path.exists(args.warehouse):
        shutil.rmtree(args.warehouse)

    extra = {"spark.local.dir": args.local_dir} if args.local_dir else {}
    spark = get_spark("tenzir_spark_ingest", cores=args.cores,
                      driver_memory=args.driver_mem, extra_conf=extra,
                      master=args.master)
    runner = IngestRunner(
        spark, args.warehouse, n_buckets=args.buckets,
        async_compact=args.async_compact,
        retain_snapshots=args.retain_snapshots,
        sorted_compaction=args.sorted_compaction,
        dlq=args.dlq,
        writer_lease=not args.no_writer_lease,
    )
    stats = runner.run(args.changes, start_batch=args.start_batch)
    for st in stats["batch_stats"]:
        print(f"batch {st['batch_id']}: {st['events_in']} events in {st['wall_ms']}ms "
              f"(applied_keys={st['applied_keys']}, v{st['version']})", file=sys.stderr)
    t0 = time.monotonic()
    final_rows = runner.final_state().count()
    print(f"final_state count in {time.monotonic() - t0:.1f}s", file=sys.stderr)
    out = {
        "metric": "change_events_per_sec",
        "value": round(stats["events_per_sec"], 1),
        "unit": "events/sec",
        "events_in": stats["events_in"],
        "batches": stats["batches"],
        "wall_sec": round(stats["wall_sec"], 2),
        "cores": args.cores,
        "final_rows": final_rows,
        "table_version": runner.table.current_version(),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
