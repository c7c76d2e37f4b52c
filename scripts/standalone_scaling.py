"""N vs 4N EXECUTORS on a real (single-host) Spark standalone cluster.

Unlike local[N] (one JVM, threads share a heap), this starts a standalone
master + separate worker JVMs, each hosting one 4-core/4g executor — the
actual multi-executor topology `spark-submit` targets. The driver connects
in client mode and runs the identical CDC replay at 1 worker (N=4 cores)
and 4 workers (4N=16 cores).

Requires /opt/spark (same 4.1.2 as the pip pyspark). All data + shuffle on
tmpfs. Usage:

    python scripts/standalone_scaling.py [--changes /dev/shm/chg_heavy16]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SPARK_HOME = "/opt/spark"
MASTER = "spark://127.0.0.1:7077"


def _env(n_workers: int) -> dict:
    env = dict(os.environ)
    env.update(
        SPARK_HOME=SPARK_HOME,
        SPARK_LOCAL_DIRS="/dev/shm/sa_local",
        SPARK_LOG_DIR="/tmp/spark-logs",
        SPARK_WORKER_INSTANCES=str(n_workers),
        PYSPARK_PYTHON=sys.executable,
    )
    return env


def start_cluster(n_workers: int) -> None:
    subprocess.run([f"{SPARK_HOME}/sbin/start-master.sh", "-h", "127.0.0.1", "-p", "7077"],
                   env=_env(n_workers), capture_output=True)
    time.sleep(3)
    subprocess.run([f"{SPARK_HOME}/sbin/start-worker.sh", MASTER, "-c", "4", "-m", "6g"],
                   env=_env(n_workers), capture_output=True)
    time.sleep(4)


def stop_cluster(n_workers: int) -> None:
    subprocess.run([f"{SPARK_HOME}/sbin/stop-worker.sh"], env=_env(n_workers), capture_output=True)
    subprocess.run([f"{SPARK_HOME}/sbin/stop-master.sh"], env=_env(n_workers), capture_output=True)
    time.sleep(2)


def run_ingest(n_workers: int, changes: str) -> dict:
    from tenzir_spark.cdc.runner import IngestRunner
    from tenzir_spark.session import get_spark

    total_cores = 4 * n_workers
    wh = f"/dev/shm/sa_wh_{n_workers}"
    shutil.rmtree(wh, ignore_errors=True)
    spark = get_spark(
        f"sa_scaling_{n_workers}w", cores=total_cores, master=MASTER,
        driver_memory="8g",
        extra_conf={
            "spark.executor.cores": "4",
            "spark.executor.memory": "4g",
            "spark.local.dir": "/dev/shm/sa_local_driver",
        },
    )
    runner = IngestRunner(spark, wh, n_buckets=64,
                          async_compact=os.environ.get("SA_ASYNC", "") == "1")
    stats = runner.run(changes)
    final_rows = runner.final_state().count()
    spark.stop()
    shutil.rmtree(wh, ignore_errors=True)
    steady = stats["batch_stats"][1:]
    ev = sum(b["events_in"] for b in steady)
    sec = sum(b["wall_ms"] for b in steady) / 1000
    return {
        "workers": n_workers,
        "executor_cores": 4,
        "total_cores": total_cores,
        "events_in": stats["events_in"],
        "wall_sec": round(stats["wall_sec"], 2),
        "events_per_sec": round(stats["events_in"] / stats["wall_sec"], 1),
        "steady_events_per_sec": round(ev / sec, 1) if sec else None,
        "final_rows": final_rows,
        "batch_walls_ms": [b["wall_ms"] for b in stats["batch_stats"]],
    }


def run_submit(n_workers: int, changes: str) -> dict:
    """The north-rule deployment shape, literally: `spark-submit
    --py-files dist/tenzir_spark.zip jobs/run_ingest.py` against the
    standalone master. The job script and zip are STAGED IN A TEMP DIR
    outside the repo, so the driver (and every executor's Python worker)
    can resolve `tenzir_spark` only from the shipped zip — if package.py
    missed a module, this run fails instead of silently importing from
    the repo checkout."""
    import tempfile

    subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "package.py")],
                   check=True, capture_output=True)
    stage = tempfile.mkdtemp(prefix="tz_submit_")
    shutil.copy(os.path.join(ROOT, "jobs", "run_ingest.py"), stage)
    shutil.copy(os.path.join(ROOT, "dist", "tenzir_spark.zip"), stage)
    with open(os.path.join(changes, "manifest.json")) as f:
        man = json.load(f)
    wh = f"/dev/shm/sa_wh_submit_{n_workers}"
    shutil.rmtree(wh, ignore_errors=True)
    total_cores = 4 * n_workers
    cmd = [
        f"{SPARK_HOME}/bin/spark-submit",
        "--master", MASTER,
        "--deploy-mode", "client",
        "--py-files", os.path.join(stage, "tenzir_spark.zip"),
        "--driver-memory", "8g",
        "--conf", "spark.executor.cores=4",
        "--conf", "spark.executor.memory=4g",
        "--conf", "spark.local.dir=/dev/shm/sa_local_driver",
        os.path.join(stage, "run_ingest.py"),
        "--master", MASTER,
        "--cores", str(total_cores),
        "--events", str(man["n_events"]),
        "--docs", str(man["n_docs"]),
        "--parts", str(man["n_parts"]),
        "--batches", str(man["n_batches"]),
        "--changes", changes,
        "--warehouse", wh,
        "--local-dir", "/dev/shm/sa_local_driver",
        "--fresh",
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, env=_env(n_workers), capture_output=True, text=True)
    shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(wh, ignore_errors=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"spark-submit ({n_workers}w) "
            f"{'failed' if proc.returncode else 'printed no summary JSON'} "
            f"rc={proc.returncode}:\n"
            f"{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}")
    out = json.loads(lines[-1])
    out.update(workers=n_workers, executor_cores=4, total_cores=total_cores,
               events_per_sec=out["value"],
               submit_wall_sec=round(time.monotonic() - t0, 1),
               deployed_via="spark-submit --py-files tenzir_spark.zip")
    return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--changes", default="/dev/shm/chg_heavy16")
    p.add_argument("--workers", default="1,4")
    p.add_argument("--submit", action="store_true",
                   help="launch via literal `spark-submit --py-files "
                        "dist/tenzir_spark.zip` from a staging dir outside "
                        "the repo (proves the packaged deployment shape) "
                        "instead of an in-process client driver")
    args = p.parse_args()

    if not os.path.exists(os.path.join(args.changes, "manifest.json")):
        from tenzir_spark.cdc.changegen import generate_changes

        print(f"generating input at {args.changes} ...", file=sys.stderr)
        generate_changes(args.changes, n_events=16_000_000, n_docs=1_600_000,
                         n_parts=32, n_batches=16, seed=42, token_len=(64, 256))

    results = {}
    for n in [int(x) for x in args.workers.split(",")]:
        stop_cluster(n)
        start_cluster(n)
        try:
            results[n] = (run_submit if args.submit else run_ingest)(n, args.changes)
            print(json.dumps(results[n]), flush=True)
        finally:
            stop_cluster(n)
    ws = sorted(results)
    if len(ws) == 2:
        n, m = ws
        ratio = m / n
        for kind in ("events_per_sec", "steady_events_per_sec"):
            if not (results[ws[0]].get(kind) and results[ws[1]].get(kind)):
                continue
            eff = (results[m][kind] / results[n][kind]) / ratio
            res = {
                "metric": f"executor_scaling_efficiency_{kind}",
                "n_executors": n, "x4_executors": m, "efficiency": round(eff, 3),
            }
            results[f"efficiency_{kind}"] = res
            print(json.dumps(res), flush=True)
    name = "standalone_scaling_submit.json" if args.submit else "standalone_scaling.json"
    with open(os.path.join(ROOT, name), "w") as f:
        json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
