"""CDC lake benchmark: one workload, one process, one closed-loop client.

Usage (from the repository root)::

    python3 cdcbench/run.py --workload narrow_rows --seed 1 --seconds 20 --trace 0

Drives the engine's public API on ``local[<cpus>]``: ``IngestRunner.apply_batch``
per change batch (compaction deferred), ``LakeTable.compact`` on a fixed batch
cadence, a TQL2 consumer query through ``run_tql2_source`` and point lookups
through ``LakeTable.lookup``. Each workload has its own round of operations:
one untimed round warms the JVM up, then ``floor(seconds / round_s)`` (at
least one) whole rounds are timed.
Every output is checked against the benchmark's own expected state
(oracle.py). The last line of stdout is one JSON object: end-to-end metrics
with ``--trace 0``, per-layer metrics from a traced run with ``--trace 1``.
See README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import time
from statistics import median
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import HOT_KEYS, STREAMS, ChangeStream, doc_ids  # noqa: E402
from oracle import (  # noqa: E402
    ExpectedState, check_lookup, check_query, check_redelivery, check_state,
    check_watermarks)

WORK = ".cdcbench_work"
TABLE = "corpus"
QUERY = ('export "{root}" | toks = tokens.sum() | summarize source, '
         'docs=count(), tokens=sum(toks), n_tok=sum(n_tok)')
NO_COMPACT = 2 ** 62  # compact_min_rows sentinel: the benchmark folds itself
DRIVER_MEMORY = "2g"


class Schedule(NamedTuple):
    round: tuple[str, ...]  # one untimed round warms up, then timed rounds
    round_s: float          # nominal seconds of a warm round on a 4-core box


# Every fold follows a query of the same state: the fold must not change
# its result. A fresh JVM keeps getting faster for several rounds (class
# loading, codegen, JIT tiers), so one untimed round of the same operations
# precedes the timed rounds; see README.md for the warm-up curve.
SCHEDULES = {
    # write-heavy: large batches; per round a query and two lookups across
    # two pending batches, then a fold
    "wide_rows": Schedule(
        round=("batch", "batch", "query", "lookup", "lookup", "fold"),
        round_s=10.0),
    # read-mixed: a query and a lookup after every batch, a fold every four
    # batches, so the reads run across one to four pending deltas
    "narrow_rows": Schedule(
        round=("batch", "query", "lookup") * 4 + ("fold",),
        round_s=14.0),
}


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class _Plain:
    """Untraced timing: wall time only."""

    class _Rec:
        wall = 0.0

    def op(self, kind):
        return self

    def __enter__(self):
        self.rec = self._Rec()
        self.t0 = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        self.rec.wall = time.perf_counter() - self.t0


class Bench:
    def __init__(self, name: str, seed: int, trace: bool, work: str):
        self.spec = STREAMS[name]
        self.seed = seed
        self.trace = trace
        self.work = work
        self.stream = ChangeStream(self.spec, seed, os.path.join(work, "changes"))
        self.expected = ExpectedState(self.spec, seed)
        self.errors: list[str] = []
        self.gen_s = 0.0
        self.ingested_bytes = 0
        self.last_batch = None
        self.last_query: list[dict] = []
        self.query_batch = -1  # batches applied when last_query ran
        self.n_lookups = 0
        self.timed = False
        self.attempted = 0
        self.recs: list = []  # (kind, record, delivered events) of timed ops
        self.host: dict = {}
        self.spark = None

    # ----------------------------------------------------------- session
    def start(self) -> None:
        from tenzir_spark.cdc.runner import IngestRunner
        from tenzir_spark.session import get_spark

        local = os.path.join(self.work, "spark")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # no hsperfdata files in /tmp from the launcher or the Spark driver JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        import tempfile
        tempfile.tempdir = tmp
        conf = {
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            # flush executor/job summaries to the status store on every event
            conf["spark.ui.liveUpdate.period"] = "0"
        self.spark = get_spark("cdcbench", cores=len(os.sched_getaffinity(0)),
                               driver_memory=DRIVER_MEMORY,
                               extra_conf=conf)
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        wh = os.path.join(self.work, "wh")
        self.runner = IngestRunner(self.spark, wh, table_name=TABLE,
                                   compact_min_rows=NO_COMPACT)
        self.runner.ensure_table()
        self.query_text = QUERY.format(root=os.path.relpath(self.runner.table.root))
        if self.trace:
            from tracing import Tracer
            self.timer = Tracer(self.spark)
            self.timer.install()
        else:
            self.timer = _Plain()

    def trivial_job_ms(self, n: int = 20) -> float:
        """Median wall of a one-row Spark job: the host's per-job floor."""
        walls = []
        for _ in range(n):
            t = time.perf_counter()
            self.spark.range(1).count()
            walls.append(time.perf_counter() - t)
        return median(walls) * 1e3

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        proc = SparkContext._gateway.proc if SparkContext._gateway else None
        self.spark.stop()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -------------------------------------------------------------- ops
    def _record(self, kind: str, rec, events: int = 0) -> None:
        spark = getattr(rec, "spark", None)
        extra = (f" jobs={spark['jobs']} compile_ms={spark['compile_ms']:.0f}"
                 f" nonjob_ms={spark['nonjob_s'] * 1e3:.0f}" if spark else "")
        print(f"{'timed' if self.timed else 'warm'} {kind} {rec.wall:.3f}{extra}",
              file=sys.stderr)
        if self.timed:
            self.attempted += 1
            self.recs.append((kind, rec, events))

    def _facts(self) -> dict:
        """Table facts for the traced run, read straight from the manifest
        (outside any operation, so they add no traced calls)."""
        t = self.runner.table
        with open(t.head_path) as f:
            v = int(f.read())
        path = os.path.join(t.meta_dir, f"v{v:08d}.json")
        with open(path) as f:
            snap = json.load(f)
        deltas = [e for e in snap["files"] if e.get("kind") == "delta"]
        return {
            "manifest_bytes": os.path.getsize(path),
            "delta_files": len(deltas),
            "delta_rows": sum(e["rows"] for e in deltas),
            "bucket_coverage": [len(e["buckets"]) / snap["n_buckets"]
                                for e in deltas],
            "paths": {e["path"]: e["rows"] for e in snap["files"]},
        }

    def batch(self) -> None:
        t = time.perf_counter()
        if self.last_batch is not None:
            shutil.rmtree(self.last_batch.path)
        b = self.stream.next()
        self.gen_s += time.perf_counter() - t
        with self.timer.op("batch") as rec:
            self.runner.apply_batch(b.path, b.index)
        self.expected.apply(b)
        self.ingested_bytes += b.nbytes
        self.last_batch = b
        if self.trace:
            rec.facts = self._facts()
        self._record("batch", rec, b.events)

    def query(self, kind: str = "query") -> list[dict]:
        from tenzir_spark.plans.tql2 import run_tql2_source

        with self.timer.op(kind) as rec:
            t = time.perf_counter()
            df = run_tql2_source(self.spark, self.query_text)
            rec.plan = time.perf_counter() - t
            rows = [r.asDict() for r in df.collect()]
        self.errors += check_query(rows, self.expected.aggregates())
        self.last_query = rows
        self.query_batch = self.stream.next_batch
        if self.trace:
            rec.facts = self._facts()
        self._record(kind, rec)
        return rows

    def lookup(self, kind: str = "lookup") -> None:
        import numpy as np

        s = self.spec
        rng = np.random.default_rng([self.seed, 99, self.n_lookups])
        self.n_lookups += 1
        u = rng.random()
        if u < 0.25:
            doc = int(rng.integers(0, HOT_KEYS))
        elif u < 0.85:
            doc = int(rng.integers(HOT_KEYS, s.n_docs))
        else:  # a key the stream never produces
            doc = int(rng.integers(s.n_docs, 2 * s.n_docs))
        key = doc_ids([doc])[0]
        with self.timer.op(kind) as rec:
            rows = [r.asDict(recursive=True)
                    for r in self.runner.table.lookup(self.spark, key).collect()]
        self.errors += check_lookup(key, rows, self.expected.row(doc))
        self._record(kind, rec)

    def fold(self) -> None:
        if self.query_batch != self.stream.next_batch:
            raise RuntimeError("a fold must follow a query of the same state")
        before = self.last_query
        facts = self._facts() if self.trace else None
        with self.timer.op("fold") as rec:
            self.runner.table.compact(self.spark)
        if self.trace:
            after = self._facts()
            new = [r for p, r in after["paths"].items() if p not in facts["paths"]]
            rec.facts = {"rewrite_ratio": sum(new) / facts["delta_rows"]}
        self._record("fold", rec)
        after_rows = self.query("query_folded")
        if sorted(map(str, after_rows)) != sorted(map(str, before)):
            self.errors.append("fold changed the query result")
        if self.trace:
            self.lookup("lookup_folded")

    def run_ops(self, ops: tuple[str, ...]) -> None:
        for op in ops:
            getattr(self, op)()

    def final_checks(self) -> None:
        t = self.runner.table
        v0 = t.versions()
        self.runner.apply_batch(self.last_batch.path, self.last_batch.index)
        self.errors += check_redelivery(v0, t.versions())
        # the state check below runs after the redelivery: it changed nothing
        with_meta = "meta" in t.schema().names
        actual = self.runner.final_state().toArrow()
        self.errors += check_state(actual, self.expected.table(with_meta))
        self.errors += check_watermarks(self.runner.watermarks(),
                                        self.expected.watermarks)


def end_to_end(b: Bench, setup_s: float, wa: float) -> dict:
    walls = {}
    events = 0
    for kind, rec, ev in b.recs:
        walls.setdefault(kind, []).append(rec.wall)
        events += ev
    bw, fw = walls["batch"], walls["fold"]
    return {
        "setup_s": (setup_s, "s"),
        "ingest_events_per_s": (events / sum(bw), "events/s"),
        "batch_commit_ms": (median(bw) * 1e3, "ms"),
        "sustained_events_per_s": (events / (sum(bw) + sum(fw)), "events/s"),
        "fold_s": (median(fw), "s"),
        "query_s": (median(walls["query"]), "s"),
        "lookup_ms": (median(walls["lookup"]) * 1e3, "ms"),
        "write_amplification": (wa, "ratio"),
    }


def per_layer(b: Bench) -> dict:
    by = {}
    for kind, rec, ev in b.recs:
        by.setdefault(kind, []).append((rec, ev))
    batches, folds = by["batch"], by["fold"]
    queries, lookups = by["query"], by["lookup"]
    events = sum(ev for _, ev in batches)

    def med(recs, f):
        return median([f(r) for r, _ in recs])

    def tot(recs, f):
        return sum(f(r) for r, _ in recs)

    return {
        "runner.batch_self_ms": (med(batches, lambda r: r.wall - r.s("table.delta_commit")) * 1e3, "ms"),
        "runner.nonjob_ms": (med(batches, lambda r: max(r.spark["nonjob_s"], 0.0)) * 1e3, "ms"),
        "table.delta_commit_ms": (med(batches, lambda r: r.s("table.delta_commit")) * 1e3, "ms"),
        "table.commit_ms": (med(batches, lambda r: r.s("table.commit")) * 1e3, "ms"),
        "table.snapshot_reads": (med(batches, lambda r: r.n("table.snapshot")), "count"),
        "table.snapshot_ms": (med(batches, lambda r: r.s("table.snapshot")) * 1e3, "ms"),
        "table.manifest_bytes": (med(batches, lambda r: r.facts["manifest_bytes"]), "bytes"),
        "table.delta_files": (med(queries, lambda r: r.facts["delta_files"]), "count"),
        "table.delta_bucket_coverage": (median([c for r, _ in queries for c in r.facts["bucket_coverage"]]), "ratio"),
        "table.fold_rewrite_ratio": (med(folds, lambda r: r.facts["rewrite_ratio"]), "ratio"),
        "table.bucket_of_ms": (med(lookups, lambda r: r.s("table.bucket_of")) * 1e3, "ms"),
        "table.read_plan_ms": (med(queries, lambda r: r.s("table.read")) * 1e3, "ms"),
        "table.lookup_folded_ms": (median([r.wall for r, _ in by["lookup_folded"]]) * 1e3, "ms"),
        "fs.calls": (med(batches, lambda r: r.layer("fs.")[0]), "count"),
        "fs.ms": (med(batches, lambda r: r.layer("fs.")[1]) * 1e3, "ms"),
        "tql.plan_ms": (med(queries, lambda r: r.plan) * 1e3, "ms"),
        "tql.execute_ms": (med(queries, lambda r: r.wall - r.plan) * 1e3, "ms"),
        "spark.jobs_per_batch": (tot(batches, lambda r: r.spark["jobs"]) / len(batches), "count"),
        "spark.tasks_per_batch": (tot(batches, lambda r: r.spark["tasks"]) / len(batches), "count"),
        "spark.task_ms_per_event": (tot(batches, lambda r: r.spark["task_ms"]) / events, "ms"),
        "spark.shuffle_bytes_per_event": (tot(batches, lambda r: r.spark["shuffle_bytes"]) / events, "bytes"),
        "spark.gc_ms_per_batch": (tot(batches, lambda r: r.spark["gc_ms"]) / len(batches), "ms"),
        "spark.compile_ms_per_batch": (tot(batches, lambda r: r.spark["compile_ms"]) / len(batches), "ms"),
        "spark.task_ms_per_fold": (tot(folds, lambda r: r.spark["task_ms"]) / len(folds), "ms"),
        "spark.shuffle_bytes_per_fold": (tot(folds, lambda r: r.spark["shuffle_bytes"]) / len(folds), "bytes"),
        "trace.batch_commit_ms": (med(batches, lambda r: r.wall) * 1e3, "ms"),
        "trace.query_s": (med(queries, lambda r: r.wall), "s"),
        "trace.lookup_ms": (med(lookups, lambda r: r.wall) * 1e3, "ms"),
        "host.trivial_job_ms": (b.host["trivial_job_ms"], "ms"),
        "host.steal_pct": (b.host["steal_pct"], "%"),
        "process.peak_rss_mb": (b.host["peak_rss_mb"], "MB"),
    }


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCHEDULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    import tenzir_spark  # noqa: F401  -- fail fast without the engine

    work = os.path.abspath(WORK)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    b = Bench(args.workload, args.seed, bool(args.trace), work)
    try:
        b.start()
        sched = SCHEDULES[args.workload]
        b.run_ops(sched.round)
        setup_s = process_age() - b.gen_s
        # a fixed number of whole rounds, so every run does the same work
        rounds = max(1, math.floor(args.seconds / sched.round_s))
        steal0 = steal_ticks()
        b.timed = True
        t0 = time.perf_counter()
        for _ in range(rounds):
            b.run_ops(sched.round)
        b.timed = False
        timed_s = time.perf_counter() - t0
        steal1 = steal_ticks()
        b.host["steal_pct"] = (100 * (steal1[0] - steal0[0])
                               / max(steal1[1] - steal0[1], 1))
        if b.trace:
            b.host["trivial_job_ms"] = b.trivial_job_ms()
        b.final_checks()
        wa = dir_bytes(b.runner.table.root) / b.ingested_bytes
        b.host["peak_rss_mb"] = (
            vm_hwm_kb(b.jvm_pid)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics = per_layer(b)
    else:
        metrics = end_to_end(b, setup_s, wa)
    for e in b.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(f"rounds={rounds} timed_s={timed_s:.1f} setup_s={setup_s:.2f} "
          f"wall_s={process_age():.1f} steal_pct={b.host['steal_pct']:.1f} "
          f"peak_rss_mb={b.host['peak_rss_mb']:.0f}", file=sys.stderr)
    print(json.dumps({
        "correct": not b.errors,
        "attempted": b.attempted,
        "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
