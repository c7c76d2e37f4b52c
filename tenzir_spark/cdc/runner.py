"""The CDC micro-batch driver loop: binlog tail → LWW collapse → MERGE.

This is the engine the north rule asks for. Each micro-batch:

1. **Idempotence filter** — drop events at-or-below the per-source-partition
   LSN watermark committed in the *table's own* snapshot properties. Replay
   of an already-applied batch is a no-op; partial replay applies only the
   unseen suffix. This is the Spark/Iceberg re-statement of the reference's
   exactly-once design ("restart from the last acknowledged position in the
   stream", rfc/002-fault-tolerance/README.md:116-127; Kafka offsets
   committed only after the partition is durable, :253-268).
2. **Schema reconciliation** — new payload columns in the batch (or a
   scripted ``schema_change`` control event) widen the table schema in the
   same atomic commit (reference: cast/schema-upgrade machinery,
   libtenzir/include/tenzir/cast.hpp:28-56,
   libtenzir/include/tenzir/series_builder.hpp:41-67).
3. **LWW collapse** — one surviving row per doc_id (collapse.py).
4. **MERGE** — bucket-granular copy-on-write upsert (lake/merge.py), with
   the new watermarks + last_batch_id committed in the SAME snapshot, so
   data and progress are atomic (crash ⇒ replay is idempotent).
5. **Metrics** — per (batch, source-partition) lineage/throughput rows
   appended to an ``ingest_metrics`` table (reference analog: per-operator
   metrics, libtenzir/include/tenzir/pipeline.hpp:163-221).
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tenzir_spark.cdc.collapse import lww_winners
from tenzir_spark.lake.table import (
    BUCKET_COL,
    COMMIT_COL,
    DELETED_COL,
    PART_COL,
    LakeTable,
)

CONTROL_COLS = ("lsn", "epoch", "part_id", "op")


def accepts_batch_id(transform) -> bool:
    """True when a micro-batch ``transform`` accepts ``(df, batch_id)``:
    stateful stages (the dedup indexes' ``batch auto``) need the id; a
    plain ``(df)`` transform keeps working. Counts POSITIONAL slots only
    — a ``(df, **kw)`` or ``(df, *, opt)`` transform takes ONE
    positional arg; ``*args`` accepts any. Single owner for both
    streaming front-ends (stream_ingest and run_connector)."""
    import inspect

    ps = inspect.signature(transform).parameters.values()
    return (
        any(p.kind == p.VAR_POSITIONAL for p in ps)
        or sum(p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
               for p in ps) >= 2)

BASE_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

# Metric semantics, per (batch, source partition): events_in = delivered
# events, stale redeliveries included; events_applied = winners written to
# the batch's delta files; events_deduped = events_in - events_applied
# (redeliveries, duplicate LSNs and LWW-collapsed events).
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("events_in", T.LongType(), False),
        T.StructField("events_applied", T.LongType(), False),
        T.StructField("events_deduped", T.LongType(), False),
        T.StructField("watermark_lsn", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)


# numeric-widening lattice (reference: recursive cast machinery with
# numeric promotion, libtenzir/include/tenzir/cast.hpp:28-56)
_INT_RANK = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 3, T.LongType: 4}
_FRAC_RANK = {T.FloatType: 1, T.DoubleType: 2}


def widen_type(table_t: T.DataType, batch_t: T.DataType) -> T.DataType:
    """The type the TABLE column must take so existing data AND the batch
    both fit without loss: equal types pass through, numeric types widen
    along byte<short<int<long and float<double (arrays recurse on the
    element type), and an integer/fractional mix widens to double. A batch
    NARROWER than the table is fine — the batch upcasts on apply; the
    table never narrows. Anything else (string vs int, struct shape
    changes, ...) raises — silent coercion is the one latent corruption
    this guards against."""
    if table_t == batch_t:
        return table_t
    if isinstance(table_t, T.ArrayType) and isinstance(batch_t, T.ArrayType):
        elem = widen_type(table_t.elementType, batch_t.elementType)
        return T.ArrayType(elem, table_t.containsNull or batch_t.containsNull)
    ti, bi = _INT_RANK.get(type(table_t)), _INT_RANK.get(type(batch_t))
    tf, bf = _FRAC_RANK.get(type(table_t)), _FRAC_RANK.get(type(batch_t))
    if ti and bi:
        return table_t if ti >= bi else batch_t
    if tf and bf:
        return table_t if tf >= bf else batch_t
    if (ti and bf) or (tf and bi):
        # int/float mix: double holds every int32/float exactly; int64
        # values past 2^53 round — same promotion the reference's cast
        # lattice makes, accepted as widening
        return T.DoubleType()
    raise TypeError(
        f"incompatible schema change: table {table_t.simpleString()} vs "
        f"batch {batch_t.simpleString()} (only numeric widening evolves)"
    )


def _footer_part_stats(mds) -> dict[int, tuple[int, int]] | None:
    """``{part_id: (delivered rows, max lsn)}`` from parquet footers
    (``pyarrow.parquet.FileMetaData``): each row group's ``part_id``
    min == max statistics attribute its rows, and its ``lsn`` max
    statistic bounds them — metadata only, no pass over the data (the
    reference's catalog builds partition synopses the same way,
    catalog.cpp:119-171). None when some row group cannot be attributed
    (it mixes partitions, holds nulls, or has no statistics)."""
    out: dict[int, tuple[int, int]] = {}
    for md in mds:
        names = md.schema.names
        if "part_id" not in names or "lsn" not in names:
            return None
        pi, li = names.index("part_id"), names.index("lsn")
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            if g.num_rows == 0:
                continue
            ps, ls = g.column(pi).statistics, g.column(li).statistics
            if (ps is None or ls is None or not ps.has_min_max
                    or not ls.has_min_max or ps.min != ps.max
                    or ps.null_count or ls.null_count):
                return None
            p = int(ps.min)
            n, mx = out.get(p, (0, -1))
            out[p] = (n + g.num_rows, max(mx, int(ls.max)))
    return out


def _watermark_of(wm: dict[str, int], parts, key_type: T.DataType) -> F.Column:
    """Each row's committed partition watermark, -1 where its partition
    has none (a recorded watermark is never below 0), for the delivered
    partitions ``parts``. The watermarks are one typed literal: the
    optimizer folds it into a single ``Literal``, and generated code takes
    an array or map literal as a reference object, not inline, so every
    batch's plan compiles to the same code whatever the watermarks (no
    join, and no broadcast job, needed to keep them out of the code).

    Dense non-negative partition ids (a log's 0..P-1; for P delivered
    partitions, every id below 2P + 64, so the array stays O(P)) index an
    array literal, one O(1) lookup per row. Other ids look up a map literal,
    and a map lookup scans its entries in order: a filter over 2M cached
    rows at local[4] on a 4-core box, its 8 partitions the map's last
    entries, took 139 ms with 8 entries, 967 ms with 1,000 and 7.5 s
    with 10,000."""
    known = {int(p): int(wm[str(p)]) for p in parts if str(p) in wm}
    if not known:
        return F.lit(-1)

    def lit(vals, t: str) -> F.Column:
        # one string the optimizer folds into an array<t> literal: its
        # analysis does not grow with the entries, as an array(...) of
        # 10,000 literals does (~0.3 s)
        return F.split(F.lit(",".join(map(str, vals))), ",").cast(f"array<{t}>")

    if min(parts) >= 0 and max(parts) < 2 * len(parts) + 64:
        wms = lit([known.get(p, -1) for p in range(max(parts) + 1)], "bigint")
        return F.coalesce(F.get(wms, F.col("part_id")), F.lit(-1))
    wms = F.map_from_arrays(lit(known, key_type.simpleString()),
                            lit(known.values(), "bigint"))
    return F.coalesce(wms[F.col("part_id")], F.lit(-1))


class IngestRunner:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        table_name: str = "corpus",
        n_buckets: int = 32,
        key: str = "doc_id",
        compact_min_rows: int = 2_000_000,
        compact_ratio: float = 0.5,
        compact_max_commits: int = 64,
        async_compact: bool = False,
        delta_codec: str = "zstd",
        retain_snapshots: int | None = None,
        sorted_compaction: bool = False,
        dlq: bool = False,
        writer_lease: bool = False,
        fs=None,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.table_name = table_name
        # ``fs`` (lake/fs.py) makes the WHOLE warehouse portable: table
        # manifests, metrics and DLQ driver-side IO all route through it
        self.table = LakeTable(warehouse, table_name,
                               delta_codec=delta_codec, fs=fs)
        self.fs = self.table.fs
        self.metrics_dir = os.path.join(warehouse, "ingest_metrics")
        self.n_buckets = n_buckets
        self.key = key
        # merge-on-read compaction policy: fold deltas into the base once
        # they exceed max(compact_min_rows, compact_ratio × base rows) or
        # the manifest accumulates too many delta commits.
        self.compact_min_rows = compact_min_rows
        self.compact_ratio = compact_ratio
        self.compact_max_commits = compact_max_commits
        # async_compact overlaps the fold with subsequent batches (the lake
        # layer's commit rebase makes this safe); ingest wall time then
        # excludes the compaction spikes. Off by default for deterministic
        # snapshot counts in tests.
        self.async_compact = async_compact
        self._compact_thread = None
        # snapshot retention: after each completed fold, expire manifests
        # beyond the newest N and GC the files only they referenced
        # (LakeTable.expire_snapshots). None = retain everything (full
        # time travel). The expire runs strictly AFTER a fold completes —
        # never concurrently (the lake layer refuses mid-fold anyway).
        self.retain_snapshots = retain_snapshots
        # opt-in key-sorted folds (row-group-pruned point lookups; ~25%
        # extra fold time — see LakeTable.compact)
        self.sorted_compaction = sorted_compaction
        # opt-in dead-letter quarantine for fresh null-key events (see
        # apply_batch_df). TWO counters per batch: _last_dlq_count is rows
        # NEWLY quarantined (post (part_id, lsn)-dedupe — 0 on a redelivery
        # whose dead letters were already captured), _last_dlq_in_batch is
        # malformed rows CARRIED by the batch regardless of dedupe; both
        # surface in the stats dict (dlq_rejected / dlq_in_batch)
        self.dlq = dlq
        self._last_dlq_count = 0
        self._last_dlq_in_batch = 0
        # fold per-batch metric files into one once this many accumulate
        # (_rollup_metrics); observability must not cost O(batches) files
        self.metrics_rollup_files = 512
        # cross-process single-writer guard (LakeTable.acquire_writer_lease),
        # taken at ensure_table. Off by default so sequential runners over
        # one warehouse in a long-lived process (tests, notebooks) don't
        # need explicit releases; the one-shot CLI turns it ON.
        self.writer_lease = writer_lease

    # ------------------------------------------------------------- helpers
    def ensure_table(self, payload_schema: T.StructType = BASE_PAYLOAD_SCHEMA) -> None:
        if self.writer_lease:
            self.table.acquire_writer_lease()
        if not self.table.exists():
            self.table.create(payload_schema, n_buckets=self.n_buckets, key=self.key,
                              properties={"watermarks": {}, "last_batch_id": -1})

    def _maybe_compact(self) -> None:
        p = self.table.delta_pressure()
        if not p["delta_commits"]:
            return
        threshold = max(self.compact_min_rows,
                        int(self.compact_ratio * p.get("base_rows", 0)))
        if p["delta_rows"] >= threshold or p["delta_commits"] >= self.compact_max_commits:
            if not self.async_compact:
                self.table.compact(self.spark, sort_by_key=self.sorted_compaction)
                self._maybe_expire()
                return
            if self._compact_thread is not None and self._compact_thread.is_alive():
                return  # one background fold at a time; debt retried next batch
            import threading

            def _fold():
                try:
                    self.table.compact(self.spark, sort_by_key=self.sorted_compaction)
                    self._maybe_expire()
                except Exception as e:  # noqa: BLE001 - surfaced at join
                    self._compact_error = e

            self._compact_error = None
            self._compact_thread = threading.Thread(target=_fold, daemon=True)
            self._compact_thread.start()

    def _quarantine(self, rejected: DataFrame, batch_id) -> None:
        """Write a batch's dead letters REPLAY-SAFELY: the rejected rows
        land in a temp attempt dir first; only a non-empty attempt's
        files move into ``<table>_dlq/batch=<id>/`` (uuid-prefixed, so an
        earlier attempt's files are preserved, never overwritten). A
        replay of an already-applied batch produces an EMPTY rejected set
        (everything is below the watermark) — it must not destroy the
        quarantine the original attempt wrote; dead letters survive until
        the operator deletes them.

        Rejected events can be REDELIVERED fresh (a crash after the
        quarantine but before the snapshot commit replays the batch with
        the old watermarks), so new rows dedupe against the
        batch's existing quarantine by (part_id, lsn) — each dead letter
        is kept exactly once no matter how many delivery attempts carry
        it."""
        import uuid as _uuid

        import pyarrow as pa2

        dlq_dir = os.path.join(self.warehouse, f"{self.table_name}_dlq",
                               f"batch={batch_id}")
        tmp_dir = os.path.join(self.warehouse, f"{self.table_name}_dlq",
                               f".attempt-{_uuid.uuid4().hex}")
        rejected.write.mode("overwrite").parquet(self.fs.spark_path(tmp_dir))
        seen = set()
        if self.fs.isdir(dlq_dir):
            for fn in self.fs.listdir(dlq_dir):
                if fn.endswith(".parquet"):
                    t = self.fs.parquet_read(os.path.join(dlq_dir, fn),
                                             columns=["part_id", "lsn"])
                    seen.update(zip(t["part_id"].to_pylist(),
                                    t["lsn"].to_pylist()))
        n_rej = 0
        n_in_batch = 0
        tag = _uuid.uuid4().hex[:8]
        for fn in sorted(self.fs.listdir(tmp_dir)):
            if not fn.endswith(".parquet"):
                continue
            t = self.fs.parquet_read(os.path.join(tmp_dir, fn))
            if t.num_rows == 0:
                continue
            n_in_batch += t.num_rows
            if seen:
                keep = [i for i, pl in enumerate(
                    zip(t["part_id"].to_pylist(), t["lsn"].to_pylist()))
                    if pl not in seen]
                if not keep:
                    continue
                t = t.take(pa2.array(keep, type=pa2.int64()))
            self.fs.makedirs(dlq_dir)
            out = os.path.join(dlq_dir, f"{tag}-{fn}")
            self.fs.parquet_write(t, out + ".inprogress")
            self.fs.rename(out + ".inprogress", out)
            n_rej += t.num_rows
        self.fs.rmtree(tmp_dir)
        if n_rej == 0:
            self.fs.rmdir_if_empty(os.path.dirname(dlq_dir))
        self._last_dlq_count = n_rej
        self._last_dlq_in_batch = n_in_batch

    def _maybe_expire(self) -> None:
        """Retention GC after a completed fold: a fold is the moment old
        delta files fall out of HEAD's manifest, so it is the moment
        expiry actually frees space. No-op when retention is unset."""
        if self.retain_snapshots is not None:
            self.table.expire_snapshots(keep_last=self.retain_snapshots)

    def finish_compaction(self) -> None:
        """Wait for any background fold to complete (call at end of run).
        A failed fold is not a data error (deltas stay; resolution still
        correct) but is surfaced so the operator sees the debt."""
        if self._compact_thread is not None:
            self._compact_thread.join()
            self._compact_thread = None
            if getattr(self, "_compact_error", None) is not None:
                import warnings

                warnings.warn(f"background compaction failed: {self._compact_error!r}")

    def watermarks(self) -> dict[str, int]:
        return dict(self.table.properties().get("watermarks", {}))

    def final_state(self) -> DataFrame:
        return self.table.read(self.spark).drop(BUCKET_COL, COMMIT_COL)

    # ------------------------------------------------------------ the loop
    def apply_batch(self, path: str, batch_id: int) -> dict:
        # every input footer is read once, driver-side, through ``fs``: the
        # first gives the batch schema (no schema-inference listing job —
        # the files of one batch are written together and share a schema;
        # evolution shows up in the footer just the same), and all of them
        # give the per-partition delivered counts and lsn bounds. Spark
        # reads exactly these files: a directory's files are those its
        # reader would pick, every name not hidden by a ``_``/``.`` prefix
        # (a sink such as Flink's FileSink names its files ``part-<uuid>-
        # <n>``, with no suffix), so counts, watermarks and data agree.
        from pyspark.sql.pandas.types import from_arrow_schema

        files = (
            [path] if path.endswith(".parquet")
            else [os.path.join(path, fn) for fn in sorted(self.fs.listdir(path))
                  if not fn.startswith(("_", ".")) and not fn.endswith("._COPYING_")]
        )
        if not files:
            # nothing delivered: a no-op, like a pure redelivery
            self._last_dlq_count = self._last_dlq_in_batch = 0
            return self._batch_result(batch_id, 0, 0, time.monotonic())
        mds = [self.fs.parquet_metadata(f) for f in files]
        raw = (self.spark.read
               .schema(from_arrow_schema(mds[0].schema.to_arrow_schema()))
               .parquet(*files))
        return self.apply_batch_df(raw, batch_id,
                                   part_stats=_footer_part_stats(mds))

    def apply_batch_df(self, raw: DataFrame, batch_id: int,
                       part_stats: dict[int, tuple[int, int]] | None = None) -> dict:
        """Micro-batch body — also the ``foreachBatch`` target of the
        Structured Streaming front-end (streaming/ingest.py). All durable
        state lives in the table snapshot, so the SAME idempotence guard
        covers batch replay, streaming-checkpoint replay, and redelivery.

        ``part_stats``: ``{part_id: (delivered rows, max lsn)}`` of ``raw``
        when the caller has it without a pass over the data (apply_batch
        reads it from the input footers). Without it, one slim
        ``(part_id, lsn)`` aggregate over ``raw`` computes it."""
        t0 = time.monotonic()
        # one manifest read pins the watermarks, the schema and the bucket
        # count of this batch
        snap = self.table.snapshot()
        wm = dict(snap["properties"].get("watermarks", {}))
        if part_stats is None:
            part_stats = {
                int(r["part_id"]): (int(r["n"]), -1 if r["mx"] is None else int(r["mx"]))
                for r in raw.groupBy("part_id")
                .agg(F.count("*").alias("n"), F.max("lsn").alias("mx")).collect()
            }
        # exact for any event→partition routing: stale events sit at or
        # below the old watermark, so max(old, max delivered lsn) equals
        # max(old, max fresh lsn)
        new_wm = dict(wm)
        for p, (_, mx) in part_stats.items():
            if mx > int(wm.get(str(p), -1)):
                new_wm[str(p)] = mx

        batch_fields = raw.schema.fields
        btypes = {f.name: f.dataType for f in batch_fields}

        # -- schema reconciliation: added columns append; a column whose
        # batch dtype differs WIDENS the table schema along the numeric
        # lattice (widen_type; raises on a non-widening change). The
        # parquet reader serves old narrow files under the widened schema
        # natively, so no rewrite — cast-on-read, the reference's model.
        table_schema = T.StructType.fromJson(snap["schema"])
        batch_payload = [f for f in batch_fields if f.name not in CONTROL_COLS]
        new_fields = [f for f in batch_payload if f.name not in table_schema.names]
        widened = {}
        for f in batch_payload:
            if f.name in table_schema.names:
                cur = table_schema[f.name].dataType
                w = widen_type(cur, f.dataType)
                if w != cur:
                    widened[f.name] = w
        evolved = (
            T.StructType(
                [
                    T.StructField(f.name, widened.get(f.name, f.dataType), f.nullable)
                    for f in table_schema.fields
                ]
                + [T.StructField(f.name, f.dataType, True) for f in new_fields]
            )
            if new_fields or widened
            else table_schema
        )
        if new_wm == wm and evolved is table_schema:
            # pure redelivery (a crash-recovery replay of a whole batch):
            # every delivered event sits at or below its partition's
            # watermark, so nothing is fresh, nothing quarantines (the DLQ
            # takes fresh events only) and the commit would abort as a
            # no-op. Decided on the driver, without a Spark job and without
            # a watermark lookup per row.
            self._last_dlq_count = self._last_dlq_in_batch = 0
            return self._finish_batch(batch_id, part_stats, {}, new_wm, 0, t0)

        # -- idempotence: only events strictly above the committed
        # watermark (_watermark_of: a literal, not a join against a
        # watermark table; the join's broadcast stage cost a Spark job on
        # every batch)
        is_fresh = F.col("lsn") > _watermark_of(wm, part_stats, btypes["part_id"])

        # SHARED apply predicate: the DLQ's quarantine-completeness
        # invariant ("anything fresh the engine won't apply either
        # quarantines or is a control event") depends on the quarantine
        # filter being the exact complement of THIS expression — one
        # definition, both consumers
        applicable = (
            (F.col("op") != "schema_change") & F.col(self.key).isNotNull()
        )
        if self.dlq:
            # dead-letter quarantine: a FRESH data event the engine won't
            # apply (null key → no LWW identity; null op → fails the apply
            # filter, null-safely) lands in <warehouse>/<table>_dlq/
            # batch=<id>/ with its full envelope for operator replay after
            # repair (repaired rows re-inject with NEW lsns — their
            # originals are already below the committed watermark).
            # Opt-in: one extra filtered write job per batch, only
            # rejected rows shuffle (reference analog: diagnostics
            # surface dropped events, builtins/operators/diagnostics.cpp).
            self._quarantine(
                raw.filter(
                    is_fresh
                    & ~F.coalesce(applicable, F.lit(False))
                    & ~F.col("op").eqNullSafe("schema_change")
                ),
                batch_id,
            )
        won = lww_winners(raw.filter(is_fresh & applicable),
                          key=self.key, order="lsn")
        # merge-on-read delta in ONE projection of the winner struct: the
        # payload aligned to the (possibly evolved) schema, the bucket of
        # the aligned key, the tombstone flag and the source-partition
        # lineage, in delta_commit's column order and types, so
        # delta_commit writes it as is. Every DataFrame call is analyzed
        # on the spot, so each extra select is paid on every batch. The
        # collapse→write action runs as two Spark jobs (the shuffle map
        # stage, then the write); rows/buckets/lineage come from the
        # written parquet files — no cache of wide token arrays (caching
        # them thrashes GC under high task concurrency).
        w = F.col("_w")

        def aligned(f: T.StructField) -> F.Column:
            if f.name not in btypes:
                return F.lit(None).cast(f.dataType)
            c = w[f.name]
            return c if btypes[f.name] == f.dataType else c.cast(f.dataType)

        payload = {f.name: aligned(f) for f in evolved.fields}
        part = w["part_id"]
        delta = won.select(
            *[c.alias(n) for n, c in payload.items()],
            self.table.bucket_expr(payload[self.key], n_buckets=int(
                snap["n_buckets"])).alias(BUCKET_COL),
            (w["op"] == "delete").alias(DELETED_COL),
            (part if isinstance(btypes["part_id"], T.IntegerType)
             else part.cast("int")).alias(PART_COL),
        )

        applied: dict[int, int] = {}

        def _props(entries):
            # per-partition applied counts from the new delta files'
            # ``_part`` lineage, read before the manifest swap: a fold the
            # commit triggers removes these entries from HEAD
            for e in entries:
                parts = self.fs.parquet_read(
                    os.path.join(self.table.root, e["path"]), columns=[PART_COL]
                )[PART_COL].drop_null().to_numpy()
                for p, c in zip(*np.unique(parts, return_counts=True)):
                    applied[int(p)] = applied.get(int(p), 0) + int(c)
            if new_wm == wm:
                return {}  # pure redelivery: no progress to record
            return {"watermarks": new_wm, "last_batch_id": batch_id}

        # pure redelivery nets out to a no-op: empty delta + unchanged
        # watermarks/schema → delta_commit aborts without a snapshot
        version, dstats = self.table.delta_commit(
            delta, schema=evolved, properties=_props, allow_noop_abort=True,
        )
        if version is not None:
            self._maybe_compact()
        return self._finish_batch(batch_id, part_stats, applied, new_wm,
                                  dstats["rows"], t0)

    def _finish_batch(self, batch_id: int, part_stats: dict[int, tuple[int, int]],
                      applied: dict[int, int], new_wm: dict[str, int],
                      applied_keys: int, t0: float) -> dict:
        st = self._batch_result(batch_id, sum(n for n, _ in part_stats.values()),
                                applied_keys, t0)
        self._write_metrics([
            (batch_id, p, n, applied.get(p, 0), n - applied.get(p, 0),
             int(new_wm.get(str(p), -1)), st["wall_ms"])
            for p, (n, _) in sorted(part_stats.items())
        ], batch_id)
        return st

    def _batch_result(self, batch_id: int, events_in: int, applied_keys: int,
                      t0: float) -> dict:
        return {
            "batch_id": batch_id,
            "events_in": events_in,
            "applied_keys": applied_keys,
            "wall_ms": int((time.monotonic() - t0) * 1000),
            "version": self.table.current_version(),
            # dlq_rejected = NEWLY quarantined (0 on a redelivery whose
            # dead letters were already captured); dlq_in_batch = malformed
            # rows carried by this delivery regardless of dedupe
            "dlq_rejected": self._last_dlq_count if self.dlq else 0,
            "dlq_in_batch": self._last_dlq_in_batch if self.dlq else 0,
        }

    def _write_metrics(self, rows: list[tuple], batch_id: int) -> None:
        """Metrics are tiny driver-local lineage rows — writing them through
        a Spark job costs a full job-launch round trip per batch; pyarrow
        writes them in microseconds. (On a cluster the metrics table would
        be object-store parquet just the same.)"""
        import pyarrow as pa

        self.fs.makedirs(self.metrics_dir)
        names = [f.name for f in METRICS_SCHEMA.fields]
        cols = list(zip(*rows)) if rows else [[] for _ in names]
        tbl = pa.table(
            {n: pa.array(c, type=pa.int64() if n != "part_id" else pa.int32())
             for n, c in zip(names, cols)}
        )
        self.fs.parquet_write(
            tbl,
            os.path.join(self.metrics_dir, f"batch-{batch_id:06d}.parquet"))
        try:
            entries = [f for f in self.fs.listdir(self.metrics_dir)
                       if f.endswith(".parquet")]
        except OSError:
            return
        if len(entries) > self.metrics_rollup_files:
            self._rollup_metrics(entries)

    def _rollup_metrics(self, entries: list[str]) -> None:
        """Bound the metrics table's FILE COUNT (10^6 batches must not mean
        10^6 parquet files — listing alone would dominate): fold all metric
        files into one, driver-side pyarrow. Duplicate (batch_id, part_id)
        rows — a batch redelivered after an earlier fold — resolve
        keep-last (newest attempt), matching the per-batch overwrite
        semantics of the un-folded layout; between folds both attempts are
        transiently visible (observability rows, not engine state).
        Crash-safe in the duplicates-over-loss direction: the folded file
        is published (atomic rename) BEFORE the originals are removed."""
        import pyarrow as pa

        paths = [os.path.join(self.metrics_dir, f) for f in sorted(entries)]
        merged = pa.concat_tables([self.fs.parquet_read(p) for p in paths])
        df = merged.to_pandas().drop_duplicates(
            ["batch_id", "part_id"], keep="last")
        hi = int(df["batch_id"].max()) if len(df) else 0
        out = os.path.join(self.metrics_dir, f"agg-{hi:09d}.parquet")
        # dot-prefixed temp: Spark's directory listing skips dotfiles, so
        # a crash mid-write can never leave a truncated file that breaks
        # (or a complete one that double-counts) every later metrics read
        tmp = os.path.join(self.metrics_dir, f".agg-{hi:09d}.inprogress")
        self.fs.parquet_write(
            pa.Table.from_pandas(df, schema=merged.schema,
                                 preserve_index=False), tmp)
        self.fs.rename(tmp, out)
        for p in paths:
            if p != out:
                try:
                    self.fs.remove(p)
                except FileNotFoundError:
                    pass

    def run(self, changes_dir: str, start_batch: int = 0, max_batches: int | None = None) -> dict:
        """Consume the change log; resumable — re-running from ANY
        ``start_batch`` ≤ the true position yields the identical final
        table (watermark idempotence)."""
        self.ensure_table()
        files = sorted(
            p for p in (os.path.join(changes_dir, fn)
                        for fn in self.fs.listdir(changes_dir)
                        if fn.startswith("batch-"))
            if p.endswith(".parquet") or self.fs.isdir(p)
        )
        if max_batches is not None:
            files = files[: start_batch + max_batches]
        t0 = time.monotonic()
        events = 0
        batch_stats = []
        for i, path in enumerate(files):
            if i < start_batch:
                continue
            st = self.apply_batch(path, i)
            events += st["events_in"]
            batch_stats.append(st)
        self.finish_compaction()
        wall = time.monotonic() - t0
        return {
            "batches": len(batch_stats),
            "events_in": events,
            "wall_sec": wall,
            "events_per_sec": events / wall if wall > 0 else 0.0,
            "batch_stats": batch_stats,
        }

    def read_metrics(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(
            self.fs.spark_path(self.metrics_dir))
