"""Incremental near-duplicate index — dedup each ingested batch against
everything already accepted WITHOUT rescanning the accepted corpus.

The batch operators in :mod:`~tenzir_spark.operators.dedup` answer "what
is duplicated inside this corpus?"; a continuous-ingest pipeline needs
the ONLINE form: every new batch must be checked against all previously
accepted documents, and re-fingerprinting 100 TB of history per batch is
not an option. The standard production answer (the RefinedWeb / Dolma
"dedup each dump against all previous dumps" stage, Penedo et al. 2023
§3.3, made incremental) is a PERSISTED MinHash index: the accepted
corpus is represented by its signatures + LSH band keys (≈150 bytes per
document, independent of document size), and a batch probe is one
equi-join on the band key — cost ∝ batch size + index size, never
corpus text size. The reference's ``deduplicate`` operator
(libtenzir/builtins/operators/deduplicate.cpp) is keyed stream
suppression with in-memory state; this is its content-level,
durable-state counterpart for training-data curation.

Semantics (deterministic, replayed value-exactly by the DuckDB oracle):

1. Documents with fewer than ``k`` distinct character ``k``-shingles are
   UNSCORABLE: always kept, never indexed (degenerate shingle sets are
   LSH noise — the :func:`~tenzir_spark.operators.dedup.minhash_near_dup_pairs`
   convention).
2. A scorable document is DROPPED if it shares an LSH band with an
   indexed document and their signatures agree on at least
   ``ceil(sig_threshold * num_hashes)`` positions (signature-estimated
   Jaccard — the datasketch/Spark-ML MinHashLSH verification; exact
   shingle Jaccard would require storing shingle sets, which defeats the
   constant-bytes-per-doc index contract). Signatures use the SLICED
   permutation family
   (:func:`~tenzir_spark.operators.dedup.minhash_signature_sliced`) —
   the shared-base family's cross-document agreement is inflated far
   beyond Jaccard and unusable as an estimator (measured 9/16 at true
   Jaccard 0.04; see that function's docstring).
3. Within the batch, candidate pairs (band-join + the same signature
   agreement) are grouped into connected components
   (:func:`~tenzir_spark.operators.clustering.connected_components`);
   a component containing ANY index-matched document is dropped
   entirely (its content already has an accepted representative); each
   surviving component keeps exactly its smallest id.
4. Kept scorable documents' signatures and band keys are appended to
   the index under ``batch=<id>``; the probe for batch ``b`` reads only
   partitions ``batch < b``, so re-ingesting a crashed/redelivered
   batch overwrites its own partition and reproduces the identical
   decision — idempotent under the CDC redelivery contract (matching
   cdc/runner.py's (part_id, lsn) discipline).

Scale shape (the 100 TB contract):
- The index stores (id, sig[16] int64) + 4×(band int64, id) per doc —
  payload text NEVER enters the index or any probe shuffle.
- The batch's band rows have three consumers (index probe + both
  self-join sides); they are materialized into ONE band-keyed exchange
  so every consumer hits ReusedExchange shuffle files (the
  minhash_near_dup_pairs pattern).
- Signatures attach only to CANDIDATE rows (post band-join), so the
  quadratic step shuffles 16-byte (id, band) rows.
- The index side of the probe NEVER SHUFFLES: the allowed-band set
  derives from the batch (bounded by its distinct bands) and is
  broadcast, so the index band table streams through a map-side hash
  join and only candidate rows move (see _prune_hot_bands). The scan
  itself is a columnar (band, id) read; ``band_buckets=N`` opts into a
  ``bb=``-partitioned layout whose probe statically prunes to the
  batch's buckets — worthwhile only when per-bucket data is large and
  batch bands ≪ buckets (measured locally: fan-out overhead dominates,
  BASELINE.md round-5 A/B), hence opt-in. Index partitions are
  per-batch directories — compact them with a periodic rewrite exactly
  like the lake's fold (same trade-off table).
- Connected components run over pair-connected batch docs only
  (bounded by duplicates, not batch size), with per-round
  localCheckpoint (clustering.py's contract).

Streaming use (`near-dedup … batch auto` in run_tql_stream): the stage
runs per micro-batch with the connector's batch id, so the index
advances one partition per micro-batch and crash-redelivery re-derives
the identical decision. Intended for INSERT-only content streams
(curation feeds). In an updating CDC stream an UPDATE whose new content
near-matches anything accepted — including the doc's own earlier
version — would be dropped before the merge; put the stage on the
insert path, not on a general binlog tail.

Append-only caveat (by design): index entries are never retracted —
lake-side UPDATEs/DELETEs of accepted documents do not remove their
fingerprints, so a re-ingest of content whose original was later
deleted still matches. For training-data curation this is the wanted
semantics ("this content has been seen"); a lake mirroring CDC deletes
into dedup state would need a retract log, which this index
deliberately does not implement.
"""

from __future__ import annotations

import json
import math
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tenzir_spark.lake.fs import LocalFS
from tenzir_spark.operators.clustering import connected_components
from tenzir_spark.operators.dedup import (
    char_shingles,
    minhash_band_keys,
    minhash_signature_sliced,
)
from tenzir_spark.plans.expr import dtype_of, field_col
from tenzir_spark.session import local_frame


def _sig_agreement(a: Column, b: Column) -> Column:
    """Number of positions where two equal-length signatures agree."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v))


def _resolve_batch(df: DataFrame, id_col: str, flag_col: str,
                   scorable: DataFrame, payload_col: str, payload_out: str,
                   poisoned: DataFrame, pairs: DataFrame,
                   max_iter: int) -> DataFrame:
    """Shared decision core of the incremental indexes.

    ``scorable`` is (_nid, <payload_col>) for the batch's fingerprint-
    able docs; ``poisoned`` is (_nid) — docs matching the accepted
    index; ``pairs`` is (_pa, _pb) — verified in-batch near-dup edges.
    Connected components group the pair graph; a component containing
    ANY poisoned member is dropped entirely (its content already has an
    accepted representative); each surviving component keeps exactly its
    smallest id; unscorable docs (absent from ``scorable``) are kept.
    Returns ``df`` + boolean ``flag_col`` + the payload aliased
    ``payload_out`` (carried so ingest can write the index without
    recomputing fingerprints)."""
    comp = connected_components(pairs, "_pa", "_pb", max_iter)
    pcomp = (
        comp.join(poisoned, comp["node"] == poisoned["_nid"])
        .select("component")
        .distinct()
    )
    dec = (
        scorable
        .join(poisoned.withColumn("_p", F.lit(True)), "_nid", "left")
        .join(comp.select(F.col("node").alias("_nid"),
                          F.col("component").alias("_comp")),
              "_nid", "left")
        .join(pcomp.select(F.col("component").alias("_comp"),
                           F.lit(True).alias("_cp")),
              "_comp", "left")
        .select(
            "_nid", payload_col,
            (
                F.coalesce(F.col("_p"), F.lit(False))
                | F.coalesce(F.col("_cp"), F.lit(False))
                | (F.col("_comp").isNotNull()
                   & (F.col("_comp") != F.col("_nid")))
            ).alias("_dropped"),
        )
    )
    return (
        df.join(dec, field_col(id_col) == dec["_nid"], "left")
        .select(
            df["*"],
            (~F.coalesce(F.col("_dropped"), F.lit(False)))
            .alias(flag_col),
            F.col(payload_col).alias(payload_out),
        )
    )


def _prune_hot_bands(banded: DataFrame, id_name: str, idx_band: DataFrame,
                     idx_cnt: DataFrame,
                     max_bucket: int | None) -> tuple[DataFrame, DataFrame]:
    """Skew guard shared by the fingerprint indexes: drop every band key
    whose COMBINED population (batch band rows + indexed band rows)
    exceeds ``max_bucket`` — for this classify call, on BOTH sides. A
    hot band yields O(B²) in-batch candidates and batch×index probe
    rows; giant buckets are LSH noise (low-entropy fingerprints), not
    near-duplicates. Counting the index side keeps the probe cost from
    growing superlinearly when the accepted corpus itself has a
    degenerate band.

    ``idx_cnt`` is (band, _ci) — the index side's population, read from
    the INCREMENTALLY-MAINTAINED ``bandcnt`` table (cost ∝ distinct
    bands), never by re-counting the full band table per batch (that
    would add a second index-size-proportional scan to every probe —
    measured as a visible per-batch wall creep). The batch-side counts
    ride the banded exchange (``count(id)``, not ``count(*)`` —
    identical projection keeps ReuseExchange intact, the window_dedup
    lesson).

    Scale shape: only bands PRESENT IN THE BATCH can ever produce
    candidates (every downstream consumer inner-joins against the
    batch's band rows), so ``allowed`` derives from the batch side (a
    LEFT join against the index counts — decision-identical to the old
    full-join form) and is bounded by the batch's distinct bands:
    small enough to BROADCAST to the index side. The index band table
    therefore never shuffles — it streams through a map-side hash join
    and only matching rows (∝ candidates) move. The previous shape
    shuffled the ENTIRE index band table per probe, the cost that
    grows with the corpus instead of the batch."""
    cnt_b = banded.groupBy("band").agg(F.count(id_name).alias("_cb"))
    if max_bucket is None:
        # no skew guard: the batch's distinct bands still bound the
        # index side (pure restriction, no pruning)
        allowed = cnt_b.select("band")
        return banded, idx_band.join(F.broadcast(allowed), "band")
    allowed = (
        cnt_b.join(idx_cnt, "band", "left")
        .filter((F.col("_cb")
                 + F.coalesce(F.col("_ci"), F.lit(0))) <= max_bucket)
        .select("band")
    )
    return (banded.join(allowed, "band"),
            idx_band.join(F.broadcast(allowed), "band"))


def _has_batches(p: str, fs=None) -> bool:
    fs = fs or LocalFS()
    return fs.isdir(p) and any(
        e.startswith("batch=") for e in fs.listdir(p))


def _batch_ids(p: str, fs=None) -> set[int]:
    fs = fs or LocalFS()
    if not fs.isdir(p):
        return set()
    return {int(e.split("=", 1)[1]) for e in fs.listdir(p)
            if e.startswith("batch=")}


def _empty_bandcnt(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], T.StructType([
        T.StructField("band", T.LongType()),
        T.StructField("_ci", T.LongType()),
    ]))


def _write_bandcnt(spark: SparkSession, band_dir: str, cnt_dir: str,
                   fs=None) -> None:
    """Per-batch band populations, written at add-time so probes read a
    distinct-bands-sized table instead of re-counting the full band
    table every batch (sum over batches == direct count — fold-safe)."""
    fs = fs or LocalFS()
    (
        spark.read.parquet(fs.spark_path(band_dir))
        .groupBy("band").agg(F.count("id").alias("c"))
        .write.mode("overwrite").parquet(fs.spark_path(cnt_dir))
    )


def _backfill_bandcnt(spark: SparkSession, band_root: str,
                      cnt_root: str, fs=None) -> int:
    """Heal bandcnt partitions missing for existing band partitions (an
    index created before bandcnt existed, or a crash between the band
    and bandcnt writes) — restores the incremental sum's full coverage
    so probes never silently undercount after a later fold masks the
    gap. No-op (one listdir) in the steady state."""
    missing = _batch_ids(band_root, fs) - _batch_ids(cnt_root, fs)
    for b in sorted(missing):
        _write_bandcnt(spark, f"{band_root}/batch={b}",
                       f"{cnt_root}/batch={b}", fs)
    return len(missing)


def _read_bandcnt(spark: SparkSession, path: str, batch_id: int,
                  idx_band: DataFrame,
                  band_path: str | None = None, fs=None) -> DataFrame:
    """(band, _ci) for partitions ``batch < batch_id`` — summed per-batch
    counts. Falls back to counting ``idx_band`` directly when the cnt
    table is missing OR only PARTIALLY covers the band table's batch
    partitions (a crash between the band and bandcnt writes, or an index
    created before the cnt table existed that then gained new-code
    ingests — summing only the covered batches would permanently
    undercount the old batches' bands and mis-prune the skew guard) —
    correctness identical, just the slower full-count path for that
    probe."""
    fs = fs or LocalFS()
    covered = {b for b in _batch_ids(path, fs) if b < batch_id}
    needed = ({b for b in _batch_ids(band_path, fs) if b < batch_id}
              if band_path is not None else (covered or None))
    if covered and needed is not None and needed <= covered:
        return (
            spark.read.parquet(fs.spark_path(path))
            .filter(F.col("batch") < batch_id)
            .groupBy("band").agg(F.sum("c").alias("_ci"))
        )
    return idx_band.groupBy("band").agg(F.count("_iid").alias("_ci"))


_FOLD_MARKER = ".FOLD_COMMIT"


def _apply_fold(path: str, fs=None) -> None:
    """Roll a committed fold forward: remove the folded partition dirs,
    rename the temp dir into place, drop the marker. Idempotent — safe
    to re-run from any crash point after the marker was written.

    The removals are gated on the temp dir still existing: the marker is
    written only after the temp write completed, so a MISSING temp means
    the rename already happened — re-running the removal list there
    would delete the renamed target (it is itself one of the folded
    names) and destroy the folded data."""
    fs = fs or LocalFS()
    marker = os.path.join(path, _FOLD_MARKER)
    m = json.loads(fs.read_text(marker))
    tmp = os.path.join(path, m["tmp"])
    target = os.path.join(path, m["target"])
    if fs.isdir(tmp):
        for d in m["remove"]:
            fs.rmtree(os.path.join(path, d))
        fs.rename(tmp, target)
    fs.remove(marker)


def _recover_fold(path: str, fs=None) -> None:
    """Finish a crashed fold (marker present → roll FORWARD; the temp
    dir holds the complete folded data, so forward is always safe) and
    clear uncommitted fold temps (no marker → the fold never happened)."""
    fs = fs or LocalFS()
    if not fs.isdir(path):
        return
    if fs.exists(os.path.join(path, _FOLD_MARKER)):
        _apply_fold(path, fs)
    for e in fs.listdir(path):
        if e.startswith(".fold."):
            fs.rmtree(os.path.join(path, e))
        elif e.startswith(_FOLD_MARKER + ".tmp."):
            # crash during the marker write itself — the fold never
            # committed, so the stale temp file is pure junk
            fs.remove(os.path.join(path, e))


def _check_layout(fs, root: str, band_path: str,
                  band_buckets: int | None) -> None:
    """Enforce one band layout per index lifetime: the ``_META.json``
    marker records ``band_buckets`` at creation; a mismatched reader
    gets a clear error instead of Spark's partition-discovery failure
    (flat and ``bb=``-partitioned batches cannot mix in one scan)."""
    meta_p = f"{root}/_META.json"
    if fs.exists(meta_p):
        stored = json.loads(fs.read_text(meta_p)).get("band_buckets")
        if stored != band_buckets:
            raise ValueError(
                f"dedup index at {root} was created with "
                f"band_buckets={stored}; this instance was constructed "
                f"with band_buckets={band_buckets} — the band layout is "
                "fixed for the index's lifetime")
    elif band_buckets is not None and _has_batches(band_path, fs):
        raise ValueError(
            f"dedup index at {root} has an existing flat band layout "
            "(pre-band_buckets); it cannot be read as "
            f"band_buckets={band_buckets} — rebuild the index or use "
            "band_buckets=None")


def _write_layout_marker(fs, root: str, band_buckets: int | None) -> None:
    meta_p = f"{root}/_META.json"
    if not fs.exists(meta_p):
        fs.makedirs(root)
        fs.write_text_atomic(meta_p,
                             json.dumps({"band_buckets": band_buckets}))


def _band_bucket(col, n: int):
    """Deterministic sub-bucket of a band key for the partitioned band
    layout (``bb=<k>`` dirs)."""
    return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")


def _touched_bb(banded: DataFrame, n: int) -> list[int]:
    """The bb values the batch's band keys hash into — bounded by ``n``
    (one tiny distinct job riding the banded exchange). These become a
    STATIC partition filter on the index band scan, so Spark prunes
    untouched ``bb=`` directories at planning time."""
    rows = (banded.select(_band_bucket(F.col("band"), n).alias("bb"))
            .distinct().collect())
    return sorted(r["bb"] for r in rows)


def _fold_partitions(spark: SparkSession, path: str, upto_batch: int,
                     fs=None, partition_by: list[str] | None = None) -> int:
    """Fold every ``batch=<n>`` partition with ``n < upto_batch`` into a
    single partition named after the LARGEST folded id — future probes
    (``batch < b`` with monotone b > every folded id) see identical
    rows, and redelivery below ``upto_batch`` must no longer happen
    (folded history is acked by contract — the caller passes its resume
    point). Crash-safe: folded rows land in a dot-temp dir (invisible
    to Spark's partition discovery), a marker commits the swap, and
    recovery rolls forward. Returns the number of partitions folded."""
    fs = fs or LocalFS()
    _recover_fold(path, fs)
    if not fs.isdir(path):
        return 0
    ids = sorted(
        int(e.split("=", 1)[1])
        for e in fs.listdir(path)
        if e.startswith("batch=") and int(e.split("=", 1)[1]) < upto_batch
    )
    if len(ids) <= 1:
        return 0
    target = ids[-1]
    folded = (
        spark.read.parquet(fs.spark_path(path))
        .filter(F.col("batch") < upto_batch)
        .drop("batch")
    )
    tmp = f".fold.{uuid.uuid4().hex}"
    w = folded.write
    if partition_by:
        # preserve the sub-partitioned layout (bucketed band tables)
        w = w.partitionBy(*partition_by)
    w.parquet(fs.spark_path(os.path.join(path, tmp)))
    marker = {"remove": [f"batch={i}" for i in ids], "tmp": tmp,
              "target": f"batch={target}"}
    fs.write_text_atomic(os.path.join(path, _FOLD_MARKER),
                         json.dumps(marker))
    _apply_fold(path, fs)
    return len(ids)


class NearDupIndex:
    """Durable MinHash index for incremental near-dup dedup at ingest.

    ``root`` is a directory (created on first add) holding two parquet
    tables partitioned by batch id: ``sig/batch=<n>/`` (id, sig) and
    ``band/batch=<n>/`` (band, id). Batch ids must be monotone ints —
    the probe for batch ``b`` reads only ``batch < b`` (replay
    determinism + idempotent redelivery).
    """

    def __init__(self, root: str, *, k: int = 5, num_hashes: int = 16,
                 bands: int = 4, sig_threshold: float = 0.5,
                 max_iter: int = 50, max_bucket: int | None = 64,
                 band_buckets: int | None = None, fs=None):
        if num_hashes % bands:
            raise ValueError("num_hashes must be divisible by bands")
        if not (0.0 < sig_threshold <= 1.0):
            raise ValueError("sig_threshold must be in (0, 1]")
        if band_buckets is not None and band_buckets < 2:
            raise ValueError("band_buckets must be >= 2 (or None)")
        self.fs = fs or LocalFS()
        # band_buckets: OPT-IN sub-partitioned band layout
        # (``band/batch=<b>/bb=<k>/``) — the probe then reads only the
        # ``bb`` directories the batch's bands hash into (static
        # partition pruning), so the index-side SCAN cost follows the
        # batch, not the corpus, once the index dwarfs the batch. Fixed
        # for the index's lifetime (_META.json layout marker — mixing
        # layouts would break Spark's partition discovery).
        self.band_buckets = band_buckets
        self.root = root.rstrip("/")
        self.k = k
        # band keys whose COMBINED population (batch rows + indexed
        # rows) exceeds max_bucket are skipped for the whole classify
        # call — a hot band yields O(B²) candidates and giant buckets
        # are LSH noise, not near-duplicates (the minhash_near_dup_pairs
        # skew guard, extended to count the index side too so the probe
        # cost cannot grow superlinearly with a degenerate corpus).
        # None disables (the oracle-witness setting is the default 64,
        # replayed in SQL).
        self.max_bucket = max_bucket
        self.num_hashes = num_hashes
        self.bands = bands
        self.sig_threshold = sig_threshold
        # integer agreement bar — no float comparison crosses the engine
        # boundary (the oracle replays the same integer)
        self.min_agree = math.ceil(sig_threshold * num_hashes)
        self.max_iter = max_iter
        self._sig_path = f"{self.root}/sig"
        self._band_path = f"{self.root}/band"
        self._bandcnt_path = f"{self.root}/bandcnt"

    # ------------------------------------------------------------------
    def _scorable_sigs(self, df: DataFrame, text_col: str,
                       id_col: str) -> DataFrame:
        """(_nid, _nsig) for scorable docs — single-consumer expression
        chain (shingles → signature), the CollapseProject-safe shape.

        Dispatches on the column dtype (the window_dedup convention):
        strings shingle as character k-grams; ARRAY columns — the lake's
        pre-tokenized payload shape — as distinct k-token windows
        stringified with a ',' join (engine-portable; token ids are
        ints, so the join is collision-free)."""
        if isinstance(dtype_of(df.schema, text_col), T.ArrayType):
            from tenzir_spark.operators.decontaminate import array_windows

            sh = F.array_distinct(F.transform(
                array_windows(field_col(text_col), self.k),
                lambda w: F.array_join(w, ",")))
        else:
            sh = char_shingles(field_col(text_col), self.k)
        tbl = df.select(
            field_col(id_col).alias("_nid"), sh.alias("_nsh")
        ).filter(F.size("_nsh") >= self.k)
        return tbl.select(
            "_nid",
            minhash_signature_sliced(
                F.col("_nsh"), self.num_hashes).alias("_nsig"),
        )

    def _index_tables(
            self, spark: SparkSession, batch_id: int, id_type: T.DataType,
            touched_bb: list[int] | None = None,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(sig, band, bandcnt) probe tables from partitions
        ``batch < batch_id``; empty frames with the right schema when
        the index is fresh. ``touched_bb`` (bucketed layout) statically
        prunes the band scan to the batch's ``bb=`` directories."""
        _recover_fold(self._sig_path, self.fs)
        _recover_fold(self._band_path, self.fs)
        _recover_fold(self._bandcnt_path, self.fs)

        # BOTH core tables must exist: a crash between ingest's sig and
        # band writes can leave the sig root alone (first-ever batch) —
        # those docs are un-probe-able until the unacked batch is
        # redelivered, never a read error (the documented crash window)
        if _has_batches(self._sig_path, self.fs) and _has_batches(
                self._band_path, self.fs):
            sig = (
                spark.read.parquet(self.fs.spark_path(self._sig_path))
                .filter(F.col("batch") < batch_id)
                .select(F.col("id").alias("_iid"), F.col("sig").alias("_isig"))
            )
            band = spark.read.parquet(
                self.fs.spark_path(self._band_path)
            ).filter(F.col("batch") < batch_id)
            if touched_bb is not None:
                band = band.filter(F.col("bb").isin(touched_bb))
            band = band.select("band", F.col("id").alias("_iid"))
            return sig, band, _read_bandcnt(
                spark, self._bandcnt_path, batch_id, band,
                band_path=self._band_path, fs=self.fs)
        empty_sig = local_frame(spark, [], T.StructType([
            T.StructField("_iid", id_type),
            T.StructField("_isig", T.ArrayType(T.LongType())),
        ]))
        empty_band = local_frame(spark, [], T.StructType([
            T.StructField("band", T.LongType()),
            T.StructField("_iid", id_type),
        ]))
        return empty_sig, empty_band, _empty_bandcnt(spark)

    # ------------------------------------------------------------------
    def _probe_frames(self, df: DataFrame, text_col: str, id_col: str,
                      batch_id: int):
        """(sigs, banded, idx_sig, idx_band) — the probe inputs exactly
        as classify builds them. The single owner of the probe plan
        shape; :meth:`probe_candidates` exposes it for plan audits."""
        spark = df.sparkSession
        _check_layout(self.fs, self.root, self._band_path,
                      self.band_buckets)
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # the shingle→md5→signature chain is the dominant compute and has
        # FIVE consumers below (index probe, both pair sides, the decision
        # base, the returned sig column) — materialize it ONCE. The
        # checkpoint holds (id, 16×int64) ≈ 150 B per scorable doc,
        # bounded by the micro-batch, never the corpus.
        sigs = self._scorable_sigs(df, text_col, id_col).localCheckpoint(
            eager=True)
        # three consumers (index probe + both self-join sides) → ONE
        # band-keyed exchange, everything downstream reads its shuffle
        # files (ReusedExchange)
        banded = sigs.select(
            "_nid",
            F.explode(
                minhash_band_keys(F.col("_nsig"), self.num_hashes, self.bands)
            ).alias("band"),
        ).repartition(n_parts, "band")
        idx_sig, idx_band, idx_cnt = self._index_tables(
            spark, batch_id, dtype_of(df.schema, id_col),
            touched_bb=(_touched_bb(banded, self.band_buckets)
                        if self.band_buckets else None))
        banded, idx_band = _prune_hot_bands(
            banded, "_nid", idx_band, idx_cnt, self.max_bucket)
        return sigs, banded, idx_sig, idx_band

    def probe_candidates(self, df: DataFrame, text_col: str, id_col: str,
                         batch_id: int) -> DataFrame:
        """INTROSPECTION: the index-probe candidate join, lazily — for
        plan audits (the index side must reach this join through a
        broadcast of the batch's band set, never a full-index shuffle;
        bucketed layouts additionally show ``bb`` partition filters).
        Not part of the dedup decision API."""
        _, banded, _, idx_band = self._probe_frames(
            df, text_col, id_col, batch_id)
        return (banded.join(idx_band, "band")
                .select("_nid", "_iid")
                .dropDuplicates(["_nid", "_iid"]))

    def _classify(self, df: DataFrame, text_col: str, id_col: str,
                  batch_id: int, flag_col: str,
                  with_sig: bool) -> DataFrame:
        lower = {c.lower() for c in df.columns}
        # _nd_sig is created (and, without with_sig, dropped) either way
        # — a caller's same-named column would silently vanish
        scratch = ["_nid", "_nsig", "_dropped", "_nd_sig"]
        for c in [flag_col] + scratch:
            if c.lower() in lower:
                raise ValueError(
                    f"NearDupIndex: input already has a {c!r} column — "
                    "drop or rename it first (case-insensitive resolution)")
        spark = df.sparkSession
        sigs, banded, idx_sig, idx_band = self._probe_frames(
            df, text_col, id_col, batch_id)

        # 1. docs matching the accepted corpus — candidate (new, indexed)
        # id pairs from the band join, verified by signature agreement
        cand_idx = (
            banded.join(idx_band, "band")
            .select("_nid", "_iid")
            .dropDuplicates(["_nid", "_iid"])
        )
        poisoned = (
            cand_idx.join(sigs, "_nid")
            .join(idx_sig, "_iid")
            .filter(_sig_agreement(F.col("_nsig"), F.col("_isig"))
                    >= self.min_agree)
            .select("_nid")
            .distinct()
            # two consumers (poisoned-component probe + decision base),
            # each would re-run the index probe join — and the result is
            # tiny (index-matched new ids only)
            .localCheckpoint(eager=True)
        )

        # 2. in-batch candidate pairs, same verification
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(b, "band")
            .filter(F.col("a._nid") < F.col("b._nid"))
            .select(F.col("a._nid").alias("_pa"), F.col("b._nid").alias("_pb"))
            .dropDuplicates(["_pa", "_pb"])
        )
        sig_a = sigs.select(F.col("_nid").alias("_pa"),
                            F.col("_nsig").alias("_siga"))
        sig_b = sigs.select(F.col("_nid").alias("_pb"),
                            F.col("_nsig").alias("_sigb"))
        pairs = (
            cand.join(sig_a, "_pa").join(sig_b, "_pb")
            .filter(_sig_agreement(F.col("_siga"), F.col("_sigb"))
                    >= self.min_agree)
            .select("_pa", "_pb")
        )

        # 3. shared decision core: CC + poisoned clusters + keep-min-id
        out = _resolve_batch(df, id_col, flag_col, sigs, "_nsig", "_nd_sig",
                             poisoned, pairs, self.max_iter)
        return out if with_sig else out.drop("_nd_sig")

    def classify(self, df: DataFrame, text_col: str, id_col: str,
                 batch_id: int, flag_col: str = "kept") -> DataFrame:
        """``df`` plus a boolean ``flag_col``: True ⇔ the row survives
        dedup against the index AND within-batch clustering. Does NOT
        update the index (see :meth:`ingest`). Ids must be non-null and
        unique within the batch (the lake key invariant)."""
        return self._classify(df, text_col, id_col, batch_id, flag_col,
                              with_sig=False)

    def ingest(self, df: DataFrame, text_col: str, id_col: str,
               batch_id: int, flag_col: str = "kept") -> DataFrame:
        """Classify the batch, append kept scorable docs' signatures and
        band keys to the index under ``batch=<batch_id>`` (overwriting —
        idempotent redelivery), and return the classified frame.

        Crash between the two index writes leaves that batch's docs
        un-probe-able (never a wrong drop); the CDC redelivery of the
        un-acked batch overwrites both partitions and heals the state.
        """
        out = self._classify(df, text_col, id_col, batch_id, flag_col,
                             with_sig=True)
        kept_sigs = (
            out.filter(F.col(flag_col) & F.col("_nd_sig").isNotNull())
            .select(field_col(id_col).alias("id"),
                    F.col("_nd_sig").alias("sig"))
        )
        sig_dir = f"{self._sig_path}/batch={batch_id}"
        kept_sigs.write.mode("overwrite").parquet(self.fs.spark_path(sig_dir))
        # bands derive from the JUST-WRITTEN sig parquet — the expensive
        # classification plan runs once, the band write reads ~150 B/doc
        written = df.sparkSession.read.parquet(self.fs.spark_path(sig_dir))
        band_dir = f"{self._band_path}/batch={batch_id}"
        band_rows = written.select(
            F.explode(
                minhash_band_keys(F.col("sig"), self.num_hashes, self.bands)
            ).alias("band"),
            "id",
        )
        w = band_rows.write.mode("overwrite")
        if self.band_buckets:
            w = band_rows.withColumn(
                "bb", _band_bucket(F.col("band"), self.band_buckets)
            ).write.mode("overwrite").partitionBy("bb")
        w.parquet(self.fs.spark_path(band_dir))
        _write_bandcnt(df.sparkSession, band_dir,
                       f"{self._bandcnt_path}/batch={batch_id}", self.fs)
        _backfill_bandcnt(df.sparkSession, self._band_path,
                          self._bandcnt_path, self.fs)
        _write_layout_marker(self.fs, self.root, self.band_buckets)
        return out.drop("_nd_sig")

    # ------------------------------------------------------------------
    def compact(self, spark: SparkSession, upto_batch: int) -> dict:
        """Fold the per-batch partitions below ``upto_batch`` (the
        caller's resume point — everything acked, never redelivered)
        into one partition each for the sig and band tables. Probe
        results are identical before and after; what changes is file
        count (the small-files problem at 10^5 micro-batches) and the
        partition-listing cost per probe. Crash-safe via a roll-forward
        marker applied by every subsequent probe. Single-writer contract
        as the lake: do not compact concurrently with ingest. A
        ``band_buckets`` that differs from the index's ``_META.json``
        raises before anything is folded (a fold would re-partition the
        band table under the wrong layout)."""
        _check_layout(self.fs, self.root, self._band_path,
                      self.band_buckets)
        return {
            "sig_folded": _fold_partitions(spark, self._sig_path, upto_batch,
                                           self.fs),
            "band_folded": _fold_partitions(
                spark, self._band_path, upto_batch, self.fs,
                partition_by=["bb"] if self.band_buckets else None),
            "bandcnt_folded": _fold_partitions(spark, self._bandcnt_path,
                                               upto_batch, self.fs),
        }

    def stats(self, spark: SparkSession) -> dict:
        """Index size facts (indexed docs, batches) from the parquet."""
        _recover_fold(self._sig_path, self.fs)
        if not self.fs.isdir(self._sig_path):
            return {"indexed_docs": 0, "batches": 0}
        sig = spark.read.parquet(self.fs.spark_path(self._sig_path))
        n = sig.count()
        b = sig.select("batch").distinct().count()
        return {"indexed_docs": n, "batches": b}


class CosineDupIndex:
    """Embedding sibling of :class:`NearDupIndex`: incremental semantic
    near-dup dedup against a persisted sign-LSH index — the SemDeDup
    family (Abbas et al. 2023) made incremental for continuous ingest.

    Fingerprint: ``bands`` independent sign-random-projection buckets of
    ``n_bits`` each over the engine-portable Rademacher planes
    (similarity.py — md5-derived ±1, oracle-replayable). Band key =
    ``band_no * 2^n_bits + bucket``. A candidate (shared band key) is a
    DUPLICATE iff exact cosine similarity, rounded to 4 decimals (the
    repo's cross-engine float convention), is ≥ ``threshold``; stored
    embeddings make the verification exact, so unlike NearDupIndex no
    estimator soundness question arises (the cost is dim×8 bytes/doc —
    what every vector index stores; PQ codes via similarity.py's
    pq_encode are the documented compression path).

    Same batch discipline as NearDupIndex: ``emb/batch=<n>`` +
    ``band/batch=<n>`` partitions, probe reads ``batch < b``
    (idempotent redelivery), :meth:`compact` folds acked history,
    crash between the two writes degrades to un-probe-able (healed by
    redelivery). Unscorable (kept, never indexed): NULL embeddings,
    wrong dimension, zero norm.
    """

    def __init__(self, root: str, dim: int, *, n_bits: int = 4,
                 bands: int = 4, threshold: float = 0.9,
                 max_iter: int = 50, max_bucket: int | None = 64,
                 band_buckets: int | None = None, fs=None):
        if not (0 < n_bits <= 30):
            raise ValueError("n_bits must be in (0, 30]")
        if not (-1.0 <= threshold <= 1.0):
            raise ValueError("threshold must be a cosine in [-1, 1]")
        if band_buckets is not None and band_buckets < 2:
            raise ValueError("band_buckets must be >= 2 (or None)")
        from tenzir_spark.operators.similarity import rademacher_planes

        self.fs = fs or LocalFS()
        self.band_buckets = band_buckets  # see NearDupIndex
        self.root = root.rstrip("/")
        self.dim = dim
        self.n_bits = n_bits
        self.bands = bands
        self.threshold = threshold
        self.max_iter = max_iter
        self.max_bucket = max_bucket  # see NearDupIndex — combined guard
        self._planes = rademacher_planes(dim, bands * n_bits)
        self._emb_path = f"{self.root}/emb"
        self._band_path = f"{self.root}/band"
        self._bandcnt_path = f"{self.root}/bandcnt"

    # ------------------------------------------------------------------
    def _scorable(self, df: DataFrame, emb_col: str,
                  id_col: str) -> DataFrame:
        from tenzir_spark.operators.similarity import norm

        e = field_col(emb_col)
        return df.select(
            field_col(id_col).alias("_nid"), e.alias("_ne")
        ).filter(
            e.isNotNull() & (F.size(e) == self.dim) & (norm(e) > 0)
        )

    def _band_keys(self) -> Column:
        from tenzir_spark.operators.similarity import lsh_bucket

        return F.array(*[
            (F.lit(j * (1 << self.n_bits))
             + lsh_bucket(F.col("_ne"),
                          self._planes[j * self.n_bits:
                                       (j + 1) * self.n_bits])
             ).cast("long")
            for j in range(self.bands)
        ])

    def _index_tables(
            self, spark: SparkSession, batch_id: int, id_type: T.DataType,
            emb_type: T.DataType, touched_bb: list[int] | None = None,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        _recover_fold(self._emb_path, self.fs)
        _recover_fold(self._band_path, self.fs)
        _recover_fold(self._bandcnt_path, self.fs)

        if _has_batches(self._emb_path, self.fs) and _has_batches(
                self._band_path, self.fs):
            emb = (
                spark.read.parquet(self.fs.spark_path(self._emb_path))
                .filter(F.col("batch") < batch_id)
                .select(F.col("id").alias("_iid"), F.col("e").alias("_ie"))
            )
            band = spark.read.parquet(
                self.fs.spark_path(self._band_path)
            ).filter(F.col("batch") < batch_id)
            if touched_bb is not None:
                band = band.filter(F.col("bb").isin(touched_bb))
            band = band.select("band", F.col("id").alias("_iid"))
            return emb, band, _read_bandcnt(
                spark, self._bandcnt_path, batch_id, band,
                band_path=self._band_path, fs=self.fs)
        empty_emb = local_frame(spark, [], T.StructType([
            T.StructField("_iid", id_type),
            T.StructField("_ie", emb_type),
        ]))
        empty_band = local_frame(spark, [], T.StructType([
            T.StructField("band", T.LongType()),
            T.StructField("_iid", id_type),
        ]))
        return empty_emb, empty_band, _empty_bandcnt(spark)

    def _cos_ok(self, a: Column, b: Column) -> Column:
        from tenzir_spark.operators.similarity import cosine

        return F.round(cosine(a, b), 4) >= self.threshold

    def _classify(self, df: DataFrame, emb_col: str, id_col: str,
                  batch_id: int, flag_col: str,
                  with_emb: bool) -> DataFrame:
        lower = {c.lower() for c in df.columns}
        # _nd_emb is created (and, without with_emb, dropped) either way
        scratch = ["_nid", "_ne", "_dropped", "_nd_emb"]
        for c in [flag_col] + scratch:
            if c.lower() in lower:
                raise ValueError(
                    f"CosineDupIndex: input already has a {c!r} column — "
                    "drop or rename it first (case-insensitive resolution)")
        spark = df.sparkSession
        _check_layout(self.fs, self.root, self._band_path,
                      self.band_buckets)
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # 16 dot products per row with multiple consumers below —
        # materialize once (dim×8 B + id per row, micro-batch-bounded)
        feats = self._scorable(df, emb_col, id_col).localCheckpoint(
            eager=True)
        banded = feats.select(
            "_nid", F.explode(self._band_keys()).alias("band")
        ).repartition(n_parts, "band")
        idx_emb, idx_band, idx_cnt = self._index_tables(
            spark, batch_id, dtype_of(df.schema, id_col),
            dtype_of(df.schema, emb_col),
            touched_bb=(_touched_bb(banded, self.band_buckets)
                        if self.band_buckets else None))
        banded, idx_band = _prune_hot_bands(
            banded, "_nid", idx_band, idx_cnt, self.max_bucket)

        cand_idx = (
            banded.join(idx_band, "band")
            .select("_nid", "_iid")
            .dropDuplicates(["_nid", "_iid"])
        )
        poisoned = (
            cand_idx.join(feats, "_nid")
            .join(idx_emb, "_iid")
            .filter(self._cos_ok(F.col("_ne"), F.col("_ie")))
            .select("_nid")
            .distinct()
            .localCheckpoint(eager=True)
        )

        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(b, "band")
            .filter(F.col("a._nid") < F.col("b._nid"))
            .select(F.col("a._nid").alias("_pa"), F.col("b._nid").alias("_pb"))
            .dropDuplicates(["_pa", "_pb"])
        )
        e_a = feats.select(F.col("_nid").alias("_pa"),
                           F.col("_ne").alias("_ea"))
        e_b = feats.select(F.col("_nid").alias("_pb"),
                           F.col("_ne").alias("_eb"))
        pairs = (
            cand.join(e_a, "_pa").join(e_b, "_pb")
            .filter(self._cos_ok(F.col("_ea"), F.col("_eb")))
            .select("_pa", "_pb")
        )

        out = _resolve_batch(df, id_col, flag_col, feats, "_ne", "_nd_emb",
                             poisoned, pairs, self.max_iter)
        return out if with_emb else out.drop("_nd_emb")

    def classify(self, df: DataFrame, emb_col: str, id_col: str,
                 batch_id: int, flag_col: str = "kept") -> DataFrame:
        """``df`` + boolean ``flag_col`` — no index mutation."""
        return self._classify(df, emb_col, id_col, batch_id, flag_col,
                              with_emb=False)

    def ingest(self, df: DataFrame, emb_col: str, id_col: str,
               batch_id: int, flag_col: str = "kept") -> DataFrame:
        """Classify, append kept docs' embeddings + band keys under
        ``batch=<batch_id>`` (overwrite — idempotent redelivery),
        return the classified frame."""
        out = self._classify(df, emb_col, id_col, batch_id, flag_col,
                             with_emb=True)
        kept = (
            out.filter(F.col(flag_col) & F.col("_nd_emb").isNotNull())
            .select(field_col(id_col).alias("id"),
                    F.col("_nd_emb").alias("e"))
        )
        emb_dir = f"{self._emb_path}/batch={batch_id}"
        kept.write.mode("overwrite").parquet(self.fs.spark_path(emb_dir))
        written = df.sparkSession.read.parquet(self.fs.spark_path(emb_dir))
        band_dir = f"{self._band_path}/batch={batch_id}"
        band_rows = (
            written.select(F.col("e").alias("_ne"), "id")
            .select(F.explode(self._band_keys()).alias("band"), "id")
        )
        w = band_rows.write.mode("overwrite")
        if self.band_buckets:
            w = band_rows.withColumn(
                "bb", _band_bucket(F.col("band"), self.band_buckets)
            ).write.mode("overwrite").partitionBy("bb")
        w.parquet(self.fs.spark_path(band_dir))
        _write_bandcnt(df.sparkSession, band_dir,
                       f"{self._bandcnt_path}/batch={batch_id}", self.fs)
        _backfill_bandcnt(df.sparkSession, self._band_path,
                          self._bandcnt_path, self.fs)
        _write_layout_marker(self.fs, self.root, self.band_buckets)
        return out.drop("_nd_emb")

    # ------------------------------------------------------------------
    def compact(self, spark: SparkSession, upto_batch: int) -> dict:
        """Fold acked per-batch partitions (NearDupIndex.compact's
        contract, layout check included)."""
        _check_layout(self.fs, self.root, self._band_path,
                      self.band_buckets)
        return {
            "emb_folded": _fold_partitions(spark, self._emb_path,
                                           upto_batch, self.fs),
            "band_folded": _fold_partitions(
                spark, self._band_path, upto_batch, self.fs,
                partition_by=["bb"] if self.band_buckets else None),
            "bandcnt_folded": _fold_partitions(spark, self._bandcnt_path,
                                               upto_batch, self.fs),
        }

    def stats(self, spark: SparkSession) -> dict:
        _recover_fold(self._emb_path, self.fs)
        if not self.fs.isdir(self._emb_path):
            return {"indexed_docs": 0, "batches": 0}
        e = spark.read.parquet(self.fs.spark_path(self._emb_path))
        return {"indexed_docs": e.count(),
                "batches": e.select("batch").distinct().count()}


class ExactDupIndex:
    """Exact-duplicate sibling of :class:`NearDupIndex`: a persisted set
    of content hashes (md5 of the text — 16 bytes/doc) with the same
    per-batch partition discipline (monotone batch ids, probe reads only
    ``batch < b``, overwrite-on-redelivery). Use when only verbatim
    duplicates matter — the probe is ONE hash anti-join, no signatures,
    no clustering.

    Semantics: a document is dropped if its content hash is already
    indexed; within the batch, the smallest id per distinct hash is
    kept. Kept docs' hashes are appended. Same append-only caveat as
    NearDupIndex (see module docstring)."""

    def __init__(self, root: str, fs=None):
        self.fs = fs or LocalFS()
        self.root = root.rstrip("/")
        self._hash_path = f"{self.root}/hash"

    def _index_hashes(self, spark: SparkSession, batch_id: int) -> DataFrame:
        _recover_fold(self._hash_path, self.fs)
        if _has_batches(self._hash_path, self.fs):
            return (
                spark.read.parquet(self.fs.spark_path(self._hash_path))
                .filter(F.col("batch") < batch_id)
                .select(F.col("h").alias("_ih"))
            )
        return spark.createDataFrame(
            [], T.StructType([T.StructField("_ih", T.StringType())]))

    def _classify(self, df: DataFrame, text_col: str, id_col: str,
                  batch_id: int, flag_col: str,
                  with_hash: bool) -> DataFrame:
        lower = {c.lower() for c in df.columns}
        for c in (flag_col, "_xh", "_keep"):
            if c.lower() in lower:
                raise ValueError(
                    f"ExactDupIndex: input already has a {c!r} column — "
                    "drop or rename it first (case-insensitive resolution)")
        spark = df.sparkSession
        hashed = df.withColumn("_xh", F.md5(field_col(text_col)))
        idx = self._index_hashes(spark, batch_id)
        # in-batch winner per hash + index membership in ONE decision
        # table: both the winner agg and the membership join shuffle
        # 16-byte hash rows, never the text
        winners = (
            hashed.select(F.col("_xh").alias("_wxh"),
                          field_col(id_col).alias("_wid"))
            .groupBy("_wxh")
            .agg(F.min("_wid").alias("_wid"))
            .join(idx, F.col("_wxh") == idx["_ih"], "left_anti")
        )
        out = (
            hashed.join(
                winners.withColumn("_keep", F.lit(True)),
                (hashed["_xh"] == winners["_wxh"])
                & (field_col(id_col) == winners["_wid"]),
                "left")
            .select(*[hashed[c] for c in df.columns],
                    # NULL text hashes to NULL → joins nothing: treat as
                    # unscorable (kept, never indexed) like NearDupIndex
                    (F.coalesce(F.col("_keep"), F.lit(False))
                     | hashed["_xh"].isNull()).alias(flag_col),
                    hashed["_xh"])
        )
        return out if with_hash else out.drop("_xh")

    def classify(self, df: DataFrame, text_col: str, id_col: str,
                 batch_id: int, flag_col: str = "kept") -> DataFrame:
        return self._classify(df, text_col, id_col, batch_id, flag_col,
                              with_hash=False)

    def ingest(self, df: DataFrame, text_col: str, id_col: str,
               batch_id: int, flag_col: str = "kept") -> DataFrame:
        out = self._classify(df, text_col, id_col, batch_id, flag_col,
                             with_hash=True)
        (
            out.filter(F.col(flag_col))
            # reuse the classify-computed hash — no second md5 over text
            .select(F.col("_xh").alias("h"))
            .filter(F.col("h").isNotNull())  # unscorable NULL text
            .distinct()
            .write.mode("overwrite")
            .parquet(self.fs.spark_path(f"{self._hash_path}/batch={batch_id}"))
        )
        return out.drop("_xh")

    def compact(self, spark: SparkSession, upto_batch: int) -> dict:
        """Fold acked per-batch hash partitions below ``upto_batch``
        into one (see NearDupIndex.compact for the contract)."""
        return {"hash_folded": _fold_partitions(
            spark, self._hash_path, upto_batch, self.fs)}

    def stats(self, spark: SparkSession) -> dict:
        _recover_fold(self._hash_path, self.fs)
        if not self.fs.isdir(self._hash_path):
            return {"indexed_hashes": 0, "batches": 0}
        h = spark.read.parquet(self.fs.spark_path(self._hash_path))
        return {"indexed_hashes": h.count(),
                "batches": h.select("batch").distinct().count()}
