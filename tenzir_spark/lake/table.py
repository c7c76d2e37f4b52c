"""An Iceberg-style ACID table layer over Parquet, in plain PySpark.

Plays the role the reference gives its partition store + catalog
(reference: libtenzir/src/active_partition.cpp persists Feather/Parquet
stores, libtenzir/src/catalog.cpp:97-106 atomically merges partition
synopses into the catalog; RFC rfc/002-fault-tolerance/README.md:116-127
requires events be acknowledged only once the partition is durable).

Design (mirrors Apache Iceberg's public spec, re-implemented from scratch
because no Iceberg runtime jar ships in this sandbox):

- Data files are immutable Parquet under
  ``<root>/data/commit=<N>/_bucket=<K>/part-*.parquet``.  ``_bucket`` is a
  hash bucket of the primary key (``pmod(xxhash64(key), n_buckets)``), so a
  MERGE only rewrites the buckets containing touched keys — copy-on-write at
  bucket granularity.  ``commit`` doubles as per-row lineage (which commit
  wrote the row).
- A snapshot is a JSON manifest: schema, file list, and free-form
  properties (we store per-partition replay watermarks there, which is what
  makes the sink exactly-once — the watermark and the data commit in ONE
  atomic action, like Iceberg snapshot summary properties).
- ``HEAD`` is an atomically-replaced pointer file; readers always see a
  complete snapshot.  A crash mid-commit leaves orphan data files but the
  table state is untouched and the replay watermark makes re-application
  idempotent.

At 100 TB: the manifest lists O(n_buckets × commits) files; `expire` /
`compact` (rewrite_data_files analog) bound that.  Reads of a snapshot pass
the explicit file list to the Parquet scan, so Spark still gets row-group
pruning, predicate pushdown, and column pruning; selecting only touched
buckets is manifest-level partition pruning, same as Iceberg.  A point
lookup plans no Spark query at all: it prunes the manifest to the key's
bucket, reads only that key's rows from the selected files on the driver
(pyarrow, row groups skipped by their min/max statistics) and resolves
them there — the reference's catalog-pruned point query
(libtenzir/src/catalog.cpp:119-171).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tenzir_spark.lake.fs import LocalFS
from tenzir_spark.session import local_frame

BUCKET_COL = "_bucket"
COMMIT_COL = "_commit"
DELETED_COL = "_deleted"
PART_COL = "_part"  # source-partition lineage carried in delta files


# typed InternalRow setter per key type, so the JVM holds the value boxed
# as the writer's column holds it (a py4j int arrives as Integer or Long
# by magnitude, not by column type)
_ROW_SETTERS = {
    T.BooleanType: "setBoolean", T.ByteType: "setByte",
    T.ShortType: "setShort", T.IntegerType: "setInt", T.DateType: "setInt",
    T.LongType: "setLong", T.TimestampType: "setLong",
    T.TimestampNTZType: "setLong", T.FloatType: "setFloat",
    T.DoubleType: "setDouble",
}


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every level nullable — what Spark's file scan makes of
    a user-supplied read schema."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType),
                                           True, f.metadata)
                             for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _jvm_xxhash64(spark: SparkSession, value, field: T.StructField) -> int | None:
    """``xxhash64(value)`` with the column type of ``field``, computed by
    Spark's ``XxHash64Function`` in the driver JVM (no job). The value
    sits in a one-field row: the hash of a struct folds its fields into
    the seed one by one, so it equals ``xxhash64`` of that one column.
    None if the type has no setter here (decimal, nested types)."""
    jvm = spark._jvm
    expr = jvm.org.apache.spark.sql.catalyst.expressions
    dt = field.dataType
    row = expr.GenericInternalRow(1)
    if value is not None:
        v = dt.toInternal(value)  # date -> days, timestamp -> micros
        if isinstance(dt, T.StringType):
            row.update(0, jvm.org.apache.spark.unsafe.types.UTF8String.fromString(v))
        elif isinstance(dt, T.BinaryType):
            row.update(0, bytearray(v))
        elif type(dt) in _ROW_SETTERS:
            getattr(row, _ROW_SETTERS[type(dt)])(0, v)
        else:
            return None
    jtype = spark._jsparkSession.parseDataType(T.StructType([field]).json())
    return expr.XxHash64Function.hash(row, jtype, 42)


class LakeTable:
    """Single-writer ACID table. ``root = <warehouse>/<name>``.

    ``fs`` is the driver-side filesystem for ALL manifest/state IO and
    driver-side data-file bookkeeping (lake/fs.py — LocalFS default;
    ArrowFS for s3a://gcs/HDFS warehouses). Spark data scans/writes go
    through ``fs.spark_path`` so the JVM sees the matching URI."""

    def __init__(self, warehouse: str, name: str, delta_codec: str = "zstd",
                 fs=None):
        import threading

        self.fs = fs or LocalFS()
        self.root = os.path.join(warehouse, name)
        self.data_dir = os.path.join(self.root, "data")
        self.meta_dir = os.path.join(self.root, "_snapshots")
        self.head_path = os.path.join(self.meta_dir, "HEAD")
        # codec for the hot-path DELTA writes only. Deltas are short-lived
        # (folded into the base by compaction), so a cheap codec trades a
        # little transient storage for per-batch CPU; the base files
        # compaction writes keep the session codec (zstd) for long-term
        # storage/scan efficiency — the standard hot/cold codec split.
        self.delta_codec = delta_codec
        # guards manifest swaps + commit-id allocation when a background
        # compaction thread overlaps the ingest thread (single process)
        self._lock = threading.RLock()
        self._next_cid: int | None = None
        # True while a fold is reading a pinned snapshot outside the lock;
        # expire_snapshots refuses to delete files under a live fold
        self._compacting = False
        self._lease_handle = None

    def _alloc_commit_id(self) -> int:
        """Commit ids name data directories (``_commit=<id>``) and define
        LWW ordering; they are allocated monotonically and independently of
        snapshot versions so a background compaction and a foreground delta
        commit can both write files concurrently without colliding."""
        with self._lock:
            self._ensure_cid_seed()
            cid = self._next_cid
            self._next_cid += 1
            return cid

    def _ensure_cid_seed(self) -> None:
        """Cold-seed the commit-id allocator. Must never land on a cid
        any RETAINED manifest references (after a rollback, HEAD's file
        cids rewind while higher-cid dirs stay referenced by older
        snapshots). Fast path: the allocator high-water mark
        (``max_cid``) every commit persists — HEAD alone seeds in O(1).
        Tables written before the field existed fall back to scanning
        every retained manifest once. Commit paths that allocate nothing
        themselves (rollback) call this too, so the ``max_cid`` they
        persist can never UNDERSTATE the watermark on a legacy table."""
        with self._lock:
            if self._next_cid is not None:
                return
            head = self.snapshot()
            if "max_cid" in head:
                self._next_cid = max(
                    int(head["max_cid"]), self.current_version()
                ) + 1
            else:
                entries = []
                for v in self.versions():
                    entries.extend(self.snapshot(v)["files"])
                self._next_cid = max(
                    [e["commit"] for e in entries] + [self.current_version()]
                ) + 1

    # ---------------------------------------------------------------- meta
    def exists(self) -> bool:
        return self.fs.exists(self.head_path)

    def create(
        self,
        schema: T.StructType,
        n_buckets: int = 64,
        properties: dict | None = None,
        key: str = "doc_id",
    ) -> None:
        if self.exists():
            raise ValueError(f"table already exists at {self.root}")
        self.fs.makedirs(self.data_dir)
        self.fs.makedirs(self.meta_dir)
        snap = {
            "version": 0,
            "parent": None,
            "schema": schema.jsonValue(),
            "n_buckets": n_buckets,
            "key": key,
            "files": [],
            "properties": properties or {},
        }
        self.fs.write_text_atomic(
            os.path.join(self.meta_dir, "v00000000.json"), json.dumps(snap))
        self.fs.write_text_atomic(self.head_path, "0")

    def current_version(self) -> int:
        return int(self.fs.read_text(self.head_path).strip())

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        return json.loads(
            self.fs.read_text(os.path.join(self.meta_dir, f"v{v:08d}.json")))

    def versions(self) -> list[int]:
        """Snapshot versions still retained on disk, ascending."""
        out = []
        for fn in self.fs.listdir(self.meta_dir):
            if fn.startswith("v") and fn.endswith(".json"):
                out.append(int(fn[1:9]))
        return sorted(out)

    def history(self) -> list[dict]:
        """One summary row per RETAINED snapshot (Iceberg `history`; the
        single source of truth for `show snapshots` in operators/meta.py).
        ``rollback_of`` is the rollback marker (None for normal commits)."""
        rows = []
        for v in self.versions():
            try:
                snap = self.snapshot(v)
            except FileNotFoundError:
                continue  # expired between the listing and the read
            base, deltas = self._split_entries(snap["files"])
            rows.append({
                "version": v,
                "parent": snap.get("parent"),
                "ts": snap.get("ts"),
                "base_files": len(base),
                "delta_files": len(deltas),
                "rows": sum(e.get("rows", 0) for e in snap["files"]),
                "rollback_of": snap.get("rollback_of"),
                "watermarks": dict(
                    snap.get("properties", {}).get("watermarks", {})
                ),
            })
        return rows

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.snapshot()["schema"])

    def n_buckets(self) -> int:
        return int(self.snapshot()["n_buckets"])

    def properties(self) -> dict:
        return self.snapshot().get("properties", {})

    def commit(
        self,
        files: list[dict],
        schema: T.StructType,
        properties: dict,
        n_buckets: int | None = None,
        extra: dict | None = None,
    ) -> int:
        """Atomically publish a new snapshot. ``files`` is the FULL new
        list. ``extra`` fields (e.g. the rollback marker) are part of the
        SAME atomic manifest write — never patched in afterwards, so a
        crash can't publish a snapshot missing its marker."""
        parent = self.current_version()
        version = parent + 1
        prev = self.snapshot()
        # allocator high-water mark: monotone across rollbacks and no-op
        # folds, so a fresh process seeds commit ids from HEAD alone
        hwm = max(
            [int(prev.get("max_cid", 0))]
            + [int(e["commit"]) for e in files]
            + ([self._next_cid - 1] if self._next_cid is not None else [])
        )
        import time

        snap = {
            "version": version,
            "parent": parent,
            "ts": time.time(),  # wall-clock commit time: age-based
            #                     retention + operator-facing history
            "schema": schema.jsonValue(),
            "n_buckets": n_buckets or int(prev["n_buckets"]),
            "key": prev.get("key", "doc_id"),
            "files": files,
            "properties": properties,
            "max_cid": hwm,
            **(extra or {}),
        }
        self.fs.write_text_atomic(
            os.path.join(self.meta_dir, f"v{version:08d}.json"),
            json.dumps(snap))
        self.fs.write_text_atomic(self.head_path, str(version))
        return version

    # --------------------------------------------------------------- lease
    def acquire_writer_lease(self) -> None:
        """Single-writer enforcement across PROCESSES (within one process
        the table lock already serializes): on LocalFS an OS advisory
        ``flock`` on ``_snapshots/WRITER_LOCK`` held for this instance's
        lifetime — released automatically when the process dies, so there
        is no stale-lease recovery problem. A second writer fails fast
        with a clear message instead of corrupting commit-id allocation
        (two processes would hand out the same cid). On non-POSIX stores
        the lease is a best-effort lock file with a staleness window
        (lake/fs.py ArrowFS — single-writer is the deployment contract
        there). Readers never take the lease (snapshot isolation needs no
        lock)."""
        if self._lease_handle is not None:
            return
        self.fs.makedirs(self.meta_dir)
        handle = self.fs.try_acquire_lease(
            os.path.join(self.meta_dir, "WRITER_LOCK"))
        if handle is None:
            raise RuntimeError(
                f"another process holds the writer lease on {self.root}; "
                "this table is single-writer (concurrent readers are fine)"
            )
        self._lease_handle = handle

    def release_writer_lease(self) -> None:
        if self._lease_handle is not None:
            self.fs.release_lease(self._lease_handle)
            self._lease_handle = None

    def _refuse_if_foreign_writer(self, what: str) -> None:
        """Cross-process guard for maintenance GC (expire/orphans): the
        in-process ``_compacting`` flag cannot see a background fold in
        ANOTHER process, and deleting that fold's pinned files mid-job
        fails it (deltas remain; no data loss — but the fold is wasted).
        Probe ``WRITER_LOCK``: if another process holds the lease, refuse.
        Library users who run compaction concurrently with out-of-process
        maintenance should construct their IngestRunner with
        ``writer_lease=True`` (the CLI default) so this probe sees them;
        an unleased embedded writer is invisible to cross-process GC."""
        if self._lease_handle is not None:
            return  # we ARE the writer; in-process guards apply
        if self.fs.lease_held_by_other(
                os.path.join(self.meta_dir, "WRITER_LOCK")):
            raise RuntimeError(
                f"refusing to {what}: another process holds the writer "
                f"lease on {self.root} (its background compaction may pin "
                "files this GC would delete); run maintenance from that "
                "process or after it exits")

    # ---------------------------------------------------------------- expr
    def bucket_expr(self, key_col: str | F.Column,
                    n_buckets: int | None = None) -> F.Column:
        """Deterministic hash bucket of the primary key (Iceberg bucket
        transform analog). xxhash64 is JVM-side and codegen'd. ``key_col``
        is a column name or an expression of the key in the table's key
        type. ``n_buckets`` defaults to HEAD's; a caller that already holds
        a snapshot passes its count and saves the manifest read."""
        n = self.n_buckets() if n_buckets is None else n_buckets
        key = F.col(key_col) if isinstance(key_col, str) else key_col
        return F.pmod(F.xxhash64(key), F.lit(n)).cast("int")

    def _read_schema(
        self, payload_schema: T.StructType, with_deleted: bool = False
    ) -> T.StructType:
        """The schema ``read`` returns: the payload, all nullable, then
        ``_commit`` and ``_bucket`` (the base-file scan's order: physical
        columns, then the ``_bucket=K`` partition column)."""
        fields = list(_nullable(payload_schema).fields)
        fields.append(T.StructField(COMMIT_COL, T.LongType(), True))
        fields.append(T.StructField(BUCKET_COL, T.IntegerType(), True))
        if with_deleted:
            fields.append(T.StructField(DELETED_COL, T.BooleanType(), True))
            fields.append(T.StructField(PART_COL, T.IntegerType(), True))
        return T.StructType(fields)

    # ---------------------------------------------------------------- read
    def read_files(
        self,
        spark: SparkSession,
        file_entries: list[dict],
        payload_schema: T.StructType | None = None,
        with_deleted: bool = False,
    ) -> DataFrame:
        """Read an explicit file list with the table schema. Old files that
        predate an added column yield nulls for it (schema evolution on
        read; reference analog: cast/schema reconciliation,
        libtenzir/include/tenzir/cast.hpp:28-56).

        NOTE: base files live under ``base=<cid>/_bucket=K/`` with
        ``_commit`` PHYSICAL (per-row original commit id, preserved by
        compaction folds); delta files live under ``_commit=<cid>/`` flat
        with ``_bucket``/``_deleted`` physical (``_commit`` is their
        partition column). The two layouts have different partition-
        discovery shapes — read them in SEPARATE calls to keep discovery
        consistent. (Warehouses written by the pre-r2
        ``_commit=N/_bucket=K/`` base layout are an on-disk format break;
        no persisted warehouse in this repo predates it.)"""
        schema = self._read_schema(payload_schema or self.schema(), with_deleted)
        if not file_entries:
            return local_frame(spark, [], schema)
        paths = [self.fs.spark_path(os.path.join(self.root, e["path"]))
                 for e in file_entries]
        out = (
            spark.read.schema(schema)
            .option("basePath", self.fs.spark_path(self.data_dir))
            .parquet(*paths)
        )
        # base files live under ``base=<cid>/_bucket=K/`` with ``_commit``
        # PHYSICAL (per-row original commit, preserved by folds); the
        # ``base`` partition column discovery appends is dropped here
        return out.drop("base") if "base" in out.columns else out

    @staticmethod
    def _split_entries(entries: list[dict]) -> tuple[list[dict], list[dict]]:
        base = [e for e in entries if e.get("kind", "base") == "base"]
        deltas = [e for e in entries if e.get("kind") == "delta"]
        return base, deltas

    @staticmethod
    def _in_buckets(entries: list[dict], bset: set[int]) -> list[dict]:
        """Manifest pruning: the base files of the buckets in ``bset`` and
        the delta files whose bucket synopsis meets it."""
        return [
            e for e in entries
            if (e.get("kind", "base") == "base" and e["bucket"] in bset)
            or (e.get("kind") == "delta" and bset & set(e["buckets"]))
        ]

    def read(self, spark: SparkSession, buckets: list[int] | None = None,
             version: int | None = None) -> DataFrame:
        """Table state — current, or AS OF an older snapshot (``version``:
        time travel; every snapshot's manifest and its files are immutable,
        so reading v_k replays exactly what a reader at commit k saw —
        Iceberg's snapshot-isolation read, and the reference's partition-
        version time travel). If merge-on-read delta files are present,
        the LWW resolution (winner = highest commit per key, tombstones
        dropped) is applied — but ONLY to the buckets the deltas touch;
        cold buckets stream through with zero shuffle (the manifest's
        per-delta bucket list is our partition-pruning synopsis, reference
        analog: catalog pruning, libtenzir/src/catalog.cpp:119-171)."""
        snap = self.snapshot(version)
        schema = T.StructType.fromJson(snap["schema"])
        entries = snap["files"]
        if buckets is not None:
            entries = self._in_buckets(entries, set(buckets))
        base, deltas = self._split_entries(entries)
        if not deltas:
            return self.read_files(spark, base, schema)
        key = snap.get("key", "doc_id")
        hot = set()
        for e in deltas:
            hot.update(e["buckets"])
        cold_base = [e for e in base if e["bucket"] not in hot]
        hot_base = [e for e in base if e["bucket"] in hot]
        resolved = self._resolve(spark, hot_base, deltas, schema, key)
        if buckets is not None:
            # delta files span buckets; keep only the requested ones
            resolved = resolved.filter(F.col(BUCKET_COL).isin(list(buckets)))
        cold = self.read_files(spark, cold_base, schema)
        return cold.unionByName(resolved)

    def bucket_of(self, spark: SparkSession, value, version: int | None = None) -> int:
        """The bucket a key value hashes to — Spark's own ``xxhash64``
        (``XxHash64Function``, seed 42: the function behind the writer's
        ``bucket_expr``) evaluated in the driver JVM over py4j, with no
        Spark job; reimplementing xxhash64 in Python would be a second
        source of truth. The value is hashed as the key column's type in
        the snapshot schema, as the writer hashed it — the Python type
        would hash ``5`` as an int even when the key is a long.
        ``version`` uses THAT snapshot's bucket count and schema: after a
        rebucket, time-travel lookups must hash with the spec the old
        files were written under, not the current one."""
        snap = self.snapshot(version)
        field = T.StructType.fromJson(snap["schema"])[snap.get("key", "doc_id")]
        n = int(snap["n_buckets"])
        h = _jvm_xxhash64(spark, value, field)
        if h is None:
            # no typed row setter for this key type: the writer's
            # expression over a literal cast to the key type (1-row job)
            h = spark.range(1).select(
                F.xxhash64(F.lit(value).cast(field.dataType)).alias("h")
            ).first()["h"]
        return h % n  # Python's % of a positive n is Spark's pmod

    def lookup(self, spark: SparkSession, value,
               version: int | None = None) -> DataFrame:
        """Point lookup on the primary key, resolved on the driver with
        no Spark job (the reference answers point queries from catalog
        metadata the same way, catalog.cpp:119-171). The value hashes to
        its bucket (``bucket_of``); the manifest gives that bucket's base
        files and the delta files whose synopsis lists it; each is read
        through ``fs`` with an equality filter on the key, so parquet
        row-group statistics skip row groups (all but ~one in a
        key-sorted fold) and only the key's rows decode. The rows then
        resolve as ``read`` resolves them: if a delta lists the bucket,
        the highest ``_commit`` wins and a winning tombstone returns no
        row. The result is a ``LocalTableScan`` frame with ``read``'s
        schema; ``version`` reads that snapshot."""
        import math

        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_type

        # pin the version ONCE: with version=None, resolving HEAD inside
        # bucket_of and again for the read races a concurrent rebucket —
        # the hash would use one spec and the manifest pruning another,
        # silently missing a present key
        v = self.current_version() if version is None else version
        snap = self.snapshot(v)
        schema = T.StructType.fromJson(snap["schema"])
        key = snap.get("key", "doc_id")
        b = self.bucket_of(spark, value, v)
        dt = schema[key].dataType
        if isinstance(value, float) and math.isnan(value):
            match = pc.field(key).is_nan()  # Spark's NaN = NaN is true
        else:
            match = pc.field(key) == pa.scalar(dt.toInternal(value),
                                               to_arrow_type(dt))
        base, deltas = self._split_entries(
            self._in_buckets(snap["files"], {b}))
        wanted = [*schema.names, DELETED_COL, COMMIT_COL]
        rows = []
        for e in base + deltas:
            path = os.path.join(self.root, e["path"])
            present = set(self.fs.parquet_metadata(path)
                          .schema.to_arrow_schema().names)
            tbl = self.fs.parquet_read(
                path, columns=[c for c in wanted if c in present],
                filters=match)
            # a delta file's _commit is its directory, not a column
            rows += [{COMMIT_COL: e["commit"], **r} for r in tbl.to_pylist()]
        if deltas and rows:
            rows = [max(rows, key=lambda r: r[COMMIT_COL])]
        out = self._read_schema(schema)
        return local_frame(spark, [
            tuple({**r, BUCKET_COL: b}.get(f.name) for f in out.fields)
            for r in rows if not r.get(DELETED_COL)
        ], out)

    def _resolve(
        self,
        spark: SparkSession,
        hot_base: list[dict],
        deltas: list[dict],
        schema: T.StructType,
        key: str,
    ) -> DataFrame:
        """Merge-on-read LWW: per key keep the row from the highest commit,
        then drop tombstones. Algebraic ``max_by`` → map-side partial
        aggregation; only hot-bucket rows shuffle."""
        base_df = self.read_files(spark, hot_base, schema, with_deleted=True)
        delta_df = self.read_files(spark, deltas, schema, with_deleted=True)
        both = base_df.unionByName(delta_df)
        cols = both.columns
        winner = (
            both.groupBy(F.col(key).alias("_k"))
            .agg(F.max_by(F.struct(*cols), F.col(COMMIT_COL)).alias("_w"))
            .select("_w.*")
        )
        return (
            winner.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
            .drop(DELETED_COL, PART_COL)
        )

    # --------------------------------------------------------------- write
    def write_commit_files(
        self, df: DataFrame, commit_version: int, sort_col: str | None = None,
        n_buckets_hint: int | None = None,
    ) -> list[dict]:
        """Write ``df`` (must carry ``_bucket``) as the data files of commit
        ``commit_version``; returns manifest entries. The repartition on
        ``_bucket`` clusters each bucket into one task so the writer emits
        ~one file per bucket (bounded file counts at scale).

        ``sort_col`` (compaction passes the primary key) sorts rows WITHIN
        each bucket file — Iceberg sort-order analog. Point lookups read
        with an equality filter on the key; with key-sorted row groups the
        parquet min/max statistics prune every non-matching row group, so
        a lookup reads ~one row group instead of the whole bucket file.
        The dynamic-partition writer's required ordering (``_bucket``) is a
        prefix of ours, so Spark keeps the key order instead of re-sorting.

        ``_commit`` is a PHYSICAL column in base files (directory is the
        non-partition name ``commit-<id>``): a compaction fold preserves
        each winner's ORIGINAL commit id, which is what makes the
        concurrent-fold rebase unconditionally sound — any delta that
        lands during the fold (whatever its cid) still resolves against
        the folded rows by the true per-row LWW order, so the fold never
        needs to abort and background compaction cannot livelock under
        continuous ingest. Rows without a ``_commit`` column (fresh
        appends/merges) get the constant ``commit_version``."""
        commit_dir = os.path.join(self.data_dir, f"base={commit_version}")
        if COMMIT_COL not in df.columns:
            df = df.withColumn(COMMIT_COL, F.lit(commit_version).cast("long"))
        # n_buckets_hint: the TARGET spec's bucket count when it differs
        # from HEAD's (rebucket) — sizing the rewrite's parallelism by the
        # old spec would cap a 32→1024 widening at 32 tasks
        n_parts = max(1, min(n_buckets_hint or self.n_buckets(),
                             int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))))
        out = (
            df.select(*[c for c in df.columns if c != BUCKET_COL], BUCKET_COL)
            .withColumn(COMMIT_COL, F.col(COMMIT_COL).cast("long"))
            .repartition(n_parts, BUCKET_COL)
        )
        if sort_col is not None:
            out = out.sortWithinPartitions(BUCKET_COL, sort_col)
        (
            out.write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(self.fs.spark_path(commit_dir))
        )
        entries = []
        for full in self.fs.walk_files(commit_dir):
            if not full.endswith(".parquet"):
                continue
            rel = os.path.relpath(full, self.root)
            bucket = None
            for part in os.path.dirname(full).split(os.sep):
                if part.startswith(f"{BUCKET_COL}="):
                    bucket = int(part.split("=", 1)[1])
            if bucket is None:
                raise RuntimeError(f"unbucketed data file {full}")
            entries.append(
                {
                    "path": rel,
                    "bucket": bucket,
                    "commit": commit_version,
                    "rows": self.fs.parquet_metadata(full).num_rows,
                }
            )
        return entries

    def delta_commit(
        self,
        df: DataFrame,
        *,
        schema: T.StructType,
        properties,
        allow_noop_abort: bool = False,
    ) -> tuple[int | None, dict]:
        """Merge-on-read fast path: append the collapsed batch (payload +
        ``_bucket`` + ``_deleted``, exactly one row per key) as flat delta
        files — O(batch) I/O regardless of table size. Watermarks travel in
        ``properties`` → data + progress commit in ONE atomic snapshot
        (exactly-once, rfc/002-fault-tolerance/README.md:116-127 analog).

        Per-file row counts and the touched-bucket synopsis are derived
        from the written parquet footers/stats on the driver — no second
        Spark job over the batch and no caching of token payloads (cache
        churn of wide array columns is what kills local-mode GC).
        Returns (version, {"rows": n, "buckets": [...]}).

        ``properties`` may be a CALLABLE of the new manifest entries,
        evaluated after the write and before the manifest swap, so the
        caller can read the delta files before a fold takes them out of
        HEAD. With ``allow_noop_abort``, a commit that would change nothing
        (zero rows, identical schema and properties) is aborted: files
        removed, no snapshot — this is what keeps pure redelivery
        invisible.

        Concurrent with compact(): safe for any interleaving, because the
        fold preserves original per-row commit ids (see
        write_commit_files) — this delta's rows resolve by true LWW order
        regardless of when the fold publishes.
        """
        cid = self._alloc_commit_id()
        commit_dir = os.path.join(self.data_dir, f"{COMMIT_COL}={cid}")
        # the delta layout: payload, then _bucket, _deleted[, _part]; a
        # frame already in it is written as is (a select is analyzed on the
        # spot, a per-batch cost on the ingest path)
        layout = [*((f.name, f.dataType) for f in schema.fields),
                  (BUCKET_COL, T.IntegerType()), (DELETED_COL, T.BooleanType())]
        if PART_COL in df.columns:
            layout.append((PART_COL, T.IntegerType()))
        out = df
        if [(f.name, f.dataType) for f in df.schema.fields] != layout:
            out = df.select(*[F.col(n).cast(t) for n, t in layout])
        # no repartition/coalesce: AQE partition coalescing already sizes the
        # reduce stage of the upstream collapse; a coalesce(1) here would
        # serialize that whole stage onto one task
        out.write.mode("overwrite").option(
            "compression", self.delta_codec
        ).parquet(self.fs.spark_path(commit_dir))

        entries = []
        buckets: set[int] = set()
        total = 0
        for fn in sorted(self.fs.listdir(commit_dir)):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(commit_dir, fn)
            md = self.fs.parquet_metadata(full)
            rows = md.num_rows
            fbuckets: set[int] = set()
            idx = md.schema.names.index(BUCKET_COL)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None and st.has_min_max:
                    fbuckets.update(range(int(st.min), int(st.max) + 1))
                else:  # fall back to the column itself (tiny)
                    fbuckets.update(
                        self.fs.parquet_column(full, BUCKET_COL))
                    break
            total += rows
            buckets |= fbuckets
            entries.append(
                {
                    "path": os.path.relpath(full, self.root),
                    "kind": "delta",
                    "commit": cid,
                    "buckets": sorted(fbuckets),
                    "rows": rows,
                }
            )
        new_props = properties(entries) if callable(properties) else properties
        if total == 0:
            # empty delta: drop the files; commit only if schema/props moved
            self.fs.rmtree(commit_dir)
            entries = []
        with self._lock:
            snap = self.snapshot()
            props = dict(snap.get("properties", {}))
            props.update(new_props)
            if (
                allow_noop_abort
                and not entries
                and props == snap.get("properties", {})
                and schema.jsonValue() == snap["schema"]
            ):
                return None, {"rows": 0, "buckets": []}
            v = self.commit(snap["files"] + entries, schema, props)
        return v, {"rows": total, "buckets": sorted(buckets)}

    def delta_pressure(self) -> dict:
        """How much merge-on-read debt has accumulated (compaction policy
        input; reference analog: `rebuild` merges undersized partitions,
        builtins/commands/rebuild.cpp:45-47)."""
        base, deltas = self._split_entries(self.snapshot()["files"])
        return {
            "delta_commits": len({e["commit"] for e in deltas}),
            "delta_rows": sum(e.get("rows", 0) for e in deltas),
            "base_files": len(base),
            "base_rows": sum(e.get("rows", 0) for e in base),
        }

    def compact(self, spark: SparkSession, sort_by_key: bool = False) -> int | None:
        """Fold the CURRENT delta files into the base (Iceberg
        `rewrite_data_files` analog): resolve LWW winners for the touched
        buckets, write them as new bucket-partitioned base files, drop
        tombstones, carry cold base files over as metadata. Amortized:
        cost ∝ hot-bucket data, runs only when `delta_pressure` crosses the
        caller's policy.

        ``sort_by_key=True`` additionally key-sorts each bucket file
        (Iceberg sort-order analog): parquet row-group min/max stats then
        prune point lookups to ~one row group. OPT-IN because the sort
        costs ~25% extra fold time (interleaved A/B, 1M x 160-token rows:
        4.3 s sorted vs 3.4 s unsorted steady) and full scans — the
        dominant access in a training-data lake — don't benefit; enable
        for lookup-heavy tables.

        Safe to run CONCURRENTLY with delta commits (background-compaction
        mode): the heavy resolve+write works against a pinned snapshot
        outside the lock; the final manifest swap REBASES — files committed
        since the pinned snapshot (newer deltas) are carried over untouched,
        and their higher commit ids still win LWW over the folded base.

        The rebase is sound for ANY interleaving because the folded base
        preserves each winner's ORIGINAL ``_commit`` (see
        write_commit_files): a delta that allocated its cid before the
        fold but published mid-fold still wins/loses against the folded
        rows by the true per-row commit order — nothing is lost, nothing
        resurrects, and the fold never aborts (an abort-on-conflict
        scheme livelocks under continuous ingest, where some delta is
        almost always in flight)."""
        with self._lock:
            if self._compacting:
                raise RuntimeError("a compaction is already in flight")
            self._compacting = True
        try:
            with self._lock:
                snap = self.snapshot()
            schema = T.StructType.fromJson(snap["schema"])
            base, deltas = self._split_entries(snap["files"])
            if not deltas:
                return None  # no cid burned on a no-op fold
            cid = self._alloc_commit_id()
            key = snap.get("key", "doc_id")
            hot = set()
            for e in deltas:
                hot.update(e["buckets"])
            cold_base = [e for e in base if e["bucket"] not in hot]
            hot_base = [e for e in base if e["bucket"] in hot]
            resolved = self._resolve(spark, hot_base, deltas, schema, key)
            new_files = self.write_commit_files(
                resolved.select(*[f.name for f in schema.fields], BUCKET_COL, COMMIT_COL),
                cid,
                sort_col=key if sort_by_key else None,
            )
            with self._lock:
                head = self.snapshot()
                pinned = {e["path"] for e in snap["files"]}
                added_since = [e for e in head["files"] if e["path"] not in pinned]
                return self.commit(
                    cold_base + new_files + added_since,
                    T.StructType.fromJson(head["schema"]),  # may have evolved
                    head.get("properties", {}),
                )
        finally:
            with self._lock:
                self._compacting = False

    # --------------------------------------------------------- maintenance
    def expire_snapshots(self, keep_last: int = 2,
                         older_than_s: float | None = None) -> dict:
        """Iceberg ``expire_snapshots`` analog: drop all but the newest
        ``keep_last`` snapshot manifests, then delete the data files that
        were referenced ONLY by the dropped snapshots. This is what bounds
        storage at 10^10 events — without it every superseded delta file
        and every pre-compaction base file lives forever (each retained
        snapshot pins its full file list for time travel).

        Concurrency: runs entirely under the table lock and REFUSES while
        a fold is in flight (the fold reads a pinned snapshot's files
        outside the lock; deleting them mid-fold would fail the fold).
        Callers with background compaction expire after ``finish`` /
        between folds — the ingest runner does exactly that. Time-travel
        reads of expired versions become impossible, as in Iceberg.

        ``older_than_s`` additionally KEEPS any snapshot younger than the
        age (Iceberg's ``older_than``): retention then bounds history by
        count AND protects a recent time-travel window — both conditions
        must hold for a snapshot to drop. Snapshots written before the
        ``ts`` field existed count as infinitely old.

        Returns ``{"expired_versions": [...], "deleted_files": n,
        "deleted_bytes": b}``.
        """
        import time

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        with self._lock:
            if self._compacting:
                raise RuntimeError(
                    "refusing to expire snapshots during an in-flight "
                    "compaction; retry after the fold completes"
                )
            self._refuse_if_foreign_writer("expire snapshots")
            vs = self.versions()
            keep = set(vs[-keep_last:])
            keep.add(self.current_version())
            if older_than_s is not None:
                cutoff = time.time() - older_than_s
                for v in vs:
                    if float(self.snapshot(v).get("ts", 0)) >= cutoff:
                        keep.add(v)
            dropped = [v for v in vs if v not in keep]
            if not dropped:
                return {"expired_versions": [], "deleted_files": 0,
                        "deleted_bytes": 0}
            live: set[str] = set()
            for v in keep:
                live.update(e["path"] for e in self.snapshot(v)["files"])
            dead: set[str] = set()
            for v in dropped:
                dead.update(e["path"] for e in self.snapshot(v)["files"])
            dead -= live
            # manifests FIRST, then data files: a crash in between leaves
            # harmless orphan files (remove_orphan_files' job), never a
            # retained-looking manifest whose data is already gone
            for v in dropped:
                self.fs.remove(os.path.join(self.meta_dir, f"v{v:08d}.json"))
            n_bytes = 0
            for rel in sorted(dead):
                full = os.path.join(self.root, rel)
                try:
                    n_bytes += self.fs.size(full)
                    self.fs.remove(full)
                except FileNotFoundError:
                    pass
            self._prune_empty_data_dirs()
            return {"expired_versions": dropped, "deleted_files": len(dead),
                    "deleted_bytes": n_bytes}

    def _prune_empty_data_dirs(self) -> None:
        """Remove empty ``_commit=/_bucket=`` dirs left behind by file
        deletion. MUST skip committer staging trees: a concurrent delta
        write (async-compaction mode runs expiry on the fold thread while
        the foreground apply is mid-write) holds momentarily-empty
        ``_temporary/<app>/_temporary/attempt_*`` dirs, and rmdir'ing one
        makes the in-flight task's output create/chmod fail, aborting the
        whole batch job (observed at 10^9-event endurance scale)."""
        for dirpath in self.fs.walk_dirs_bottom_up(self.data_dir):
            rel = os.path.relpath(dirpath, self.data_dir)
            parts = rel.split(os.sep)
            if any(p.startswith(("_temporary", ".")) for p in parts):
                continue
            # live listdir, not the walk's snapshot: children pruned this
            # pass already left the directory, so parents fold up in one go
            try:
                if not self.fs.listdir(dirpath):
                    self.fs.rmdir_if_empty(dirpath)
            except FileNotFoundError:
                pass

    def remove_orphan_files(self, older_than_s: float = 3600.0) -> dict:
        """Iceberg ``remove_orphan_files`` analog: delete data files that
        no RETAINED snapshot references — the leftovers of a crash between
        the data write and the manifest swap (the documented crash window:
        "a crash mid-commit leaves orphan data files but the table state
        is untouched"). The age threshold keeps an IN-FLIGHT commit's
        files safe: they exist on disk before their manifest does, so only
        files older than ``older_than_s`` are eligible — the same guard
        Iceberg's procedure uses (``older_than``). Floor: 60 s (a shorter
        window could eat a slow in-flight write; cross-process the writer
        lease is the stronger guard — a running ingest holds it and this
        table's mutators refuse). Refuses during an in-flight fold for
        the same reason expire does."""
        import time

        if older_than_s < 60:
            raise ValueError("older_than_s < 60s could delete an "
                             "in-flight commit's files; refusing")
        with self._lock:
            if self._compacting:
                raise RuntimeError(
                    "refusing to remove orphans during an in-flight "
                    "compaction; retry after the fold completes")
            self._refuse_if_foreign_writer("remove orphan files")
            live: set[str] = set()
            for v in self.versions():
                live.update(e["path"] for e in self.snapshot(v)["files"])
            cutoff = time.time() - older_than_s
            removed, n_bytes = 0, 0
            for full in self.fs.walk_files(self.data_dir):
                rel = os.path.relpath(full, self.root)
                if rel in live:
                    continue
                try:
                    if self.fs.mtime(full) >= cutoff:
                        continue
                    n_bytes += self.fs.size(full)
                    self.fs.remove(full)
                    removed += 1
                except FileNotFoundError:
                    pass
            self._prune_empty_data_dirs()
            return {"deleted_files": removed, "deleted_bytes": n_bytes}

    def read_changes(
        self,
        spark: SparkSession,
        since_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """CDC *out* — Iceberg incremental-read analog, and the lake-side
        twin of the engine's ingest contract: the NET change per key
        between two snapshots, shaped exactly like a change batch
        (payload columns + ``op`` ∈ {upsert, delete}), so a downstream
        table can apply the result with the same merge the engine uses
        (reference analog: ``export --live`` feeds downstream pipelines,
        libtenzir/builtins/operators/export.cpp).

        Works off the manifests: every delta file first referenced by a
        snapshot in ``(since, to]`` holds exactly the rows that batch
        changed — no table diff job, cost ∝ changed rows, never table
        size. A fold inside the window is transparent (the folded delta
        files are still listed by the intermediate manifests and still on
        disk until expired). Multiple changes to one key collapse to the
        latest (LWW on ``_commit``).

        The changelog horizon is bounded by snapshot retention: if an
        intermediate manifest was expired, raises — same contract as
        Iceberg's incremental read off expired snapshots. Bulk
        ``append``/copy-on-write bootstrap commits write base files and
        are OUTSIDE the changelog (consumers start tailing after
        bootstrap); only the merge-on-read path (the engine's production
        write path) emits changes."""
        to_v = self.current_version() if to_version is None else to_version
        if since_version > to_v:
            raise ValueError(f"since v{since_version} > to v{to_v}")
        retained = set(self.versions())
        missing = [v for v in range(since_version, to_v + 1)
                   if v not in retained]
        if missing:
            raise ValueError(
                f"changelog horizon expired: snapshots {missing} were "
                "removed by expire_snapshots; re-bootstrap the consumer"
            )
        def _snap(v: int) -> dict:
            # a manifest can expire between the horizon check above and
            # this read (async fold thread / upstream process): surface
            # the contractual horizon error, not a raw FileNotFoundError
            try:
                return self.snapshot(v)
            except FileNotFoundError:
                raise ValueError(
                    f"changelog horizon expired: snapshot v{v} was "
                    "removed by expire_snapshots; re-bootstrap the "
                    "consumer"
                ) from None

        to_snap = _snap(to_v)
        schema = T.StructType.fromJson(to_snap["schema"])
        key = to_snap.get("key", "doc_id")
        prior = {e["path"] for e in _snap(since_version)["files"]}
        new_deltas: dict[str, dict] = {}
        for v in range(since_version + 1, to_v + 1):
            sv = _snap(v)
            if sv.get("rollback_of") is not None:
                # the reversion of keys touched after the rollback target
                # has no delta-file representation — an incremental window
                # crossing it would silently MISS changes
                raise ValueError(
                    f"changelog window ({since_version}, {to_v}] crosses a "
                    f"rollback at v{v}; re-bootstrap the consumer from a "
                    "full read"
                )
            for e in sv["files"]:
                if e.get("kind") == "delta" and e["path"] not in prior:
                    new_deltas.setdefault(e["path"], e)
        out_fields = [f.name for f in schema.fields]
        if not new_deltas:
            empty = T.StructType(
                list(schema.fields) + [T.StructField("op", T.StringType())]
            )
            return local_frame(spark, [], empty)
        df = self.read_files(spark, list(new_deltas.values()), schema,
                             with_deleted=True)
        cols = df.columns
        winner = (
            df.groupBy(F.col(key).alias("_k"))
            .agg(F.max_by(F.struct(*cols), F.col(COMMIT_COL)).alias("_w"))
            .select("_w.*")
        )
        return winner.select(
            *out_fields,
            F.when(F.coalesce(F.col(DELETED_COL), F.lit(False)), "delete")
            .otherwise("upsert").alias("op"),
        )

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> int:
        """Bucket-spec evolution (Iceberg partition-spec evolution
        analog): rewrite every base file under a new bucket count and
        publish atomically. The escape hatch for a table that outgrew its
        layout — at 10^10 keys, 32 buckets mean ~300M keys per merge task;
        widening to 256/1024 restores bounded task sizes and file counts.

        One full-table rewrite (like Iceberg's rewrite after a spec
        change), amortized over the table's lifetime. Per-row ORIGINAL
        ``_commit`` is preserved, so LWW order — and every later fold's
        rebase soundness — survives the move. Watermarks/properties carry
        over untouched; old snapshots keep their own ``n_buckets``
        (time-travel lookups hash with the spec their files were written
        under — see bucket_of).

        Single-writer maintenance op, enforced two ways: REFUSES if delta
        files exist (their physical ``_bucket`` column predates the new
        spec — run compact() first), and refuses at the swap if ANY commit
        landed mid-rewrite (retry while ingest is paused). Crash
        mid-rewrite leaves only orphan files for remove_orphan_files."""
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        with self._lock:
            if self._compacting:
                raise RuntimeError("cannot rebucket during a compaction")
            snap = self.snapshot()
            base, deltas = self._split_entries(snap["files"])
            if deltas:
                raise RuntimeError(
                    "rebucket requires a fully folded table (delta files "
                    "carry the old bucket spec physically); run compact() "
                    "first")
            cid = self._alloc_commit_id()
        schema = T.StructType.fromJson(snap["schema"])
        key = snap.get("key", "doc_id")
        df = self.read_files(spark, base, schema)
        df = df.drop(BUCKET_COL).withColumn(
            BUCKET_COL,
            F.pmod(F.xxhash64(F.col(key)), F.lit(new_n_buckets)).cast("int"),
        )
        new_files = self.write_commit_files(
            df.select(*[f.name for f in schema.fields], BUCKET_COL, COMMIT_COL),
            cid,
            n_buckets_hint=new_n_buckets,
        )
        with self._lock:
            head = self.snapshot()
            if {e["path"] for e in head["files"]} != {e["path"] for e in snap["files"]}:
                raise RuntimeError(
                    "table changed during rebucket; retry while ingest "
                    "is paused")
            return self.commit(
                new_files,
                T.StructType.fromJson(head["schema"]),
                head.get("properties", {}),
                n_buckets=new_n_buckets,
            )

    def rollback(self, version: int) -> int:
        """Iceberg ``rollback_to_snapshot`` analog: publish a NEW snapshot
        whose files, schema, and properties duplicate ``version``. History
        stays linear (HEAD only ever advances) and commit-id monotonicity
        is preserved, so ingest continues safely after a rollback. Because
        the replay watermarks live in snapshot properties, they roll back
        WITH the data — re-polling the source after the rollback point
        redelivers and re-applies exactly the undone events (the
        exactly-once contract survives the rewind)."""
        with self._lock:
            if version not in self.versions():
                raise ValueError(f"snapshot v{version} is expired or unknown")
            snap = self.snapshot(version)
            # seed the allocator BEFORE committing: rollback allocates no
            # cid itself, and on a legacy (pre-max_cid) table an unseeded
            # commit would persist an understated high-water mark that a
            # later process' fast-path seed would trust — reallocating
            # cids still referenced by retained snapshots
            self._ensure_cid_seed()
            # the rollback marker rides the SAME atomic manifest write:
            # read_changes must refuse to cross it (the reversion of keys
            # touched after the rollback target is NOT representable by
            # the window's delta files — downstream changelog consumers
            # re-bootstrap instead), and a crash mid-rollback must never
            # publish an unmarked rollback the changelog silently crosses
            return self.commit(
                list(snap["files"]),
                T.StructType.fromJson(snap["schema"]),
                dict(snap.get("properties", {})),
                n_buckets=snap["n_buckets"],
                extra={"rollback_of": version},
            )

    def append(self, df: DataFrame, key_col: str, properties: dict | None = None) -> int:
        """Append-only commit (no merge)."""
        cid = self._alloc_commit_id()
        with_bucket = df.withColumn(BUCKET_COL, self.bucket_expr(key_col))
        new_files = self.write_commit_files(with_bucket, cid)
        with self._lock:
            snap = self.snapshot()
            props = dict(snap.get("properties", {}))
            props.update(properties or {})
            return self.commit(snap["files"] + new_files, T.StructType.fromJson(snap["schema"]), props)
