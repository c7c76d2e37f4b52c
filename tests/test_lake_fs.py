"""Portable manifest/state IO (lake/fs.py) — the 100-TB deployment
boundary: every driver-side filesystem touch in the lake and the dedup
indexes goes through a LakeFS implementation, so a warehouse can live on
any pyarrow.fs filesystem (S3/GCS/HDFS) instead of POSIX only.

Three layers of proof:
1. FULL lake + dedup-index flows over ArrowFS wrapping a real
   pyarrow LocalFileSystem (Spark scans the same paths) — the ArrowFS
   code path end to end, including parquet footer reads through the
   filesystem handle.
2. The manifest/state PROTOCOL (create/commit/versions/rollback/expire
   bookkeeping/lease, fold crash-recovery) over the in-memory
   _MockFileSystem — no POSIX filesystem involved at all.
3. A source-purity guard: no bare os./shutil./open( call remains in
   lake/table.py or operators/dedup_index.py outside pure path-string
   helpers.
"""

import json
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tenzir_spark.lake.fs import ArrowFS, LocalFS
from tenzir_spark.lake.table import LakeTable


def _mock_fs():
    from pyarrow.fs import _MockFileSystem

    return ArrowFS(_MockFileSystem())


def _local_arrow_fs():
    from pyarrow.fs import LocalFileSystem

    return ArrowFS(LocalFileSystem())


SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("n_tok", T.IntegerType()),
])


# ---------------------------------------------------------------------------
# 1. full flows over ArrowFS(LocalFileSystem) — Spark reads the same paths
# ---------------------------------------------------------------------------


def test_lake_full_flow_over_arrow_fs(spark, tmp_path):
    """create → append → delta commits → merge-on-read → compact →
    expire → read: the whole write/maintenance surface with every
    driver-side FS call going through ArrowFS."""
    t = LakeTable(str(tmp_path / "wh"), "t", fs=_local_arrow_fs())
    t.create(SCHEMA, n_buckets=4)
    df0 = spark.createDataFrame(
        [(f"d{i}", i) for i in range(20)], SCHEMA)
    t.append(df0.withColumn("_commit", F.lit(0).cast("long")), "doc_id")
    # two merge-on-read delta commits (the production write path)
    for cid, upd in enumerate([("d1", 100), ("d2", 200)], start=1):
        delta = spark.createDataFrame([upd], SCHEMA).select(
            "*",
            t.bucket_expr("doc_id").alias("_bucket"),
            F.lit(False).alias("_deleted"),
        )
        v, st = t.delta_commit(delta, schema=SCHEMA, properties={})
        assert v is not None and st["rows"] == 1
    got = {r["doc_id"]: r["n_tok"] for r in t.read(spark).collect()}
    assert got["d1"] == 100 and got["d2"] == 200 and len(got) == 20
    # fold + retention GC, all through ArrowFS
    assert t.compact(spark) is not None
    exp = t.expire_snapshots(keep_last=1)
    assert exp["expired_versions"]
    got2 = {r["doc_id"]: r["n_tok"] for r in t.read(spark).collect()}
    assert got2 == got
    assert t.remove_orphan_files(older_than_s=60)["deleted_files"] == 0


def test_near_dedup_index_over_arrow_fs(spark, tmp_path):
    """NearDupIndex ingest/probe/compact with state IO through ArrowFS
    — decisions identical to the LocalFS default."""
    from tenzir_spark.operators.dedup_index import NearDupIndex

    A = ("the quick brown fox jumps over the lazy dog again and again "
         "while the winter rain keeps falling on the quiet old town")
    B = ("pack my box with five dozen liquor jugs before the long dark "
         "winter comes around and the river freezes solid once more")
    docs = spark.createDataFrame(
        [("d1", A), ("d2", B)], "doc_id string, text string")
    idx = NearDupIndex(str(tmp_path / "ndi"), fs=_local_arrow_fs())
    r0 = idx.ingest(docs, "text", "doc_id", 0)
    assert sorted(r["doc_id"] for r in r0.filter("kept").collect()) == \
        ["d1", "d2"]
    b1 = spark.createDataFrame(
        [("e1", A), ("e2", "something else entirely different here that "
                           "shares no shingles")],
        "doc_id string, text string")
    r1 = idx.ingest(b1, "text", "doc_id", 1)
    assert sorted(r["doc_id"] for r in r1.filter("kept").collect()) == ["e2"]
    assert idx.compact(spark, upto_batch=2)["sig_folded"] == 2
    assert idx.stats(spark) == {"indexed_docs": 3, "batches": 1}


def test_cdc_runner_over_arrow_fs(spark, tmp_path):
    """The flagship path end to end on a portable warehouse: ingest with
    metrics + DLQ routed through ArrowFS, replay idempotent, final state
    identical to a LocalFS control run."""
    from tenzir_spark.cdc.changegen import generate_changes
    from tenzir_spark.cdc.runner import IngestRunner

    changes = str(tmp_path / "chg")
    generate_changes(changes, n_events=2_000, n_docs=300, n_parts=2,
                     n_batches=3, seed=42)

    r_arrow = IngestRunner(spark, str(tmp_path / "wh_a"), n_buckets=8,
                           dlq=True, fs=_local_arrow_fs())
    st = r_arrow.run(changes)
    assert st["batches"] == 3
    # full redelivery: no new snapshots, same rows (exactly-once)
    v1 = r_arrow.table.current_version()
    st2 = r_arrow.run(changes)
    assert r_arrow.table.current_version() == v1
    a_rows = sorted(
        (r["doc_id"], tuple(r["tokens"] or []))
        for r in r_arrow.table.read(spark).collect())
    assert st2["batches"] == 3

    r_local = IngestRunner(spark, str(tmp_path / "wh_l"), n_buckets=8,
                           dlq=True)
    r_local.run(changes)
    l_rows = sorted(
        (r["doc_id"], tuple(r["tokens"] or []))
        for r in r_local.table.read(spark).collect())
    assert a_rows == l_rows and len(a_rows) > 0
    # metrics table readable through the portable path too
    assert r_arrow.read_metrics().count() > 0


def test_lookup_reads_only_through_fs(spark, tmp_path, monkeypatch):
    """A point lookup opens data files only through ``fs``: over a
    SubTreeFileSystem the engine's paths are relative to the store root
    and name no local file, so a bare pyarrow read of one fails."""
    import os

    import pyarrow.parquet as pq
    from pyarrow.fs import LocalFileSystem, SubTreeFileSystem

    store = tmp_path / "store"
    store.mkdir()
    monkeypatch.chdir(tmp_path)  # "wh/..." resolves to nothing here
    fs = ArrowFS(SubTreeFileSystem(str(store), LocalFileSystem()),
                 spark_prefix=f"{store}/")
    t = LakeTable("wh", "t", fs=fs)
    t.create(SCHEMA, n_buckets=4)
    t.append(spark.createDataFrame([(f"d{i}", i) for i in range(20)],
                                   SCHEMA), "doc_id")
    delta = spark.createDataFrame([("d1", 100), ("d2", None)], SCHEMA).select(
        "*", t.bucket_expr("doc_id").alias("_bucket"),
        (F.col("doc_id") == "d2").alias("_deleted"))
    t.delta_commit(delta, schema=SCHEMA, properties={})
    some_file = os.path.join(t.root, t.snapshot()["files"][0]["path"])
    with pytest.raises(FileNotFoundError):
        pq.read_table(some_file)
    assert [r["n_tok"] for r in t.lookup(spark, "d1").collect()] == [100]
    assert [r["n_tok"] for r in t.lookup(spark, "d7").collect()] == [7]
    assert t.lookup(spark, "d2").collect() == []
    assert t.lookup(spark, "nope").collect() == []


# ---------------------------------------------------------------------------
# 2. manifest/state protocol on the in-memory mock — zero POSIX
# ---------------------------------------------------------------------------


@pytest.fixture(params=["local", "mock"])
def proto_fs(request, tmp_path):
    """The manifest protocol must behave identically on POSIX and on a
    non-POSIX store; 'local' doubles as the control."""
    if request.param == "local":
        return LocalFS(), str(tmp_path / "wh")
    return _mock_fs(), "wh"


def test_manifest_protocol(proto_fs):
    fs, wh = proto_fs
    t = LakeTable(wh, "t", fs=fs)
    assert not t.exists()
    t.create(SCHEMA, n_buckets=8, properties={"origin": "test"})
    assert t.exists() and t.current_version() == 0
    assert t.versions() == [0]
    assert t.n_buckets() == 8 and t.properties() == {"origin": "test"}
    # three commits with evolving properties
    for i in range(1, 4):
        v = t.commit([], SCHEMA, {"watermarks": {"0": i}})
        assert v == i == t.current_version()
    assert t.versions() == [0, 1, 2, 3]
    hist = t.history()
    assert [h["version"] for h in hist] == [0, 1, 2, 3]
    assert hist[-1]["watermarks"] == {"0": 3}
    # rollback publishes a NEW marked snapshot
    v = t.rollback(1)
    assert v == 4
    assert t.snapshot()["rollback_of"] == 1
    assert t.properties() == {"watermarks": {"0": 1}}
    # retention: manifests drop, HEAD stays readable
    exp = t.expire_snapshots(keep_last=2)
    assert exp["expired_versions"] == [0, 1, 2]
    assert t.versions() == [3, 4]
    assert t.current_version() == 4


def test_writer_lease_protocol(proto_fs):
    fs, wh = proto_fs
    t = LakeTable(wh, "t", fs=fs)
    t.create(SCHEMA)
    t.acquire_writer_lease()
    t.acquire_writer_lease()  # idempotent re-acquire
    # a SECOND instance over the same store must refuse
    t2 = LakeTable(wh, "t", fs=fs if isinstance(fs, LocalFS)
                   else ArrowFS(fs._fs))
    with pytest.raises(RuntimeError, match="single-writer"):
        t2.acquire_writer_lease()
    with pytest.raises(RuntimeError, match="writer lease"):
        t2.expire_snapshots(keep_last=1)
    t.release_writer_lease()
    t2.acquire_writer_lease()
    t2.release_writer_lease()


def test_fold_recovery_protocol(proto_fs):
    """The dedup-index fold crash windows, replayed with plain files on
    both stores: marker present + temp present → roll forward (remove,
    rename, drop marker); marker present + temp GONE → the rename
    already happened, the removal list must NOT re-run (the data-loss
    regression), marker dropped."""
    from tenzir_spark.operators.dedup_index import _recover_fold

    fs, wh = proto_fs
    root = f"{wh}/sig"
    for d in ("batch=0", "batch=1", ".fold.abc"):
        fs.makedirs(f"{root}/{d}")
        fs.write_text_atomic(f"{root}/{d}/part-0.parquet", "x")
    fs.write_text_atomic(
        f"{root}/.FOLD_COMMIT",
        json.dumps({"remove": ["batch=0", "batch=1"], "tmp": ".fold.abc",
                    "target": "batch=1"}))
    _recover_fold(root, fs)
    assert sorted(fs.listdir(root)) == ["batch=1"]
    assert fs.exists(f"{root}/batch=1/part-0.parquet")

    # crash AFTER the rename, BEFORE marker removal: target must survive
    fs.write_text_atomic(
        f"{root}/.FOLD_COMMIT",
        json.dumps({"remove": ["batch=0", "batch=1"], "tmp": ".fold.gone",
                    "target": "batch=1"}))
    _recover_fold(root, fs)
    assert sorted(fs.listdir(root)) == ["batch=1"]
    assert fs.exists(f"{root}/batch=1/part-0.parquet")


def test_atomic_write_and_listing(proto_fs):
    fs, wh = proto_fs
    fs.makedirs(f"{wh}/m")
    fs.write_text_atomic(f"{wh}/m/HEAD", "7")
    fs.write_text_atomic(f"{wh}/m/HEAD", "8")  # overwrite
    assert fs.read_text(f"{wh}/m/HEAD") == "8"
    assert fs.isdir(f"{wh}/m") and not fs.isdir(f"{wh}/m/HEAD")
    assert "HEAD" in fs.listdir(f"{wh}/m")
    assert list(fs.walk_files(f"{wh}/m")) != []
    assert fs.size(f"{wh}/m/HEAD") == 1
    fs.remove(f"{wh}/m/HEAD")
    with pytest.raises(FileNotFoundError):
        fs.read_text(f"{wh}/m/HEAD")
    with pytest.raises(FileNotFoundError):
        fs.remove(f"{wh}/m/HEAD")
    # size of a vanished file raises like os.path.getsize (the expire
    # GC's vanished-file handling depends on it)
    with pytest.raises(FileNotFoundError):
        fs.size(f"{wh}/m/HEAD")


# ---------------------------------------------------------------------------
# 3. source purity — no bare POSIX on the manifest path
# ---------------------------------------------------------------------------


def test_no_bare_posix_on_manifest_path():
    """lake/table.py, cdc/runner.py and operators/dedup_index.py must
    route every filesystem touch through LakeFS — only pure path-STRING
    helpers (os.path.join/relpath/dirname, os.sep) may remain."""
    import tenzir_spark.cdc.runner as runner
    import tenzir_spark.lake.table as tbl
    import tenzir_spark.operators.dedup_index as di

    allowed = re.compile(
        r"os\.path\.(join|relpath|dirname)|os\.sep")
    banned = re.compile(
        r"\bshutil\.|(?<![\w.])open\(|\bos\.[a-z]|\bglob\.|\bpq\.")
    for mod in (tbl, runner, di):
        src = open(mod.__file__).read()
        for i, line in enumerate(src.splitlines(), 1):
            stripped = allowed.sub("", line)
            assert not banned.search(stripped), (
                f"{mod.__name__}:{i} bare POSIX call: {line.strip()}")
