"""Point lookups: the job-free key hash, typed keys, and the plan shapes
of the lake's read, lookup and batch paths (key-local, no Python RDD)."""

import datetime as dt
import glob
import os

import pyspark.sql.types as T
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tenzir_spark.cdc.changegen import generate_changes
from tenzir_spark.cdc.runner import IngestRunner
from tenzir_spark.lake import BUCKET_COL, LakeTable
from tenzir_spark.lake.table import DELETED_COL
from tenzir_spark.session import local_frame

N_BUCKETS = 7  # odd, so pmod of a negative hash differs from a mask


def _table(tmp_path, name, key_type, n_buckets=N_BUCKETS):
    t = LakeTable(str(tmp_path), name)
    t.create(T.StructType([T.StructField("k", key_type, False),
                           T.StructField("v", T.LongType(), True)]),
             n_buckets=n_buckets, properties={}, key="k")
    return t


def _spark_buckets(spark, t, key_type, values):
    """The writer's bucket of each value: ``bucket_expr`` over a column
    of the key type, evaluated by a Spark job."""
    df = local_frame(spark, [(v,) for v in values],
                     T.StructType([T.StructField("k", key_type)]))
    return [r[0] for r in df.select(t.bucket_expr("k")).collect()]


def _assert_hash_matches(spark, t, key_type, values):
    want = _spark_buckets(spark, t, key_type, values)
    got = [t.bucket_of(spark, v) for v in values]
    assert got == want, list(zip(values, got, want))


EDGES = {
    "string": (T.StringType(), ["", "a", "doc-17", "héllo wörld", "日本語",
                                "emoji 🚀", "x" * 300]),
    "int": (T.IntegerType(), [0, 1, -1, 5, 2**31 - 1, -(2**31)]),
    "long": (T.LongType(), [0, 5, -7, 2**31, 2**31 + 1, -(2**31) - 1,
                            2**40, 2**63 - 1, -(2**63)]),
}


@pytest.mark.parametrize("kind", sorted(EDGES))
def test_bucket_of_edge_values(spark, tmp_path, kind):
    key_type, values = EDGES[kind]
    t = _table(tmp_path, f"t_{kind}", key_type)
    _assert_hash_matches(spark, t, key_type, values)
    # the edge set reaches both signs of the 64-bit hash, so pmod (not a
    # plain remainder) is exercised
    jvm_hash = spark.range(1).select(
        *[F.xxhash64(F.lit(v).cast(key_type)) for v in values]).first()
    assert min(jvm_hash) < 0 < max(jvm_hash)


@pytest.mark.parametrize("key_type,values", [
    (T.ShortType(), [0, -3, 2**15 - 1]),
    (T.ByteType(), [0, -3, 127]),
    (T.BooleanType(), [True, False]),
    (T.DoubleType(), [0.0, -0.0, 1.5, -2.25e300]),
    (T.FloatType(), [0.0, -0.0, 1.5]),
    (T.DateType(), [dt.date(1970, 1, 1), dt.date(2024, 2, 29)]),
    (T.TimestampType(), [dt.datetime(2024, 1, 2, 3, 4, 5, 6,
                                     tzinfo=dt.timezone.utc)]),
    (T.BinaryType(), [b"", b"\x00\xff"]),
    (T.DecimalType(10, 2), [__import__("decimal").Decimal("12.34")]),
], ids=lambda x: x.simpleString() if isinstance(x, T.DataType) else None)
def test_bucket_of_other_key_types(spark, tmp_path, key_type, values):
    t = _table(tmp_path, "t", key_type)
    _assert_hash_matches(spark, t, key_type, values)


@pytest.fixture(scope="module")
def typed_tables(tmp_path_factory):
    root = tmp_path_factory.mktemp("typed")
    return {kind: _table(root, kind, EDGES[kind][0]) for kind in EDGES}


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(strings=st.lists(st.text(max_size=40), min_size=1, max_size=20),
       ints=st.lists(st.integers(-(2**31), 2**31 - 1), min_size=1,
                     max_size=20),
       longs=st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1,
                      max_size=20))
def test_bucket_of_matches_writer_hash(spark, typed_tables, strings, ints,
                                       longs):
    """Property: the job-free hash equals Spark's
    ``pmod(xxhash64(col), n)`` for any string, int and long key."""
    for kind, values in (("string", strings), ("int", ints),
                         ("long", longs)):
        t = typed_tables[kind]
        _assert_hash_matches(spark, t, EDGES[kind][0], values)


def test_long_key_lookup_finds_every_row(spark, tmp_path):
    """A LongType key: a Python int is an int to Spark's literal typing,
    but the writer hashed the column as a long — lookups must hash with
    the column's type or they miss present keys."""
    t = _table(tmp_path, "t_long", T.LongType(), n_buckets=8)
    schema = t.schema()
    t.append(local_frame(spark, [(i, i * 10) for i in range(64)], schema),
             key_col="k")
    stored = {r["k"]: r[BUCKET_COL] for r in t.read(spark).collect()}
    assert {k: t.bucket_of(spark, k) for k in range(64)} == stored
    for k in range(64):
        assert [r["v"] for r in t.lookup(spark, k).collect()] == [k * 10], k


def test_time_travel_lookup_after_rebucket(spark, tmp_path):
    """``version=`` hashes with that snapshot's bucket count."""
    t = _table(tmp_path, "t_rb", T.LongType(), n_buckets=4)
    t.append(local_frame(spark, [(i, i) for i in range(40)], t.schema()),
             key_col="k")
    v_old = t.current_version()
    t.rebucket(spark, 13)
    moved = [k for k in range(40)
             if t.bucket_of(spark, k, v_old) != t.bucket_of(spark, k)]
    assert moved  # the two specs disagree for some keys
    old_spec = spark.range(40).select(
        F.pmod(F.xxhash64("id"), F.lit(4)).alias("b")).collect()
    for k in moved[:4]:
        assert t.bucket_of(spark, k, v_old) == old_spec[k]["b"]
        assert t.lookup(spark, k, version=v_old).first()["v"] == k
        assert t.lookup(spark, k).first()["v"] == k


# ------------------------------------------------------------ plan shape

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
])


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _executed_plans(spark, action) -> list[str]:
    """Physical plans of every SQL execution ``action`` runs."""
    jsc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()
    jsc.listenerBus().waitUntilEmpty()
    before = {e.executionId() for e in _execs(store)}
    action()
    jsc.listenerBus().waitUntilEmpty()
    return [e.physicalPlanDescription() for e in _execs(store)
            if e.executionId() not in before]


def _execs(store):
    lst = store.executionsList()
    return [lst.apply(i) for i in range(lst.size())]


def _delta(spark, t, rows, deleted=False):
    return local_frame(spark, rows, SCHEMA).withColumn(
        BUCKET_COL, t.bucket_expr("doc_id")).withColumn(
        DELETED_COL, F.lit(deleted))


def _job_ids_consumed(spark, action) -> int:
    """Spark job ids ``action`` consumes, from the job id a probe job gets
    before and after it (covers jobs started on any thread)."""
    sc = spark.sparkContext

    def probe(tag):
        sc.setJobGroup(tag, tag)
        spark.range(1).count()  # may run more than one job
        return sc.statusTracker().getJobIdsForGroup(tag)

    before = max(probe("probe-before"))
    action()
    after = min(probe("probe-after"))
    sc.setJobGroup("", "")
    return after - before - 1


def test_lookup_and_read_plans_are_key_local(spark, tmp_path):
    t = LakeTable(str(tmp_path), "t_plan")
    t.create(SCHEMA, n_buckets=4)
    t.append(local_frame(spark, [(f"d{i}", [i]) for i in range(40)],
                         SCHEMA), key_col="doc_id")
    b3 = t.bucket_of(spark, "d3")
    other = next(f"d{i}" for i in range(40) if t.bucket_of(spark, f"d{i}") != b3)
    t.delta_commit(_delta(spark, t, [("d3", [99]), ("d5", [55])]),
                   schema=SCHEMA, properties={})
    t.delta_commit(_delta(spark, t, [(other, [7])]),  # bucket pruned
                   schema=SCHEMA, properties={})

    opened = []
    read_file = t.fs.parquet_read
    t.fs.parquet_read = lambda path, *a, **k: (opened.append(path),
                                               read_file(path, *a, **k))[1]
    got = []
    assert _job_ids_consumed(
        spark, lambda: got.extend(t.lookup(spark, "d3").collect())) == 0
    del t.fs.parquet_read
    assert [r["tokens"] for r in got] == [[99]]
    snap = t.snapshot()
    want = {os.path.join(t.root, e["path"]) for e in snap["files"]
            if e.get("bucket") == b3 or b3 in e.get("buckets", [])}
    assert sorted(opened) == sorted(want), opened
    assert len(want) >= 2 and len(want) < len(snap["files"])
    plan = _plan(t.lookup(spark, "d3"))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    for df in (t.read(spark), t.read(spark, buckets=[0]),
               t.read_changes(spark, t.current_version())):
        assert "ExistingRDD" not in _plan(df), _plan(df)
    assert t.read_changes(spark, t.current_version()).count() == 0
    assert t.read(spark).count() == 40


# --------------------------------------------------- lookup == read()


def _keyed(t, spark, version):
    """``read(version)`` grouped by key: the reference every lookup must
    equal, with its schema."""
    df = t.read(spark, version=version)
    rows = {}
    for r in df.collect():
        rows.setdefault(r["doc_id"], []).append(r.asDict(recursive=True))
    return df.schema, rows


def test_lookup_equals_read(spark, tmp_path):
    """Base files, a fold, pending deltas, tombstones (one re-inserted),
    a column added mid-stream and an int column widened to long: for
    every key and every snapshot, ``lookup`` returns exactly the rows and
    the schema of ``read().filter(key == k)``."""
    s0 = T.StructType([T.StructField("doc_id", T.StringType(), False),
                       T.StructField("n", T.IntegerType(), True),
                       T.StructField("tokens", T.ArrayType(T.IntegerType()))])
    s1 = T.StructType([T.StructField("doc_id", T.StringType(), False),
                       T.StructField("n", T.LongType(), True),
                       T.StructField("tokens", T.ArrayType(T.IntegerType())),
                       T.StructField("extra", T.StringType(), True)])
    t = LakeTable(str(tmp_path), "t_eq")
    t.create(s0, n_buckets=4)
    t.append(local_frame(spark, [(f"d{i}", i, [i] * (i % 3))
                                 for i in range(30)], s0), key_col="doc_id")

    def delta(schema, rows, deleted=()):
        df = local_frame(spark, rows, schema)
        return df.withColumn(BUCKET_COL, t.bucket_expr("doc_id")).withColumn(
            DELETED_COL, F.col("doc_id").isin(list(deleted) or [""]))

    t.delta_commit(delta(s0, [("d1", 100, [1]), ("d2", 200, None),
                              ("d40", 40, [4, 0])]),
                   schema=s0, properties={})
    t.compact(spark)
    t.delta_commit(delta(s1, [("d2", None, None, None),
                              ("d4", 2**40, [4], "x"),
                              ("d41", 41, [], "y")], deleted=["d2"]),
                   schema=s1, properties={})
    t.delta_commit(delta(s1, [("d5", None, None, None),
                              ("d2", 7, [2], "back"),
                              ("d1", 101, None, None)], deleted=["d5"]),
                   schema=s1, properties={})
    t.delta_commit(delta(s1, [("d4", 5, [5, 5], None)]),
                   schema=s1, properties={})
    assert len(t._split_entries(t.snapshot()["files"])[1]) >= 3

    keys = [f"d{i}" for i in range(42)] + ["", "nope", "d1 ", None]
    head = t.current_version()
    for v in range(1, head + 1):
        schema, rows = _keyed(t, spark, v)
        for k in keys:
            look = t.lookup(spark, k, version=v)
            assert look.schema == schema, (v, k, look.schema, schema)
            got = [r.asDict(recursive=True) for r in look.collect()]
            assert got == rows.get(k, []), (v, k, got)
    _, rows = _keyed(t, spark, head)
    assert "d2" in rows and "d5" not in rows and rows["d4"][0]["n"] == 5
    assert t.lookup(spark, "d1").schema == \
        t.read(spark).filter(F.col("doc_id") == "d1").schema


def test_lookup_float_keys_match_spark_equality(spark, tmp_path):
    """Spark's ``=`` holds for NaN = NaN and -0.0 = 0.0; pyarrow's
    ``==`` is false for NaN, so the lookup filters NaN with ``is_nan``."""
    s = T.StructType([T.StructField("k", T.DoubleType(), False),
                      T.StructField("v", T.LongType(), True)])
    t = LakeTable(str(tmp_path), "t_f")
    t.create(s, n_buckets=N_BUCKETS, key="k")
    t.append(local_frame(spark, [(0.0, 1), (1.5, 2), (float("nan"), 3),
                                 (-2.0, 4)], s), key_col="k")
    t.delta_commit(local_frame(spark, [(float("nan"), 30), (1.5, 20)], s)
                   .withColumn(BUCKET_COL, t.bucket_expr("k"))
                   .withColumn(DELETED_COL, F.lit(False)),
                   schema=s, properties={})
    for k in (float("nan"), 0.0, -0.0, 1.5, -2.0, 9.0):
        want = t.read(spark).filter(F.col("k") == F.lit(k))
        look = t.lookup(spark, k)
        assert look.schema == want.schema
        assert sorted(map(str, look.collect())) == \
            sorted(map(str, want.collect())), k


def test_apply_batch_plans_have_no_python_rdd(spark, tmp_path):
    src = str(tmp_path / "changes")
    generate_changes(src, n_events=600, n_docs=120, n_parts=3, n_batches=2)
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4)
    r.ensure_table()
    # batch 1's partitions all have watermarks, so its plan looks them up
    # in a non-empty literal
    for i, p in enumerate(sorted(glob.glob(os.path.join(src, "batch-*")))):
        plans = _executed_plans(spark, lambda: r.apply_batch(p, i))
        assert plans
        for p_ in plans:
            assert "ExistingRDD" not in p_, p_
            # watermarks are a literal in the filter: no join, no broadcast
            assert "BroadcastExchange" not in p_ and "Join" not in p_, p_
