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


def test_lookup_and_read_plans_are_key_local(spark, tmp_path):
    t = LakeTable(str(tmp_path), "t_plan")
    t.create(SCHEMA, n_buckets=4)
    t.append(local_frame(spark, [(f"d{i}", [i]) for i in range(40)],
                         SCHEMA), key_col="doc_id")
    t.delta_commit(_delta(spark, t, [("d3", [99]), ("d5", [55])]),
                   schema=SCHEMA, properties={})

    look = t.lookup(spark, "d3")
    plan = _plan(look)
    assert "ExistingRDD" not in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 2, plan  # the bucket's base file and the delta
    for ln in scans:
        pushed = ln.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "EqualTo(doc_id,d3)" in pushed, ln
    assert [r["tokens"] for r in look.collect()] == [[99]]

    for df in (t.read(spark), t.read(spark, buckets=[0]),
               t.read_changes(spark, t.current_version())):
        assert "ExistingRDD" not in _plan(df), _plan(df)
    assert t.read_changes(spark, t.current_version()).count() == 0
    assert t.read(spark).count() == 40


def test_apply_batch_plans_have_no_python_rdd(spark, tmp_path):
    src = str(tmp_path / "changes")
    generate_changes(src, n_events=600, n_docs=120, n_parts=3, n_batches=2)
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4)
    r.ensure_table()
    for i, p in enumerate(sorted(glob.glob(os.path.join(src, "batch-*")))):
        plans = _executed_plans(spark, lambda: r.apply_batch(p, i))
        # the first batch's watermark table is empty, and the optimizer
        # drops a left join with an empty LocalRelation
        assert i == 0 or any("BroadcastHashJoin" in p_ for p_ in plans)
        for p_ in plans:
            assert "ExistingRDD" not in p_, p_
