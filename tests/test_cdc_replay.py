"""CDC engine correctness: full replay, resume, redelivery, evolution.

The invariant (BASELINE.json north rule): after replay from ANY checkpoint,
the final table state equals the naive in-order oracle bit-for-bit under
per-row token-array equality.
"""

import os

import pytest

from tenzir_spark.cdc.changegen import generate_changes
from tenzir_spark.cdc.oracle import naive_replay
from tenzir_spark.cdc.runner import IngestRunner

from tests.util import assert_state_equal

N_EVENTS = 8_000
N_BATCHES = 8
SC_BATCH = 5  # schema_change introduced in batch 5


@pytest.fixture(scope="module")
def changes_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("changes"))
    generate_changes(
        d,
        n_events=N_EVENTS,
        n_docs=900,
        n_parts=4,
        n_batches=N_BATCHES,
        schema_change_batch=SC_BATCH,
        hot_doc_count=3,
        hot_frac=0.2,
    )
    return d


@pytest.fixture(scope="module")
def oracle(changes_dir):
    return naive_replay(changes_dir)


def _engine_state(runner):
    return runner.final_state().toPandas()


def test_full_replay_matches_oracle(spark, changes_dir, oracle, tmp_path):
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=8)
    stats = r.run(changes_dir)
    assert stats["batches"] == N_BATCHES
    assert stats["events_in"] > N_EVENTS  # dups delivered
    assert_state_equal(_engine_state(r), oracle)


def test_resume_from_checkpoint(spark, changes_dir, oracle, tmp_path):
    wh = str(tmp_path / "wh")
    r1 = IngestRunner(spark, wh, n_buckets=8)
    r1.run(changes_dir, max_batches=3)
    # simulate crash: brand-new runner over the same warehouse, restart
    # from an EARLIER position than actually applied (over-replay)
    r2 = IngestRunner(spark, wh, n_buckets=8)
    r2.run(changes_dir, start_batch=1)
    assert_state_equal(_engine_state(r2), oracle)


def test_duplicate_batch_redelivery_is_noop(spark, changes_dir, oracle, tmp_path):
    wh = str(tmp_path / "wh")
    r = IngestRunner(spark, wh, n_buckets=8)
    r.run(changes_dir)
    v = r.table.current_version()
    # redeliver every batch again — exactly-once must hold
    import glob

    for i, p in enumerate(sorted(glob.glob(os.path.join(changes_dir, "batch-*")))):
        r.apply_batch(p, 100 + i)
    assert r.table.current_version() == v  # no new snapshots
    assert_state_equal(_engine_state(r), oracle)


def test_schema_evolution_added_column(spark, changes_dir, oracle, tmp_path):
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=8)
    r.run(changes_dir)
    state = _engine_state(r)
    assert "meta" in state.columns
    assert state["meta"].notna().any(), "post-evolution rows must carry meta"
    # rows untouched since before the evolution read back as null
    assert_state_equal(state, oracle)


def test_metrics_lineage(spark, changes_dir, tmp_path):
    import glob

    import pyarrow.parquet as pq

    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=8)
    stats = r.run(changes_dir)
    m = r.read_metrics().toPandas()
    assert set(m.columns) == {
        "batch_id", "part_id", "events_in", "events_applied",
        "events_deduped", "watermark_lsn", "wall_ms",
    }
    delivered = sum(
        pq.read_metadata(p).num_rows
        for p in glob.glob(os.path.join(changes_dir, "batch-*", "part-*.parquet"))
    )
    assert int(m["events_in"].sum()) == delivered == stats["events_in"]
    assert (m.groupby("part_id")["watermark_lsn"].max() > 0).all()


def test_compaction_preserves_state(spark, changes_dir, oracle, tmp_path):
    # force compaction after nearly every batch; final state must be
    # identical and delta debt must be folded into the base
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=8,
                     compact_min_rows=1, compact_ratio=0.0)
    r.run(changes_dir)
    p = r.table.delta_pressure()
    assert p["delta_commits"] == 0, "compaction must fold all deltas"
    assert_state_equal(_engine_state(r), oracle)


def test_mor_resolution_without_compaction(spark, changes_dir, oracle, tmp_path):
    # never compact: the merge-on-read resolution alone must produce the
    # oracle state (tombstones filtered, highest commit wins per key)
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=8,
                     compact_min_rows=10**12, compact_max_commits=10**6)
    r.run(changes_dir)
    assert r.table.delta_pressure()["delta_commits"] > 0
    assert_state_equal(_engine_state(r), oracle)


def test_async_compaction_preserves_state(spark, changes_dir, oracle, tmp_path):
    # background folds overlap subsequent batches; rebase keeps newer
    # deltas; final state must still equal the oracle
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=8,
                     compact_min_rows=1, compact_ratio=0.0, async_compact=True)
    r.run(changes_dir)
    assert_state_equal(_engine_state(r), oracle)


def test_crash_mid_commit_is_invisible(spark, changes_dir, oracle, tmp_path, monkeypatch):
    """ACID: a crash AFTER delta files are written but BEFORE the manifest
    swap leaves orphan files only — table state unchanged, and the retried
    batch converges to the oracle (the reference's durability-ack chain,
    rfc/002-fault-tolerance/README.md:116-127)."""
    import glob

    from tenzir_spark.lake.table import LakeTable

    wh = str(tmp_path / "wh")
    r = IngestRunner(spark, wh, n_buckets=8)
    batches = sorted(glob.glob(os.path.join(changes_dir, "batch-*")))
    r.ensure_table()
    r.apply_batch(batches[0], 0)
    v_before = r.table.current_version()

    real_commit = LakeTable.commit

    def exploding_commit(self, *a, **k):
        raise RuntimeError("simulated crash before manifest swap")

    monkeypatch.setattr(LakeTable, "commit", exploding_commit)
    with pytest.raises(RuntimeError):
        r.apply_batch(batches[1], 1)
    monkeypatch.setattr(LakeTable, "commit", real_commit)

    # crash left no visible change
    assert r.table.current_version() == v_before
    # retry the batch, then the rest — identical final state
    for i, p in enumerate(batches[1:], start=1):
        r.apply_batch(p, i)
    assert_state_equal(_engine_state(r), oracle)


def test_rebatching_invariance(spark, tmp_path):
    """The SAME logical log delivered as 1, 3, or 8 micro-batches must
    produce the identical final table (micro-batch boundaries are an
    operational artifact, not a semantic one)."""
    states = []
    for nb in (1, 3, 8):
        d = str(tmp_path / f"chg_{nb}")
        generate_changes(d, n_events=6_000, n_docs=700, n_parts=4,
                         n_batches=nb, hot_doc_count=3, hot_frac=0.2)
        r = IngestRunner(spark, str(tmp_path / f"wh_{nb}"), n_buckets=8)
        r.run(d)
        states.append(_engine_state(r))
    assert_state_equal(states[0], states[1])
    assert_state_equal(states[0], states[2])


def test_extreme_hot_key_skew(spark, tmp_path):
    """60% of all events hitting ONE doc (pathological skew): algebraic
    partial aggregation must keep the collapse correct; result equals the
    oracle."""
    d = str(tmp_path / "chg_skew")
    generate_changes(d, n_events=10_000, n_docs=500, n_parts=4, n_batches=4,
                     hot_doc_count=1, hot_frac=0.6)
    oracle = naive_replay(d)
    r1 = IngestRunner(spark, str(tmp_path / "wh_plain"), n_buckets=8)
    r1.run(d)
    assert_state_equal(_engine_state(r1), oracle)


def test_lineage_survives_cid_version_divergence(spark, changes_dir, tmp_path):
    """A noop-aborted redelivery burns a commit id without bumping the
    snapshot version; per-partition lineage for LATER batches must still
    be reported (regression: lineage matched on version, not cid)."""
    import glob

    wh = str(tmp_path / "wh")
    r = IngestRunner(spark, wh, n_buckets=8)
    r.ensure_table()
    batches = sorted(glob.glob(os.path.join(changes_dir, "batch-*")))
    r.apply_batch(batches[0], 0)
    r.apply_batch(batches[0], 1)  # pure redelivery -> noop abort, burns a cid
    r.apply_batch(batches[1], 2)  # fresh batch AFTER the divergence
    m = r.read_metrics().toPandas()
    applied = m[m.batch_id == 2]["events_applied"].sum()
    assert applied > 0, "lineage must survive cid/version divergence"


def _jobs_consumed(spark, fn, tag):
    """Spark job ids ``fn`` consumes, across all threads: the ids between
    a probe job before it and one after it."""
    sc = spark.sparkContext

    def probe(t):
        sc.setJobGroup(t, t)
        spark.range(1).count()
        return sc.statusTracker().getJobIdsForGroup(t)

    before = max(probe(f"{tag}-before"))
    fn()
    return min(probe(f"{tag}-after")) - before - 1


def test_winners_mode_single_action_per_batch(spark, changes_dir, tmp_path):
    """A batch of per-partition files runs exactly the jobs of its
    collapse→write action run alone (AQE materializes it as one job per
    query stage): watermarks and delivered counts come from the input
    footers, and the idempotence filter is a literal that adds no job.
    The same batch as one file whose row group mixes partitions runs
    exactly one more action, the slim (part_id, lsn) aggregate."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tenzir_spark.cdc.collapse import collapse_lww

    batches = sorted(glob.glob(os.path.join(changes_dir, "batch-*")))
    mixed = str(tmp_path / "mixed.parquet")
    t = pa.concat_tables([pq.read_table(f) for f in
                          sorted(glob.glob(os.path.join(batches[1], "*.parquet")))])
    pq.write_table(t, mixed, row_group_size=t.num_rows)
    # the actions alone, planned first so schema inference is not counted:
    # the collapse and write; the aggregate
    collapsed = collapse_lww(spark.read.parquet(batches[1]))
    ref_write = _jobs_consumed(
        spark, lambda: collapsed.write.parquet(str(tmp_path / "ref")), "ref-write")
    agg = (spark.read.parquet(mixed).groupBy("part_id")
           .agg(F.count("*"), F.max("lsn")))
    ref_agg = _jobs_consumed(spark, agg.collect, "ref-agg")

    jobs_for = {}
    for tag, path in (("files", batches[1]), ("mixed", mixed)):
        r = IngestRunner(spark, str(tmp_path / f"wh_{tag}"), n_buckets=8)
        r.ensure_table()
        # batch 0 pays the one-time schema/listing jobs
        r.apply_batch(batches[0], 0)
        jobs_for[tag] = _jobs_consumed(spark, lambda: r.apply_batch(path, 1), tag)
    assert jobs_for["files"] == ref_write, (jobs_for, ref_write)
    assert jobs_for["mixed"] == jobs_for["files"] + ref_agg, (jobs_for, ref_agg)


def _mini_schema(part_type=None):
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("part_id", part_type or T.IntegerType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("epoch", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ])


def _mini_rows(rows):
    return [(p, lsn, 0, op, d, [n, n + 1], n, "s") for p, lsn, op, d, n in rows]


def _mini_batch(spark, rows, part_type=None):
    """(part_id, lsn, op, doc_id, n_tok) rows → a change-batch DataFrame
    with the full control + base payload schema (``part_id`` of
    ``part_type``, int by default)."""
    return spark.createDataFrame(_mini_rows(rows), _mini_schema(part_type))


def _mini_table(rows):
    """_mini_batch's rows and schema as a pyarrow table."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = _mini_schema()
    return pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in _mini_rows(rows)],
        schema=to_arrow_schema(schema))


def _deliver(spark, runner, rows, bid, via, tmp_path):
    """Apply ``rows`` as batch ``bid``: ``via="df"`` hands apply_batch_df
    an in-memory frame (the slim-aggregate path); ``via="files"`` writes one
    parquet file per source partition and calls apply_batch (the footer
    path)."""
    import pyarrow.parquet as pq

    if via == "df":
        return runner.apply_batch_df(_mini_batch(spark, rows), bid)
    d = tmp_path / f"in_{via}_{bid}"
    d.mkdir()
    for p in sorted({r[0] for r in rows}):
        pq.write_table(_mini_table([r for r in rows if r[0] == p]),
                       str(d / f"part-{p:03d}.parquet"))
    return runner.apply_batch(str(d), bid)


def test_winners_exact_watermarks_nonkeyed_routing(spark, tmp_path):
    """Keys straddling partitions: partition 0's max-lsn event (A,5) loses
    key A to partition 1's (A,10), so no winner carries part 0's max. The
    watermark must still record the TRUE per-partition delivered max, and
    a redelivery of (A,5) must be a noop — the exactly-once contract
    without the keyed-routing assumption, on both stats paths."""
    for via in ("df", "files"):
        r = IngestRunner(spark, str(tmp_path / f"wh_{via}"), n_buckets=4)
        r.ensure_table()
        _deliver(spark, r, [
            (0, 5, "upsert", "A", 50),
            (1, 10, "upsert", "A", 100),
            (1, 3, "upsert", "B", 30),
        ], 0, via, tmp_path)
        assert r.watermarks() == {"0": 5, "1": 10}, via
        v = r.table.current_version()
        # stale straddling event redelivered alone: must NOT re-apply
        _deliver(spark, r, [(0, 5, "upsert", "A", 50)], 1, via, tmp_path)
        assert r.table.current_version() == v, via
        state = {row["doc_id"]: row["n_tok"]
                 for row in r.final_state().collect()}
        assert state == {"A": 100, "B": 30}, via


def test_winners_exact_watermarks_new_partition_fallback(spark, tmp_path):
    """A partition first seen mid-stream gets its exact watermark, even
    when its max-lsn event loses its key to another partition, on both
    stats paths."""
    for via in ("df", "files"):
        r = IngestRunner(spark, str(tmp_path / f"wh_{via}"), n_buckets=4)
        r.ensure_table()
        _deliver(spark, r, [
            (0, 1, "upsert", "A", 10),
            (0, 2, "upsert", "B", 20),
        ], 0, via, tmp_path)
        assert r.watermarks() == {"0": 2}, via
        # part 7 appears; its max-lsn event (C,31) loses to part 0's (C,40)
        _deliver(spark, r, [
            (7, 30, "upsert", "D", 5),
            (7, 31, "upsert", "C", 7),
            (0, 40, "upsert", "C", 70),
        ], 1, via, tmp_path)
        assert r.watermarks() == {"0": 40, "7": 31}, via
        state = {row["doc_id"]: row["n_tok"]
                 for row in r.final_state().collect()}
        assert state == {"A": 10, "B": 20, "C": 70, "D": 5}, via


def test_watermarks_mixed_row_group_file(spark, tmp_path):
    """One input file whose single row group mixes partitions: its footer
    cannot attribute rows to a partition, so apply_batch falls back to the
    slim aggregate — watermarks and per-partition delivered counts stay
    exact."""
    import pyarrow.parquet as pq

    rows = [
        (0, 5, "upsert", "A", 50),
        (1, 10, "upsert", "A", 100),
        (1, 3, "upsert", "B", 30),
        (2, 7, "delete", "C", 0),
    ]
    path = str(tmp_path / "mixed.parquet")
    pq.write_table(_mini_table(rows), path)
    assert pq.read_metadata(path).num_row_groups == 1
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4)
    r.ensure_table()
    st = r.apply_batch(path, 0)
    assert st["events_in"] == 4
    assert r.watermarks() == {"0": 5, "1": 10, "2": 7}
    m = {row["part_id"]: (row["events_in"], row["events_applied"])
         for row in r.read_metrics().collect()}
    # A's winner is part 1's; C's tombstone is part 2's
    assert m == {0: (1, 0), 1: (2, 2), 2: (1, 1)}


def test_stale_redelivery_metrics_are_exact(spark, tmp_path):
    """A batch redelivered with one new event, through apply_batch_df:
    events_in counts every delivered event, the stale ones included, and
    events_deduped = events_in - events_applied."""
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4)
    r.ensure_table()
    first = [(0, 1, "upsert", "A", 1), (0, 2, "upsert", "B", 2),
             (1, 3, "upsert", "C", 3)]
    r.apply_batch_df(_mini_batch(spark, first), 0)
    st = r.apply_batch_df(
        _mini_batch(spark, first + [(1, 4, "upsert", "A", 4)]), 1)
    assert st["events_in"] == 4
    m = {row["part_id"]: (row["events_in"], row["events_applied"],
                          row["events_deduped"])
         for row in r.read_metrics().filter("batch_id = 1").collect()}
    assert m == {0: (2, 0, 2), 1: (2, 1, 1)}


def test_sync_fold_batch_records_applied_counts(spark, tmp_path):
    """A batch whose commit triggers a synchronous fold still reports its
    applied counts: they are read from the delta files before the fold
    takes them out of HEAD."""
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4,
                     compact_min_rows=1)
    r.ensure_table()
    rows = [(0, i, "upsert", f"d{i}", i) for i in range(1, 6)]
    r.apply_batch_df(_mini_batch(spark, rows), 0)
    assert r.table.delta_pressure()["delta_commits"] == 0  # folded
    m = r.read_metrics().collect()
    assert [(x["batch_id"], x["events_in"], x["events_applied"])
            for x in m] == [(0, 5, 5)]


def _oracle_batch(state, wm, rows):
    """Apply ``rows`` ((part_id, lsn, op, doc_id, n_tok)) to the in-order
    oracle ``state``/``wm`` in place; returns ``{part_id: (events_in,
    events_applied)}``: every delivered event counts in, each fresh LWW
    winner (tombstones included) counts applied to its partition."""
    fresh = sorted((r for r in rows if r[1] > wm.get(r[0], -1)),
                   key=lambda r: r[1])
    winners = {r[3]: r for r in fresh}
    for d, r in winners.items():
        if r[2] == "delete":
            state.pop(d, None)
        else:
            state[d] = r[4]
    counts = {}
    for r in rows:
        n, a = counts.get(r[0], (0, 0))
        counts[r[0]] = (n + 1, a)
        wm[r[0]] = max(wm.get(r[0], -1), r[1])
    for r in winners.values():
        n, a = counts[r[0]]
        counts[r[0]] = (n, a + 1)
    return counts


def _check_batches(spark, r, batches, part_type=None):
    """Deliver ``batches`` through apply_batch_df and compare the table,
    the watermarks and every batch's per-partition events_in /
    events_deduped with the oracle."""
    state, wm = {}, {}
    for bid, rows in enumerate(batches):
        want = _oracle_batch(state, wm, rows)
        st = r.apply_batch_df(_mini_batch(spark, rows, part_type), bid)
        assert st["events_in"] == len(rows), bid
        got = {x["part_id"]: (x["events_in"], x["events_deduped"])
               for x in r.read_metrics().filter(f"batch_id = {bid}").collect()}
        assert got == {p: (n, n - a) for p, (n, a) in want.items()}, bid
    assert r.watermarks() == {str(p): v for p, v in wm.items()}
    assert {x["doc_id"]: x["n_tok"]
            for x in r.final_state().collect()} == state


def test_watermark_literal_partition_cases(spark, tmp_path):
    """The idempotence filter's watermark literal, case by case: a
    partition with no watermark yet (3), a wholly stale one (0), a
    straddling one (1) and an all-fresh one (2), then a pure redelivery;
    for an int and a long ``part_id`` (the array literal of dense ids) and
    for sparse, negative ids (the map literal)."""
    from pyspark.sql import types as T

    b0 = [(0, 1, "upsert", "A", 1), (0, 4, "upsert", "B", 4),
          (1, 2, "upsert", "C", 2), (1, 5, "upsert", "A", 5),
          (2, 3, "upsert", "D", 3), (2, 6, "delete", "C", 0)]
    b1 = [(0, 1, "upsert", "A", 1), (0, 4, "upsert", "B", 4),  # stale
          (1, 5, "upsert", "A", 5), (1, 9, "upsert", "B", 9),  # straddles
          (1, 11, "delete", "D", 0),
          (2, 7, "upsert", "C", 7), (2, 8, "upsert", "E", 8),  # fresh
          (3, 10, "upsert", "A", 10), (3, 2, "upsert", "F", 2)]  # new

    def sparse(rows):
        return [(p * 100_003 - 5, *r) for p, *r in rows]

    for name, part_type, f in (("int", T.IntegerType(), list),
                               ("long", T.LongType(), list),
                               ("sparse", T.IntegerType(), sparse)):
        r = IngestRunner(spark, str(tmp_path / f"wh_{name}"), n_buckets=4)
        r.ensure_table()
        _check_batches(spark, r, [f(b0), f(b1), f(b1)], part_type)


def test_watermark_literal_many_partitions(spark, tmp_path):
    """2,000 watermarked partitions redelivered wholly stale, with one
    straddler: the literal lists all 2,000, and only the straddler's fresh
    event applies."""
    b0 = [(p, 10 * p + 1, "upsert", f"d{p}", p) for p in range(2000)]
    b1 = b0 + [(7, 75, "upsert", "d1", 99)]
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4)
    r.ensure_table()
    _check_batches(spark, r, [b0, b1])


def test_pure_redelivery_runs_no_spark_job(spark, tmp_path):
    """A redelivered batch whose every event sits at or below its
    partition's watermark is decided on the driver: no Spark job, no
    snapshot, no dead letter (the quarantine takes fresh events only), and
    its metrics count every event as deduped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4, dlq=True)
    r.ensure_table()
    rows = [(p, lsn, "upsert", f"d{lsn % 5}", lsn)
            for p in range(3) for lsn in range(4)]
    rows.append((1, 4, "upsert", None, 0))  # a dead letter

    def deliver(bid):
        d = tmp_path / f"in_{bid}"
        d.mkdir()
        for p in range(3):
            t = _mini_table([x for x in rows if x[0] == p])
            t = t.cast(pa.schema([f.with_nullable(True) for f in t.schema]))
            pq.write_table(t, str(d / f"part-{p}.parquet"))
        return r.apply_batch(str(d), bid)

    st = deliver(0)
    assert st["dlq_rejected"] == st["dlq_in_batch"] == 1
    v, wm = r.table.current_version(), r.watermarks()
    out = {}
    assert _jobs_consumed(spark, lambda: out.update(deliver(1)),
                          "redeliver") == 0
    assert (out["events_in"], out["applied_keys"], out["version"]) == \
        (len(rows), 0, v)
    assert out["dlq_rejected"] == out["dlq_in_batch"] == 0
    assert r.watermarks() == wm
    assert sorted((x["part_id"], x["events_in"], x["events_deduped"])
                  for x in r.read_metrics().filter("batch_id = 1").collect()) \
        == [(0, 4, 4), (1, 5, 5), (2, 4, 4)]


def test_watermark_literal_reuses_generated_code(spark, tmp_path):
    """Steady-state batches with new watermark values compile no new
    code, through the array literal (dense ids), the constant -1 (no
    delivered partition has a watermark) and the map literal (sparse
    ids): a literal is a reference object in the generated code, so the
    batch plan's code is reused."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4)
    r.ensure_table()

    def rows(lo, hi, stale=(), parts=(0, 1)):
        return list(stale) + [(parts[lsn % len(parts)], lsn, "upsert",
                               f"d{lsn % 7}", lsn) for lsn in range(lo, hi)]

    # warm-up: each lookup once
    _deliver(spark, r, rows(0, 20), 0, "files", tmp_path)
    _deliver(spark, r, rows(20, 40, [(0, 10, "upsert", "d3", 10)]), 1,
             "files", tmp_path)
    _deliver(spark, r, rows(40, 50, parts=(0, 1, 3000)), 2, "files", tmp_path)
    before = compiles.getCount()
    _deliver(spark, r, rows(50, 70, [(1, 35, "upsert", "d0", 35),
                                     (0, 30, "upsert", "d2", 30)]), 3,
             "files", tmp_path)
    _deliver(spark, r, rows(70, 80, parts=(2,)), 4, "files", tmp_path)
    _deliver(spark, r, rows(80, 100, [(0, 50, "upsert", "d1", 50)],
                            parts=(0, 1, 5000)), 5, "files", tmp_path)
    assert compiles.getCount() == before
    assert r.watermarks() == {"0": 99, "1": 97, "2": 79, "3000": 47,
                              "5000": 98}


def test_batch_files_without_parquet_suffix(spark, tmp_path):
    """A sink that names its files without a ``.parquet`` suffix (Flink
    FileSink's ``part-<uuid>-<n>``): apply_batch reads the same files as
    Spark's reader (hidden ``_``/``.`` names skipped), so delivered counts
    and watermarks cover every applied event and a redelivery is a
    no-op."""
    import glob
    import shutil
    import uuid

    from tenzir_spark.cdc.changegen import generate_changes

    src = str(tmp_path / "chg")
    generate_changes(src, n_events=600, n_docs=120, n_parts=3, n_batches=1)
    [batch] = sorted(glob.glob(os.path.join(src, "batch-*")))
    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    for i, f in enumerate(sorted(glob.glob(os.path.join(batch, "*.parquet")))):
        shutil.copy(f, os.path.join(sink, f"part-{uuid.uuid4()}-{i}"))
    open(os.path.join(sink, "_SUCCESS"), "w").close()
    with open(os.path.join(sink, ".part-0.crc"), "w") as f:
        f.write("not parquet")

    ref = IngestRunner(spark, str(tmp_path / "wh_ref"), n_buckets=4)
    ref.ensure_table()
    want = ref.apply_batch(batch, 0)
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4)
    r.ensure_table()
    st = r.apply_batch(sink, 0)
    assert want["events_in"] > 0
    assert (st["events_in"], st["applied_keys"]) == \
        (want["events_in"], want["applied_keys"])
    assert r.watermarks() == ref.watermarks() != {}
    v = r.table.current_version()
    assert r.apply_batch(sink, 1)["applied_keys"] == 0
    assert r.table.current_version() == v
    assert sorted(map(str, r.final_state().collect())) == \
        sorted(map(str, ref.final_state().collect()))


def test_empty_batch_directory_is_noop(spark, changes_dir, tmp_path):
    """A batch directory with no data files applies nothing and commits
    no snapshot, like a pure redelivery, and ``run`` carries on past it."""
    import glob
    import shutil

    chg = str(tmp_path / "chg")
    os.makedirs(chg)
    batches = sorted(glob.glob(os.path.join(changes_dir, "batch-*")))
    shutil.copytree(batches[0], os.path.join(chg, "batch-00000"))
    os.makedirs(os.path.join(chg, "batch-00001"))
    open(os.path.join(chg, "batch-00001", "_SUCCESS"), "w").close()
    shutil.copytree(batches[1], os.path.join(chg, "batch-00002"))
    r = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4)
    r.ensure_table()
    r.apply_batch(os.path.join(chg, "batch-00000"), 0)
    v, wm = r.table.current_version(), r.watermarks()
    st = r.apply_batch(os.path.join(chg, "batch-00001"), 1)
    assert (st["events_in"], st["applied_keys"], st["version"]) == (0, 0, v)
    assert r.watermarks() == wm
    assert r.run(chg)["batches"] == 3


def test_randomized_nonkeyed_stream_matches_oracle(spark, tmp_path):
    """Adversarial sweep: a dense global WAL with random NON-KEYED
    routing (keys straddle partitions freely), 15% deletes, random batch
    cut points, within-batch shuffling, probabilistic full-batch
    redeliveries and a mid-stream crash (new runner over the same
    warehouse re-delivering its last batch). Final state must equal the
    in-lsn-order oracle."""
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        n_events, n_parts = 600, 5
        docs = [f"d{i}" for i in range(40)]
        events = []
        for lsn in range(n_events):
            part = rng.randrange(n_parts)
            doc = rng.choice(docs)
            if rng.random() < 0.15:
                events.append((part, lsn, "delete", doc, 0))
            else:
                events.append((part, lsn, "upsert", doc,
                               rng.randrange(1, 500)))
        oracle_state: dict[str, int] = {}
        for _part, _lsn, op, doc, n in events:
            if op == "delete":
                oracle_state.pop(doc, None)
            else:
                oracle_state[doc] = n
        cuts = sorted(rng.sample(range(1, n_events), 4))
        batches = [events[a:b] for a, b in zip([0] + cuts, cuts + [n_events])]

        wh = str(tmp_path / f"wh_{seed}")
        r = IngestRunner(spark, wh, n_buckets=4)
        r.ensure_table()
        bid = 0
        for i, b in enumerate(batches):
            rows = b[:]
            rng.shuffle(rows)
            r.apply_batch_df(_mini_batch(spark, rows), bid)
            bid += 1
            if rng.random() < 0.4:  # broker redelivers the batch
                r.apply_batch_df(_mini_batch(spark, rows), bid)
                bid += 1
            if i == 2:  # crash: fresh runner, re-deliver last batch
                r = IngestRunner(spark, wh, n_buckets=4)
                r.apply_batch_df(_mini_batch(spark, rows), bid)
                bid += 1
        got = {row["doc_id"]: row["n_tok"]
               for row in r.final_state().collect()}
        assert got == oracle_state, seed


def test_dlq_quarantines_null_key_events(spark, tmp_path):
    """With dlq=True a fresh data event without a primary key lands in
    <warehouse>/<table>_dlq/batch=<id>/ (full envelope, operator-replayable
    after repair) instead of vanishing; clean batches leave no directory,
    and redelivered stale null-key events are NOT re-quarantined."""
    import os

    import pyspark.sql.types as T

    from tenzir_spark.cdc.runner import IngestRunner

    runner = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4, dlq=True)
    runner.ensure_table()
    ev_schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("lsn", T.LongType()),
    ])
    rows = [("d1", [1], 1, "web", "insert", 0, 0),
            (None, [2], 1, "web", "insert", 0, 1),
            (None, None, None, None, "delete", 0, 2),
            ("d9", [9], 1, "web", None, 0, 5),  # null OP, keyed: un-appliable
            ("d2", [3], 1, "web", "insert", 0, 3)]
    st = runner.apply_batch_df(spark.createDataFrame(rows, ev_schema), 0)
    assert st["dlq_rejected"] == 3
    dlq_dir = str(tmp_path / "wh" / "corpus_dlq" / "batch=0")
    got = spark.read.parquet(dlq_dir)
    assert got.count() == 3
    assert {r["lsn"] for r in got.collect()} == {1, 2, 5}
    assert "op" in got.columns  # full envelope kept for replay
    # applied table has only the keyed rows
    assert {r["doc_id"] for r in runner.table.read(spark).collect()} == {"d1", "d2"}

    # clean batch: no quarantine dir
    st2 = runner.apply_batch_df(spark.createDataFrame(
        [("d3", [4], 1, "web", "insert", 0, 4)], ev_schema), 1)
    assert st2["dlq_rejected"] == 0
    assert not os.path.exists(str(tmp_path / "wh" / "corpus_dlq" / "batch=1"))

    # pure redelivery of batch 0: stale null-key events are below the
    # watermark (not fresh) and must not be re-quarantined
    runner.apply_batch_df(spark.createDataFrame(rows, ev_schema), 0)
    assert runner._last_dlq_count == 0
    # ... and the replay did NOT destroy the original quarantine
    assert spark.read.parquet(dlq_dir).count() == 3


def test_metrics_rollup_bounds_file_count(spark, tmp_path):
    """Per-batch metric files fold into one once the count crosses the
    threshold — file count stays O(1) with batch count, rows intact;
    a batch redelivered after a fold resolves keep-last at the next fold
    (same replace semantics as the un-folded layout)."""
    import os

    import pyspark.sql.types as T

    from tenzir_spark.cdc.runner import IngestRunner

    runner = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4)
    runner.ensure_table()
    runner.metrics_rollup_files = 3
    ev_schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("lsn", T.LongType()),
    ])
    for b in range(6):
        runner.apply_batch_df(spark.createDataFrame(
            [(f"d{b}", [b], 1, "web", "insert", 0, b)], ev_schema), b)
    files = [f for f in os.listdir(runner.metrics_dir) if f.endswith(".parquet")]
    assert len(files) <= 4, files  # folded, not one per batch
    m = runner.read_metrics()
    assert m.count() == 6  # one (batch, part) row per batch, none lost
    assert {r["batch_id"] for r in m.collect()} == set(range(6))
    assert all(r["events_in"] == 1 for r in m.collect())

    # redeliver batch 0 (stale) -> overwrites/duplicates transiently;
    # after the next fold the newest attempt wins and the count is stable
    runner.apply_batch_df(spark.createDataFrame(
        [(f"d0", [0], 1, "web", "insert", 0, 0)], ev_schema), 0)
    runner._rollup_metrics(
        [f for f in os.listdir(runner.metrics_dir) if f.endswith(".parquet")])
    m2 = runner.read_metrics()
    assert m2.count() == 6
    redel = m2.filter("batch_id = 0").first()
    assert redel["events_applied"] == 0  # the redelivery attempt's row won


def test_maintenance_features_are_semantics_neutral(spark, tmp_path):
    """Integration soak: the SAME change log ingested (a) with engine
    defaults and (b) with every maintenance feature on — snapshot
    retention, DLQ, async compaction, key-sorted folds, low fold
    thresholds — must produce the IDENTICAL final table (row-level,
    token-array equality). Maintenance is operability machinery; it may
    never touch the exactly-once result. Also proves retention actually
    bounds the manifest count under real ingest."""
    from tenzir_spark.cdc.changegen import generate_changes
    from tenzir_spark.cdc.runner import IngestRunner

    chg = str(tmp_path / "chg")
    generate_changes(chg, n_events=60_000, n_docs=4_000, n_parts=4,
                     n_batches=6, schema_change_batch=3)

    plain = IngestRunner(spark, str(tmp_path / "wh_plain"), n_buckets=8)
    plain.run(chg)

    maxed = IngestRunner(
        spark, str(tmp_path / "wh_maxed"), n_buckets=8,
        compact_min_rows=5_000, compact_max_commits=2,
        async_compact=True, retain_snapshots=2, sorted_compaction=True,
        dlq=True,
    )
    maxed.run(chg)
    maxed.finish_compaction()

    def fingerprint(runner):
        df = runner.table.read(spark)
        cols = sorted(c for c in df.columns if not c.startswith("_"))
        return sorted(tuple(r[c] if not isinstance(r[c], list) else tuple(r[c])
                            for c in cols)
                      for r in df.collect())

    assert fingerprint(plain) == fingerprint(maxed)
    # retention really bounded history (plain retains one per commit)
    assert len(maxed.table.versions()) < len(plain.table.versions())
    # clean generated log: nothing quarantined
    import os

    assert not os.path.exists(str(tmp_path / "wh_maxed" / "corpus_dlq"))


def test_dlq_dedupes_redelivered_rejects(spark, tmp_path, monkeypatch):
    """A crash after the quarantine but before the manifest swap leaves
    the watermarks where they were, so the retried batch finds its
    rejected event FRESH again — the quarantine dedupes by (part_id, lsn):
    one copy, however many delivery attempts carry it."""
    import pyspark.sql.types as T

    from tenzir_spark.cdc.runner import IngestRunner
    from tenzir_spark.lake.table import LakeTable

    runner = IngestRunner(spark, str(tmp_path / "wh"), n_buckets=4, dlq=True)
    runner.ensure_table()
    ev_schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("lsn", T.LongType()),
    ])
    rows = [("d1", [1], 1, "web", "insert", 0, 0),
            (None, [9], 1, "web", "insert", 0, 5)]  # max LSN, null key
    df = spark.createDataFrame(rows, ev_schema)
    real_commit = LakeTable.commit

    def exploding_commit(self, *a, **k):
        raise RuntimeError("simulated crash before manifest swap")

    monkeypatch.setattr(LakeTable, "commit", exploding_commit)
    with pytest.raises(RuntimeError):
        runner.apply_batch_df(df, 0)
    monkeypatch.setattr(LakeTable, "commit", real_commit)
    assert runner._last_dlq_count == 1
    assert runner.watermarks() == {}
    # the retry finds the reject fresh again; the quarantine must not grow
    st2 = runner.apply_batch_df(df, 0)
    assert runner.watermarks() == {"0": 5}
    assert runner._last_dlq_count == 0  # nothing NEW quarantined
    # …but the batch still CARRIED a malformed event — the in-batch
    # counter reports it so a redelivery doesn't read as clean
    assert st2["dlq_rejected"] == 0 and st2["dlq_in_batch"] == 1
    dlq = spark.read.parquet(str(tmp_path / "wh" / "corpus_dlq" / "batch=0"))
    assert dlq.count() == 1 and dlq.first()["lsn"] == 5
