"""Streamed change generator: determinism, ground-truth derivation
validated against an INDEPENDENT LWW oracle over the retained raw log,
and engine end-to-end equality (the 10^9-endurance machinery at test
scale — scripts/endurance_stream.py)."""

import os
import shutil

import duckdb
import pyarrow.parquet as pq
import pytest

from tenzir_spark.cdc.changegen_stream import StreamedChangeGen

CFG = dict(n_events=24_000, n_docs=1_500, n_parts=4, n_batches=6,
           seed=42, schema_change_batch=3, compression="lz4")


def _gen_all(out_dir):
    g = StreamedChangeGen(**CFG)
    paths = [g.write_batch(str(out_dir), b) for b in range(g.n_batches)]
    return g, paths


def test_streamed_gen_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _gen_all(a)
    _gen_all(b)
    for batch in sorted(os.listdir(a)):
        fa, fb = a / batch, b / batch
        assert sorted(os.listdir(fa)) == sorted(os.listdir(fb))
        for fn in sorted(os.listdir(fa)):
            ta, tb = pq.read_table(fa / fn), pq.read_table(fb / fn)
            assert ta.equals(tb), f"{batch}/{fn} differs between runs"


def test_expected_state_matches_independent_lww_oracle(tmp_path):
    """write_expected derives the final state from generator bookkeeping
    (winner lsns) WITHOUT replaying — cross-check it against a DuckDB
    LWW computed from the raw batch files themselves."""
    chg, exp = tmp_path / "chg", tmp_path / "exp"
    g, _ = _gen_all(chg)
    n_expected = g.write_expected(str(exp))

    con = duckdb.connect()
    oracle = con.execute(f"""
        WITH log AS (
            SELECT * FROM read_parquet('{chg}/batch-*/part-*.parquet',
                                       union_by_name=true)
            WHERE op != 'schema_change' AND doc_id IS NOT NULL
        ),
        win AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY lsn DESC) AS rn
            FROM log
        )
        SELECT doc_id, tokens, n_tok, source, meta
        FROM win WHERE rn = 1 AND op != 'delete' ORDER BY doc_id
    """).fetch_arrow_table()
    got = con.execute(f"""
        SELECT doc_id, tokens, n_tok, source, meta
        FROM read_parquet('{exp}/expected-*.parquet', union_by_name=true)
        ORDER BY doc_id
    """).fetch_arrow_table()
    assert got.num_rows == n_expected == oracle.num_rows
    assert got.cast(oracle.schema).equals(oracle)


def test_engine_final_state_matches_expected(spark, tmp_path):
    """End-to-end at test scale: rolling generate→apply→delete through
    the real IngestRunner equals the pass-2 expected state bit-for-bit
    (count + token-array-inclusive checksum, both directions)."""
    from pyspark.sql import functions as F

    from tenzir_spark.cdc.runner import IngestRunner

    chg, exp, wh = tmp_path / "chg", tmp_path / "exp", tmp_path / "wh"
    os.makedirs(chg)
    g = StreamedChangeGen(**CFG)
    runner = IngestRunner(spark, str(wh), n_buckets=4)
    runner.ensure_table()
    prev = None
    for b in range(g.n_batches):
        path = g.write_batch(str(chg), b)
        runner.apply_batch(path, b)
        if prev is not None:  # keep b-1 alive for cross-batch redelivery
            shutil.rmtree(prev, ignore_errors=True)
        prev = path
    g.write_expected(str(exp))

    cols = ["doc_id", "tokens", "n_tok", "source", "meta"]
    final = runner.final_state().select(*cols)
    exp_df = spark.read.option("mergeSchema", "true").parquet(str(exp)).select(*cols)

    def chk(df):
        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")).first()
        return int(r["n"]), int(r["h"] or 0)

    assert chk(final) == chk(exp_df)
    # spot-check real row equality too (hash collisions aside)
    a = {r["doc_id"]: (r["tokens"], r["n_tok"], r["source"], r["meta"])
         for r in final.orderBy("doc_id").limit(50).collect()}
    b = {r["doc_id"]: (r["tokens"], r["n_tok"], r["source"], r["meta"])
         for r in exp_df.orderBy("doc_id").limit(50).collect()}
    assert a == b
