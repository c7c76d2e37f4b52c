"""LWW collapse: max_by(struct, lsn) per key — winner = max lsn per key,
exact-dup redeliveries collapse to one row."""

import pytest
from pyspark.sql import functions as F

from tenzir_spark.cdc.collapse import collapse_lww


@pytest.fixture()
def batch(spark):
    rows = [
        # key, lsn, payload  — includes exact dup (same lsn twice) and
        # delete-then-insert interleaving
        ("a", 1, [1]), ("a", 5, [5, 5]), ("a", 5, [5, 5]), ("a", 3, [3]),
        ("b", 2, [2]), ("b", 9, None),
        ("c", 7, [7]),
    ]
    return spark.createDataFrame(rows, "doc_id string, lsn long, tokens array<int>")


def _norm(df):
    return sorted((r["doc_id"], r["lsn"], tuple(r["tokens"] or [])) for r in df.collect())


def test_variants_equivalent(spark, batch):
    expect = [("a", 5, (5, 5)), ("b", 9, ()), ("c", 7, (7,))]
    assert _norm(collapse_lww(batch)) == expect

