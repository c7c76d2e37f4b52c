"""Last-writer-wins collapse of a CDC micro-batch.

Reference semantics: ``deduplicate`` suppresses repeated deliveries per key
(libtenzir/builtins/operators/deduplicate.cpp:268-309 keeps a hashmap of
projected keys); our CDC contract additionally requires that of several ops
on one doc_id in a batch only the LAST (highest LSN) survives, and that a
delete-then-insert nets to insert (SURVEY.md §7.3(d)).

Spark-first design: NOT a window (`row_number` over partitionBy(key) sorts
every group), but an algebraic aggregate ``max_by(struct(*), lsn)``:

- Catalyst plans it as a partial aggregation before the shuffle, so a hot
  key with millions of duplicate events is reduced map-side to one row per
  map task — the shuffle then moves O(#tasks) rows per key, not O(#events).
  Both phases are ``SortAggregate``s, not hash aggregations: a struct-typed
  ``max_by`` buffer is neither hash- nor object-hash-supported (see the
  note in ``session.py``), so each phase sorts whole rows.
- Duplicate LSN deliveries are bit-identical redeliveries, so max_by's
  tie-break is immaterial: dedup falls out for free.

A two-phase salted variant (partial rows spread over ``salt`` reducers
before the final reduce) was measured and deleted: ~4× slower at
local[32] with 100k-event batches, and 5-11% slower ``batch_commit_ms``
in three paired cdcbench ``narrow_rows`` runs at local[4] (half of the
events on four hot keys). Map-side partial aggregation already bounds a
hot key's post-shuffle rows by the number of map tasks, not of events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lww_winners(batch: DataFrame, key: str = "doc_id", order: str = "lsn") -> DataFrame:
    """The collapse before the winner is unpacked: one row per ``key``,
    with the key as ``_k`` and the row holding the max ``order`` value as
    the struct ``_w``, so a caller can project its output from ``_w`` in
    one select."""
    winner = F.max_by(F.struct(*batch.columns), F.col(order))
    return batch.groupBy(F.col(key).alias("_k")).agg(winner.alias("_w"))


def collapse_lww(batch: DataFrame, key: str = "doc_id", order: str = "lsn") -> DataFrame:
    """One row per ``key``: the full row holding the max ``order`` value."""
    return lww_winners(batch, key, order).select("_w.*")
