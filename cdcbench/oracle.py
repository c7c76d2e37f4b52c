"""Expected state of the benchmark's change streams, and the output checks.

The expected state is a numpy last-writer-wins fold over the delivered
events by LSN: per key, the delivered event with the highest LSN wins, and a
winning delete removes the key. Duplicates and redeliveries carry the LSN of
their original, so they never change a winner. It imports nothing from the
engine.

Every ``check_*`` function returns a list of human-readable mismatches; an
empty list means the output is correct. ``selftest.py`` shows that each
check fails on a deliberately corrupted output.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from gen import OP_DELETE, SOURCES, Batch, StreamSpec, doc_ids, token_values


class ExpectedState:
    def __init__(self, spec: StreamSpec, seed: int):
        self.spec = spec
        self.seed = seed
        n = spec.n_docs
        self.win_lsn = np.full(n, -1, dtype=np.int64)
        self.live = np.zeros(n, dtype=bool)
        self.n_tok = np.zeros(n, dtype=np.int64)
        self.tok_sum = np.zeros(n, dtype=np.int64)
        self.src = np.zeros(n, dtype=np.int8)
        self.has_meta = np.zeros(n, dtype=bool)
        self.watermarks = np.full(spec.n_parts, -1, dtype=np.int64)

    def apply(self, b: Batch) -> None:
        np.maximum.at(self.watermarks, b.part, b.lsn)
        keyed = np.nonzero(b.doc >= 0)[0]
        # last row per doc after sorting by (doc, lsn) = the batch's winner
        order = keyed[np.lexsort((b.lsn[keyed], b.doc[keyed]))]
        doc = b.doc[order]
        last = np.ones(len(order), dtype=bool)
        last[:-1] = doc[1:] != doc[:-1]
        win = order[last]
        d = b.doc[win]
        newer = b.lsn[win] > self.win_lsn[d]
        win, d = win[newer], d[newer]
        self.win_lsn[d] = b.lsn[win]
        self.live[d] = b.op[win] != OP_DELETE
        self.n_tok[d] = b.n_tok[win]
        self.tok_sum[d] = b.tok_sum[win]
        self.src[d] = b.src[win]
        self.has_meta[d] = b.has_meta[win]

    def aggregates(self) -> dict[str, tuple[int, int, int]]:
        """``source -> (docs, sum of token sums, sum of n_tok)`` over live
        keys: the consumer query's answer."""
        out = {}
        for i, name in enumerate(SOURCES):
            m = self.live & (self.src == i)
            if m.any():
                out[name] = (int(m.sum()), int(self.tok_sum[m].sum()),
                             int(self.n_tok[m].sum()))
        return out

    def _meta(self, docs: np.ndarray) -> list:
        return [f"m{int(lsn) % 97}" if hm else None
                for lsn, hm in zip(self.win_lsn[docs], self.has_meta[docs])]

    def row(self, doc: int) -> dict | None:
        """The expected payload row of key ``doc``, or None if absent."""
        if doc >= self.spec.n_docs or not self.live[doc]:
            return None
        d = np.array([doc])
        return {
            "doc_id": doc_ids(d)[0],
            "tokens": token_values(self.seed, self.win_lsn[d], self.n_tok[d],
                                   self.spec.vocab).tolist(),
            "n_tok": int(self.n_tok[doc]),
            "source": SOURCES[self.src[doc]],
            "meta": self._meta(d)[0],
        }

    def table(self, with_meta: bool) -> pa.Table:
        """Every live row, ordered by ``doc_id``."""
        d = np.nonzero(self.live)[0]
        cols = {
            "doc_id": pa.array(doc_ids(d), pa.string()),
            "tokens": pa.ListArray.from_arrays(
                pa.array(np.concatenate([[0], np.cumsum(self.n_tok[d])]),
                         pa.int32()),
                pa.array(token_values(self.seed, self.win_lsn[d],
                                      self.n_tok[d], self.spec.vocab))),
            "n_tok": pa.array(self.n_tok[d], pa.int32()),
            "source": pa.array(np.array(SOURCES)[self.src[d]], pa.string()),
        }
        if with_meta:
            cols["meta"] = pa.array(self._meta(d), pa.string())
        return pa.table(cols)


# ------------------------------------------------------------------ checks
def check_query(rows: list[dict], expected: dict) -> list[str]:
    """Consumer-query rows (``source, docs, tokens, n_tok``) against
    ``ExpectedState.aggregates()``, in exact integers."""
    errs = []
    got = {}
    for r in rows:
        tok = r["tokens"]
        if tok != int(tok):
            errs.append(f"query: non-integral token sum {tok!r} for {r['source']}")
        got[r["source"]] = (int(r["docs"]), int(tok), int(r["n_tok"]))
    if got != expected:
        errs.append(f"query: got {got} expected {expected}")
    return errs


def check_lookup(key: str, rows: list[dict], expected: dict | None) -> list[str]:
    """A point lookup returns exactly the expected row, or none."""
    want = [] if expected is None else [expected]
    got = [{k: r.get(k) for k in ("doc_id", "tokens", "n_tok", "source", "meta")}
           for r in rows]
    if got != want:
        return [f"lookup {key}: got {got} expected {want}"]
    return []


def check_state(actual: pa.Table, expected: pa.Table) -> list[str]:
    """Final table state row for row, with token-array equality."""
    if actual.num_rows != expected.num_rows:
        return [f"state: {actual.num_rows} rows, expected {expected.num_rows}"]
    actual = actual.select(expected.column_names).sort_by("doc_id")
    errs = []
    for name in expected.column_names:
        a = actual[name].combine_chunks()
        e = expected[name].combine_chunks()
        if name == "tokens":
            same = (pc.list_value_length(a).equals(pc.list_value_length(e))
                    and pc.list_flatten(a).cast(pa.int32())
                    .equals(pc.list_flatten(e)))
        else:
            same = a.cast(e.type).equals(e)
        if not same:
            errs.append(f"state: column {name} differs")
    return errs


def check_watermarks(actual: dict, expected: np.ndarray) -> list[str]:
    """Committed watermarks equal the per-partition max delivered LSN."""
    want = {str(p): int(v) for p, v in enumerate(expected) if v >= 0}
    got = {str(k): int(v) for k, v in actual.items()}
    if got != want:
        return [f"watermarks: got {got} expected {want}"]
    return []


def check_redelivery(versions_before: list[int],
                     versions_after: list[int]) -> list[str]:
    """Re-applying the last batch creates no snapshot. (That it changes no
    row is ``check_state`` run after the redelivery.)"""
    if versions_after != versions_before:
        return [f"redelivery: snapshots {versions_before} -> {versions_after}"]
    return []
