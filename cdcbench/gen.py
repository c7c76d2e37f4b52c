"""Seeded change-log generator for the CDC lake benchmark.

Writes the binlog-tail micro-batches the engine consumes: one directory per
batch, one parquet file per source partition, columns
``lsn, epoch, part_id, op, doc_id, tokens, n_tok, source[, meta]``.

It imports nothing from the engine, so inputs stay fixed while the engine
changes. Every batch is a pure function of ``(seed, workload, batch index)``:
batch ``b`` draws from ``default_rng([seed, workload id, b])``, and token
values are a counter-based hash of ``(seed, lsn, position)``, so the expected
state can recompute any winner's token array from its LSN and length alone.

The traffic model is the repository's own change-stream model (the
defaults of ``tenzir_spark/cdc/changegen_stream.py``), with its values copied
here as constants rather than imported. Rates are per fresh event of a batch:

- keyed routing: ``part_id = hash(doc) % n_parts``, so all events of one key
  sit in one partition and LSNs rise per partition across batches;
- at-least-once delivery: ``DUP_RATE`` of a batch's events appear twice;
- cross-batch redelivery: ``REDELIVER_RATE`` of the previous batch's events
  are delivered again (stale: below the committed watermark);
- deletes: ``DELETE_RATE`` of events are deletes (null payload), never on a
  key's first occurrence, which is an ``insert``; later events are
  ``update``s;
- hot keys: ``hot_frac`` of events land on the first ``HOT_KEYS`` docs;
- key space: ``n_docs`` is a tenth of the fresh events of a run;
- rows are shuffled within a batch;
- optionally one ``schema_change`` control event that introduces ``meta``.

A batch depends on the seed, the workload and the batches before it (the
keys seen so far, and the previous batch for redelivery), so a stream is
always generated from its first batch on.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("web", "books", "code", "wiki")
OP_INSERT, OP_UPDATE, OP_DELETE, OP_SCHEMA = 0, 1, 2, 3
_OP_NAMES = np.array(["insert", "update", "delete", "schema_change"])

# the change-stream model of tenzir_spark/cdc/changegen_stream.py (its
# constructor defaults, and n_docs = events / 10 as every driver of it uses)
DUP_RATE = 0.03
REDELIVER_RATE = 0.01
DELETE_RATE = 0.06
HOT_KEYS = 4
HOT_FRAC = 0.15
EVENTS_PER_DOC = 10
_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wraps modulo 2^64)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
    return x ^ (x >> np.uint64(31))


def token_values(seed: int, lsn: np.ndarray, lengths: np.ndarray,
                 vocab: int) -> np.ndarray:
    """Concatenated token arrays of the events ``lsn`` (int32 values in
    ``[0, vocab)``), event ``i`` contributing ``lengths[i]`` tokens."""
    lengths = lengths.astype(np.int64)
    total = int(lengths.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int32)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    pos = np.arange(total, dtype=np.int64) - starts
    base = _mix(np.repeat(lsn.astype(np.uint64), lengths)
                ^ np.uint64((seed * 0x632BE59BD9B4E019) & 0xFFFFFFFFFFFFFFFF))
    return (_mix(base + pos.astype(np.uint64)) % np.uint64(vocab)).astype(np.int32)


def doc_ids(doc: np.ndarray) -> list[str]:
    return [f"d{int(d):07d}" for d in doc]


@dataclass(frozen=True)
class StreamSpec:
    """Make-up of one workload's change stream."""

    workload_id: int
    n_docs: int
    batch_events: int
    tok_min: int
    tok_max: int
    hot_frac: float = HOT_FRAC
    schema_change_batch: int | None = None
    n_parts: int = 8
    vocab: int = 50_257


@dataclass
class Batch:
    """One delivered micro-batch: the on-disk directory plus the delivered
    rows as arrays (duplicates and redeliveries included), which is what the
    expected state is computed from."""

    index: int
    path: str
    nbytes: int
    lsn: np.ndarray
    doc: np.ndarray      # -1 for the schema_change control event
    part: np.ndarray
    op: np.ndarray
    n_tok: np.ndarray    # 0 for deletes / control events
    tok_sum: np.ndarray  # sum of the event's token values
    src: np.ndarray
    has_meta: np.ndarray

    @property
    def events(self) -> int:
        return len(self.lsn)


class ChangeStream:
    """Generates batch after batch of one workload's stream."""

    def __init__(self, spec: StreamSpec, seed: int, out_dir: str):
        self.spec = spec
        self.seed = seed
        self.out_dir = out_dir
        self.next_lsn = 1
        self.next_batch = 0
        self._prev: dict | None = None  # fresh events of the previous batch
        self._seen = np.zeros(spec.n_docs, dtype=bool)  # keys inserted so far

    def _fresh(self, b: int, rng: np.random.Generator) -> dict:
        s = self.spec
        n = s.batch_events
        hot = rng.random(n) < s.hot_frac
        doc = np.where(hot, rng.integers(0, HOT_KEYS, n),
                       rng.integers(HOT_KEYS, s.n_docs, n)).astype(np.int64)
        # a key's first occurrence is its insert and is never a delete
        first = np.zeros(n, dtype=bool)
        first[np.unique(doc, return_index=True)[1]] = True
        first &= ~self._seen[doc]
        self._seen[doc] = True
        delete = (rng.random(n) < DELETE_RATE) & ~first
        op = np.where(delete, OP_DELETE, np.where(first, OP_INSERT, OP_UPDATE))
        n_tok = np.where(op == OP_DELETE, 0,
                         rng.integers(s.tok_min, s.tok_max + 1, n)).astype(np.int32)
        src = rng.integers(0, len(SOURCES), n).astype(np.int8)
        if s.schema_change_batch == b:
            # the control event goes first in LSN order; it carries no key
            doc = np.concatenate([[-1], doc])
            op = np.concatenate([[OP_SCHEMA], op])
            n_tok = np.concatenate([[0], n_tok]).astype(np.int32)
            src = np.concatenate([[0], src]).astype(np.int8)
        m = len(doc)
        lsn = np.arange(self.next_lsn, self.next_lsn + m, dtype=np.int64)
        self.next_lsn += m
        part = (_mix(np.maximum(doc, 0).astype(np.uint64))
                % np.uint64(s.n_parts)).astype(np.int32)
        vals = token_values(self.seed, lsn, n_tok, s.vocab)
        ends = np.cumsum(n_tok.astype(np.int64))
        csum = np.concatenate([[0], np.cumsum(vals, dtype=np.int64)])
        tok_sum = csum[ends] - csum[ends - n_tok]
        has_meta = np.full(m, s.schema_change_batch is not None
                           and b >= s.schema_change_batch) & (op < OP_DELETE)
        offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
        tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(vals),
                                          mask=pa.array(op >= OP_DELETE))
        return {"lsn": lsn, "doc": doc, "part": part, "op": op,
                "n_tok": n_tok, "tok_sum": tok_sum, "src": src,
                "has_meta": has_meta, "ev": np.arange(m)}, tokens

    def next(self) -> Batch:
        s = self.spec
        b = self.next_batch
        self.next_batch += 1
        rng = np.random.default_rng([self.seed, s.workload_id, b])
        fresh, tokens = self._fresh(b, rng)
        n = len(fresh["lsn"])
        pick = [np.arange(n), rng.integers(0, n, int(n * DUP_RATE))]
        rows = {k: v[np.concatenate(pick)] for k, v in fresh.items()}
        if self._prev is not None:
            pn = len(self._prev["lsn"])
            re = rng.integers(0, pn, int(pn * REDELIVER_RATE))
            old = {k: v[re] for k, v in self._prev.items()}
            old["ev"] = old["ev"] + n  # rows of prev_tokens follow tokens
            rows = {k: np.concatenate([rows[k], old[k]]) for k in rows}
            tokens = pa.concat_arrays([tokens, self._prev_tokens])
        order = rng.permutation(len(rows["lsn"]))
        rows = {k: v[order] for k, v in rows.items()}
        self._prev, self._prev_tokens = fresh, tokens.slice(0, n)
        tokens = tokens.take(pa.array(rows.pop("ev")))
        path = os.path.join(self.out_dir, f"batch-{b:05d}")
        nbytes = self._write(b, rows, tokens, path)
        return Batch(index=b, path=path, nbytes=nbytes, **rows)

    def _write(self, b: int, r: dict, tokens: pa.Array, path: str) -> int:
        s = self.spec
        lsn, op, n_tok = r["lsn"], r["op"], r["n_tok"]
        live = op < OP_DELETE
        doc = r["doc"]
        cols = {
            "lsn": pa.array(lsn),
            "epoch": pa.array(np.full(len(lsn), b, dtype=np.int32)),
            "part_id": pa.array(r["part"]),
            "op": pa.array(_OP_NAMES[op]),
            "doc_id": pa.array(doc_ids(doc), mask=doc < 0),
            "tokens": tokens,
            "n_tok": pa.array(n_tok, mask=~live),
            "source": pa.array(np.array(SOURCES)[r["src"]], mask=~live),
        }
        if s.schema_change_batch is not None and b >= s.schema_change_batch:
            meta = np.array([f"m{int(x) % 97}" for x in lsn], dtype=object)
            meta[op == OP_SCHEMA] = "add_column:meta:string"
            cols["meta"] = pa.array(meta, mask=op == OP_DELETE)
        tbl = pa.table(cols)
        os.makedirs(path, exist_ok=True)
        nbytes = 0
        part = r["part"]
        for p in range(s.n_parts):
            idx = np.nonzero(part == p)[0]
            if len(idx):
                f = os.path.join(path, f"part-{p:03d}.parquet")
                pq.write_table(tbl.take(pa.array(idx)), f, compression="zstd")
                nbytes += os.path.getsize(f)
        return nbytes


STREAMS = {
    # the bytes-heavy side: 64-256 tokens per event in large batches, the
    # model's own skew; 6 fresh batches in a run at --seconds 20 (run.py)
    "wide_rows": StreamSpec(
        workload_id=1, n_docs=16_000 * 6 // EVENTS_PER_DOC,
        batch_events=16_000, tok_min=64, tok_max=256),
    # per-batch fixed cost dominates: 4-16 tokens, small batches, and about
    # half the events on the hot keys, so the collapse drops most of them;
    # 8 fresh batches in a run at --seconds 20 (run.py); the schema change
    # comes with the second timed batch
    "narrow_rows": StreamSpec(
        workload_id=2, n_docs=4_000 * 8 // EVENTS_PER_DOC,
        batch_events=4_000, tok_min=4, tok_max=16, hot_frac=0.5,
        schema_change_batch=5),
}


def main(argv=None) -> int:
    import argparse

    ap = argparse.ArgumentParser(
        description="Write a workload's first change batches to a directory.")
    ap.add_argument("--workload", required=True, choices=sorted(STREAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--batches", type=int, default=6)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    stream = ChangeStream(STREAMS[args.workload], args.seed, args.out)
    for _ in range(args.batches):
        b = stream.next()
        print(f"{b.path}: {b.events} events, {b.nbytes} bytes, "
              f"lsn {b.lsn.min()}..{b.lsn.max()}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
