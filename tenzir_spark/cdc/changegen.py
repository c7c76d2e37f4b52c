"""Deterministic binlog/WAL-tail change-event generator (pure numpy/pyarrow).

Synthesizes the `changes` log of FIXTURES.md §2.2 — ordered change events
(insert/update/delete/schema_change) over a corpus of pre-tokenized training
sequences — with the adversarial properties the reference's dedup semantics
demand (reference: web/docs/operators/deduplicate.md:20-40):

- at-least-once delivery: duplicated LSNs within a batch AND redelivered
  into the *next* batch (crossing the micro-batch boundary);
- multiple ops per doc_id within one batch (insert→update→delete and
  delete→insert interleavings arise naturally from the key skew);
- out-of-order delivery *within* a batch (rows shuffled) while LSNs stay
  strictly increasing per source partition across batches — the binlog
  contract;
- a scripted mid-stream `schema_change` that introduces the `meta` column;
- hot-key skew: a handful of doc_ids absorb a configurable fraction of all
  events (exercises the collapse's map-side partial aggregation and AQE
  skew handling).

No Spark here: generation is a single-threaded vectorized writer, so the
benchmarked engine time excludes data synthesis.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = np.array(["web", "books", "code", "wiki"])


def _doc_ids(idx: np.ndarray) -> pa.Array:
    """'doc' + 9-digit zero-padded index, built as raw ASCII bytes with a
    fixed-width digit loop (9 tiny int passes) and handed to Arrow
    zero-copy. Identical output to the former np.char.add/zfill path,
    which staged two 4-byte-unicode temporaries per row (~6x slower)."""
    n = len(idx)
    buf = np.empty((n, 12), dtype=np.uint8)
    buf[:, 0] = ord("d")
    buf[:, 1] = ord("o")
    buf[:, 2] = ord("c")
    x = idx.astype(np.int64, copy=True)
    for j in range(11, 2, -1):
        buf[:, j] = 48 + (x % 10)
        x //= 10
    offsets = np.arange(0, (n + 1) * 12, 12, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(buf.reshape(-1)))


def generate_changes(
    out_dir: str,
    n_events: int = 100_000,
    n_docs: int = 10_000,
    n_parts: int = 8,
    n_batches: int = 10,
    seed: int = 42,
    dup_rate: float = 0.03,
    cross_batch_dup_rate: float = 0.01,
    delete_rate: float = 0.06,
    hot_doc_count: int = 4,
    hot_frac: float = 0.15,
    token_len: tuple[int, int] = (8, 32),
    vocab: int = 50_257,
    schema_change_batch: int | None = None,
) -> dict:
    """Write ``n_batches`` parquet micro-batch files under ``out_dir``;
    returns (and persists as manifest.json) the generation manifest."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # Global event skeleton: unique, dense LSNs (a global total order, so
    # per-partition LSNs are strictly increasing subsequences — the binlog
    # contract).
    lsn = np.arange(1, n_events + 1, dtype=np.int64)

    hot = rng.random(n_events) < hot_frac
    doc_idx = np.where(
        hot,
        rng.integers(0, max(hot_doc_count, 1), n_events),
        rng.integers(hot_doc_count, max(n_docs, hot_doc_count + 1), n_events),
    ).astype(np.int64)

    # Source partition = hash of the KEY, as keyed CDC topics route it
    # (Debezium→Kafka semantics): all events of one doc live in one
    # partition, so per-partition ordered delivery ⇒ per-doc total order —
    # the invariant every downstream consumer (and our watermark
    # idempotence) relies on. A doc whose ops straddled partitions would
    # have NO defined global order under partitioned delivery.
    part_id = ((doc_idx * 2654435761 + 0x9E3779B9) % n_parts).astype(np.int32)

    # op: first global occurrence of a doc -> insert, later -> update,
    # overridden by delete draws (never delete the first occurrence).
    first_pos = np.zeros(n_events, dtype=bool)
    _, first_idx = np.unique(doc_idx, return_index=True)
    first_pos[first_idx] = True
    is_delete = (rng.random(n_events) < delete_rate) & ~first_pos
    op = np.where(is_delete, "delete", np.where(first_pos, "insert", "update"))

    lengths = rng.integers(token_len[0], token_len[1] + 1, n_events).astype(np.int32)
    lengths_eff = np.where(is_delete, 0, lengths)
    offsets = np.zeros(n_events + 1, dtype=np.int64)
    np.cumsum(lengths_eff, out=offsets[1:])
    values = rng.integers(0, vocab, int(offsets[-1]), dtype=np.int32)

    src_idx = rng.integers(0, len(SOURCES), n_events)
    epoch_size = max(1, n_events // max(n_batches, 1))

    batch_bounds = np.linspace(0, n_events, n_batches + 1).astype(np.int64)
    batches: list[dict] = []
    prev_slice: tuple[int, int] | None = None
    with_meta_from = schema_change_batch

    for b in range(n_batches):
        lo, hi = int(batch_bounds[b]), int(batch_bounds[b + 1])
        sel = np.arange(lo, hi)
        # in-batch duplicates (at-least-once)
        n_dup = int(len(sel) * dup_rate)
        if n_dup:
            sel = np.concatenate([sel, rng.choice(sel, n_dup)])
        # cross-batch redelivery of the previous batch's events
        if prev_slice is not None and cross_batch_dup_rate > 0:
            plo, phi = prev_slice
            n_re = int((phi - plo) * cross_batch_dup_rate)
            if n_re:
                sel = np.concatenate([sel, rng.integers(plo, phi, n_re)])
        rng.shuffle(sel)  # out-of-order within the batch
        prev_slice = (lo, hi)

        # vectorized ragged gather: token values of each selected row
        sel_lens = lengths_eff[sel].astype(np.int64)
        sel_off = np.concatenate([[0], np.cumsum(sel_lens)])
        total = int(sel_off[-1])
        gather = (
            np.repeat(offsets[sel], sel_lens)
            + np.arange(total)
            - np.repeat(sel_off[:-1], sel_lens)
        ) if total else np.array([], dtype=np.int64)
        tok = pa.ListArray.from_arrays(
            pa.array(sel_off, type=pa.int32()),
            pa.array(values[gather], type=pa.int32()),
            mask=pa.array(is_delete[sel]),
        )
        cols = {
            "lsn": pa.array(lsn[sel]),
            "epoch": pa.array((lsn[sel] // epoch_size).astype(np.int32)),
            "part_id": pa.array(part_id[sel]),
            "op": pa.array(op[sel].astype("U13")),
            "doc_id": _doc_ids(doc_idx[sel]),
            "tokens": tok,
            "n_tok": pa.array(np.where(is_delete[sel], None, lengths[sel]), type=pa.int32(), from_pandas=True),
            "source": pa.compute.if_else(
                pa.array(is_delete[sel]), pa.scalar(None, pa.string()), pa.array(SOURCES[src_idx[sel]])
            ),
        }
        if with_meta_from is not None and b >= with_meta_from:
            meta = np.where(is_delete[sel], None, np.char.add("m", (lsn[sel] % 97).astype("U3")))
            cols["meta"] = pa.array(meta, type=pa.string(), from_pandas=True)
            if b == with_meta_from:
                # prepend the scripted schema_change control event
                sc = {
                    "lsn": pa.array([int(lsn[lo])], pa.int64()),
                    "epoch": pa.array([int(lsn[lo] // epoch_size)], pa.int32()),
                    "part_id": pa.array([int(part_id[lo])], pa.int32()),
                    "op": pa.array(["schema_change"]),
                    "doc_id": pa.array([None], pa.string()),
                    "tokens": pa.array([None], pa.list_(pa.int32())),
                    "n_tok": pa.array([None], pa.int32()),
                    "source": pa.array([None], pa.string()),
                    "meta": pa.array(["add_column:meta:string"]),
                }
                cols = {k: pa.concat_arrays([sc[k], cols[k].combine_chunks() if isinstance(cols[k], pa.ChunkedArray) else cols[k]]) for k in cols}

        tbl = pa.table(cols)
        # One file per source partition inside the batch directory — the
        # shape a real binlog tail delivers (one WAL segment per Kafka/DB
        # partition) AND what lets Spark read the micro-batch with
        # n_parts-way parallelism instead of one task per batch file.
        # Row groups of 65,536 mirror the reference's table-slice size
        # (libtenzir/include/tenzir/defaults.hpp:32) and give the scan
        # finer split granularity.
        import pyarrow.compute as pc

        path = os.path.join(out_dir, f"batch-{b:05d}")
        os.makedirs(path, exist_ok=True)
        for p in range(n_parts):
            sub = tbl.filter(pc.equal(tbl["part_id"], p))
            if sub.num_rows:
                pq.write_table(
                    sub,
                    os.path.join(path, f"part-{p:03d}.parquet"),
                    compression="zstd",
                    row_group_size=65_536,
                )
        # Strictly increasing mtimes per batch: Spark's streaming file
        # source orders by modification time, and the binlog contract
        # requires segments of one partition to arrive in order. Sub-ms
        # writes of small test batches would otherwise tie and interleave.
        base_t = 1_700_000_000 + b * 60
        for fn in os.listdir(path):
            os.utime(os.path.join(path, fn), (base_t, base_t))
        batches.append({"batch_id": b, "path": path, "rows": tbl.num_rows,
                        "lsn_min": int(lsn[lo]), "lsn_max": int(lsn[hi - 1])})

    manifest = {
        "n_events": n_events, "n_docs": n_docs, "n_parts": n_parts,
        "n_batches": n_batches, "seed": seed, "dup_rate": dup_rate,
        "cross_batch_dup_rate": cross_batch_dup_rate, "delete_rate": delete_rate,
        "hot_doc_count": hot_doc_count, "hot_frac": hot_frac,
        "token_len": list(token_len), "vocab": vocab,
        "schema_change_batch": schema_change_batch, "batches": batches,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
