"""Self-test of the benchmark's checker: every check passes on a correct
output and fails on a deliberately corrupted one (a dropped row, one altered
token, a stale watermark, an extra snapshot on redelivery).

Needs no Spark. Run from the repository root::

    python3 cdcbench/selftest.py

Exits 0 when every check behaves as it should, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import ChangeStream, StreamSpec  # noqa: E402
from oracle import (  # noqa: E402
    ExpectedState, check_lookup, check_query, check_redelivery, check_state,
    check_watermarks)

SPEC = StreamSpec(workload_id=0, n_docs=500, batch_events=400, tok_min=2,
                  tok_max=6, hot_frac=0.3, schema_change_batch=1)


def query_rows(state: pa.Table) -> list[dict]:
    """What the consumer query returns over ``state``: per source the doc
    count, the sum of token sums (as a double, like the engine) and the sum
    of ``n_tok``."""
    sums = [sum(v) for v in state["tokens"].to_pylist()]
    t = state.append_column("toks", pa.array(sums, pa.int64()))
    g = t.group_by("source").aggregate(
        [("doc_id", "count"), ("toks", "sum"), ("n_tok", "sum")])
    return [{"source": r["source"], "docs": r["doc_id_count"],
             "tokens": float(r["toks_sum"]), "n_tok": r["n_tok_sum"]}
            for r in g.to_pylist()]


def row_of(state: pa.Table, i: int) -> dict:
    return {k: v[0] for k, v in state.slice(i, 1).to_pydict().items()}


def alter_token(state: pa.Table, i: int) -> pa.Table:
    tokens = state["tokens"].to_pylist()
    tokens[i] = [tokens[i][0] + 1] + tokens[i][1:]
    return state.set_column(state.column_names.index("tokens"), "tokens",
                            pa.array(tokens, state.schema.field("tokens").type))


def state_copy(state: pa.Table) -> pa.Table:
    """The same rows in another order: the check must not depend on it."""
    return state.take(pa.array(list(range(state.num_rows))[::-1]))


def main() -> int:
    work = os.path.join(os.getcwd(), ".cdcbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    try:
        stream = ChangeStream(SPEC, seed=7, out_dir=work)
        exp = ExpectedState(SPEC, seed=7)
        for _ in range(3):
            exp.apply(stream.next())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    state = exp.table(with_meta=True)
    agg = exp.aggregates()
    i = state.num_rows // 2
    key = state["doc_id"][i].as_py()
    doc = int(key[1:])
    dropped = pa.concat_tables([state.slice(0, i), state.slice(i + 1)])
    altered = alter_token(state, i)
    wm = {str(p): int(v) for p, v in enumerate(exp.watermarks)}
    stale = dict(wm, **{"0": wm["0"] - 1})
    versions = [0, 1, 2, 3]
    rows = query_rows(state)

    cases = [
        # (what, errors, should fail)
        ("query / correct", check_query(rows, agg), False),
        ("query / dropped row", check_query(query_rows(dropped), agg), True),
        ("query / altered token", check_query(query_rows(altered), agg), True),
        ("lookup / correct", check_lookup(key, [row_of(state, i)], exp.row(doc)), False),
        ("lookup / absent key", check_lookup("d9999999", [], exp.row(9_999_999)), False),
        ("lookup / dropped row", check_lookup(key, [], exp.row(doc)), True),
        ("lookup / altered token", check_lookup(key, [row_of(altered, i)], exp.row(doc)), True),
        ("state / correct", check_state(state_copy(state), state), False),
        ("state / dropped row", check_state(dropped, exp.table(with_meta=True)), True),
        ("state / altered token", check_state(altered, exp.table(with_meta=True)), True),
        ("watermarks / correct", check_watermarks(wm, exp.watermarks), False),
        ("watermarks / stale watermark", check_watermarks(stale, exp.watermarks), True),
        ("redelivery / correct", check_redelivery(versions, list(versions)), False),
        ("redelivery / extra snapshot", check_redelivery(versions, versions + [4]), True),
    ]
    bad = 0
    for what, errs, should_fail in cases:
        ok = bool(errs) == should_fail
        bad += not ok
        verdict = "fails" if errs else "passes"
        print(f"{'ok ' if ok else 'BAD'} {what}: check {verdict}")
    print(f"{len(cases) - bad}/{len(cases)} checker cases behave as expected")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
