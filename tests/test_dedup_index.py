"""NearDupIndex — incremental near-dup dedup against a persisted index."""

import os

import pytest
from pyspark.sql import functions as F

from tenzir_spark.operators.dedup_index import NearDupIndex


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


# distinct-enough texts: unique docs share no 5-shingles; dup pairs are
# exact copies (signature agreement 16/16)
A = "the quick brown fox jumps over the lazy dog again and again today"
B = "pack my box with five dozen liquor jugs before the long winter came"
C = "sphinx of black quartz judge my vow while the river runs far south"
D = "how vexingly quick daft zebras jump across the wide frozen canal"


def kept_ids(out, id_col="doc_id"):
    return sorted(r[id_col] for r in out.filter("kept").collect())


def test_two_batch_cross_and_within(spark, tmp_path):
    idx = NearDupIndex(str(tmp_path / "ndi"))
    # batch 0: a unique doc + an in-batch duplicate pair
    b0 = _docs(spark, [("d1", A), ("d2", B), ("d3", B)])
    r0 = idx.ingest(b0, "text", "doc_id", 0)
    assert kept_ids(r0) == ["d1", "d2"]  # d3 loses to d2 (smallest id)
    # batch 1: dup of an accepted doc (dropped), dup of a DROPPED doc's
    # content (also dropped — the content has an accepted representative
    # d2 in the index), and a fresh doc (kept)
    b1 = _docs(spark, [("e1", A), ("e2", B), ("e3", C)])
    r1 = idx.ingest(b1, "text", "doc_id", 1)
    assert kept_ids(r1) == ["e3"]
    st = idx.stats(spark)
    assert st == {"indexed_docs": 3, "batches": 2}


def test_cluster_poisoned_by_index_match(spark, tmp_path):
    idx = NearDupIndex(str(tmp_path / "ndi"))
    idx.ingest(_docs(spark, [("d1", A)]), "text", "doc_id", 0)
    # e1 matches the index; e2 is e1's in-batch duplicate with a SMALLER
    # id — canonical by id order, but its component is poisoned by e1's
    # index match, so the whole cluster drops; e9 unrelated, kept
    b1 = _docs(spark, [("e2", A), ("e1", A), ("e9", D)])
    r1 = idx.ingest(b1, "text", "doc_id", 1)
    assert kept_ids(r1) == ["e9"]


def test_durability_across_instances(spark, tmp_path):
    root = str(tmp_path / "ndi")
    NearDupIndex(root).ingest(_docs(spark, [("d1", A)]), "text", "doc_id", 0)
    # a NEW instance (fresh process in real life) sees the same index
    r1 = NearDupIndex(root).ingest(
        _docs(spark, [("e1", A), ("e2", B)]), "text", "doc_id", 1)
    assert kept_ids(r1) == ["e2"]


def test_redelivery_idempotent(spark, tmp_path):
    idx = NearDupIndex(str(tmp_path / "ndi"))
    idx.ingest(_docs(spark, [("d1", A), ("d2", B)]), "text", "doc_id", 0)
    b1 = _docs(spark, [("e1", A), ("e2", C)])
    first = kept_ids(idx.ingest(b1, "text", "doc_id", 1))
    # crash-redelivery of batch 1: probe excludes its own partition, so
    # the decision is identical and the index state unchanged
    second = kept_ids(idx.ingest(b1, "text", "doc_id", 1))
    assert first == second == ["e2"]
    assert idx.stats(spark) == {"indexed_docs": 3, "batches": 2}


def test_unscorable_pass_through_unindexed(spark, tmp_path):
    idx = NearDupIndex(str(tmp_path / "ndi"))
    # "xy" has < 5 distinct 5-shingles: unscorable, kept, not indexed —
    # in BOTH batches (never suppressed by the earlier copy)
    r0 = idx.ingest(_docs(spark, [("d1", "xy"), ("d2", A)]),
                    "text", "doc_id", 0)
    assert kept_ids(r0) == ["d1", "d2"]
    r1 = idx.ingest(_docs(spark, [("e1", "xy")]), "text", "doc_id", 1)
    assert kept_ids(r1) == ["e1"]
    assert idx.stats(spark)["indexed_docs"] == 1


def test_classify_does_not_mutate_index(spark, tmp_path):
    idx = NearDupIndex(str(tmp_path / "ndi"))
    out = idx.classify(_docs(spark, [("d1", A)]), "text", "doc_id", 0)
    assert kept_ids(out) == ["d1"]
    assert idx.stats(spark) == {"indexed_docs": 0, "batches": 0}
    assert not os.path.isdir(str(tmp_path / "ndi"))


def test_column_collision_raises(spark, tmp_path):
    idx = NearDupIndex(str(tmp_path / "ndi"))
    df = _docs(spark, [("d1", A)]).withColumn("KEPT", F.lit(1))
    with pytest.raises(ValueError, match="KEPT|kept"):
        idx.classify(df, "text", "doc_id", 0)


def test_plan_quality(spark, tmp_path):
    """The classify OUTPUT plan must hold the scale contract: the
    shingle→md5→signature chain ran exactly once (into the sig
    checkpoint — so NO md5 expression may appear in the final plan,
    which would mean a consumer re-runs the dominant compute), nothing
    cartesian, nothing Python in the hot path."""
    idx = NearDupIndex(str(tmp_path / "ndi"))
    idx.ingest(_docs(spark, [("d1", A), ("d2", B)]), "text", "doc_id", 0)
    out = idx.classify(
        _docs(spark, [("e1", A), ("e2", A), ("e3", C)]),
        "text", "doc_id", 1)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "md5" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_bad_params_raise(tmp_path):
    with pytest.raises(ValueError, match="divisible"):
        NearDupIndex(str(tmp_path), num_hashes=16, bands=5)
    with pytest.raises(ValueError, match="sig_threshold"):
        NearDupIndex(str(tmp_path), sig_threshold=0.0)


def test_max_bucket_skew_guard(spark, tmp_path):
    """max_bucket prunes hot band keys on BOTH sides: with the guard at
    0 every band is pruned, so even exact duplicates pass (the plumbing
    proof); with the default the same input dedups."""
    idx0 = NearDupIndex(str(tmp_path / "a"), max_bucket=0)
    r = idx0.ingest(_docs(spark, [("d1", A), ("d2", A)]),
                    "text", "doc_id", 0)
    assert kept_ids(r) == ["d1", "d2"]  # all bands pruned → no pairs
    idx = NearDupIndex(str(tmp_path / "b"))
    r2 = idx.ingest(_docs(spark, [("d1", A), ("d2", A)]),
                    "text", "doc_id", 0)
    assert kept_ids(r2) == ["d1"]
    # the guard counts the INDEX side too: with max_bucket=1 an indexed
    # doc's band (population 1 + 1 new = 2) is pruned → no index match
    idx1 = NearDupIndex(str(tmp_path / "c"), max_bucket=1)
    idx1.ingest(_docs(spark, [("d1", A)]), "text", "doc_id", 0)
    r3 = idx1.ingest(_docs(spark, [("e1", A)]), "text", "doc_id", 1)
    assert kept_ids(r3) == ["e1"]


def test_bandcnt_missing_falls_back_to_full_count(spark, tmp_path):
    """An index without a bandcnt table (crash between the band and
    bandcnt writes, or pre-bandcnt layout) probes via the direct band
    count — same decisions, just the slower path."""
    import shutil

    root = str(tmp_path / "ndi")
    idx = NearDupIndex(root)
    idx.ingest(_docs(spark, [("d1", A), ("d2", B)]), "text", "doc_id", 0)
    shutil.rmtree(f"{root}/bandcnt")
    r1 = idx.ingest(_docs(spark, [("e1", A), ("e2", C)]),
                    "text", "doc_id", 1)
    assert kept_ids(r1) == ["e2"]
    # ...and that ingest BACKFILLED the deleted batch-0 partition, so
    # the incremental sum has full coverage again
    assert sorted(os.listdir(f"{root}/bandcnt")) == ["batch=0", "batch=1"]


def test_bandcnt_partial_coverage_falls_back(spark, tmp_path):
    """A bandcnt table covering only SOME of the band table's batches
    (pre-bandcnt index that later gained new-code ingests) must not be
    summed — the probe falls back to the direct count. Proven through
    the skew guard: with max_bucket=1 the indexed copy of A (batch 0,
    whose bandcnt partition is missing) makes A's bands population
    1+1=2 > 1 → pruned → e1 is KEPT. The broken partial sum would read
    the index side as 0, not prune, and drop e1."""
    import shutil

    root = str(tmp_path / "ndi")
    idx = NearDupIndex(root, max_bucket=1)
    idx.ingest(_docs(spark, [("d1", A)]), "text", "doc_id", 0)
    idx.ingest(_docs(spark, [("d2", B)]), "text", "doc_id", 1)
    shutil.rmtree(f"{root}/bandcnt/batch=0")
    out = idx.classify(_docs(spark, [("e1", A)]), "text", "doc_id", 2)
    assert kept_ids(out) == ["e1"]


def test_band_buckets_layout(spark, tmp_path):
    """band_buckets=N: the band table is sub-partitioned by ``bb=`` so
    the probe statically prunes to the batch's buckets — decisions
    identical to the flat layout, across ingest, redelivery, and a
    fold (which must preserve the layout)."""
    import os as _os

    flat = NearDupIndex(str(tmp_path / "flat"))
    buck = NearDupIndex(str(tmp_path / "buck"), band_buckets=8)
    batches = [
        [("d1", A), ("d2", B), ("d3", B)],
        [("e1", A), ("e2", B), ("e3", C)],
        [("f1", C), ("f2", D)],
    ]
    for i, rows in enumerate(batches):
        kf = kept_ids(flat.ingest(_docs(spark, rows), "text", "doc_id", i))
        kb = kept_ids(buck.ingest(_docs(spark, rows), "text", "doc_id", i))
        assert kf == kb, (i, kf, kb)
    # the layout is real: bb= dirs under each batch partition
    band0 = str(tmp_path / "buck" / "band" / "batch=0")
    assert any(e.startswith("bb=") for e in _os.listdir(band0))
    # fold preserves the bucketed layout and probes keep working
    st = buck.compact(spark, upto_batch=3)
    assert st["band_folded"] == 3
    folded = str(tmp_path / "buck" / "band" / "batch=2")
    assert any(e.startswith("bb=") for e in _os.listdir(folded))
    r = buck.ingest(_docs(spark, [("g1", A), ("g2", "totally novel "
                                               "content nothing shares "
                                               "shingles with this")]),
                    "text", "doc_id", 3)
    assert kept_ids(r) == ["g2"]


def test_band_buckets_layout_mismatch_raises(spark, tmp_path):
    """The band layout is fixed at index creation: a mismatched reader
    must get a clear error, not a partition-discovery failure."""
    root = str(tmp_path / "ndi")
    NearDupIndex(root, band_buckets=8).ingest(
        _docs(spark, [("d1", A)]), "text", "doc_id", 0)
    with pytest.raises(ValueError, match="band_buckets"):
        NearDupIndex(root).classify(
            _docs(spark, [("e1", A)]), "text", "doc_id", 1)
    with pytest.raises(ValueError, match="band_buckets"):
        NearDupIndex(root, band_buckets=16).classify(
            _docs(spark, [("e1", A)]), "text", "doc_id", 1)
    # and a pre-band_buckets FLAT index refuses a bucketed reader
    root2 = str(tmp_path / "ndi2")
    NearDupIndex(root2).ingest(_docs(spark, [("d1", A)]),
                               "text", "doc_id", 0)
    import os as _os
    _os.remove(f"{root2}/_META.json")  # simulate the legacy layout
    with pytest.raises(ValueError, match="flat"):
        NearDupIndex(root2, band_buckets=8).classify(
            _docs(spark, [("e1", A)]), "text", "doc_id", 1)


def test_compact_layout_mismatch_raises(spark, tmp_path):
    """compact() on an instance whose band_buckets differs from the
    index's _META.json raises the probe's layout error before folding
    anything: the band table keeps its layout and stays probe-able."""
    from tenzir_spark.operators.dedup_index import CosineDupIndex

    root = str(tmp_path / "ndi")
    for i, rows in enumerate([[("d1", A)], [("d2", B)]]):
        NearDupIndex(root, band_buckets=8).ingest(
            _docs(spark, rows), "text", "doc_id", i)
    for wrong in (None, 16):
        with pytest.raises(ValueError, match="band_buckets"):
            NearDupIndex(root, band_buckets=wrong).compact(spark, 2)
    assert sorted(os.listdir(os.path.join(root, "band"))) == [
        "batch=0", "batch=1"]
    r = NearDupIndex(root, band_buckets=8).ingest(
        _docs(spark, [("e1", A), ("e2", C)]), "text", "doc_id", 2)
    assert kept_ids(r) == ["e2"]

    croot = str(tmp_path / "cdi")
    CosineDupIndex(croot, dim=4, band_buckets=8).ingest(
        _vecs(spark, [("v1", [1.0, 0.0, 0.0, 0.0])]), "emb", "vec_id", 0)
    with pytest.raises(ValueError, match="band_buckets"):
        CosineDupIndex(croot, dim=4).compact(spark, 1)


def test_dotted_nested_paths(spark, tmp_path):
    """Nested (dotted) field paths — what the pipeline stages' path
    extractor produces — must work for id and content columns."""
    df = spark.createDataFrame(
        [(("d1", A),), (("d2", A),), (("d3", B),)],
        "payload struct<doc_id string, text string>")
    idx = NearDupIndex(str(tmp_path / "ndi"))
    out = idx.ingest(df, "payload.text", "payload.doc_id", 0)
    assert out.columns == ["payload", "kept"]
    kept = sorted(r["payload"]["doc_id"]
                  for r in out.filter("kept").collect())
    assert kept == ["d1", "d3"]

    from tenzir_spark.operators.dedup_index import ExactDupIndex
    xd = ExactDupIndex(str(tmp_path / "xdi"))
    out2 = xd.ingest(df, "payload.text", "payload.doc_id", 0)
    kept2 = sorted(r["payload"]["doc_id"]
                   for r in out2.filter("kept").collect())
    assert kept2 == ["d1", "d3"]


def test_compaction_preserves_probe_results(spark, tmp_path):
    """compact() folds acked batch partitions into one; probes see
    identical rows before and after."""
    idx = NearDupIndex(str(tmp_path / "ndi"))
    idx.ingest(_docs(spark, [("d1", A)]), "text", "doc_id", 0)
    idx.ingest(_docs(spark, [("d2", B)]), "text", "doc_id", 1)
    idx.ingest(_docs(spark, [("d3", C)]), "text", "doc_id", 2)
    assert idx.stats(spark) == {"indexed_docs": 3, "batches": 3}
    folded = idx.compact(spark, upto_batch=3)
    assert folded == {"sig_folded": 3, "band_folded": 3,
                      "bandcnt_folded": 3}
    assert idx.stats(spark) == {"indexed_docs": 3, "batches": 1}
    # dupes of every folded batch are still caught; fresh doc kept
    r = idx.ingest(_docs(spark, [("e1", A), ("e2", B), ("e3", C),
                                 ("e4", D)]), "text", "doc_id", 3)
    assert kept_ids(r) == ["e4"]
    # batch 3's ingest added a partition: folding again merges the two;
    # a repeat on the single remaining partition is a no-op
    assert idx.compact(spark, upto_batch=4) == {
        "sig_folded": 2, "band_folded": 2, "bandcnt_folded": 2}
    assert idx.compact(spark, upto_batch=4) == {
        "sig_folded": 0, "band_folded": 0, "bandcnt_folded": 0}


def test_fold_crash_after_rename_keeps_data(spark, tmp_path):
    """Crash AFTER the tmp→target rename but BEFORE the marker removal:
    recovery must NOT re-run the removal list (the target is itself a
    folded name) — regression test for the data-loss window."""
    import json
    import os

    from tenzir_spark.operators.dedup_index import _recover_fold

    idx = NearDupIndex(str(tmp_path / "ndi"))
    idx.ingest(_docs(spark, [("d1", A)]), "text", "doc_id", 0)
    idx.ingest(_docs(spark, [("d2", B)]), "text", "doc_id", 1)
    idx.compact(spark, upto_batch=2)  # full fold: batch=1 holds all
    # reconstruct the crash state: marker present, temp already renamed
    sig = str(tmp_path / "ndi" / "sig")
    with open(os.path.join(sig, ".FOLD_COMMIT"), "w") as f:
        json.dump({"remove": ["batch=0", "batch=1"],
                   "tmp": ".fold.gone", "target": "batch=1"}, f)
    _recover_fold(sig)
    assert idx.stats(spark) == {"indexed_docs": 2, "batches": 1}


def test_fold_crash_rolls_forward(spark, tmp_path, monkeypatch):
    """A crash between the fold marker and the swap must roll forward on
    the next probe — identical probe results, no data loss."""
    from tenzir_spark.operators import dedup_index as di

    idx = NearDupIndex(str(tmp_path / "ndi"))
    idx.ingest(_docs(spark, [("d1", A)]), "text", "doc_id", 0)
    idx.ingest(_docs(spark, [("d2", B)]), "text", "doc_id", 1)
    # crash right after the marker commit: _apply_fold never runs
    monkeypatch.setattr(di, "_apply_fold", lambda path, fs=None: None)
    idx.compact(spark, upto_batch=2)
    monkeypatch.undo()
    import os
    assert os.path.exists(
        str(tmp_path / "ndi" / "sig" / ".FOLD_COMMIT"))
    # next probe recovers and still sees both indexed docs
    r = idx.ingest(_docs(spark, [("e1", A), ("e2", B), ("e3", C)]),
                   "text", "doc_id", 2)
    assert kept_ids(r) == ["e3"]
    assert idx.stats(spark) == {"indexed_docs": 3, "batches": 2}


def test_crash_between_sig_and_band_writes(spark, tmp_path):
    """A crash after the sig write but before the band write (first-ever
    batch) must not break later probes — the batch is un-probe-able
    until its (unacked) redelivery overwrites both tables."""
    import shutil

    root = str(tmp_path / "ndi")
    idx = NearDupIndex(root)
    idx.ingest(_docs(spark, [("d1", A)]), "text", "doc_id", 0)
    shutil.rmtree(f"{root}/band")  # simulate the crash window
    # probe survives; d1 is temporarily invisible
    r1 = idx.classify(_docs(spark, [("e1", A)]), "text", "doc_id", 1)
    assert kept_ids(r1) == ["e1"]
    # redelivery of the unacked batch 0 heals both tables
    idx.ingest(_docs(spark, [("d1", A)]), "text", "doc_id", 0)
    r1b = idx.classify(_docs(spark, [("e1", A)]), "text", "doc_id", 1)
    assert kept_ids(r1b) == []


def test_exact_index_compaction(spark, tmp_path):
    from tenzir_spark.operators.dedup_index import ExactDupIndex

    idx = ExactDupIndex(str(tmp_path / "xdi"))
    idx.ingest(_docs(spark, [("d1", A)]), "text", "doc_id", 0)
    idx.ingest(_docs(spark, [("d2", B)]), "text", "doc_id", 1)
    assert idx.compact(spark, upto_batch=2) == {"hash_folded": 2}
    assert idx.stats(spark) == {"indexed_hashes": 2, "batches": 1}
    r = idx.ingest(_docs(spark, [("e1", A), ("e2", C)]),
                   "text", "doc_id", 2)
    assert kept_ids(r) == ["e2"]


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id string, emb array<double>")


def test_cosine_index_two_batches(spark, tmp_path):
    from tenzir_spark.operators.dedup_index import CosineDupIndex

    idx = CosineDupIndex(str(tmp_path / "cdi"), dim=4, threshold=0.9)
    v = [1.0, 2.0, 3.0, 4.0]
    w = [-4.0, 3.0, -2.0, 1.0]          # orthogonal to v (cos 0)
    near_v = [1.1, 2.0, 3.0, 4.0]       # cos ≈ 0.9996
    b0 = _vecs(spark, [("d1", v), ("d2", w)])
    r0 = idx.ingest(b0, "emb", "vec_id", 0)
    assert kept_ids(r0, "vec_id") == ["d1", "d2"]
    b1 = _vecs(spark, [("e1", near_v),            # near-dup of indexed d1
                       ("e2", [2.0, -1.0, 4.0, -3.0]),  # fresh direction
                       ("e3", None),              # unscorable: NULL
                       ("e4", [0.0, 0.0, 0.0, 0.0]),    # unscorable: zero
                       ("e5", [1.0, 2.0])])      # unscorable: wrong dim
    r1 = idx.ingest(b1, "emb", "vec_id", 1)
    assert kept_ids(r1, "vec_id") == ["e2", "e3", "e4", "e5"]
    assert idx.stats(spark) == {"indexed_docs": 3, "batches": 2}


def test_cosine_index_in_batch_cluster_and_scaled_dup(spark, tmp_path):
    from tenzir_spark.operators.dedup_index import CosineDupIndex

    idx = CosineDupIndex(str(tmp_path / "cdi"), dim=4, threshold=0.9)
    v = [1.0, 2.0, 3.0, 4.0]
    # cosine is scale-invariant: 10*v is a perfect dup of v; smallest id
    # wins the in-batch cluster
    b0 = _vecs(spark, [("d2", [10.0, 20.0, 30.0, 40.0]), ("d1", v)])
    r0 = idx.ingest(b0, "emb", "vec_id", 0)
    assert kept_ids(r0, "vec_id") == ["d1"]
    # redelivery idempotent
    r0b = idx.ingest(b0, "emb", "vec_id", 0)
    assert kept_ids(r0b, "vec_id") == ["d1"]
    assert idx.stats(spark) == {"indexed_docs": 1, "batches": 1}


def test_cosine_index_compaction(spark, tmp_path):
    from tenzir_spark.operators.dedup_index import CosineDupIndex

    idx = CosineDupIndex(str(tmp_path / "cdi"), dim=4, threshold=0.9)
    idx.ingest(_vecs(spark, [("d1", [1.0, 0.0, 0.0, 0.0])]),
               "emb", "vec_id", 0)
    idx.ingest(_vecs(spark, [("d2", [0.0, 1.0, 0.0, 0.0])]),
               "emb", "vec_id", 1)
    assert idx.compact(spark, upto_batch=2) == {
        "emb_folded": 2, "band_folded": 2, "bandcnt_folded": 2}
    r = idx.ingest(_vecs(spark, [("e1", [2.0, 0.0, 0.0, 0.0]),
                                 ("e2", [0.0, 0.0, 1.0, 0.0])]),
                   "emb", "vec_id", 2)
    assert kept_ids(r, "vec_id") == ["e2"]


def test_exact_index_two_batches(spark, tmp_path):
    from tenzir_spark.operators.dedup_index import ExactDupIndex

    idx = ExactDupIndex(str(tmp_path / "xdi"))
    # in-batch exact dup collapses to smallest id; near-but-not-exact
    # text (one char changed) is NOT a dup for the exact index
    b0 = _docs(spark, [("d2", A), ("d1", A), ("d3", B)])
    r0 = idx.ingest(b0, "text", "doc_id", 0)
    assert kept_ids(r0) == ["d1", "d3"]
    b1 = _docs(spark, [("e1", A), ("e2", A + "!"), ("e3", None)])
    r1 = idx.ingest(b1, "text", "doc_id", 1)
    # e1 exact-matches the index; e2 differs by one char (kept);
    # NULL text is unscorable → kept, never indexed
    assert kept_ids(r1) == ["e2", "e3"]
    assert idx.stats(spark) == {"indexed_hashes": 3, "batches": 2}


def test_exact_index_redelivery_and_durability(spark, tmp_path):
    from tenzir_spark.operators.dedup_index import ExactDupIndex

    root = str(tmp_path / "xdi")
    ExactDupIndex(root).ingest(_docs(spark, [("d1", A)]), "text", "doc_id", 0)
    b1 = _docs(spark, [("e1", A), ("e2", C)])
    first = kept_ids(ExactDupIndex(root).ingest(b1, "text", "doc_id", 1))
    second = kept_ids(ExactDupIndex(root).ingest(b1, "text", "doc_id", 1))
    assert first == second == ["e2"]
    from tenzir_spark.operators.dedup_index import ExactDupIndex as E
    assert E(root).stats(spark) == {"indexed_hashes": 2, "batches": 2}
