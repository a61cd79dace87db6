"""Lifecycle of the persisted index artifacts: add (frozen-quantizer
insert), delete (tombstone log), compact (physical drop) — the
reference's insert / tombstone-delete / rebuild triple
(hsnw_trial.py:197-265, 296-305, 381-389) on the at-rest quantized
layouts (PqIndex / IvfPqIndex / Sq8Index / IvfIndex)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectorsearch_with_hnsw_spark.sources import load_table

DIM = 64


def _queries(spark, sf_dir, n=3):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _families(spark, sf_smoke):
    """(name, built-on-A index, search(idx), rows(idx)) per artifact
    family; A = even ids, so add(B = odd ids) completes the corpus."""
    from vectorsearch_with_hnsw_spark.operators.ivf import IvfIndex
    from vectorsearch_with_hnsw_spark.operators.pq import IvfPqIndex, PqIndex
    from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index

    emb = load_table(spark, sf_smoke, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    q = _queries(spark, sf_smoke)
    return emb, a, [
        (
            "pq",
            PqIndex.build(a, dim=DIM, m=8),
            lambda i, **kw: i.search(q, k=10, **kw),
            lambda i: i.codes,
        ),
        (
            "ivf_pq",
            IvfPqIndex.build(a, dim=DIM, m=8, n_cells=4, iters=1),
            lambda i, **kw: i.search(q, k=10, n_probe=2, **kw),
            lambda i: i.codes,
        ),
        (
            "sq8",
            Sq8Index.build(a, dim=DIM),
            lambda i, **kw: i.search(q, k=10, **kw),
            lambda i: i.codes,
        ),
        (
            "ivf",
            IvfIndex.build(a, dim=DIM, n_cells=4, iters=1),
            lambda i, **kw: i.search(emb, q, k=10, n_probe=2, **kw),
            lambda i: i.assigned,
        ),
    ]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_lifecycle_add_delete_compact_contract(spark, sf_smoke):
    """Per family: add unions the new batch (count = |A| + |B|), delete
    hides tombstoned ids without shrinking results below k, compact is
    bit-identical to the tombstoned search (the quantizer is frozen, so
    dropping dead codes changes nothing) and physically shrinks the
    table."""
    emb, a, fams = _families(spark, sf_smoke)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    dele = emb.filter(F.col("vec_id") % 17 == 3).select("vec_id")
    n_all = emb.count()
    n_dead = dele.count()
    assert n_dead > 0
    for name, idx, search, rows in fams:
        grown = idx.add(b)
        assert rows(grown).count() == n_all, name
        tomb = grown.delete(dele)
        got = search(tomb).collect()
        assert got, name
        by_q = {}
        for r in got:
            by_q.setdefault(r.query_id, []).append(r)
            assert r.neighbor_id % 17 != 3, f"{name}: deleted id served"
        for qid, rs in by_q.items():
            assert len(rs) == 10, f"{name}: k not filled after delete ({qid})"
        compacted = tomb.compact()
        assert compacted.tombstones is None, name
        assert _rows(search(compacted)) == sorted(tuple(r) for r in got), name
        assert rows(compacted).count() == n_all - n_dead, name
        if hasattr(grown, "unpersist"):
            grown.unpersist()


def test_delete_equals_allowed_ids_complement(spark, sf_smoke):
    """Tombstone-skip IS the filtered-probe contract with deleted-ness
    as the predicate (the reference's hsnw_trial.py:178-179): deleting
    D answers bit-identically to probing with allowed_ids = corpus
    minus D."""
    emb, a, fams = _families(spark, sf_smoke)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    dele = emb.filter(F.col("vec_id") % 17 == 3).select("vec_id")
    alive = emb.filter(F.col("vec_id") % 17 != 3).select("vec_id")
    for name, idx, search, _ in fams:
        grown = idx.add(b)
        via_tomb = _rows(search(grown.delete(dele)))
        via_filter = _rows(search(grown, allowed_ids=alive))
        assert via_tomb == via_filter, name
        if hasattr(grown, "unpersist"):
            grown.unpersist()


def test_add_encodes_with_frozen_state(spark, sf_smoke):
    """add() must never retrain: the codes it appends are exactly what
    the build-time encoder produces under the A-trained state (public
    encode paths: pq_encode / quantize / assign_frozen), and the
    trained sidecars are untouched."""
    from vectorsearch_with_hnsw_spark.functions.vector import to_vec
    from vectorsearch_with_hnsw_spark.operators.ivf import IvfIndex, assign_frozen
    from vectorsearch_with_hnsw_spark.operators.pq import PqIndex, pq_encode
    from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index, quantize

    emb = load_table(spark, sf_smoke, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)

    pq = PqIndex.build(a, dim=DIM, m=8)
    want = _rows(pq_encode(b, pq.codebooks, DIM, 8))
    got = _rows(pq.add(b).codes.filter(F.col("vec_id") % 2 == 1))
    assert got == want

    sq8 = Sq8Index.build(a, dim=DIM)
    ranges_before = _rows(sq8.ranges)
    want = _rows(
        quantize(b, sq8.ranges).select(
            F.col("vec_id"), F.col("code").alias("bcode")
        )
    )
    grown = sq8.add(b)
    assert _rows(grown.codes.filter(F.col("vec_id") % 2 == 1)) == want
    assert _rows(grown.ranges) == ranges_before

    ivf = IvfIndex.build(a, dim=DIM, n_cells=4, iters=1)
    cents_before = _rows(ivf.centroids)
    pts_b = b.select("vec_id", to_vec("embedding").alias("v"))
    want = _rows(assign_frozen(pts_b, ivf.centroids).select("vec_id", "cell"))
    grown = ivf.add(b)
    assert _rows(grown.assigned.filter(F.col("vec_id") % 2 == 1)) == want
    assert _rows(grown.centroids) == cents_before


def test_ivf_pq_add_self_retrieval(spark, sf_smoke):
    """An added vector is its own nearest neighbor through the deployed
    refine probe: it coarse-assigns to the cell its own query routes
    to, so the shortlist contains it and the exact re-rank puts it at
    rank 1 with dist 0."""
    from vectorsearch_with_hnsw_spark.operators.pq import IvfPqIndex

    emb = load_table(spark, sf_smoke, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = IvfPqIndex.build(a, dim=DIM, m=8, n_cells=4, iters=1).add(b)
    q = emb.filter(F.col("vec_id").isin(1, 3, 5)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top1 = {
        r.query_id: (r.neighbor_id, r.dist)
        for r in idx.refine_search(emb, q, k=1, n_probe=2).collect()
    }
    assert set(top1) == {1, 3, 5}
    for qid, (nid, dist) in top1.items():
        assert nid == qid and dist == 0.0
    idx.unpersist()


def test_lifecycle_save_load_roundtrip(spark, sf_smoke, tmp_path):
    """Tombstones survive save/load (the loaded probe still skips
    them, bit-identically); a compacted index saves with no tombstone
    table and loads with tombstones None."""
    emb, a, fams = _families(spark, sf_smoke)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    dele = emb.filter(F.col("vec_id") % 17 == 3).select("vec_id")
    for name, idx, search, rows in fams:
        tomb = idx.add(b).delete(dele)
        path = str(tmp_path / f"{name}_tomb")
        tomb.save(path)
        loaded = type(idx).load(spark, path)
        assert loaded.tombstones is not None, name
        assert _rows(search(loaded)) == _rows(search(tomb)), name
        cpath = str(tmp_path / f"{name}_compact")
        tomb.compact().save(cpath)
        reloaded = type(idx).load(spark, cpath)
        assert reloaded.tombstones is None, name
        assert _rows(search(reloaded)) == _rows(search(tomb)), name
        if hasattr(tomb, "unpersist"):
            tomb.unpersist()


def test_no_delete_means_no_antijoin_in_plan(spark, sf_smoke):
    """The tombstone skip must be FREE until the first delete: an
    undeleted index's probe plan contains no anti-join (live_rows is a
    no-op on tombstones=None), and the first delete introduces exactly
    the LeftAnti join — never a scan of a tombstone table that doesn't
    exist."""
    from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(spark, sf_smoke)
    idx = Sq8Index.build(emb, dim=DIM)
    clean = idx.search(q, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in clean
    dele = emb.filter(F.col("vec_id") % 17 == 3).select("vec_id")
    tomb = idx.delete(dele).search(q, k=5)
    plan = tomb._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


def test_add_after_delete_keeps_tombstone(spark, sf_smoke):
    """Documented contract: the tombstone log is id-keyed, so re-adding
    a deleted id does NOT resurrect it — compact first. (Pinned so the
    behavior is a decision, not an accident.)"""
    from vectorsearch_with_hnsw_spark.operators.quantize import Sq8Index

    emb = load_table(spark, sf_smoke, "embeddings")
    idx = Sq8Index.build(emb, dim=DIM)
    victim = emb.filter(F.col("vec_id") == 7)
    gone = idx.delete(victim.select("vec_id")).add(
        victim.withColumn("vec_id", F.col("vec_id"))
    )
    q = victim.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = gone.search(q, k=5).collect()
    assert got and all(r.neighbor_id != 7 for r in got)
    # compact drops BOTH stored copies of id 7 along with the log entry
    back = gone.compact()
    assert back.codes.filter(F.col("vec_id") == 7).count() == 0


def test_readd_after_delete_contract_all_families(spark, sf_smoke):
    """VERDICT r12 #8: the documented 'ids must be fresh' contract,
    pinned on EVERY artifact family (IvfPq / Pq / Sq8 / Ivf), not just
    Sq8. Re-adding a tombstoned id without compacting (a) does not
    resurrect it in probes — the log is id-keyed, (b) leaves TWO stored
    rows for the id (add never dedups), and (c) compact drops both
    copies with the log. The sanctioned resurrection recipe —
    compact THEN add — must make the id probeable again."""
    emb, a, fams = _families(spark, sf_smoke)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    victim_rows = emb.filter(F.col("vec_id") == 2)
    victim_ids = victim_rows.select("vec_id")
    for name, idx, search, rows in fams:
        full = idx.add(b)
        readded = full.delete(victim_ids).add(victim_rows)
        got = search(readded).collect()
        assert got, name
        assert all(r["neighbor_id"] != 2 for r in got), name
        assert rows(readded).filter(F.col("vec_id") == 2).count() == 2, name
        compacted = readded.compact()
        assert rows(compacted).filter(F.col("vec_id") == 2).count() == 0, name
        resurrected = compacted.add(victim_rows)
        assert rows(resurrected).filter(F.col("vec_id") == 2).count() == 1, name
        back = search(resurrected).collect()
        assert any(r["neighbor_id"] == 2 for r in back), name


def test_save_with_vectors_refuses_partial_or_duplicate_emb(spark, sf_smoke, tmp_path):
    """save(path, emb) needs exactly one vector per stored id, on every
    family: after add(b) the original corpus a lacks b's ids, and a
    duplicated id in emb would duplicate stored rows. Both raise
    ValueError naming the counts, before anything is written."""
    emb, a, fams = _families(spark, sf_smoke)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    n_b = b.count()
    dup = a.unionByName(a.filter(F.col("vec_id") == 0))
    for name, idx, _, _ in fams:
        path = tmp_path / name
        with pytest.raises(ValueError, match=f"{n_b} stored ids missing from emb"):
            idx.add(b).save(str(path), a)
        with pytest.raises(ValueError, match="1 stored ids duplicated in emb"):
            idx.save(str(path), dup)
        assert not path.exists(), name
        idx.unpersist()
