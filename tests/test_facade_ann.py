"""Facade ANN serving tier: build_ann_serving / search_embeddings(ann=)
/ incremental save-time deltas / vacuum-routed maintenance / doctor
audit + heal.

Reference seams: HNSW engaged at >= 1000 vectors (src/vec.rs:22-23) as
the brute-vs-ANN routing policy; recall >= 0.8 @ k=10 vs brute force
(src/vec.rs:645-650); indexes finalize incrementally at the save moment
(finalize_indexes, mutation.rs:913-918) and rebuild after vacuum
(mutation.rs:2999-3084); doctor drops/heals each index kind
(tests/doctor_recovery.rs:194-717).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from memvid_spark.api import MemvidSpark


def _unit_blob_pairs(n_blobs=4, per_blob=300, dim=6, start_id=0):
    """Unit-normalized well-separated blobs (cosine and L2 rankings
    agree on the unit sphere, so the ann=True L2 path is comparable to
    the exact cosine path)."""
    pairs = []
    for b in range(n_blobs):
        for i in range(per_blob):
            v = [0.0] * dim
            v[b % dim] = 10.0
            for d in range(dim):
                v[d] += ((i * (d + 3) + b) % 23) * 0.03
            # unique per id: coincident points would make the NSW graph
            # a duplicate cloud (beam gets stuck on zero-distance nodes)
            v[(b + 1) % dim] += i * 0.003
            nrm = math.sqrt(sum(x * x for x in v))
            pairs.append(
                (start_id + b * per_blob + i, [x / nrm for x in v])
            )
    return pairs


def _store_with_vectors(spark, n_blobs=4, per_blob=300):
    mv = MemvidSpark(spark)
    mv.add_embeddings(_unit_blob_pairs(n_blobs, per_blob))
    return mv


def _qvec(pairs, fid):
    return next(v for f, v in pairs if f == fid)


def test_ann_search_recall_vs_exact(spark):
    pairs = _unit_blob_pairs()
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)  # 1200 rows >= engage threshold
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    q = _qvec(pairs, 3)
    approx = {r.vec_id for r in mv.search_embeddings(q, k=10, ann=True).collect()}
    exact = {r.vec_id for r in mv.search_embeddings(q, k=10).collect()}
    assert len(approx & exact) / 10 >= 0.8  # vec.rs:645-650 bound


def test_ann_engage_threshold_falls_through_to_exact(spark):
    """Below 1000 vectors ann=True IS the exact scan (vec.rs:22-23:
    brute force under the engage threshold) — identical rows."""
    pairs = _unit_blob_pairs(n_blobs=3, per_blob=40)  # 120 < 1000
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=3, m=8, ef_construction=60)
    q = _qvec(pairs, 5)
    a = [(r.vec_id, r.score, r.rank)
         for r in mv.search_embeddings(q, k=5, ann=True).collect()]
    b = [(r.vec_id, r.score, r.rank)
         for r in mv.search_embeddings(q, k=5).collect()]
    assert a == b


def test_ann_persists_partitioned_and_prunes(spark, tmp_path):
    """save() write-swaps the index partitionBy(cell); a reopened store
    serves the pruned search with a planning-time PartitionFilter."""
    pairs = _unit_blob_pairs()
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    path = str(tmp_path / "store")
    mv.save(path)
    re = MemvidSpark.open(spark, path)
    assert re.ann_enabled()
    q = _qvec(pairs, 3)
    res = re.search_embeddings(q, k=10, ann=True)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    approx = {r.vec_id for r in res.collect()}
    exact = {r.vec_id for r in re.search_embeddings(q, k=10).collect()}
    assert len(approx & exact) / 10 >= 0.8


def test_put_then_save_applies_delta_not_rebuild(spark, tmp_path):
    """Vectors added after the tier is built reach the served index at
    save() through apply_delta_ivf (same centroids — only touched cells
    rebuild), and delta == rebuild-with-same-centroids row-for-row."""
    from memvid_spark.operators.hnsw import build_nsw_index_ivf

    pairs = _unit_blob_pairs()
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    cents_before = [list(c) for c in mv._ann_cents]
    new = _unit_blob_pairs(n_blobs=1, per_blob=5, start_id=9000)
    mv.add_embeddings(new)
    path = str(tmp_path / "store")
    mv.save(path)
    # centroids unchanged: the delta path, not a retrain
    assert mv._ann_cents == cents_before
    re = MemvidSpark.open(spark, path)
    q = _qvec(new, 9000)
    got = {r.vec_id for r in re.search_embeddings(q, k=5, ann=True).collect()}
    assert 9000 in got
    full = build_nsw_index_ivf(
        re._ann_active_track(), cents_before, m=8, ef_construction=60
    )
    ra = sorted((r.cell, r.shard, r.vec_id, tuple(r.neighbors))
                for r in re._ann_index.collect())
    rb = sorted((r.cell, r.shard, r.vec_id, tuple(r.neighbors))
                for r in full.collect())
    assert ra == rb


def test_delete_vacuum_routes_index_maintenance(spark):
    """Tombstoned frames leave the served index at vacuum() via the
    incremental delta (rebuild-after-vacuum, mutation.rs:2999-3084)."""
    pairs = _unit_blob_pairs()
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    q = _qvec(pairs, 3)
    assert 3 in {
        r.vec_id for r in mv.search_embeddings(q, k=3, ann=True).collect()
    }
    mv.delete(3)
    mv.vacuum()
    assert mv._ann_index.filter(F.col("vec_id") == 3).count() == 0
    assert 3 not in {
        r.vec_id for r in mv.search_embeddings(q, k=10, ann=True).collect()
    }


def test_doctor_audits_and_heals_ann_index(spark):
    """doctor() flags a hole in the served index as missing rows;
    heal=True routes through the registered rebuilder and the re-audit
    comes back clean (doctor_recovery.rs:194-717 drop-then-heal)."""
    pairs = _unit_blob_pairs(n_blobs=3, per_blob=40)
    mv = MemvidSpark(spark)
    mv.put("doc zero")  # a frame so the frame-log checks have rows
    mv.add_embeddings(pairs[1:])
    mv.build_ann_serving(n_cells=3, m=8, ef_construction=60)
    clean = {
        (r.check, r.table_name): r.n_affected for r in mv.doctor().collect()
    }
    assert clean[("missing", "ann_index")] == 0
    assert clean[("orphaned", "ann_index")] == 0
    # corrupt: drop one indexed vector's row
    victim = int(pairs[1][0])
    mv._ann_index = mv._ann_index.filter(F.col("vec_id") != victim)
    rep = {
        (r.check, r.table_name): r.n_affected for r in mv.doctor().collect()
    }
    assert rep[("missing", "ann_index")] == 1
    healed = {
        (r.check, r.table_name): r.n_affected
        for r in mv.doctor(heal=True).collect()
    }
    assert healed[("missing", "ann_index")] == 0
    assert healed[("orphaned", "ann_index")] == 0


def test_refresh_drift_policy_retrains_on_skew(spark):
    """A delta piling mass into one region trips the occupancy-skew
    bound and refresh retrains the coarse model (vec.rs's 1000-vector
    engage threshold as the policy knob)."""
    pairs = _unit_blob_pairs(n_blobs=8, per_blob=50, dim=8)  # 400 rows
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=8, m=8, ef_construction=60)
    # 900 near-identical vectors into blob 0's region: n=1300 (engaged),
    # hot cell ~950 vs mean ~162 -> skew ~5.8 > 4.0
    hot = []
    for i in range(900):
        v = [0.0] * 8
        v[0] = 10.0 + (i % 13) * 0.01
        v[1] = (i % 7) * 0.01
        v[2] = i * 0.0005  # unique per id
        nrm = math.sqrt(sum(x * x for x in v))
        hot.append((20000 + i, [x / nrm for x in v]))
    mv.add_embeddings(hot)
    stats = mv.refresh_ann_index()
    assert stats.get("retrained") is True
    assert stats["n_rows"] == 1300


def test_search_embeddings_many_batch_matches_single(spark):
    """The facade batch retrieval (ann=True) is one cogrouped job that
    must reproduce the single-query ANN path query by query, and the
    exact path must answer every query below the engage threshold."""
    pairs = _unit_blob_pairs()
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    queries = spark.createDataFrame(
        [(fid, v) for fid, v in pairs if fid % 150 == 3],
        "query_id long, query_vec array<double>",
    )
    batch = mv.search_embeddings_many(queries, k=5, ann=True)
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.score))
    assert set(got) == {fid for fid, _ in pairs if fid % 150 == 3}
    for qrow in queries.collect():
        single = [
            (r.rank, r.vec_id, r.score)
            for r in mv.search_embeddings(
                list(qrow.query_vec), k=5, ann=True
            ).collect()
        ]
        assert sorted(got[qrow.query_id]) == sorted(single)


def test_search_embeddings_many_exact_below_engage(spark):
    """Below 1000 vectors the batch path is the exact broadcast join —
    per-query rows equal the exact single-query scan (cosine, self
    excluded by the join condition)."""
    pairs = _unit_blob_pairs(n_blobs=3, per_blob=40)  # 120 < 1000
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=3, m=8, ef_construction=60)
    queries = spark.createDataFrame(
        [(9999, pairs[5][1])], "query_id long, query_vec array<double>"
    )
    batch = [(r.vec_id, r.score, r.rank)
             for r in mv.search_embeddings_many(
                 queries, k=5, ann=True).collect()]
    single = [(r.vec_id, r.score, r.rank)
              for r in mv.search_embeddings(pairs[5][1], k=5).collect()]
    assert batch == single


def test_build_ann_serving_auto_sizes_cells(spark):
    """n_cells=None (the default) sizes the cell count from the corpus
    (auto_n_cells): probes x cell_size stays constant as data grows
    instead of cells fattening at a pinned count (VERDICT r8 #1)."""
    from memvid_spark.operators.hnsw import auto_n_cells

    pairs = _unit_blob_pairs()  # 1200 rows
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(m=8, ef_construction=60, probes=4,
                         target_cell_rows=200)
    assert mv._ann_meta["n_cells"] == auto_n_cells(1200, 200) == 6
    assert mv._ann_meta["auto_cells"] is True
    q = _qvec(pairs, 3)
    approx = {r.vec_id
              for r in mv.search_embeddings(q, k=10, ann=True).collect()}
    exact = {r.vec_id for r in mv.search_embeddings(q, k=10).collect()}
    assert len(approx & exact) / 10 >= 0.8
    # explicit n_cells pins it (legacy posture), flagged in meta
    mv2 = MemvidSpark(spark)
    mv2.add_embeddings(pairs)
    mv2.build_ann_serving(n_cells=4, m=8, ef_construction=60)
    assert mv2._ann_meta["n_cells"] == 4
    assert mv2._ann_meta["auto_cells"] is False


def test_refresh_resizes_auto_tier_when_corpus_outgrows_cells(spark):
    """An auto-sized tier whose corpus has outgrown target_cell_rows
    retrains at refresh time with MORE cells; a pinned tier under the
    same growth keeps its count (no surprise rebuild of a user-pinned
    layout)."""
    from memvid_spark.operators.hnsw import auto_n_cells

    seed = _unit_blob_pairs(n_blobs=4, per_blob=300)  # 1200 rows
    mv = MemvidSpark(spark)
    mv.add_embeddings(seed)
    mv.build_ann_serving(m=8, ef_construction=60, target_cell_rows=300)
    n0 = mv._ann_meta["n_cells"]
    assert n0 == auto_n_cells(1200, 300) == 4
    # triple the corpus: mean occupancy 3600/4 = 900 > 2x300 -> resize
    mv.add_embeddings(_unit_blob_pairs(n_blobs=4, per_blob=600,
                                       start_id=10_000))
    stats = mv.refresh_ann_index()
    assert stats.get("retrained") is True
    assert mv._ann_meta["n_cells"] == auto_n_cells(3600, 300) == 12
    q = _qvec(seed, 3)
    approx = {r.vec_id
              for r in mv.search_embeddings(q, k=10, ann=True).collect()}
    exact = {r.vec_id for r in mv.search_embeddings(q, k=10).collect()}
    assert len(approx & exact) / 10 >= 0.8


def test_doctor_flags_and_heals_stale_entry_cover(spark):
    """A legacy (pre-entry-cover) served index is a silent recall
    hazard; doctor() now flags every cover-less sub-graph and heal
    rewrites the covers in place — no rebuild, no retrain, index rows
    otherwise untouched."""
    pairs = _unit_blob_pairs(n_blobs=3, per_blob=40)
    mv = MemvidSpark(spark)
    mv.put("doc zero")
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=3, m=8, ef_construction=60)
    n_shards = mv._ann_index.select("cell", "shard").distinct().count()
    rows_before = mv._ann_index.count()
    clean = {
        (r.check, r.table_name): r.n_affected for r in mv.doctor().collect()
    }
    assert clean[("stale_entry_cover", "ann_entry_cover")] == 0
    # simulate the legacy store: entry column absent entirely
    mv._ann_index = mv._ann_index.drop("entry").localCheckpoint()
    rep = {
        (r.check, r.table_name): r.n_affected for r in mv.doctor().collect()
    }
    assert rep[("stale_entry_cover", "ann_entry_cover")] == n_shards
    healed = {
        (r.check, r.table_name): r.n_affected
        for r in mv.doctor(heal=True).collect()
    }
    assert healed[("stale_entry_cover", "ann_entry_cover")] == 0
    assert "entry" in mv._ann_index.columns
    assert mv._ann_index.count() == rows_before
    assert mv._ann_index.filter(F.col("entry")).count() >= n_shards


def test_ask_routes_vector_list_through_serving_tier(spark):
    """ask(query_vec=...) mirrors the reference's brute-vs-HNSW engage
    threshold (vec.rs:22-23, 57-60): past ANN_ENGAGE_ROWS the vector
    candidate list comes from the IVF-NSW serving tier; below it — or
    with ann=False — the exact cosine scan stays the correctness tier.
    RRF consumes ranks, so the L2 tier negates into rank order."""
    pairs = _unit_blob_pairs()  # 1200 rows >= engage threshold
    mv = MemvidSpark(spark)
    for i in range(6):
        mv.put(f"alpha beta document number {i}")
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    q = _qvec(pairs, 3)
    res = mv.ask("alpha beta", query_vec=q)
    assert mv._last_ask_vec_route == "ann"
    assert res.citations  # the fused pipeline still answers
    res_exact = mv.ask("alpha beta", query_vec=q, ann=False)
    assert mv._last_ask_vec_route == "exact"
    assert res_exact.citations
    # lexical-only ask is untouched (no vector list, no route marker)
    mv._last_ask_vec_route = None
    mv.ask("alpha beta")
    assert mv._last_ask_vec_route is None
    # below the engage threshold ann=True still routes exact
    small_pairs = _unit_blob_pairs(n_blobs=3, per_blob=40)  # 120 rows
    mv2 = MemvidSpark(spark)
    mv2.put("alpha beta tiny store")
    mv2.add_embeddings(small_pairs)
    mv2.build_ann_serving(n_cells=3, m=8, ef_construction=60)
    mv2.ask("alpha beta", query_vec=_qvec(small_pairs, 5), ann=True)
    assert mv2._last_ask_vec_route == "exact"


def test_bulk_ingest_spills_buffer_and_flushes_ann(spark, tmp_path, monkeypatch):
    """Driver memory stays bounded through a bulk session ingest: past
    EMB_SPILL_ROWS the Python-side vector buffer spills to a session
    parquet (append per spill — O(total rows) across spills) and the
    buffered ANN delta auto-applies. Without the bound both lists grow
    with every put — the driver-side corpus-proportional state this
    engine bans everywhere else."""
    monkeypatch.setattr(MemvidSpark, "EMB_SPILL_ROWS", 100)
    pairs = _unit_blob_pairs(n_blobs=4, per_blob=300)  # 1200 rows
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs[:1100])
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    # feed the rest in batches: buffer and pending must stay bounded
    for i in range(1100, 1200, 20):
        mv.add_embeddings(pairs[i:i + 20])
        assert len(mv._emb_buffer) < 100 + 20
        assert len(mv._ann_pending) < 100 + 20
    assert mv.embeddings().count() == 1200
    # the auto-flushed ANN delta serves the late adds without an
    # explicit refresh/save
    mv.refresh_ann_index()
    q = _qvec(pairs, 1195)
    got = mv.search_embeddings(q, k=1, ann=True).head()
    assert got.vec_id == 1195
    # save() re-roots the track and drops the spill dir
    spill = mv._emb_spill_dir
    assert spill is not None
    path = str(tmp_path / "store")
    mv.save(path)
    import os

    assert mv._emb_spill_dir is None and not os.path.exists(spill)
    re = MemvidSpark.open(spark, path)
    assert re.embeddings().count() == 1200


def test_ask_query_vec_exact_fallback_on_compressed_store(spark):
    """ADVICE r9 (medium): with vector compression declared, the exact
    fallback of ask(query_vec=...) routes through the sq8/pq scans,
    whose output column is approx_dist (ascending-is-better) — the old
    select of F.col("score") raised AnalysisException. The fix negates
    approx_dist into rank order, so the vector list still fuses and the
    query's own frame ranks first on both quantized tiers."""
    pairs = _unit_blob_pairs(n_blobs=3, per_blob=40)  # 120 < engage
    mv = MemvidSpark(spark)
    for fid, _v in pairs[:6]:
        mv.put(f"memo about topic {fid}")
    mv.add_embeddings(pairs)
    for comp in ("sq8", "pq"):
        mv.set_vector_compression(comp)
        res = mv.ask("memo topic", top_k=3, query_vec=_qvec(pairs, 2))
        assert mv._last_ask_vec_route == "exact"
        assert res.answer is not None


def test_build_ann_serving_raised_clamp_trains_distributed(spark):
    """VERDICT r9 #6 + #1 through the facade: a 100 TB operator raises
    the auto-size clamp (max_cells) without forking code — past 4096
    cells the coarse trainer goes distributed (per-super-group k-means)
    and assignment routes two-level; the tier still serves with the
    recall bound, and the clamp survives in the tier meta (so drift
    retrains re-size within the caller's bounds)."""
    pairs = _unit_blob_pairs(n_blobs=5, per_blob=1000)  # 5000 rows
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(
        m=8, ef_construction=60, probes=16,
        target_cell_rows=1, max_cells=8192,
    )
    meta = mv._ann_meta
    # the trainer may return slightly fewer than asked (a group whose
    # largest-remainder budget exceeds its sample rows trains what it
    # has) — the contract is: past the old clamp, exactly bounded
    assert 4096 < meta["n_cells"] <= 5000
    assert meta["max_cells"] == 8192
    q = _qvec(pairs, 7)
    approx = {r.vec_id for r in mv.search_embeddings(q, k=10, ann=True).collect()}
    exact = {r.vec_id for r in mv.search_embeddings(q, k=10).collect()}
    assert len(approx & exact) / 10 >= 0.8


def test_stats_surfaces_serving_tier_meta(spark):
    """stats() reports both serving tiers' (n_cells, n_rows) — the
    numbers an operator reads next to the drift policy; None before a
    tier is built."""
    pairs = _unit_blob_pairs(n_blobs=3, per_blob=40)
    mv = MemvidSpark(spark)
    mv.put("one doc so the frame log has rows")
    mv.add_embeddings(pairs)
    st = mv.stats()
    assert st["ann"] is None and st["img_ann"] is None
    mv.build_ann_serving(n_cells=3, m=8, ef_construction=60)
    st = mv.stats()
    assert st["ann"] == {"n_cells": 3, "n_rows": 120}
    assert st["img_ann"] is None


def test_frame_model_facade_round_trip(spark, tmp_path):
    """Round-11 serving wiring: above ``frame_model_min_cells`` the
    facade's coarse model is a hnsw.CentroidFrame — trained, assigned,
    searched and persisted WITHOUT ever collecting the centroid table
    to the driver. Pins: (1) the tier builds and serves with the
    recall bound; (2) save() persists the model as parquet + manifest
    (no ann_centroids.json) and open() serves IDENTICAL results;
    (3) save-time deltas (add_embeddings + delete) keep delta ==
    rebuild semantics on the frame path; (4) the batch join serves
    through the frame probe."""
    import os

    from memvid_spark.operators.hnsw import CentroidFrame

    pairs = _unit_blob_pairs(n_blobs=6, per_blob=250)  # 1500 rows
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(
        n_cells=12, m=8, ef_construction=60, probes=4,
        frame_model_min_cells=8,  # force the frame path at test scale
    )
    assert isinstance(mv._ann_cents, CentroidFrame)
    assert mv._ann_meta["model"] == "frame"
    assert mv._ann_meta["n_cells"] == mv._ann_cents.n_cells
    q = _qvec(pairs, 3)
    approx = {
        r.vec_id for r in mv.search_embeddings(q, k=10, ann=True).collect()
    }
    exact = {r.vec_id for r in mv.search_embeddings(q, k=10).collect()}
    assert len(approx & exact) / 10 >= 0.8
    # batch join routes through _probe_cells_frame
    qdf = spark.createDataFrame(
        [(1, q)], "query_id long, query_vec array<double>"
    )
    batch = mv.search_embeddings_many(qdf, k=10, ann=True).collect()
    assert len(batch) == 10
    # save: parquet + manifest, no json model; reopened store identical
    path = str(tmp_path / "store")
    mv.save(path)
    assert os.path.exists(
        os.path.join(path, "ann_centroids.frame", "manifest.json")
    )
    assert not os.path.exists(os.path.join(path, "ann_centroids.json"))
    before = [
        (r.vec_id, r.score, r.rank)
        for r in mv.search_embeddings(q, k=10, ann=True).collect()
    ]
    mv2 = MemvidSpark.open(spark, path)
    assert isinstance(mv2._ann_cents, CentroidFrame)
    after = [
        (r.vec_id, r.score, r.rank)
        for r in mv2.search_embeddings(q, k=10, ann=True).collect()
    ]
    assert before == after
    # incremental maintenance on the frame path: upsert + tombstone at
    # save time must equal a fresh rebuild over the surviving track
    extra = _unit_blob_pairs(n_blobs=1, per_blob=40, start_id=100000)
    mv2.add_embeddings(extra)
    mv2.delete(7)
    mv2.save(path)  # routes refresh_ann_index -> apply_delta_ivf
    served = {r.vec_id for r in mv2.search_embeddings(q, k=20, ann=True).collect()}
    assert 7 not in served
    # truth: a fresh store + fresh frame-path build over the same rows
    mv3 = MemvidSpark.open(spark, path)
    assert isinstance(mv3._ann_cents, CentroidFrame)
    got = {
        r.vec_id
        for r in mv3.search_embeddings(q, k=10, ann=True).collect()
    }
    exact2 = {
        r.vec_id for r in mv3.search_embeddings(q, k=10).collect()
    }
    assert len(got & exact2) / 10 >= 0.8


def test_frame_model_drift_retrain_stays_frame(spark):
    """A drift retrain of a frame-model tier re-enters
    build_ann_serving with the persisted frame_model_min_cells — the
    model kind survives the retrain (auto-resize included)."""
    from memvid_spark.operators.hnsw import CentroidFrame

    pairs = _unit_blob_pairs(n_blobs=4, per_blob=300)
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(
        n_cells=10, m=8, ef_construction=60, probes=4,
        frame_model_min_cells=8,
    )
    assert mv._ann_meta["model"] == "frame"
    # force the retrain branch via the facade's own policy entry
    mv.build_ann_serving(
        n_cells=10, m=8, ef_construction=60, probes=4,
        frame_model_min_cells=mv._ann_meta["frame_model_min_cells"],
    )
    assert isinstance(mv._ann_cents, CentroidFrame)
    assert mv._ann_meta["model"] == "frame"


def test_refreshes_keep_served_index_partition_count(spark, tmp_path):
    """Each refresh's delta unions pass-through cells (the old
    partitions) with the rebuilt ones; the served index must stay at
    the opened index's partition count, not grow per upsert, and still
    equal a rebuild over the final track."""
    from memvid_spark.operators.hnsw import build_nsw_index_ivf

    mv = _store_with_vectors(spark)
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    path = str(tmp_path / "store")
    mv.save(path)
    re = MemvidSpark.open(spark, path)
    opened = re._ann_index.rdd.getNumPartitions()
    for t in range(3):
        new = _unit_blob_pairs(n_blobs=1, per_blob=10, start_id=9000 + 100 * t)
        re.add_embeddings(new)
        re.refresh_ann_index()
        assert re._ann_index.rdd.getNumPartitions() <= opened
    full = build_nsw_index_ivf(
        re._ann_active_track(), re._ann_cents, m=8, ef_construction=60
    )
    ra = sorted((r.cell, r.shard, r.vec_id, tuple(r.neighbors))
                for r in re._ann_index.collect())
    rb = sorted((r.cell, r.shard, r.vec_id, tuple(r.neighbors))
                for r in full.collect())
    assert ra == rb
