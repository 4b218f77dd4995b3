"""Distributed k-NN join: exactness at full probe, recall at partial
probe, and the no-crossJoin plan guarantee."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_ann_spark.operators import knn_join as kj
from duckdb_ann_spark.operators.knn_join import knn_join


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _brute_1nn(vecs_q, ids_q, vecs_b, ids_b, k):
    out = {}
    for qv, qid in zip(vecs_q, ids_q):
        d = ((vecs_b - qv) ** 2).sum(axis=1)
        order = np.lexsort((ids_b, d))[:k]
        out[qid] = [(int(ids_b[i]), float(d[i])) for i in order]
    return out


def test_full_probe_is_exact(spark, emb):
    queries = emb.where(F.col("vec_id") < 20)
    got = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=3, nlist=8, nprobe=8,
    ).collect()
    rows = emb.orderBy("vec_id").collect()
    vb = np.array([r["embedding"] for r in rows], dtype=np.float32)
    ib = np.array([r["vec_id"] for r in rows])
    want = _brute_1nn(vb[:20], ib[:20], vb, ib, 3)
    by_q = {}
    for r in got:
        by_q.setdefault(r["_q_vec_id"], []).append((r["vec_id"], r["_distance"]))
    assert set(by_q) == set(want)
    for qid, hits in by_q.items():
        assert [h[0] for h in sorted(hits, key=lambda h: (h[1], h[0]))] == [
            w[0] for w in want[qid]
        ], qid


def test_partial_probe_recall(spark, emb):
    queries = emb.where(F.col("vec_id") < 30)
    got = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=5, nlist=16, nprobe=6,
    ).collect()
    rows = emb.orderBy("vec_id").collect()
    vb = np.array([r["embedding"] for r in rows], dtype=np.float32)
    ib = np.array([r["vec_id"] for r in rows])
    want = _brute_1nn(vb[:30], ib[:30], vb, ib, 5)
    hits = 0
    for r in got:
        if r["vec_id"] in {w[0] for w in want[r["_q_vec_id"]]}:
            hits += 1
    assert hits >= 0.7 * 30 * 5, hits  # the reference's 70% floor


def test_no_cartesian_product(spark, emb):
    queries = emb.where(F.col("vec_id") < 10)
    df = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=2, nlist=8, nprobe=2,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _force_chunk_rows(monkeypatch, emb, rows):
    """Shrink the query chunk cap to `rows` query rows of `emb`'s dim."""
    dim = len(emb.first()["embedding"])
    monkeypatch.setattr(kj, "QUERY_CHUNK_MB", rows * 4 * dim / 2**20)


def _final_plan(df) -> str:
    """The executed plan after a collect: AQE's final plan only."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _exchanges(plan: str, key: str = "") -> tuple[int, int]:
    """→ (exchanges that run, exchanges reused from another branch),
    counting only plan nodes whose line contains `key`."""
    lines = [ln.split("+- ")[-1].lstrip(": ") for ln in plan.splitlines()
             if key in ln]
    ran = sum(ln.startswith("Exchange ") for ln in lines)
    return ran, sum(ln.startswith("ReusedExchange ") for ln in lines)


def test_blas_path_never_materializes_pairs(spark, emb, monkeypatch):
    """Fast-path plan shapes. One query chunk: scan → MapInArrow scoring
    with exactly TWO exchanges (the token-placed base gather + the
    window merge), the query side never on the wire, and no join
    operator. Several chunks: one scoring branch per chunk, all reading
    ONE base exchange (the others reuse it) — still two exchanges that
    run. A pair-materializing join (|q_cell| × |b_cell| vector rows on
    the wire) must never appear."""
    queries = emb.where(F.col("vec_id") < 10)

    def mk():
        return knn_join(
            queries, "vec_id", "embedding", emb, "vec_id", "embedding",
            k=2, nlist=8, nprobe=2,
        )

    plan = mk()._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "FlatMapCoGroupsInArrow" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 2, plan

    _force_chunk_rows(monkeypatch, emb, 3)  # 10 queries -> 4 chunks
    df = mk()
    assert len(df.collect()) == 10 * 2
    plan = _final_plan(df)
    assert plan.count("MapInArrow score") == 4, plan
    assert "CoGroup" not in plan, plan
    assert "Join" not in plan, plan
    assert _exchanges(plan) == (2, 3), plan


def test_exact_method_matches_blas_ids(spark, emb):
    queries = emb.where(F.col("vec_id") < 10)
    a = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=3, nlist=4, nprobe=4, method="exact",
    ).collect()
    b = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=3, nlist=4, nprobe=4, method="blas",
    ).collect()
    ka = {(r["_q_vec_id"], r["vec_id"]) for r in a}
    kb = {(r["_q_vec_id"], r["vec_id"]) for r in b}
    assert ka == kb


def test_salted_cogroup_matches_unsalted(spark, emb):
    """salt=s splits each probed cell's base rows over s scoring units
    without changing results: every base row lands in exactly one unit,
    each unit scores against its cell's whole probe list, and the window
    merge unions partial top-k. The salted plan stays on the broadcast
    scorer — no co-grouped exchange of the query side."""
    queries = emb.where(F.col("vec_id") < 25)
    kw = dict(k=3, nlist=8, nprobe=3)
    plain = knn_join(queries, "vec_id", "embedding", emb, "vec_id",
                     "embedding", **kw).collect()
    salted_df = knn_join(queries, "vec_id", "embedding", emb, "vec_id",
                         "embedding", salt=4, **kw)
    salted = salted_df.collect()
    key = lambda rows: sorted(
        (r["_q_vec_id"], r["vec_id"], round(r["_distance"], 6)) for r in rows
    )
    assert key(plain) == key(salted)
    plan = _final_plan(salted_df)
    assert "FlatMapCoGroupsInArrow" not in plan, plan
    assert "MapInArrow score" in plan, plan


def test_knn_join_auto_nlist(spark, sf_dir):
    """nlist=0 resolves via the sqrt-N cell rule (same as ivf_nlist=0)
    and still returns exactly k matches per query."""
    from duckdb_ann_spark.operators.knn_join import knn_join
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = knn_join(q, "qid", "embedding", emb, "vec_id", "embedding",
                   k=3, nlist=0, nprobe=16).toPandas()
    assert len(out) == 20 * 3
    self_hits = out[(out.qid == out.vec_id)]
    # BLAS path scores with the norms-trick GEMM: self-distance is
    # ~1e-7 f32 cancellation noise, not exactly 0
    assert len(self_hits) == 20 and (self_hits._distance < 1e-5).all()


def test_knn_join_auto_nprobe(spark, emb):
    """nprobe=0 resolves via the shared recall-calibrated rule — the
    knn_join twin of the ivf_nlist=0/nprobe=0 index pairing."""
    from duckdb_ann_spark.operators.knn_join import knn_join
    from pyspark.sql import functions as F

    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = knn_join(q, "qid", "embedding", emb, "vec_id", "embedding",
                   k=3, nlist=16, nprobe=0, n_rows=500)
    assert out.count() == 20 * 3


# ---------------------------------------------------------------------------
# index_knn_join: join against a PUBLISHED IVF index's cells
# ---------------------------------------------------------------------------

@pytest.fixture()
def ivf_cat(tmp_path):
    from duckdb_ann_spark.index import Catalog

    return Catalog(str(tmp_path / "indexes"))


def test_index_knn_join_fullprobe_matches_knn_join(spark, emb, ivf_cat):
    """At nprobe >= nlist both paths are exact, so joining against the
    published index must equal the freshly-trained join row-for-row
    (same ids AND same bit-exact distances on the exact method)."""
    from duckdb_ann_spark.index import create_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    create_index(emb, "vec_id", "embedding", "ikj", engine="faiss",
                 type="IVFFlat", ivf_nlist=8, nprobe=2, catalog=ivf_cat)
    queries = emb.where(F.col("vec_id") < 20)
    via_index = index_knn_join(
        spark, "ikj", queries, "vec_id", "embedding", k=3, nprobe=8,
        method="exact", catalog=ivf_cat,
    )
    fresh = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=3, nlist=8, nprobe=8, method="exact",
    )
    assert via_index.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(via_index).count() == 0


def test_index_knn_join_partial_probe_prunes_and_recalls(spark, emb, ivf_cat):
    """Partial probe: k rows per query, every query finds itself (each
    query IS a base row, and its own cell is always its nearest)."""
    from duckdb_ann_spark.index import create_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    create_index(emb, "vec_id", "embedding", "ikp", engine="faiss",
                 type="IVFFlat", ivf_nlist=16, nprobe=4, catalog=ivf_cat)
    q = emb.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = index_knn_join(
        spark, "ikp", q, "qid", "embedding", k=3, nprobe=6, catalog=ivf_cat,
    ).toPandas()
    assert len(out) == 30 * 3
    self_hits = out[out.qid == out.vec_id]
    assert len(self_hits) == 30 and (self_hits._distance < 1e-5).all()


def test_index_knn_join_prunes_unprobed_cells(spark, emb, ivf_cat):
    """Partial probe, both methods: the parquet scan of the index's
    cell-partitioned vectors reads only the cells some query probes
    (an `IN` partition filter on the cell column), and the pruned call
    returns what the full-probe scoring of the same probe sets does."""
    from duckdb_ann_spark.index import create_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    create_index(emb, "vec_id", "embedding", "ikpr", engine="faiss",
                 type="IVFFlat", ivf_nlist=16, nprobe=2, catalog=ivf_cat)
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    got = {}
    for method in ("blas", "exact"):
        df = index_knn_join(spark, "ikpr", q, "qid", "embedding", k=2,
                            method=method, catalog=ivf_cat)
        plan = df._jdf.queryExecution().executedPlan().toString()
        filters = [seg.split("]")[0]
                   for seg in plan.split("PartitionFilters: [")[1:]]
        assert any(f"{kj.CELL_COL}" in f and " IN (" in f
                   for f in filters), (method, plan)
        got[method] = sorted((r["qid"], r["vec_id"]) for r in df.collect())
    assert got["blas"] == got["exact"]
    assert len(got["exact"]) == 3 * 2


def test_index_knn_join_respects_tombstones(spark, emb, ivf_cat):
    from duckdb_ann_spark.index import create_index, delete_from_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    create_index(emb, "vec_id", "embedding", "ikd", engine="faiss",
                 type="IVFFlat", ivf_nlist=8, nprobe=8, catalog=ivf_cat)
    delete_from_index(spark, "ikd", [0, 1, 2], catalog=ivf_cat)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = index_knn_join(
        spark, "ikd", q, "qid", "embedding", k=4, catalog=ivf_cat
    ).toPandas()
    assert len(out) == 5 * 4
    assert not set(out.vec_id) & {0, 1, 2}


def test_index_knn_join_rejects_graph_engines(spark, emb, ivf_cat):
    from duckdb_ann_spark.index import create_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    create_index(emb, "vec_id", "embedding", "ikg", engine="diskann",
                 max_degree=8, build_complexity=16, catalog=ivf_cat)
    with pytest.raises(ValueError, match="IVFFlat"):
        index_knn_join(spark, "ikg", emb, "vec_id", "embedding", k=3,
                       catalog=ivf_cat)


# ---------------------------------------------------------------------------
# round 10: in-call measured probe calibration + target_recall
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def clustered(spark):
    """Clustered base (the regime the measurement exists for) + a small
    query side drawn from the same clusters."""
    import pandas as pd

    rng = np.random.default_rng(7)
    n_cl, n, dim = 16, 4_000, 32
    centers = rng.random((n_cl, dim), dtype=np.float32)
    mat = (
        centers[np.arange(n) % n_cl]
        + rng.normal(0, 0.02, (n, dim)).astype(np.float32)
    )
    base = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n), "embedding": list(mat)})
    )
    return base, mat, n


def test_knn_join_default_measures_clustered_probes(spark, clustered):
    """The DEFAULT call (nlist=0, nprobe=0) measures its fresh cells'
    probe curve in-call: on clustered data the resolved nprobe sits
    well below the static uniform rule, and recall still clears the
    0.70 floor."""
    from duckdb_ann_spark.index.ivf import auto_nlist, auto_nprobe

    base, mat, n = clustered
    q = base.where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    stats: dict = {}
    got = knn_join(
        q, "qid", "embedding", base, "vec_id", "embedding",
        k=5, n_rows=n, stats=stats,
    ).collect()
    assert stats["measured"] is True
    assert stats["nlist"] >= auto_nlist(n) // 2
    static = auto_nprobe(stats["nlist"], 32)
    assert stats["nprobe"] <= static // 2, (stats, static)
    want = _brute_1nn(mat[:40], np.arange(40), mat, np.arange(n), 5)
    hits = sum(
        1 for r in got if r["vec_id"] in {w[0] for w in want[r["qid"]]}
    )
    assert hits >= 0.70 * 40 * 5, hits


def test_knn_join_calibration_disabled_uses_static_rule(spark, clustered):
    from duckdb_ann_spark.index.ivf import auto_nprobe

    base, _, n = clustered
    q = base.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    stats: dict = {}
    out = knn_join(
        q, "qid", "embedding", base, "vec_id", "embedding",
        k=3, n_rows=n, calibration_queries=0, stats=stats,
    )
    assert out.count() == 15
    assert stats["measured"] is False
    assert stats["nprobe"] == min(auto_nprobe(stats["nlist"], 32),
                                  stats["nlist"])


def test_knn_join_target_recall(spark, clustered):
    """target_recall resolves probes from the in-call curve; validation
    errors fire before any distributed work."""
    base, mat, n = clustered
    q = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    s_hi: dict = {}
    got = knn_join(
        q, "qid", "embedding", base, "vec_id", "embedding",
        k=5, n_rows=n, target_recall=1.0, stats=s_hi,
    ).collect()
    s_def: dict = {}
    knn_join(
        q.limit(1), "qid", "embedding", base, "vec_id", "embedding",
        k=5, n_rows=n, stats=s_def,
    ).count()
    assert s_hi["nprobe"] >= s_def["nprobe"]
    want = _brute_1nn(mat[:20], np.arange(20), mat, np.arange(n), 5)
    hits = sum(
        1 for r in got if r["vec_id"] in {w[0] for w in want[r["qid"]]}
    )
    assert hits >= 0.85 * 20 * 5, hits  # 1.0 cell-coverage target

    with pytest.raises(ValueError, match="not both"):
        knn_join(q, "qid", "embedding", base, "vec_id", "embedding",
                 k=3, n_rows=n, nprobe=4, target_recall=0.9)
    with pytest.raises(ValueError, match=r"in \(0, 1\]"):
        knn_join(q, "qid", "embedding", base, "vec_id", "embedding",
                 k=3, n_rows=n, target_recall=1.5)
    with pytest.raises(ValueError, match="calibration_queries"):
        knn_join(q, "qid", "embedding", base, "vec_id", "embedding",
                 k=3, n_rows=n, calibration_queries=0, target_recall=0.9)


def test_index_knn_join_target_recall(spark, clustered, tmp_path):
    """The published-index join accepts target_recall with the
    index_scan contract: resolve from the stored curve, loud failure on
    unmeasured artifacts, not-both validation."""
    from duckdb_ann_spark.index import Catalog, create_index, drop_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    base, mat, n = clustered
    cat = Catalog(str(tmp_path / "ikj_tr"))
    m = create_index(base, "vec_id", "embedding", "ikj_tr", engine="faiss",
                     type="IVFFlat", ivf_nlist=0, nprobe=0, catalog=cat)
    assert m["calibration"] is not None
    q = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    got = index_knn_join(
        spark, "ikj_tr", q, "qid", "embedding", k=5, catalog=cat,
        target_recall=0.99,
    ).collect()
    assert len(got) == 20 * 5
    want = _brute_1nn(mat[:20], np.arange(20), mat, np.arange(n), 5)
    hits = sum(
        1 for r in got if r["vec_id"] in {w[0] for w in want[r["qid"]]}
    )
    assert hits >= 0.80 * 20 * 5, hits
    with pytest.raises(ValueError, match="not both"):
        index_knn_join(spark, "ikj_tr", q, "qid", "embedding", k=3,
                       catalog=cat, nprobe=2, target_recall=0.9)
    drop_index("ikj_tr", cat)
    # pinned-nprobe build records no curve -> loud failure
    create_index(base, "vec_id", "embedding", "ikj_pin", engine="faiss",
                 type="IVFFlat", ivf_nlist=16, nprobe=4, catalog=cat)
    with pytest.raises(ValueError, match="no measured recall curve"):
        index_knn_join(spark, "ikj_pin", q, "qid", "embedding", k=3,
                       catalog=cat, target_recall=0.9)
    drop_index("ikj_pin", cat)


def test_broadcast_path_matches_cogroup(spark, emb):
    """Broadcast scoring vs the `method='exact'` equi-join at the same
    (nlist, nprobe): the driver-side probe lists are bit-identical to
    the distributed assignment pass (`_driver_probe_csr`), so the
    (query, base) id sets must be identical and the distances equal to
    the f32 GEMM's rounding. Covers partial probe, k larger than a cell,
    and all three metrics."""
    queries = emb.where(F.col("vec_id") < 25)

    def run(**kw):
        return sorted(
            (r["_q_vec_id"], r["vec_id"], r["_distance"])
            for r in knn_join(
                queries, "vec_id", "embedding", emb, "vec_id", "embedding",
                calibration_queries=0, **kw,
            ).collect()
        )

    for metric in ("l2", "ip", "cosine"):
        for k, nlist, nprobe in ((3, 8, 3), (40, 16, 16)):
            a = run(metric=metric, k=k, nlist=nlist, nprobe=nprobe)
            b = run(metric=metric, k=k, nlist=nlist, nprobe=nprobe,
                    method="exact")
            assert [(x[0], x[1]) for x in a] == [(x[0], x[1]) for x in b], (
                metric, k)
            assert np.allclose(
                [x[2] for x in a], [x[2] for x in b], rtol=1e-4, atol=1e-5
            ), (metric, k)


def test_broadcast_path_falls_back_over_cap(spark, emb, ivf_cat,
                                            monkeypatch):
    """A query side over the chunk cap is collected and broadcast in
    chunks of at most the cap: the ids equal the one-chunk call, for
    `knn_join` and for `index_knn_join` over tombstones. Every chunk's
    scoring branch reads the one base exchange (reused, not re-run),
    and nothing co-groups or joins the query side."""
    from duckdb_ann_spark.index import create_index, delete_from_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    queries = emb.where(F.col("vec_id") < 25)
    create_index(emb, "vec_id", "embedding", "kjc_idx", engine="faiss",
                 type="IVFFlat", ivf_nlist=8, nprobe=3, catalog=ivf_cat)
    delete_from_index(spark, "kjc_idx", [3, 7], catalog=ivf_cat)
    calls = {
        "knn_join": lambda: knn_join(
            queries, "vec_id", "embedding", emb, "vec_id", "embedding",
            k=2, nlist=8, nprobe=2,
        ),
        "index_knn_join": lambda: index_knn_join(
            spark, "kjc_idx", queries, "vec_id", "embedding", k=2,
            catalog=ivf_cat,
        ),
    }
    one = {
        name: sorted((r["_q_vec_id"], r["vec_id"]) for r in mk().collect())
        for name, mk in calls.items()
    }
    _force_chunk_rows(monkeypatch, emb, 8)  # 25 queries -> >= 4 chunks
    for name, mk in calls.items():
        df = mk()
        got = sorted((r["_q_vec_id"], r["vec_id"]) for r in df.collect())
        assert got == one[name], name
        assert len(got) == 25 * 2, name
        plan = _final_plan(df)
        chunks = plan.count("MapInArrow score")
        assert chunks >= 3, (name, plan)
        assert "CoGroup" not in plan, (name, plan)
        # the only join is index_knn_join's broadcast tombstone anti-join
        joins = [ln for ln in plan.splitlines() if "Join" in ln]
        assert all("BroadcastHashJoin" in ln and "LeftAnti" in ln
                   for ln in joins), (name, plan)
        if name == "knn_join":
            assert not joins, plan
        # one base exchange runs; every further chunk reuses it
        assert _exchanges(plan, "__tok") == (1, chunks - 1), plan
    assert not any(bid in (3, 7) for _, bid in one["index_knn_join"])


def test_index_broadcast_path_matches_cogroup(spark, emb, ivf_cat):
    """index_knn_join broadcast scoring vs `method='exact'` at the
    index's own nprobe, including the tombstone anti-join riding in
    front of the scoring."""
    from duckdb_ann_spark.index import create_index, delete_from_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    create_index(emb, "vec_id", "embedding", "kjb_idx", engine="faiss",
                 type="IVFFlat", ivf_nlist=8, nprobe=3, catalog=ivf_cat)
    delete_from_index(spark, "kjb_idx", [3, 7], catalog=ivf_cat)
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    def run(**kw):
        return sorted(
            (r["qid"], r["vec_id"])
            for r in index_knn_join(
                spark, "kjb_idx", queries, "qid", "embedding", k=4,
                catalog=ivf_cat, **kw,
            ).collect()
        )

    a = run()
    b = run(method="exact")
    assert a == b
    assert not any(bid in (3, 7) for _, bid in a)


def test_lpt_bins_balance_and_zero_mass():
    """LPT packs heaviest-first into the lightest bin; zero-estimate
    cells round-robin instead of piling into bin 0."""
    from duckdb_ann_spark.functions.partitioning import lpt_bins

    mass = np.array([100.0, 90.0, 10.0, 10.0, 0.0, 0.0, 0.0, 0.0])
    bins = lpt_bins(mass, 2)
    loads = [np.maximum(mass, 1.0)[bins == b].sum() for b in (0, 1)]
    assert abs(loads[0] - loads[1]) <= np.maximum(mass, 1.0).max(), loads
    # the ADVICE scenario: ALL cells zero-estimate — without the unit
    # epsilon every (0.0 + 0.0) push kept bin 0 the heap minimum and
    # the whole set piled into one task
    bins0 = lpt_bins(np.zeros(16), 4)
    counts = np.bincount(bins0, minlength=4)
    assert counts.max() == 4, counts


def test_cell_tokens_prune_and_place():
    """Unprobed cells get token -1 (pruned pre-exchange); probed cells'
    tokens hash-place into distinct partitions of the bin count."""
    from duckdb_ann_spark.functions.partitioning import murmur3_hash_int
    from duckdb_ann_spark.operators.knn_join import _cell_tokens

    # 6 cells, cells 1 and 4 unprobed
    bounds = np.array([0, 2, 2, 5, 9, 9, 12])
    tokens, n_bins = _cell_tokens(np.diff(bounds), None, par=2)
    assert tokens[1] == -1 and tokens[4] == -1
    probed = [0, 2, 3, 5]
    parts = {murmur3_hash_int(int(tokens[c])) % n_bins for c in probed}
    assert len(parts) == min(len(probed), n_bins)
    # salt=3: unit cell*3 + sub; both unprobed cells keep all units
    # pruned, and the 12 probed units spread over 2×par distinct bins
    tokens, n_bins = _cell_tokens(np.diff(bounds), None, par=2, salt=3)
    assert tokens.shape == (18,) and n_bins == 4
    assert (tokens.reshape(6, 3)[[1, 4]] == -1).all()
    units = tokens.reshape(6, 3)[probed].ravel()
    assert {murmur3_hash_int(int(t)) % n_bins for t in units} == set(
        range(n_bins))
    # one cell's rows spread evenly over its 3 units by the id mixer
    from duckdb_ann_spark.functions.partitioning import unit_tokens

    t = unit_tokens(np.arange(18), 3, np.full(3000, 2), np.arange(3000))
    assert set(t.tolist()) == {6, 7, 8}
    assert np.bincount(t)[6:].min() > 900, np.bincount(t)


def test_empty_query_side_returns_typed_empty_frame(spark, emb, ivf_cat):
    """No query rows → 0 result rows with the (query id, base id,
    _distance) schema, from both join surfaces."""
    from duckdb_ann_spark.index import create_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    create_index(emb, "vec_id", "embedding", "kje_idx", engine="faiss",
                 type="IVFFlat", ivf_nlist=8, nprobe=2, catalog=ivf_cat)
    none = emb.where(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    for df in (
        knn_join(none, "qid", "embedding", emb, "vec_id", "embedding",
                 k=3, nlist=8, nprobe=2),
        index_knn_join(spark, "kje_idx", none, "qid", "embedding", k=3,
                       catalog=ivf_cat),
    ):
        assert df.collect() == []
        assert [(f.name, f.dataType.simpleString())
                for f in df.schema.fields] == [
            ("qid", "bigint"), ("vec_id", "bigint"), ("_distance", "double")
        ]


def test_k_larger_than_base_returns_every_row(spark):
    """k > n: each query gets min(k, n) rows — every base row, ranked."""
    rng = np.random.default_rng(3)
    mat = rng.random((12, 4), dtype=np.float32)
    base = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )
    q = base.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    for salt in (1, 3):
        got = knn_join(q, "qid", "embedding", base, "vec_id", "embedding",
                       k=50, nlist=3, nprobe=3, n_rows=12, salt=salt,
                       calibration_queries=0).collect()
        want = _brute_1nn(mat[:5], np.arange(5), mat, np.arange(12), 50)
        by_q: dict = {}
        for r in sorted(got, key=lambda r: (r["_distance"], r["vec_id"])):
            by_q.setdefault(r["qid"], []).append(r["vec_id"])
        assert by_q == {q_: [w[0] for w in ws] for q_, ws in want.items()}


def test_knn_join_jobs_per_call(spark, emb, monkeypatch):
    """Jobs per call at a fixed nlist/nprobe, no calibration, n_rows
    given: one chunk = the train-sample collect, the query probe, the
    base exchange, the window exchange and the result (5). Over the
    cap, the bucket count (2 jobs) and one collect per chunk add on;
    the reused base exchange adds none (4 chunks → 11)."""
    queries = emb.where(F.col("vec_id") < 25)
    sc = spark.sparkContext

    def jobs(group):
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            rows = knn_join(
                queries, "vec_id", "embedding", emb, "vec_id", "embedding",
                k=2, nlist=8, nprobe=2, n_rows=500, calibration_queries=0,
            ).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == 25 * 2
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("knn_jobs_one_chunk") == 5
    _force_chunk_rows(monkeypatch, emb, 8)  # 25 queries -> 4 chunks
    assert jobs("knn_jobs_four_chunks") == 11


def test_driver_holds_one_query_chunk_at_a_time(spark, emb, monkeypatch):
    """Over the cap, each chunk's query matrix is released before the
    next chunk is collected, so the driver's Python process holds one
    chunk at a time. (Spark's block manager keeps every chunk's
    broadcast; this test does not see that store.)"""
    import weakref

    refs: list = []
    live_at_collect: list = []
    real = kj._np_queries

    def spy(*args):
        live_at_collect.append(sum(r() is not None for r in refs))
        out = real(*args)
        refs.append(weakref.ref(out[1]))
        return out

    monkeypatch.setattr(kj, "_np_queries", spy)
    _force_chunk_rows(monkeypatch, emb, 8)  # 25 queries -> 4 chunks
    rows = knn_join(
        emb.where(F.col("vec_id") < 25), "vec_id", "embedding", emb,
        "vec_id", "embedding", k=2, nlist=8, nprobe=2,
    ).collect()
    assert len(rows) == 25 * 2
    assert len(refs) == 4
    assert live_at_collect == [0, 0, 0, 0]
