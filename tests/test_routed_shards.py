"""shard_by='cells' — kmeans-routed graph shards (the SPANN/clustered-
DiskANN shape, beyond-reference): search probes only the `route_nprobe`
nearest shards instead of fanning out to every shard, so per-query work
stays ~constant as the corpus grows. Default shard_by='hash' keeps the
original full-fan-out semantics untouched."""

import os

import pytest
from pyspark.sql import functions as F

from duckdb_ann_spark.index import (
    Catalog,
    create_index,
    drop_index,
    index_scan,
    insert_into_index,
    vacuum_index,
)
from duckdb_ann_spark.operators.topk import topk


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "indexes"))


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def qvec(emb):
    row = emb.where(F.col("vec_id") == 0).select("embedding").head()
    return [float(x) for x in row[0]]


def _brute_ids(emb, qvec, k):
    return [
        r.vec_id
        for r in topk(emb, "embedding", qvec, k, "l2", id_col="vec_id").collect()
    ]


@pytest.mark.parametrize("engine,opts", [
    ("diskann", dict(max_degree=16, build_complexity=32)),
    ("faiss", dict(type="HNSW", hnsw_m=8)),
])
def test_routed_full_probe_exact(spark, emb, qvec, cat, engine, opts):
    """route_nprobe >= shards + exhaustive search_complexity degenerates
    to the exact global top-k for BOTH graph engines — cell routing only
    removes shards a query never needed."""
    n = emb.count()
    create_index(
        emb, "vec_id", "embedding", "rex", engine=engine, shards=4,
        shard_by="cells", route_nprobe=4, catalog=cat, **opts,
    )
    got = [
        r.vec_id
        for r in index_scan(spark, "rex", [qvec], k=10,
                            search_complexity=int(n), catalog=cat)
        .orderBy("_distance", "vec_id").collect()
    ]
    assert got == _brute_ids(emb, qvec, 10)
    drop_index("rex", cat)


def test_routed_partial_probe_recall(spark, emb, qvec, cat):
    """64 cells, auto route_nprobe (47 of 64 here — the routed rule
    inflates the IVF flat-scan rule 1.6x to budget for the per-shard
    graph-search miss, see ivf.auto_route_nprobe): the probed subset
    must clear the reference's >=7/10 recall floor on ~uniform data at
    a >=64-cell config, where the rule is genuinely partial."""
    from duckdb_ann_spark.index.ivf import auto_route_nprobe

    create_index(
        emb, "vec_id", "embedding", "rpp", engine="diskann", max_degree=16,
        build_complexity=32, shards=64, shard_by="cells", catalog=cat,
    )
    assert auto_route_nprobe(64, 64) < 64  # genuinely partial here
    # tiny shard counts resolve to full fan-out (their own full fan-out
    # recall is the ceiling; see the calibration table)
    assert auto_route_nprobe(16, 64) == 16
    got = [
        r.vec_id
        for r in index_scan(spark, "rpp", [qvec], k=10, catalog=cat)
        .collect()
    ]
    assert len(got) == 10
    assert len(set(got) & set(_brute_ids(emb, qvec, 10))) >= 7


def test_routed_distributed_batch(spark, emb, cat):
    """> DISTRIBUTE_THRESHOLD queries take the executor fan-out path;
    routing must hold there too (each task touches only the shards its
    own queries probe) and every query still gets k rows."""
    create_index(
        emb, "vec_id", "embedding", "rdb", engine="diskann", max_degree=16,
        build_complexity=32, shards=16, shard_by="cells", catalog=cat,
    )
    qs = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    rows = index_scan(spark, "rdb", qs, k=5, catalog=cat).collect()
    assert len(rows) == 16 * 5
    # self-match: each query vector is its own nearest neighbor
    best = {
        r["query_idx"]: r["vec_id"]
        for r in sorted(rows, key=lambda r: -r["_distance"])
    }
    assert sum(1 for qi, vid in best.items() if qi == vid) >= 14


def test_routed_append_targets_nearest_cell(spark, emb, cat):
    """A routed append rewrites exactly the shard files owning the new
    rows' nearest centroids — never the smallest shard — so spatial
    locality (and with it probe recall) survives appends."""
    import hashlib

    import numpy as np

    create_index(
        emb, "vec_id", "embedding", "rap", engine="diskann", max_degree=16,
        build_complexity=32, shards=8, shard_by="cells", catalog=cat,
    )
    d = cat.path("rap")
    gdir = os.path.join(d, "graph")

    def digests():
        return {
            f: hashlib.md5(open(os.path.join(gdir, f), "rb").read()).hexdigest()
            for f in os.listdir(gdir)
        }

    before = digests()
    # clone one existing row (id offset far above the corpus): its
    # nearest routing centroid is its original's cell by construction
    src = emb.where(F.col("vec_id") == 7)
    new = src.select((F.col("vec_id") + 10_000_000).alias("vec_id"),
                     "embedding")
    insert_into_index(spark, "rap", new, cat)
    after = digests()
    changed = [f for f in before if before[f] != after.get(f)]
    assert len(changed) == 1, changed
    # the changed shard is the one whose centroid is nearest the vector
    route = spark.read.parquet(os.path.join(d, "route")).collect()
    cents = np.array(
        [r["centroid"] for r in sorted(route, key=lambda r: r["shard"])],
        dtype=np.float32,
    )
    v = np.array(src.head()["embedding"], dtype=np.float32)
    want_cell = int(((cents - v) ** 2).sum(axis=1).argmin())
    assert changed == [f"shard_{want_cell}.diskann"]
    # and the clone is findable
    q = [float(x) for x in v]
    got = {
        r.vec_id
        for r in index_scan(spark, "rap", [q], k=5, catalog=cat).collect()
    }
    assert 10_000_007 in got and 7 in got


def test_routed_append_flags_overgrown_shard(spark, emb, cat, monkeypatch):
    """Routed appends have no overflow shard by design (spatial locality
    must hold), so an append that grows a cell past APPEND_SHARD_CAP
    warns and sets needs_vacuum in the manifest — the caller's cue that
    the vacuum/retrain rebalance is due — and vacuum clears the flag."""
    from duckdb_ann_spark.index.vamana import VamanaEngine

    create_index(
        emb, "vec_id", "embedding", "rcap", engine="diskann", max_degree=16,
        build_complexity=32, shards=4, shard_by="cells", catalog=cat,
    )
    monkeypatch.setattr(VamanaEngine, "APPEND_SHARD_CAP", 1)
    new = emb.where(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    with pytest.warns(UserWarning, match="needs.*vacuum|vacuum_index"):
        m = insert_into_index(spark, "rcap", new, cat)
    assert m.get("needs_vacuum") is True
    monkeypatch.setattr(VamanaEngine, "APPEND_SHARD_CAP", 25_000)
    m = vacuum_index(spark, "rcap", catalog=cat)
    assert m.get("needs_vacuum") is False


def test_routed_vacuum_retrains_route(spark, emb, cat):
    """Vacuum rebuilds a routed index with a fresh routing table (the
    rebalance path for overgrown cells) and search still works."""
    from duckdb_ann_spark.index import delete_from_index

    create_index(
        emb, "vec_id", "embedding", "rvac", engine="diskann", max_degree=16,
        build_complexity=32, shards=8, shard_by="cells", catalog=cat,
    )
    delete_from_index(spark, "rvac", [0, 1, 2], catalog=cat)
    m = vacuum_index(spark, "rvac", catalog=cat)
    assert m["num_deleted"] == 0
    assert os.path.isdir(os.path.join(cat.path("rvac"), "route"))
    q = [0.0] * 64
    rows = index_scan(spark, "rvac", [q], k=5, catalog=cat).collect()
    assert len(rows) == 5
    assert not {0, 1, 2} & {r.vec_id for r in rows}


def test_routed_missing_shard_degrades(spark, emb, qvec, cat):
    """A route/shard-file mismatch (here: a shard file deleted out from
    under the index) must degrade to searching what exists — never an
    empty result or a crash."""
    create_index(
        emb, "vec_id", "embedding", "rmiss", engine="diskann", max_degree=16,
        build_complexity=32, shards=8, shard_by="cells", catalog=cat,
    )
    gdir = os.path.join(cat.path("rmiss"), "graph")
    victim = sorted(os.listdir(gdir))[0]
    os.remove(os.path.join(gdir, victim))
    rows = index_scan(spark, "rmiss", [qvec], k=5, catalog=cat).collect()
    assert len(rows) == 5


def test_shard_by_validation():
    from duckdb_ann_spark.index.params import DiskannParams, FaissParams

    with pytest.raises(ValueError, match="shard_by"):
        DiskannParams(shard_by="bogus")
    with pytest.raises(ValueError, match="route_nprobe"):
        DiskannParams(route_nprobe=-1)
    with pytest.raises(ValueError, match="shard_by"):
        FaissParams(shard_by="bogus")
    assert DiskannParams(shard_by="CELLS").shard_by == "cells"
    # manifests carry the routing params so vacuum/merge rebuilds keep them
    assert DiskannParams(shard_by="cells").to_manifest()["shard_by"] == "cells"
    assert FaissParams(shard_by="cells").to_manifest()["route_nprobe"] == 0


def test_hash_default_writes_no_route(spark, emb, cat):
    """shard_by defaults to 'hash': no routing table, full fan-out —
    byte-for-byte the pre-round-6 behavior."""
    create_index(
        emb, "vec_id", "embedding", "rhash", engine="diskann", max_degree=16,
        build_complexity=32, shards=4, catalog=cat,
    )
    assert not os.path.isdir(os.path.join(cat.path("rhash"), "route"))


@pytest.mark.parametrize("engine,opts", [
    ("diskann", dict(max_degree=16, build_complexity=32)),
    # SQ8 leg: the quantized artifact must survive the same cycle —
    # routed appends re-quantize rewritten shards, vacuum rebuilds from
    # the full-precision body, search serves from the u8 code view
    ("diskann", dict(max_degree=16, build_complexity=32,
                     quantization="sq8")),
    ("faiss", dict(type="HNSW", hnsw_m=8)),
])
def test_routed_churn_cycle(spark, cat, engine, opts):
    """Round-8 (r7 verdict #7): the full churn cycle on a routed index
    of EACH graph engine — append 10%, delete 5%, vacuum (retrains the
    routing), search — with the recall floor held against exact ground
    truth over the SURVIVING rows, appended rows reachable and deleted
    rows gone. (The 100k version runs in the gated scale smoke,
    tests/test_scale_smoke.py.)"""
    import numpy as np

    from duckdb_ann_spark.index import delete_from_index, index_scan

    dim, n, n_app = 32, 4000, 400
    rng = np.random.default_rng(88)
    base = spark.range(n).withColumn(
        "embedding", F.array(*[F.rand(900 + j).cast("float")
                               for j in range(dim)]),
    ).select(F.col("id").alias("vec_id"), "embedding").persist()
    base.count()
    create_index(
        base, "vec_id", "embedding", "churn", engine=engine, shards=8,
        shard_by="cells", catalog=cat, **opts,
    )
    # append 10% (fresh ids, same distribution)
    appended = spark.range(n, n + n_app).withColumn(
        "embedding", F.array(*[F.rand(1900 + j).cast("float")
                               for j in range(dim)]),
    ).select(F.col("id").alias("vec_id"), "embedding").persist()
    appended.count()
    insert_into_index(spark, "churn", appended, cat)
    # delete 5% (every 20th id of the original corpus)
    deleted = list(range(0, n, 20))
    delete_from_index(spark, "churn", deleted, catalog=cat)
    # vacuum: rebuild without tombstones + RETRAIN the routing
    vacuum_index(spark, "churn", cat)
    assert os.path.isdir(os.path.join(cat.path("churn"), "route"))

    # exact ground truth over the survivors
    surv = base.unionByName(appended).where(
        ~F.col("vec_id").isin(deleted)
    ).orderBy("vec_id").toPandas()
    mat = np.array(surv["embedding"].tolist(), dtype=np.float32)
    ids = surv["vec_id"].to_numpy()
    queries = rng.random((20, dim), dtype=np.float32)
    k = 10
    hits = 0
    rows = index_scan(spark, "churn", queries, k, catalog=cat).collect()
    assert len(rows) == 20 * k
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(r["query_idx"], set()).add(r["vec_id"])
    for qi, q in enumerate(queries):
        d = ((mat - q) ** 2).sum(axis=1)
        truth = set(ids[np.lexsort((ids, d))[:k]].tolist())
        hits += len(got.get(qi, set()) & truth)
    assert hits / (20 * k) >= 0.70
    # tombstoned ids never surface; appended ids are reachable
    all_got = set().union(*got.values())
    assert not all_got & set(deleted)
    app_rows = index_scan(
        spark, "churn", [
            [float(x) for x in surv[surv.vec_id == n]["embedding"].iloc[0]]
        ], k=1, catalog=cat,
    ).collect()
    assert app_rows[0]["vec_id"] == n  # its own nearest neighbor
    base.unpersist(); appended.unpersist()
    drop_index("churn", cat)


def test_shard_by_auto_resolution(spark, cat):
    """Round-8: shard_by defaults to 'auto' — resolved at build time to
    'cells' past 8 shards (routing table written, manifest records the
    resolved value) and 'hash' at <=8 (no routing table); explicit
    'hash' is honored at any shard count."""
    import json

    dim = 16
    base = spark.range(1200).withColumn(
        "embedding", F.array(*[F.rand(70 + j).cast("float")
                               for j in range(dim)]),
    ).select(F.col("id").alias("vec_id"), "embedding")

    m = create_index(base, "vec_id", "embedding", "auto_big",
                     engine="diskann", max_degree=8, build_complexity=16,
                     shards=12, catalog=cat)
    assert m["params"]["shard_by"] == "cells"
    assert os.path.isdir(os.path.join(cat.path("auto_big"), "route"))

    m = create_index(base, "vec_id", "embedding", "auto_small",
                     engine="diskann", max_degree=8, build_complexity=16,
                     shards=4, catalog=cat)
    assert m["params"]["shard_by"] == "hash"
    assert not os.path.isdir(os.path.join(cat.path("auto_small"), "route"))

    m = create_index(base, "vec_id", "embedding", "forced_hash",
                     engine="faiss", type="HNSW", hnsw_m=8, shards=12,
                     shard_by="hash", catalog=cat)
    assert m["params"]["shard_by"] == "hash"
    assert not os.path.isdir(os.path.join(cat.path("forced_hash"), "route"))

    # the resolved value survives vacuum (rebuild keeps the layout)
    vacuum_index(spark, "auto_big", cat)
    with open(os.path.join(cat.path("auto_big"), "manifest.json")) as f:
        assert json.load(f)["params"]["shard_by"] == "cells"
    assert os.path.isdir(os.path.join(cat.path("auto_big"), "route"))
    for n in ("auto_big", "auto_small", "forced_hash"):
        drop_index(n, cat)


def test_cell_split_guard_on_degenerate_clustering(spark):
    """Round 15: k-means gives NO balance guarantee — on uniform
    high-dim data it collapses outright (measured: k=667 over 1M x 768
    put 96.9% of rows in 4 cells, turning the 10x-budget mega-cells
    into hour-long straggler builds far past the degree's recall
    capacity). The cell-size guard estimates per-cell mass from the
    train sample and hash-splits any cell past 2x the per-shard budget
    into budget-sized sub-shards; each sub-shard carries its cell's
    centroid in the route table (duplicated rows), so serve-time
    ranking ties a split cell's sub-shards adjacent and route_nprobe
    stays a per-shard work budget. The routing curve maps candidates
    to their TRUE hash sub-shard (argmin over duplicates would claim
    one probe covers a whole split cell — the first cut of this guard
    measured recall 0.102 from exactly that)."""
    import numpy as np

    import pyarrow.parquet as pq

    from duckdb_ann_spark.index import (
        Catalog, create_index, drop_index, index_scan,
    )

    cat = Catalog(str(spark.conf.get("spark.sql.warehouse.dir")).replace(
        "file:", "") + "/split_cat")
    rng = np.random.default_rng(9)
    n, dim = 4000, 32
    blob = rng.normal(0.5, 0.01, (int(n * 0.85), dim)).astype(np.float32)
    rest = rng.random((n - len(blob), dim), dtype=np.float32)
    mat = np.vstack([blob, rest])
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    drop_index("splitchk", cat)
    create_index(df, "vec_id", "embedding", "splitchk", engine="diskann",
                 max_degree=16, build_complexity=32, shards=8,
                 shard_by="cells", catalog=cat)
    m = cat.load("splitchk")
    # the blob cell(s) split: more shard files than asked cells
    assert m["shards"] > 8, m["shards"]
    rt = pq.read_table(f"{cat.path('splitchk')}/route").to_pandas()
    ids = sorted(rt["shard"])
    assert ids == list(range(len(ids))), ids[:10]  # dense
    cents = np.array(rt.sort_values("shard")["centroid"].tolist())
    assert len(np.unique(cents, axis=0)) < len(cents)  # duplicated rows
    qs = mat[:50]
    got = index_scan(spark, "splitchk", qs, 10, catalog=cat).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_idx"], set()).add(r["vec_id"])
    d = ((mat[None, :, :] - qs[:, None, :]) ** 2).sum(-1)
    truth = [set(np.argsort(x)[:10].tolist()) for x in d]
    rec = sum(len(by_q.get(i, set()) & truth[i]) for i in range(50)) / 500
    assert rec >= 0.70, rec
    drop_index("splitchk", cat)


def test_cell_pack_identical_artifacts_and_gate(spark, cat, monkeypatch,
                                                capfd):
    """Round 15 (optimization): cell PACKING — when a routed build has
    far more cells than cores, multiple cells share one shuffle
    partition via mass-balanced (LPT) bins, cutting task count and
    shuffle blocks ~8x (the 10M tier's 6667-partition exchange measured
    75-86s of pure schedule+shuffle floor vs 13.6-14.6s at 834). Every
    cell still builds alone from its own id-sorted rows inside the task
    loop, so the ARTIFACT must be byte-identical: same shard files,
    same labels, same route table, same manifest shard count. The
    <= 8x-parallelism gate keeps small builds (all bench/oracle
    layouts) on the historical one-cell-per-partition placement."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    from duckdb_ann_spark.index import create_index, drop_index

    rng = np.random.default_rng(31)
    n, dim = 2400, 24
    mat = rng.random((n, dim), dtype=np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    # 80 cells > 8 x local[8] parallelism -> packing engages by default
    par = spark.sparkContext.defaultParallelism
    shards = max(80, 8 * par + 16)

    def _build(name, pack_env):
        monkeypatch.setenv("SPARK_GRAFT_CELL_PACK", pack_env)
        drop_index(name, cat)
        create_index(df, "vec_id", "embedding", name, engine="diskann",
                     max_degree=8, build_complexity=16, shards=shards,
                     shard_by="cells", catalog=cat)
        root = cat.path(name)
        files = {
            os.path.basename(p): open(p, "rb").read()
            for p in glob.glob(f"{root}/graphs/shard_*.diskann")
        }
        labels = (
            pq.read_table(f"{root}/labels")
            .to_pandas()
            .sort_values(["shard", "label"])
            .reset_index(drop=True)
        )
        route = (
            pq.read_table(f"{root}/route")
            .to_pandas()
            .sort_values("shard")
            .reset_index(drop=True)
        )
        m = cat.load(name)
        return files, labels, route, m

    files_off, labels_off, route_off, m_off = _build("pack_off", "0")
    files_on, labels_on, route_on, m_on = _build("pack_on", "8")

    assert m_on["shards"] == m_off["shards"]
    assert set(files_on) == set(files_off)
    mismatched = [f for f in files_off if files_on[f] != files_off[f]]
    assert not mismatched, mismatched[:5]
    assert labels_on.equals(labels_off)
    assert route_on["shard"].tolist() == route_off["shard"].tolist()
    assert np.array_equal(
        np.array(route_on["centroid"].tolist()),
        np.array(route_off["centroid"].tolist()),
    )

    # gate: a small build (cells <= 8x parallelism) must NOT pack even
    # with the env set — exercised for real (r15 ADVICE: the old
    # spelling asserted a tautology instead of building): the
    # [build-phase] trace of a gated build carries no cell-pack line,
    # while the packed build above does
    monkeypatch.setenv("SPARK_GRAFT_BUILD_PHASES", "1")
    monkeypatch.setenv("SPARK_GRAFT_CELL_PACK", "8")
    capfd.readouterr()
    small = 8 * par  # at the gate boundary
    drop_index("pack_gate", cat)
    create_index(df, "vec_id", "embedding", "pack_gate", engine="diskann",
                 max_degree=8, build_complexity=16, shards=small,
                 shard_by="cells", catalog=cat)
    out = capfd.readouterr().out
    assert "cell-pack" not in out, out
    drop_index("pack_gate", cat)
    monkeypatch.delenv("SPARK_GRAFT_BUILD_PHASES")
    # and the packed build DOES announce the packing (same trace)
    monkeypatch.setenv("SPARK_GRAFT_BUILD_PHASES", "1")
    drop_index("pack_trace", cat)
    create_index(df, "vec_id", "embedding", "pack_trace", engine="diskann",
                 max_degree=8, build_complexity=16, shards=shards,
                 shard_by="cells", catalog=cat)
    out = capfd.readouterr().out
    assert "cell-pack" in out, out
    drop_index("pack_trace", cat)

    for name in ("pack_off", "pack_on"):
        drop_index(name, cat)


# -- one-job routed search: in-task id resolution and exact top-k cut ---

GRAPH_ENGINES = [
    ("diskann", dict(max_degree=16, build_complexity=32)),
    ("faiss", dict(type="HNSW", hnsw_m=8)),
]


def _mirror_rows(n_half: int, seed: int):
    """Two clusters at ±10 on axis 0, each point of one mirrored in the
    other on that axis only. Any query with q[0] == 0 is exactly as far
    from a point as from its mirror, so every result row ties with a
    row of the other shard; ids are shuffled so the id tie-break picks
    either side."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.normal(0.0, 1.0, (n_half, 4)).astype(np.float32)
    a[:, 0] += 10.0
    b = a.copy()
    b[:, 0] = -b[:, 0]
    mat = np.vstack([a, b])
    ids = rng.permutation(2 * n_half).astype(np.int64)
    return mat, ids


def _tie_queries(nq: int, seed: int):
    import numpy as np

    qs = np.random.default_rng(seed).normal(0.0, 1.0, (nq, 4))
    qs = qs.astype(np.float32)
    qs[:, 0] = 0.0
    return qs


def _oracle(mat, ids, qs, k):
    """(id, distance) top-k per query by (distance, id), distances from
    the engine's own row kernel."""
    import numpy as np

    from duckdb_ann_spark.index.vamana_core import _dists

    out = []
    for q in qs:
        d = _dists("l2", mat, q)
        o = np.lexsort((ids, d))[:k]
        out.append([(int(ids[i]), float(d[i])) for i in o])
    return out


def _by_query(rows, nq, id_col="vec_id"):
    got = [[] for _ in range(nq)]
    for r in rows:
        got[r["query_idx"]].append((r[id_col], r["_distance"]))
    return [sorted(g, key=lambda t: (t[1], t[0])) for g in got]


def _mirror_index(spark, cat, name, engine, opts, n_half=150, seed=5):
    mat, ids = _mirror_rows(n_half, seed)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)],
        "vec_id long, embedding array<float>",
    )
    create_index(df, "vec_id", "embedding", name, engine=engine, shards=2,
                 shard_by="cells", route_nprobe=2, catalog=cat, **opts)
    assert cat.load(name)["shards"] == 2
    return mat, ids


@pytest.mark.parametrize("engine,opts", GRAPH_ENGINES)
def test_routed_scan_is_one_spark_job(spark, cat, engine, opts):
    """A 16-query routed index_scan, planning and collect included, runs
    exactly one Spark job: one narrow mapInArrow over the query frame,
    with no label-map read, no exchange and no join."""
    _mirror_index(spark, cat, "onejob", engine, opts)
    qs = _tie_queries(16, 1)
    sc = spark.sparkContext
    group = f"one_job_{engine}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        rows = index_scan(spark, "onejob", qs, k=5, catalog=cat).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 16 * 5
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    drop_index("onejob", cat)


@pytest.mark.parametrize("engine,opts", GRAPH_ENGINES)
def test_routed_cross_shard_ties_break_on_id(spark, cat, engine, opts):
    """Mirrored points tie exactly across the two shards, so the id
    tie-break decides the k-th row of every query. Exhaustive search
    over both shards must equal the numpy (distance, id) oracle, rows
    and distances, on the executor path (16 queries) and on the
    few-query driver path (4 queries)."""
    mat, ids = _mirror_index(spark, cat, "ties", engine, opts)
    k = 5
    for nq in (16, 4):
        qs = _tie_queries(nq, 2)
        rows = index_scan(spark, "ties", qs, k, search_complexity=len(ids),
                          catalog=cat).collect()
        assert _by_query(rows, nq) == _oracle(mat, ids, qs, k), nq
    drop_index("ties", cat)


@pytest.mark.parametrize("engine,opts", GRAPH_ENGINES)
def test_routed_id_cache_follows_insert_and_vacuum(spark, cat, engine,
                                                   opts):
    """The per-shard id arrays cached in the Python workers must follow
    the label map: in one warm session, scan → insert → scan → delete +
    vacuum → scan, every scan equals the exact oracle over the live rows
    (exhaustive search, every shard probed). A stale cache would drop
    the inserted ids or resurrect the vacuumed ones."""
    import numpy as np

    from duckdb_ann_spark.index import delete_from_index

    mat, ids = _mirror_index(spark, cat, "churnids", engine, opts)
    rng = np.random.default_rng(3)
    new = mat[rng.choice(len(mat), 12, replace=False)] + rng.normal(
        0.0, 0.1, (12, 4)).astype(np.float32)
    new_ids = np.arange(10_000_000, 10_000_012, dtype=np.int64)
    # queries: the 12 new vectors plus 4 old ones — the executor path
    qs = np.vstack([new, mat[:4]]).astype(np.float32)
    k, L = 4, 10 * len(mat)

    def check(live_mat, live_ids):
        rows = index_scan(spark, "churnids", qs, k, search_complexity=L,
                          catalog=cat).collect()
        assert _by_query(rows, len(qs)) == _oracle(live_mat, live_ids,
                                                   qs, k)
        return {r["vec_id"] for r in rows}

    assert not check(mat, ids) & set(new_ids.tolist())
    insert_into_index(spark, "churnids", spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(new_ids, new)],
        "vec_id long, embedding array<float>",
    ), cat)
    mat2, ids2 = np.vstack([mat, new]), np.concatenate([ids, new_ids])
    assert set(new_ids.tolist()) <= check(mat2, ids2)
    gone = [int(i) for i in new_ids[:6]] + [int(ids[0]), int(ids[1])]
    delete_from_index(spark, "churnids", gone, catalog=cat)
    vacuum_index(spark, "churnids", cat)
    keep = ~np.isin(ids2, gone)
    got = check(mat2[keep], ids2[keep])
    assert not got & set(gone)
    assert set(new_ids[6:].tolist()) <= got
    drop_index("churnids", cat)


@pytest.mark.parametrize("engine,opts", GRAPH_ENGINES)
def test_routed_id_cache_follows_label_map_rewrite(spark, cat, engine,
                                                   opts):
    """A label-map change that leaves every shard file untouched must
    still reach the warm workers' id arrays: rewrite the map with every
    id shifted, and the next scan returns the shifted ids."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    _mirror_index(spark, cat, "relabel", engine, opts)
    qs = _tie_queries(16, 4)

    def ids_per_query():
        rows = index_scan(spark, "relabel", qs, 5, catalog=cat).collect()
        return sorted((r["query_idx"], r["vec_id"]) for r in rows)

    before = ids_per_query()
    d = os.path.join(cat.path("relabel"), "labels")
    tbl = pq.read_table(d)
    tbl = tbl.set_column(tbl.schema.get_field_index("id"), "id",
                         pc.add(tbl["id"], 1_000_000))
    shutil.rmtree(d)
    os.makedirs(d)
    pq.write_table(tbl, os.path.join(d, "part-relabel.parquet"))
    assert ids_per_query() == [(q, i + 1_000_000) for q, i in before]
    drop_index("relabel", cat)
