"""The three workloads. Each is a closed loop with one client: the next
call starts when the previous one has returned its rows.

A workload has a `setup` that writes its seeded inputs (repeated to time
set-up; only the last copy is used) and a `measure` that runs a fixed
bulk phase, then repeats its interactive call until the deadline. The
interactive metrics and recall come from a fixed window of early calls
(on `pipeline`, after two warm-up calls), so every run measures the
same work however fast the host is: later calls would see warmer worker
caches, and their number varies. Calls outside the window are still
checked. Every call runs inside a span
named after the package function it exercises; with tracing off the
span is a no-op. Exact answers are computed after the measured phase,
from the same seeded inputs.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from . import data
from .harness import (
    RECALL_FLOOR, dir_bytes, recall_at_k, tail_percentile, topk_shape_error)

DIM = 128
CLUSTERS = 64
CENTER_SEED = 20240501
NQ = 50  # queries per index_scan call, as in the reference's bench harness
K = 10
SCAN_SCHEMA = sorted(["query_idx", "vec_id", "_distance"])


class Run:
    """What one run shares with its workload."""

    def __init__(self, spark, seed: int, work: str, tracer, tally,
                 nproc: int):
        from duckdb_ann_spark.index import Catalog

        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.tally = tally
        self.nproc = nproc
        self.catalog = Catalog(os.path.join(work, "indexes"))
        self.report: dict = {}  # metric name -> (value, unit)
        self.e2e: dict = {}
        self.layer: dict = {}
        self.info: dict = {}
        self.short_queries = 0  # scan answers with fewer than K rows

    def rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *stream])

    def call(self, span: str, fn):
        """Time `fn()` inside a span → (op id, result, seconds)."""
        op = self.tally.begin()
        with self.tracer.span(span):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        return op, out, dt

    def put(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (value, unit)


def _centers(n: int = CLUSTERS) -> np.ndarray:
    """The cluster centres are the same for every seed: each seed draws
    another sample of one corpus shape, so index layouts (cell and shard
    counts, calibrated probe counts) stay comparable across seeds."""
    return np.random.default_rng(CENTER_SEED).random((n, DIM),
                                                     dtype=np.float32)


def _grouped(rows, qcol: str, idcol: str) -> dict:
    got: dict = {}
    for r in rows:
        got.setdefault(r[qcol], []).append(r[idcol])
    return got


def _scan(run: Run, name: str, qs: np.ndarray, scans: list,
          exact: bool) -> None:
    """One 50-query index_scan, materialised and checked; the ids are
    kept for the recall check after the run. `exact=False` allows the
    short answers of a partial-probe IVF scan, which are counted."""
    from duckdb_ann_spark.index import api

    op, rows, dt = run.call(
        "index.api.index_scan",
        lambda: api.index_scan(run.spark, name, qs, K,
                               catalog=run.catalog).collect())
    got = _grouped(rows, "query_idx", "vec_id")
    run.tally.check(op, not rows or sorted(rows[0].asDict()) == SCAN_SCHEMA,
                    "index_scan schema")
    err = topk_shape_error(got, NQ, K, exact)
    run.tally.check(op, err is None, f"index_scan: {err}")
    run.short_queries += sum(1 for ids in got.values() if len(ids) < K)
    scans.append((op, dt, qs, got))


def _scan_loop(run: Run, name: str, deadline: float, window: int,
               scans: list, qrng: np.random.Generator,
               centers: np.ndarray, exact: bool) -> None:
    """Scans until the deadline, and at least `window` of them."""
    n = 0
    while time.perf_counter() < deadline or n < window:
        _scan(run, name, data.queries(qrng, centers, NQ), scans, exact)
        n += 1


def _scan_metrics(run: Run, scans: list, window: list, mat: np.ndarray,
                  ids: np.ndarray) -> None:
    """Every scan is held to the recall floor against the rows
    `mat`/`ids`; latency, throughput and recall are reported over the
    `window` of scans."""
    recalls = []
    for op, _, qs, got in scans:
        r = recall_at_k(got, data.topk_sets(mat, ids, qs, K), K)
        run.tally.check(op, r >= RECALL_FLOOR,
                        f"index_scan recall {r:.3f} < {RECALL_FLOOR}")
        recalls.append(r)
    lat = [scans[i][1] for i in window]
    recall = float(np.mean([recalls[i] for i in window]))
    p50 = statistics.median(lat)
    qps = NQ * len(lat) / sum(lat)
    run.put("scan_p50_s", p50, "s")
    _put_tail(run, "scan", lat)
    run.put("scan_qps", qps, "1/s")
    run.put("recall", recall, "ratio")
    run.e2e.update(call_p50_s=p50, call_qps=qps, recall=recall)


def _put_tail(run: Run, prefix: str, lat: list) -> None:
    """p90 where at least 10 samples lie beyond it; otherwise the sample
    count says why it is missing."""
    run.put(f"{prefix}_samples", len(lat), "count")
    run.info[f"{prefix}_latencies_s"] = [round(x, 3) for x in lat]
    tail = tail_percentile(lat, candidates=(0.9,))
    if tail is not None:
        run.put(f"{prefix}_p90_s", tail[1], "s")


# -- graph -----------------------------------------------------------

GRAPH_N = 10_000
GRAPH_WINDOW = 10


def graph_setup(run: Run, d: str):
    centers = _centers()
    mat = data.clustered(run.rng(1), GRAPH_N, centers)
    ids = np.arange(GRAPH_N, dtype=np.int64)
    data.write_vectors(os.path.join(d, "vectors"), ids, mat, run.nproc)
    df = run.spark.read.parquet(os.path.join(d, "vectors"))
    df.count()
    return {"df": df, "mat": mat, "ids": ids, "centers": centers}


def graph_measure(run: Run, st: dict, deadline: float) -> None:
    from duckdb_ann_spark.index import api

    op, m, build_s = run.call(
        "index.api.create_index",
        lambda: api.create_index(
            st["df"], "vec_id", "embedding", "graph", engine="diskann",
            shard_by="cells", max_degree=16, build_complexity=32,
            catalog=run.catalog))
    run.tally.check(op, m["num_vectors"] == GRAPH_N,
                    f"create_index indexed {m['num_vectors']} rows")
    st["bytes"] = dir_bytes(run.catalog.path("graph"))
    st["manifest"] = m
    st["build_s"] = build_s
    scans: list = []
    _scan_loop(run, "graph", deadline, GRAPH_WINDOW, scans, run.rng(2),
               st["centers"], exact=True)
    st["scans"] = scans


def graph_finish(run: Run, st: dict) -> None:
    from duckdb_ann_spark.index.calibration import (
        calibrated_l, calibrated_nprobe)
    from duckdb_ann_spark.index.ivf import auto_route_nprobe

    _scan_metrics(run, st["scans"], range(GRAPH_WINDOW), st["mat"],
                  st["ids"])
    vps = GRAPH_N / st["build_s"]
    ratio = st["bytes"] / (GRAPH_N * DIM * 4)
    run.put("build_vps", vps, "1/s")
    run.put("index_bytes_per_vector_byte", ratio, "ratio")
    run.e2e["bulk_rows_per_s"] = vps
    run.layer["storage.index_bytes_per_vector_byte"] = ratio
    m = st["manifest"]
    shards = int(m["shards"])
    rnp = (calibrated_nprobe(m, "route_calibration")
           or auto_route_nprobe(shards, DIM))
    run.layer["index.vamana.route_probe_frac"] = rnp / shards
    run.layer["index.vamana.search_l"] = float(
        calibrated_l(m) or m["params"]["build_complexity"])
    run.info["graph_shards"] = shards


# -- ingest ----------------------------------------------------------

INGEST_N = 5_000
INSERT_ROWS = 500
DELETE_ROWS = 100
INGEST_WINDOW = 7


def ingest_setup(run: Run, d: str):
    centers = _centers()
    rng = run.rng(1)
    n_all = INGEST_N + INSERT_ROWS
    mat = data.clustered(rng, n_all, centers)
    ids = np.arange(n_all, dtype=np.int64)
    data.write_vectors(os.path.join(d, "base"), ids[:INGEST_N],
                       mat[:INGEST_N], run.nproc)
    data.write_vectors(os.path.join(d, "insert"), ids[INGEST_N:],
                       mat[INGEST_N:], run.nproc)
    deletes = rng.choice(INGEST_N, DELETE_ROWS, replace=False)
    live = np.setdiff1d(np.arange(n_all), deletes)
    df = run.spark.read.parquet(os.path.join(d, "base"))
    df.count()
    return {"df": df, "insert": run.spark.read.parquet(
        os.path.join(d, "insert")), "deletes": deletes,
        "mat": mat[live], "ids": ids[live], "centers": centers}


def ingest_measure(run: Run, st: dict, deadline: float) -> None:
    """Build, one round of insert, delete and a scan over the tombstones,
    vacuum, then scans until the deadline. Every scan runs against the
    same live rows: the vacuum drops only rows already deleted."""
    from duckdb_ann_spark.index import api

    cat = run.catalog
    op, m, create_s = run.call(
        "index.api.create_index",
        lambda: api.create_index(
            st["df"], "vec_id", "embedding", "ingest", engine="faiss",
            type="IVFFlat", ivf_nlist=0, nprobe=0, catalog=cat))
    run.tally.check(op, m["num_vectors"] == INGEST_N,
                    f"create_index indexed {m['num_vectors']} rows")
    st["manifest"] = m
    st["bytes_build"] = dir_bytes(cat.path("ingest"))
    op, m, insert_s = run.call(
        "index.api.insert_into_index",
        lambda: api.insert_into_index(run.spark, "ingest", st["insert"],
                                      catalog=cat))
    run.tally.check(op, m["num_vectors"] == INGEST_N + INSERT_ROWS,
                    f"insert left {m['num_vectors']} rows")
    op, m, delete_s = run.call(
        "index.api.delete_from_index",
        lambda: api.delete_from_index(
            run.spark, "ingest", [int(i) for i in st["deletes"]],
            catalog=cat))
    run.tally.check(op, m["num_deleted"] == DELETE_ROWS,
                    f"delete left {m['num_deleted']} tombstones")
    scans: list = []
    qrng = run.rng(2)
    _scan(run, "ingest", data.queries(qrng, st["centers"], NQ), scans,
          exact=False)
    st["bytes_dml"] = dir_bytes(cat.path("ingest"))
    live = len(st["ids"])
    op, m, vacuum_s = run.call(
        "index.api.vacuum_index",
        lambda: api.vacuum_index(run.spark, "ingest", catalog=cat))
    run.tally.check(op, m["num_vectors"] == live and m["num_deleted"] == 0,
                    f"vacuum left {m['num_vectors']} rows")
    _scan_loop(run, "ingest", deadline, INGEST_WINDOW - 1, scans, qrng,
               st["centers"], exact=False)
    st.update(scans=scans, create_s=create_s, insert_s=insert_s,
              delete_s=delete_s, vacuum_s=vacuum_s)


def ingest_finish(run: Run, st: dict) -> None:
    from duckdb_ann_spark.index.calibration import calibrated_nprobe
    from duckdb_ann_spark.index.ivf import auto_nprobe

    # the window opens with the scan over the tombstones
    _scan_metrics(run, st["scans"], range(INGEST_WINDOW), st["mat"],
                  st["ids"])
    live = len(st["ids"])
    bulk_s = st["create_s"] + st["insert_s"] + st["delete_s"] + st["vacuum_s"]
    bulk_rows = INGEST_N + INSERT_ROWS + DELETE_ROWS + live
    ratio_dml = st["bytes_dml"] / (live * DIM * 4)
    run.put("build_vps", (INGEST_N + live) / (st["create_s"]
                                              + st["vacuum_s"]), "1/s")
    run.put("insert_vps", INSERT_ROWS / st["insert_s"], "1/s")
    run.put("delete_p50_s", st["delete_s"], "s")
    run.put("index_bytes_per_vector_byte_build",
            st["bytes_build"] / (INGEST_N * DIM * 4), "ratio")
    run.put("index_bytes_per_vector_byte", ratio_dml, "ratio")
    run.e2e["bulk_rows_per_s"] = bulk_rows / bulk_s
    run.layer["storage.index_bytes_per_vector_byte"] = ratio_dml
    m = st["manifest"]
    nlist = int(m["nlist_effective"])
    nprobe = calibrated_nprobe(m) or auto_nprobe(nlist, DIM)
    run.layer["index.ivf.probe_frac"] = nprobe / nlist
    run.layer["index.ivf.short_queries"] = run.short_queries
    run.put("short_queries", run.short_queries, "count")


# -- pipeline --------------------------------------------------------

PIPE_BASE = 10_000
PIPE_CLUSTERS = 100
PIPE_QUERIES = 1_000
DOCS = 2_000
KNN_K = 10
HYBRID_WARM = 2  # hybrid_search calls before the window
HYBRID_WINDOW = 8


def pipeline_setup(run: Run, d: str):
    centers = _centers(PIPE_CLUSTERS)
    rng = run.rng(1)
    base = data.clustered(rng, PIPE_BASE, centers)
    base_ids = np.arange(PIPE_BASE, dtype=np.int64)
    data.write_vectors(os.path.join(d, "base"), base_ids, base, run.nproc)
    qsets = []
    for i in range(2):
        qm = data.queries(rng, centers, PIPE_QUERIES)
        path = os.path.join(d, f"queries{i}")
        data.write_vectors(path, np.arange(PIPE_QUERIES, dtype=np.int64),
                           qm, run.nproc)
        qsets.append((qm, run.spark.read.parquet(path)
                      .withColumnRenamed("vec_id", "qid")))
    doc_ids, texts, dups = data.documents(run.rng(3), DOCS)
    emb = data.clustered(rng, DOCS, centers)
    data.write_docs(os.path.join(d, "docs"), doc_ids, texts, emb, run.nproc)
    docs = run.spark.read.parquet(os.path.join(d, "docs"))
    bdf = run.spark.read.parquet(os.path.join(d, "base"))
    bdf.count()
    docs.count()
    return {"base": base, "base_ids": base_ids, "bdf": bdf, "qsets": qsets,
            "docs": docs, "texts": texts, "dups": dups, "emb": emb,
            "centers": centers}


def _knn_path(df) -> str:
    """Which scoring path the plan took: the cogroup spelling shows a
    co-grouped Python node; the broadcast path has none."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "cogroup" if "CoGroup" in plan else "broadcast"


def _bulk_calls(run: Run, st: dict) -> dict:
    """One call of each bulk operator, each checked: knn_join on its
    broadcast path and, with `salt=2`, on its cogroup path, then
    minhash_candidate_pairs and prepare_corpus over the documents.
    → {"knn": [(op, s, queries, ids, stats, path)], "corpus_s": s}"""
    from duckdb_ann_spark.operators import dedup, knn_join
    from duckdb_ann_spark import pipeline

    knn = []
    for salt, (qm, qdf) in zip((1, 2), st["qsets"]):
        stats: dict = {}
        path: list = []

        def join(qdf=qdf, salt=salt, stats=stats, path=path):
            df = knn_join.knn_join(
                qdf, "qid", "embedding", st["bdf"], "vec_id", "embedding",
                k=KNN_K, n_rows=PIPE_BASE, salt=salt, stats=stats)
            path.append(_knn_path(df))
            return df.collect()

        op, rows, dt = run.call("operators.knn_join.knn_join", join)
        run.tally.check(op, len(rows) == PIPE_QUERIES * KNN_K,
                        f"knn_join returned {len(rows)} rows")
        run.tally.check(op, not rows or sorted(rows[0].asDict())
                        == ["_distance", "qid", "vec_id"], "knn_join schema")
        knn.append((op, dt, qm, _grouped(rows, "qid", "vec_id"), stats,
                    path[0]))

    op, pairs, dt_mh = run.call(
        "operators.dedup.minhash_candidate_pairs",
        lambda: dedup.minhash_candidate_pairs(
            st["docs"], "doc_id", "text").collect())
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    missing = [p for p in st["dups"] if tuple(sorted(p)) not in found]
    run.tally.check(op, not missing,
                    f"minhash missed {len(missing)} exact-duplicate pairs")
    op, kept, dt_pc = run.call(
        "pipeline.prepare_corpus",
        lambda: pipeline.prepare_corpus(st["docs"], "doc_id", "text")
        .select("doc_id").collect())
    kept_ids = {r[0] for r in kept}
    dup_kept = [b for a, b in st["dups"] if b in kept_ids and a in kept_ids]
    run.tally.check(op, 0 < len(kept_ids) < DOCS and not dup_kept,
                    f"prepare_corpus kept {len(kept_ids)} docs, "
                    f"{len(dup_kept)} exact duplicates")
    return {"knn": knn, "corpus_s": dt_mh + dt_pc,
            "op_s": [round(x[1], 3) for x in knn] + [round(dt_mh, 3),
                                                      round(dt_pc, 3)]}


def _hybrid(run: Run, st: dict, qrng: np.random.Generator) -> float:
    """One checked hybrid_search near a random document: its embedding
    plus noise, and two of its words. → seconds"""
    from duckdb_ann_spark.operators import hybrid

    j = int(qrng.integers(0, DOCS))
    qv = (st["emb"][j] + qrng.normal(0, data.SIGMA, DIM)).tolist()
    words = st["texts"][j].split()
    terms = " ".join(words[int(i)] for i in qrng.integers(0, len(words), 2))
    op, rows, dt = run.call(
        "operators.hybrid.hybrid_search",
        lambda: hybrid.hybrid_search(
            st["docs"], "doc_id", qv, terms, text_col="text",
            vec_col="embedding", k=K).collect())
    run.tally.check(op, len(rows) == K and (
        not rows or "_rrf_score" in rows[0].asDict()),
        f"hybrid_search returned {len(rows)} rows")
    return dt


def pipeline_measure(run: Run, st: dict, deadline: float) -> None:
    """One bulk round, then hybrid_search until the deadline. The bulk
    operators run once each, as a batch job would run them in a fresh
    session. The first hybrid_search calls of a session run slowest
    (about 2 s, then 1.3 s, against about 1 s later); the first
    HYBRID_WARM of them are checked but kept out of the window."""
    st["bulk"] = _bulk_calls(run, st)
    qrng = run.rng(4)
    lat = []
    while (time.perf_counter() < deadline
           or len(lat) < HYBRID_WARM + HYBRID_WINDOW):
        lat.append(_hybrid(run, st, qrng))
    st["hybrid_lat"] = lat


def pipeline_finish(run: Run, st: dict) -> None:
    recalls, probe_fracs, paths = [], [], []
    for op, _, qm, got, stats, path in st["bulk"]["knn"]:
        truth = data.topk_sets(st["base"], st["base_ids"], qm, KNN_K)
        r = recall_at_k(got, truth, KNN_K)
        run.tally.check(op, r >= RECALL_FLOOR,
                        f"knn_join recall {r:.3f} < {RECALL_FLOOR}")
        recalls.append(r)
        probe_fracs.append(stats["nprobe"] / stats["nlist"])
        paths.append(path)
    knn_s = sum(dt for _, dt, *_ in st["bulk"]["knn"])
    corpus_s = st["bulk"]["corpus_s"]
    recall = float(np.mean(recalls))
    knn_qps = len(recalls) * PIPE_QUERIES / knn_s
    lat = st["hybrid_lat"][HYBRID_WARM:HYBRID_WARM + HYBRID_WINDOW]
    p50 = statistics.median(lat)
    run.put("knn_join_qps", knn_qps, "1/s")
    run.put("hybrid_p50_s", p50, "s")
    _put_tail(run, "hybrid", lat)
    run.put("corpus_docs_per_s", 2 * DOCS / corpus_s, "1/s")
    run.put("recall", recall, "ratio")
    run.e2e.update(
        bulk_rows_per_s=(len(recalls) * PIPE_QUERIES + 2 * DOCS)
        / (knn_s + corpus_s),
        call_p50_s=p50, call_qps=len(lat) / sum(lat),
        recall=recall)
    run.layer["operators.knn_join.probe_frac"] = float(np.mean(probe_fracs))
    run.layer["operators.knn_join.broadcast_calls"] = paths.count("broadcast")
    run.layer["operators.knn_join.cogroup_calls"] = paths.count("cogroup")
    run.info["knn_join_paths"] = paths
    # broadcast and cogroup knn_join, minhash, prepare_corpus
    run.info["bulk_op_s"] = st["bulk"]["op_s"]
    run.info["hybrid_warm_s"] = [
        round(x, 3) for x in st["hybrid_lat"][:HYBRID_WARM]]


WORKLOADS = {
    "graph": (graph_setup, graph_measure, graph_finish),
    "ingest": (ingest_setup, ingest_measure, ingest_finish),
    "pipeline": (pipeline_setup, pipeline_measure, pipeline_finish),
}
