"""Kernel probes and host canaries for the traced run.

Executor-side Python cannot be wrapped from the Spark driver, so the kernels
the executors run are timed here directly, on seeded inputs shaped like
one graph shard or one IVF cell. The canaries time fixed work that no
change to the package can move; they show host drift between runs.
Each value is the median of REPS timings after one warm-up call.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from . import data

REPS = 5
SHARD_ROWS = 1_000  # about one routed graph shard of the graph workload
HNSW_ROWS = 500
CELL_ROWS, CELL_QUERIES = 2_000, 200
ARROW_ROWS = 100_000
DIM = 128


def _median_time(fn, reps: int = REPS) -> float:
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_probes(seed: int) -> dict:
    from duckdb_ann_spark.functions.distance import (
        np_from_arrow_list, np_index_distances, np_partial_topk)
    from duckdb_ann_spark.index import hnsw_core, vamana_core

    rng = np.random.default_rng([seed, 99])
    centers = rng.random((8, DIM), dtype=np.float32)
    shard = data.clustered(rng, SHARD_ROWS, centers)
    queries = data.queries(rng, centers, 50)
    graph = vamana_core.build_graph(shard, max_degree=16, build_complexity=32)
    cell = data.clustered(rng, CELL_ROWS, centers)
    cell_ids = np.arange(CELL_ROWS, dtype=np.int64)
    cell_q = data.queries(rng, centers, CELL_QUERIES)
    arrow_col = data.f32_lists(data.clustered(rng, ARROW_ROWS, centers))

    def gemm_topk():
        d = np_index_distances("l2", cell, cell_q)
        for row in d:
            np_partial_topk(row, cell_ids, 10)

    return {
        "kernel.vamana_core.build_graph_s": _median_time(
            lambda: vamana_core.build_graph(
                shard, max_degree=16, build_complexity=32), reps=3),
        "kernel.vamana_core.search_s": _median_time(
            lambda: graph.search_batch(queries, 10)),
        "kernel.distance.gemm_topk_s": _median_time(gemm_topk),
        "kernel.distance.arrow_to_numpy_s": _median_time(
            lambda: np_from_arrow_list(arrow_col, DIM)),
        "kernel.hnsw_core.build_hnsw_s": _median_time(
            lambda: hnsw_core.build_hnsw(
                shard[:HNSW_ROWS], m=16, ef_construction=40), reps=3),
    }


def host_canaries(spark, nproc: int) -> dict:
    a = np.random.default_rng(12345).random((512, 512), dtype=np.float32)
    sc = spark.sparkContext
    return {
        "host.gemm_s": _median_time(lambda: [a @ a for _ in range(8)]),
        "host.spark_job_floor_s": _median_time(
            lambda: sc.parallelize(range(nproc), nproc)
            .map(lambda x: x).count()),
    }
