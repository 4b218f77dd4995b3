"""Distributed k-NN join: every row of a QUERY DataFrame gets its k
nearest rows from a BASE DataFrame — no driver collect, no crossJoin.

This is the operator shape the reference cannot express at scale: its
`ann_search_table` (`/root/reference/src/ann_search.cpp:397-691`)
streams the query table through one in-process index; here BOTH sides
may be arbitrarily large DataFrames.

Plan (IVF-style cell co-partitioning):

1. train `nlist` centroids from a bounded, deterministic sample of the
   base side (driver numpy k-means — O(cap·dim) memory regardless of
   table size);
2. one narrow pass assigns each base row to its nearest cell and each
   query row to its `nprobe` nearest cells (queries explode ×nprobe);
3. score within cells:
   * fast path (default): COGROUP both sides on `cell`
     (`applyInPandas`) — the only exchange moves each base row once and
     each query row `nprobe` times; every cell scores as ONE
     (|q_cell|, |b_cell|) BLAS GEMM + tie-safe partial top-k. Candidate
     pairs are never materialized as rows.
   * exact path (`method='exact'`): equi-join on `cell` + the JVM
     sequential-fold distance — bit-exact vs the DuckDB LATERAL oracle
     (this is the hash-compared driver entry at `nprobe >= nlist`).
4. a per-query window merges cell-local top-k into the global top-k.

`nprobe >= nlist` degenerates to the exact k-NN join (every pair
scored). Cells are the unit of parallelism on the fast path — pick
`nlist` at least the cluster parallelism so no task owns too much of
the corpus, and `salt=s` to sub-split skewed cells (the one shuffle
AQE's skew-join cannot touch) into s tasks each.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import (
    index_distance,
    np_index_distances,
    np_stack_vectors,
    np_topk_frame,
)
from ..index.ivf import _kmeans, auto_nlist, auto_nprobe
from ..local import local_df

DISTANCE_COL = "_distance"
CELL_COL = "__cell"
TOK_COL = "__tok"

# Broadcast-queries scoring path (round 16, guide §8 "decide with small
# rows, move big rows once" / §2.3 "shuffle keys, not payloads"): cap on
# the query-side vector bytes collected to the driver. 0 disables the
# path (every call takes the cogroup spelling).
_BCAST_MB_ENV = "SPARK_GRAFT_KNN_BCAST_MB"


def _collect_queries_bounded(queries_df: DataFrame, query_id_col: str,
                             query_vec_col: str, dim: int):
    """Bounded collect of the query side for the broadcast scoring path
    → (qids int64 (nq,), qmat f32 (nq, dim)) or None when the side
    exceeds the byte cap / the cap is disabled / the side is empty.
    The probe is one `limit(cap+1).toPandas()` — CollectLimit stops
    early on a huge query side, so the fallback cost is bounded by the
    cap, not the side's size."""
    cap_mb = float(os.environ.get(_BCAST_MB_ENV, "") or 64)
    if cap_mb <= 0:
        return None
    cap_rows = max(1, int(cap_mb * 1024 * 1024 // (4 * max(1, dim))))
    pdf = (
        queries_df.select(query_id_col, query_vec_col)
        .limit(cap_rows + 1)
        .toPandas()
    )
    if len(pdf) > cap_rows or len(pdf) == 0:
        return None
    qids = pdf[query_id_col].to_numpy().astype(np.int64, copy=False)
    qmat = np_stack_vectors(pdf[query_vec_col])
    return qids, qmat


def _driver_probe_csr(qmat: np.ndarray, centroids: np.ndarray, metric: str,
                      nprobe: int):
    """Assign every collected query to its `nprobe` nearest cells on the
    driver (the same `np_index_distances` + stable-argsort arithmetic as
    `_assign_cells`, so probe sets are bit-identical to the distributed
    assignment pass) and invert to CSR over cells:
    → (grouped_q int64 — query indices grouped by cell, bounds (nlist+1,)
    — cell c probes grouped_q[bounds[c]:bounds[c+1]])."""
    nlist = centroids.shape[0]
    d = np_index_distances(metric, qmat, centroids)  # (nlist, nq)
    cells = np.argsort(d, axis=0, kind="stable")[:nprobe]  # (nprobe, nq)
    nq = qmat.shape[0]
    cells_flat = cells.reshape(-1)
    qidx_flat = np.tile(np.arange(nq, dtype=np.int64), nprobe)
    order = np.argsort(cells_flat, kind="stable")
    grouped_q = qidx_flat[order]
    bounds = np.searchsorted(cells_flat[order], np.arange(nlist + 1))
    return grouped_q, bounds


def _lpt_bins(mass: np.ndarray, n_bins: int) -> np.ndarray:
    """LPT pack: heaviest cell first into the lightest bin → bin_of
    (len(mass),). Every cell gets at least unit mass so zero-estimate
    cells round-robin across bins instead of piling into bin 0 (the
    r15 ADVICE straggler hazard on the vamana packer)."""
    import heapq

    mass = np.maximum(np.asarray(mass, dtype=np.float64), 1.0)
    order = np.argsort(-mass, kind="stable")
    heap = [(0.0, b) for b in range(n_bins)]
    bin_of = np.empty(len(mass), dtype=np.int64)
    for c in order.tolist():
        load, b = heapq.heappop(heap)
        bin_of[c] = b
        heapq.heappush(heap, (load + float(mass[c]), b))
    return bin_of


def _cell_tokens(bounds: np.ndarray, est_b: np.ndarray | None,
                 par: int) -> tuple[np.ndarray, int]:
    """Placement tokens for the broadcast scoring path → (tokens
    (n_cells,), n_bins). Cells probed by nobody get token -1 (their
    base rows are pruned before the exchange — they cannot contribute a
    candidate). Probed cells are LPT-packed by estimated GEMM mass
    (|q_c| × est |b_c|) into `n_bins <= 2×parallelism` bins, each bin
    placed in its own partition by a collision-free murmur3 token
    (`functions.partitioning`) — the cogroup hashed ~nlist cells into
    the shuffle partitions and lived with balls-in-bins collisions."""
    from ..functions.partitioning import exact_partition_tokens

    q_counts = np.diff(bounds).astype(np.float64)
    probed = np.flatnonzero(q_counts > 0)
    tokens = np.full(len(q_counts), -1, dtype=np.int64)
    if len(probed) == 0:
        return tokens, 1
    mass = q_counts[probed]
    if est_b is not None:
        mass = mass * np.maximum(est_b[probed], 1.0)
    n_bins = max(1, min(len(probed), 2 * par))
    toks = exact_partition_tokens(n_bins)
    tokens[probed] = toks[_lpt_bins(mass, n_bins)]
    return tokens, n_bins


def _with_tokens(df: DataFrame, tokens: np.ndarray) -> DataFrame:
    """Append the per-cell placement token column (`TOK_COL` =
    tokens[cell]) to a frame that already carries `CELL_COL` — one
    vectorized narrow Arrow pass, no plan-bloating literal array."""
    bc = df.sparkSession.sparkContext.broadcast(tokens)
    names = [f.name for f in df.schema.fields]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}

    def add(batches):
        import pyarrow as pa

        t = bc.value
        for b in batches:
            cell = b.column(
                b.schema.get_field_index(CELL_COL)
            ).to_numpy(zero_copy_only=False)
            yield b.append_column(
                TOK_COL, pa.array(t[cell], type=pa.int64())
            )

    schema = ", ".join(f"{c} {types[c]}" for c in names)
    return df.mapInArrow(add, schema=f"{schema}, {TOK_COL} long")


def _broadcast_scored_topk(
    b: DataFrame,
    base_id_col: str,
    base_vec_col: str,
    query_id_col: str,
    qids: np.ndarray,
    qmat: np.ndarray,
    grouped_q: np.ndarray,
    bounds: np.ndarray,
    metric: str,
    k: int,
    n_bins: int,
) -> DataFrame:
    """Scoring stage for a DRIVER-RESIDENT query side (guide §8
    "decide with small rows, move the big rows once"): the query matrix
    and its per-cell probe lists ride ONE broadcast; the base side —
    already carrying cell + placement token columns — makes its one
    exchange into `n_bins` LPT-balanced partitions and every cell is
    scored by one (|q_c|, |b_c|) GEMM exactly as the cogroup scored it.
    What this removes vs the cogroup: the query-side explosion (every
    query vector ×nprobe through the exchange), the balls-in-bins task
    imbalance of hashing cells into shuffle partitions, and — via the
    in-task cross-cell merge — most of the candidate rows entering the
    window exchange.

    Correctness does not depend on the placement: the per-cell cut
    keeps every candidate with d <= the k-th smallest per query (ties
    and NaN-k-th kept), a superset of any global (d, id) top-k, and the
    final window is unchanged. Per-pair distances come from the same
    `np_index_distances` kernel at the same (|q_c|, |b_c|) GEMM shape;
    query/base row ORDER inside the GEMM differs from the cogroup's
    shuffle-arrival order, which BLAS answers with last-ulp wobble —
    exactly the run-to-run wobble the cogroup itself already has (the
    id sets are pinned by tests, the distances to 1e-5)."""
    spark = b.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat, grouped_q, bounds))
    dim = qmat.shape[1]

    def score(batches):
        import pyarrow as pa

        from ..functions.distance import np_from_arrow_list

        qids_, qmat_, gq, bnd = bc.value
        mats: list = []
        idsl: list = []
        cells: list = []
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            col = batch.column(batch.schema.get_field_index(base_vec_col))
            mat = np_from_arrow_list(col, dim)
            if mat is None:
                mat = np_stack_vectors(
                    batch.select([base_vec_col]).to_pandas()[base_vec_col]
                )
            mats.append(mat)
            idsl.append(
                batch.column(
                    batch.schema.get_field_index(base_id_col)
                ).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
            )
            cells.append(
                batch.column(
                    batch.schema.get_field_index(CELL_COL)
                ).to_numpy(zero_copy_only=False)
            )
        if not mats:
            return
        mat = np.concatenate(mats) if len(mats) > 1 else mats[0]
        bids = np.concatenate(idsl) if len(idsl) > 1 else idsl[0]
        cell = np.concatenate(cells) if len(cells) > 1 else cells[0]
        order = np.argsort(cell, kind="stable")
        cs = cell[order]
        uc, starts = np.unique(cs, return_index=True)
        ends = np.r_[starts[1:], len(cs)]
        acc_q: list = []
        acc_b: list = []
        acc_d: list = []
        for c, s, e in zip(uc.tolist(), starts.tolist(), ends.tolist()):
            qs_, qe_ = int(bnd[c]), int(bnd[c + 1])
            if qe_ <= qs_:
                continue
            qidx_c = gq[qs_:qe_]
            rows = order[s:e]
            bm = mat[rows]
            d = np_index_distances(metric, bm, qmat_[qidx_c])
            nq_c, nb = d.shape
            if nb > k:
                # tie-keep partial cut per query row: keep every
                # candidate with d <= the k-th smallest (a NaN k-th
                # keeps the row's whole set — no safe cutoff there)
                kth = np.partition(d, k - 1, axis=1)[:, k - 1]
                qi, bj = np.nonzero(~(d > kth[:, None]))
            else:
                qi = np.repeat(np.arange(nq_c), nb)
                bj = np.tile(np.arange(nb), nq_c)
            acc_q.append(qidx_c[qi])
            acc_b.append(bids[rows][bj])
            acc_d.append(d[qi, bj])
        if not acc_q:
            return
        qx = np.concatenate(acc_q)
        bx = np.concatenate(acc_b)
        dx = np.concatenate(acc_d).astype(np.float64)
        if len(qx) > k:
            # cross-cell tie-keep merge per query: only ~k rows per
            # query can survive the downstream window, so don't ship
            # nprobe×k per query
            order = np.lexsort((bx, dx, qx))
            qx, bx, dx = qx[order], bx[order], dx[order]
            starts = np.flatnonzero(np.r_[True, qx[1:] != qx[:-1]])
            counts = np.diff(np.r_[starts, len(qx)])
            rank = np.arange(len(qx)) - np.repeat(starts, counts)
            kth = dx[starts + np.minimum(counts - 1, k - 1)]
            keep = (rank < k) | ~(dx > np.repeat(kth, counts))
            qx, bx, dx = qx[keep], bx[keep], dx[keep]
        yield pa.RecordBatch.from_arrays(
            [pa.array(qids_[qx]), pa.array(bx), pa.array(dx)],
            names=[query_id_col, base_id_col, DISTANCE_COL],
        )

    out = (
        b.where(F.col(TOK_COL) >= 0)
        .select(base_id_col, base_vec_col, CELL_COL, TOK_COL)
        .repartition(n_bins, F.col(TOK_COL))
        .mapInArrow(
            score,
            schema=(
                f"{query_id_col} long, {base_id_col} long, "
                f"{DISTANCE_COL} double"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(DISTANCE_COL).asc_nulls_last(), F.col(base_id_col).asc()
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(query_id_col, base_id_col, DISTANCE_COL)
    )


def _assign_cells(df: DataFrame, vec_col: str, centroids: np.ndarray,
                  metric: str, nprobe: int, out_cols: list[str],
                  tokens: np.ndarray | None = None) -> DataFrame:
    """Narrow pass: nearest `nprobe` cells per row (exploded).

    mapInArrow (round 12, same fix as the IVF build assignment): the
    vector matrix reshapes zero-copy from the Arrow buffer and the
    nprobe-fold row explosion is one vectorized `RecordBatch.take`
    instead of a pandas `.iloc` on an object-Series frame.

    `tokens` (round 16, broadcast scoring path): per-cell placement
    tokens — when given, an extra long `_tok` column = tokens[cell]
    rides along so the caller's `repartition(n_bins, _tok)` places each
    cell in its LPT-chosen partition with zero extra passes."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((centroids, tokens))

    def assign(batches):
        import pyarrow as pa

        from ..functions.distance import np_from_arrow_list

        cm, toks = bc.value
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            col = b.column(b.schema.get_field_index(vec_col))
            mat = np_from_arrow_list(col, cm.shape[1])
            if mat is None:
                mat = np_stack_vectors(
                    b.select([vec_col]).to_pandas()[vec_col]
                )
            d = np_index_distances(metric, mat, cm)  # (nlist, n)
            cells = np.argsort(d, axis=0, kind="stable")[:nprobe]  # (p, n)
            taken = b.select(out_cols).take(
                pa.array(np.tile(np.arange(n, dtype=np.int64), nprobe))
            )
            flat = cells.reshape(-1)
            extra = [pa.array(flat.astype(np.int32), type=pa.int32())]
            names = [*out_cols, CELL_COL]
            if toks is not None:
                extra.append(pa.array(toks[flat], type=pa.int64()))
                names.append(TOK_COL)
            yield pa.RecordBatch.from_arrays(
                [taken.column(i) for i in range(taken.num_columns)] + extra,
                names=names,
            )

    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema_fields = ", ".join(f"{c} {types[c]}" for c in out_cols)
    schema = f"{schema_fields}, {CELL_COL} int"
    if tokens is not None:
        schema += f", {TOK_COL} long"
    return df.mapInArrow(assign, schema=schema)


def knn_join(
    queries_df: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    base_df: DataFrame,
    base_id_col: str,
    base_vec_col: str,
    k: int,
    metric: str = "l2",
    nlist: int = 0,
    nprobe: int = 0,
    method: str = "blas",
    n_rows: int | None = None,
    salt: int = 1,
    calibration_queries: int = 64,
    target_recall: float | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """→ DataFrame(<query_id_col>, <base_id_col>, _distance), the k
    nearest base rows per query row (ties on base id ascending).

    Exact when `nprobe >= nlist`; otherwise approximate with IVF-probe
    recall characteristics. The DEFAULT (`nlist=0, nprobe=0`) trains
    auto-sized cells (`ivf.auto_nlist`, the sqrt-N rule) and — round
    10 — MEASURES the probe→recall curve of those freshly-trained
    cells on a held-out sample of the base side
    (`calibration.measure_probe_calibration`, the same pass a CREATE
    INDEX runs), probing what THIS data measurably needs instead of
    the static uniform-worst-case `auto_nprobe` guess: on clustered
    real data the static rule over-probes by ~an order of magnitude
    (bench: measured frac 0.009 vs 0.354 at 100k/clustered), and the
    fresh-build path is the operator's default face. The measurement
    is one extra narrow scan of the base side (the join already pays
    two: train sample + assignment); `calibration_queries=0` skips it
    and falls back to the static rule, which still holds the
    reference's 0.70 floor with margin even on uniform vectors
    (bench-asserted at 100k: `scale100k_knn_join_auto`).

    `target_recall` (round 10, same contract as
    `index_scan(target_recall=)`): resolve the probe count for THIS
    call from the freshly measured curve instead of the floor target —
    requires the measurement (errors loud with `calibration_queries=0`
    or a degenerate curve), mutually exclusive with an explicit
    `nprobe`. Cell-level recall: cells are scanned exactly, so the
    target is end recall modulo the sample noise.

    Pinning a small fixed `nprobe` buys latency at UNCHARACTERIZED
    recall (the 100k bench measures 0.264 at nprobe=4/nlist=512) — do
    that only with your own recall measurement in hand; for the least
    probe work that still clears the 0.70 floor, pass
    `nprobe=ivf.floor_nprobe(ivf.auto_nlist(n), dim)` (the measured
    0.7x rule — sweep table in its docstring). Pass `n_rows`
    (the base row count) when known to skip the counting pass over the
    base side.

    `stats`: pass a dict to observe the resolved configuration — the
    call records `nlist` (effective trained cells), `nprobe` (resolved
    probe count) and `measured` (whether the in-call calibration
    produced it) before returning. Observability only; results don't
    depend on it.

    `salt` handles CELL SKEW on the cogroup fast path — the one shuffle
    AQE's skew-join cannot split (a whole cell is one task). With
    salt=s, each base row lands in sub-bucket (cell, hash(id) mod s)
    and each query replicates to all s sub-buckets of its probed cells,
    so the largest task is 1/s of the hottest cell by construction; the
    per-query window merge already unions partial top-k correctly.
    Exchange cost: base x1 (unchanged), queries x(nprobe*s).
    """
    spark = base_df.sparkSession
    # argument-only validation fires BEFORE the count/train/kmeans work
    # (round-10 review: a bad target_recall must not cost a pass over a
    # 100M-row base first)
    if target_recall is not None:
        if nprobe:
            raise ValueError(
                "pass either nprobe (an explicit probe count) or "
                "target_recall, not both"
            )
        if not (0.0 < float(target_recall) <= 1.0):
            raise ValueError("target_recall must be in (0, 1]")
        if int(calibration_queries) <= 0:
            raise ValueError(
                "target_recall needs the in-call probe measurement — "
                "don't pass calibration_queries=0 with it"
            )
    if query_vec_col == base_vec_col:
        queries_df = queries_df.withColumnRenamed(
            query_vec_col, f"_q_{query_vec_col}"
        )
        query_vec_col = f"_q_{query_vec_col}"
    if query_id_col == base_id_col:
        queries_df = queries_df.withColumnRenamed(
            query_id_col, f"_q_{query_id_col}"
        )
        query_id_col = f"_q_{query_id_col}"
    # Arrow-pass dtype normalization (round-13 advice): the assignment
    # mapInArrow, the applyInArrow cogroup, and the in-call calibration
    # scan all declare long/array<float> schemas and do not coerce —
    # cast BOTH sides once here (no-op for already-typed frames)
    from ..functions.distance import cast_id_vec

    base_df = cast_id_vec(base_df, base_id_col, base_vec_col)
    queries_df = cast_id_vec(queries_df, query_id_col, query_vec_col)

    # bounded deterministic train sample from the base side
    n = base_df.count() if n_rows is None else int(n_rows)
    if nlist == 0:
        nlist = auto_nlist(n)  # shared sqrt-N rule, same as ivf_nlist=0
    cap = min(max(50 * nlist, 10_000), 200_000)
    sample = base_df.select(base_vec_col)
    if n > cap:
        modulus = max(1, n // cap)
        sample = base_df.where(
            F.pmod(F.abs(F.hash(F.col(base_id_col))), F.lit(modulus)) == 0
        ).select(base_vec_col)
    # round 16 (guide §1.4-adjacent measurement): `limit(cap)` ran the
    # incremental CollectLimit (a 1-partition probe job, then the full
    # scan) — 0.3s vs 0.07s for a plain collect at the bench shape. The
    # filtered sample is O(cap) rows BY CONSTRUCTION (modulus = n//cap
    # keeps the expectation in [cap, 2cap); n <= cap collects the whole
    # base), so collect it all and slice: both spellings traverse
    # partitions in the same order, so the first `cap` rows — and the
    # trained centroids — are identical.
    train = np_stack_vectors(sample.toPandas()[base_vec_col][:cap])
    centroids = _kmeans(train, min(nlist, max(1, len(train))))
    nlist_eff = centroids.shape[0]
    measured = False
    # kick the bounded query-side collect off NOW on a worker thread
    # (guide §2.6 "overlap independent jobs"): it shares no lineage
    # with the calibration scan below, and its CollectLimit round
    # trips hide under the calibration job's wall
    collect_fut = None
    pool = None
    if method != "exact" and salt <= 1:
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)
        collect_fut = pool.submit(
            _collect_queries_bounded, queries_df, query_id_col,
            query_vec_col, int(centroids.shape[1]),
        )
    if nprobe == 0 and int(calibration_queries) > 0 and nlist_eff > 1:
        # nprobe=0 = AUTO (round 10): measure THIS join's freshly
        # trained cells on a held-out base sample — the same build-time
        # pass a CREATE INDEX runs — so clustered data gets the small
        # probe count it actually needs instead of the static
        # uniform-worst-case rule (see docstring)
        from ..index.calibration import (
            IVF_TARGET,
            measure_probe_calibration,
            nprobe_for_target,
        )

        cal = measure_probe_calibration(
            base_df.select(base_id_col, base_vec_col), base_id_col,
            base_vec_col, centroids, metric, n, IVF_TARGET,
            n_queries=int(calibration_queries),
        )
        if target_recall is not None:
            nprobe = nprobe_for_target({"calibration": cal}, target_recall)
            if nprobe <= 0:
                if pool is not None:
                    pool.shutdown(wait=False)
                raise ValueError(
                    "knn_join: the in-call probe measurement came back "
                    "degenerate (too few rows/cells) — target_recall "
                    "cannot be honored; drop target_recall and pass an "
                    "explicit nprobe"
                )
            measured = True
        elif cal is not None:
            nprobe = int(cal["nprobe"])
            measured = True
    elif target_recall is not None:
        if pool is not None:
            pool.shutdown(wait=False)
        raise ValueError(
            "knn_join: target_recall needs >1 trained cell to measure "
            "a curve; drop target_recall and pass an explicit nprobe"
        )
    if nprobe == 0:
        # static fallback: calibration disabled or degenerate — the
        # uniform-worst-case rule, same as ivf_nlist=0/nprobe=0 search
        nprobe = auto_nprobe(nlist_eff, int(centroids.shape[1]))
    nprobe = min(max(1, nprobe), nlist_eff)
    if stats is not None:
        stats.update(
            nlist=int(nlist_eff), nprobe=int(nprobe), measured=bool(measured)
        )

    if collect_fut is not None:
        # broadcast-queries scoring (round 16, guide §8): when the query
        # side fits the driver cap, ship it (plus the per-cell probe
        # lists, assigned driver-side with `_assign_cells` arithmetic)
        # in ONE broadcast — the cogroup exchange carried every query
        # vector ×nprobe; this path exchanges the base side once into
        # LPT-balanced bins and only ~nq×k candidate rows afterwards.
        # An explicit `salt` keeps the cogroup spelling (single-giant-
        # cell sub-splitting is the one skew LPT placement cannot fix).
        got = collect_fut.result()
        pool.shutdown()
        if got is not None:
            qids_np, qmat = got
            grouped_q, bounds = _driver_probe_csr(
                qmat, centroids, metric, nprobe
            )
            # base-side mass estimate per cell from the already-resident
            # train sample (one driver GEMM — no extra Spark pass)
            est_b = np.bincount(
                np.argmin(
                    np_index_distances(metric, train, centroids), axis=0
                ),
                minlength=nlist_eff,
            ).astype(np.float64)
            par = max(1, spark.sparkContext.defaultParallelism)
            tokens, n_bins = _cell_tokens(bounds, est_b, par)
            b = _assign_cells(
                base_df.select(base_id_col, base_vec_col), base_vec_col,
                centroids, metric, 1, [base_id_col, base_vec_col],
                tokens=tokens,
            )
            return _broadcast_scored_topk(
                b, base_id_col, base_vec_col, query_id_col, qids_np,
                qmat, grouped_q, bounds, metric, k, n_bins,
            )

    b = _assign_cells(
        base_df.select(base_id_col, base_vec_col), base_vec_col, centroids,
        metric, 1, [base_id_col, base_vec_col],
    )
    q = _assign_cells(
        queries_df.select(query_id_col, query_vec_col), query_vec_col,
        centroids, metric, nprobe, [query_id_col, query_vec_col],
    )

    return _cell_scored_topk(
        q, b, query_id_col, query_vec_col, base_id_col, base_vec_col,
        k, metric, method, salt,
    )


def _cell_scored_topk(
    q: DataFrame,
    b: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    base_id_col: str,
    base_vec_col: str,
    k: int,
    metric: str,
    method: str,
    salt: int,
) -> DataFrame:
    """Scoring stage shared by `knn_join` (freshly-trained cells) and
    `index_knn_join` (cells of a published IVF index): both sides arrive
    already carrying `__cell`; score within cells, merge per-query
    top-k."""
    out_schema = (
        f"{query_id_col} long, {base_id_col} long, {DISTANCE_COL} double"
    )
    if method == "exact":
        # bit-exact JVM fold over materialized candidate pairs — the
        # oracle path (hash-compared against DuckDB's LATERAL join)
        cand = q.join(b, on=CELL_COL)  # ONLY wide exchange: cell equi-join
        scored = cand.withColumn(
            DISTANCE_COL,
            index_distance(
                metric, base_vec_col,
                F.col(query_vec_col).cast("array<double>"),
            ),
        )
    else:
        # fast path: COGROUP both sides by cell instead of materializing
        # candidate pairs. The exchange then carries each base row once
        # and each query row nprobe times — never |q_cell| x |b_cell|
        # pair rows with two vectors aboard — and each cell scores as
        # ONE (nq, nb) GEMM + tie-safe partial top-k. Cells are the unit
        # of parallelism: pick nlist >= cluster parallelism so no single
        # task owns too much of the corpus.

        def score_cell(qtab, btab):
            # applyInArrow (round 12, same fix as the scan paths): both
            # sides' vector matrices reshape zero-copy from the Arrow
            # buffers instead of round-tripping pandas object Series
            import pyarrow as pa

            from ..functions.distance import np_from_arrow_list

            empty = pa.table(
                {query_id_col: pa.array([], type=pa.int64()),
                 base_id_col: pa.array([], type=pa.int64()),
                 DISTANCE_COL: pa.array([], type=pa.float64())}
            )
            if qtab.num_rows == 0 or btab.num_rows == 0:
                return empty

            qcol = qtab.column(qtab.schema.get_field_index(query_vec_col))
            bcol = btab.column(btab.schema.get_field_index(base_vec_col))
            qdim = len(qcol[0].as_py() or [])
            bdim = len(bcol[0].as_py() or [])
            qm = np_from_arrow_list(qcol, qdim)
            if qm is None:
                qm = np_stack_vectors(qcol.to_pandas())
            bm = np_from_arrow_list(bcol, bdim)
            if bm is None:
                bm = np_stack_vectors(bcol.to_pandas())
            d = np_index_distances(metric, bm, qm)  # (nq, nb)
            kk = min(k, bm.shape[0])
            qids = qtab.column(
                qtab.schema.get_field_index(query_id_col)
            ).to_numpy(zero_copy_only=False)
            bids = btab.column(
                btab.schema.get_field_index(base_id_col)
            ).to_numpy(zero_copy_only=False)
            frame = np_topk_frame(
                d, bids, qids, kk, base_id_col,
                DISTANCE_COL, qidx_col=query_id_col, qidx_dtype=np.int64,
            )
            return pa.Table.from_pandas(frame, preserve_index=False)

        salt = max(1, int(salt))
        if salt > 1:
            # deterministic sub-split: base by id hash, queries to all
            # sub-buckets (see docstring; exactness per (cell, salt)
            # pair is preserved — every (q, b) candidate pair still
            # meets in exactly one group)
            b = b.withColumn(
                "_salt", F.pmod(F.abs(F.hash(F.col(base_id_col))), F.lit(salt))
            )
            q = q.withColumn(
                "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
            )
            group_cols = [CELL_COL, "_salt"]
        else:
            group_cols = [CELL_COL]
        scored = (
            q.groupby(*group_cols)
            .cogroup(b.groupby(*group_cols))
            .applyInArrow(score_cell, schema=out_schema)
        )

    w = Window.partitionBy(query_id_col).orderBy(
        F.col(DISTANCE_COL).asc_nulls_last(), F.col(base_id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(query_id_col, base_id_col, DISTANCE_COL)
    )


def index_knn_join(
    spark,
    index_name: str,
    queries_df: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    k: int,
    nprobe: int = 0,
    method: str = "blas",
    catalog=None,
    salt: int = 1,
    target_recall: float | None = None,
) -> DataFrame:
    """k-NN join against a PUBLISHED IVFFlat index instead of freshly
    trained cells → (query_id, <index id col>, _distance).

    `target_recall` (round 10, the `index_scan` contract on the join
    surface): resolve the probe count for THIS call from the index's
    measured build-time curve — mutually exclusive with an explicit
    `nprobe`, loud failure on artifacts without a measurement.

    `knn_join` pays, on every call, a kmeans train (driver), a full
    assignment pass over the base side, and the base-side exchange into
    cells. A table that is joined against repeatedly should pay those
    once — at CREATE INDEX time. This operator reuses the index
    artifact the IVF engine already maintains (beyond-reference: the
    reference's `ann_search_table` streams a query table through one
    in-process index, `src/ann_search.cpp:397-691`; here the query side
    is an arbitrary DataFrame and the scoring is distributed):

    * centroids: the tiny driver-side table (`ivf._centroids`);
    * base side: the cell-PARTITIONED vectors parquet read as-is — no
      assignment pass, no exchange; pruned to the union of probed cells
      (partition pruning, same as index search);
    * query side: one narrow assignment pass to its `nprobe` nearest
      cells, then the same cogroup-GEMM / exact scoring as `knn_join`.
      `nprobe=0` resolves exactly like `index_scan` on this index
      (round 9): the index's own PINNED build nprobe when one was set
      (reference semantics — FAISS defaults nprobe=1, and the join
      must score the same cells a search of that index would), else
      the index's measured build-time calibration, else the static
      `auto_nprobe` rule. To force full-probe regardless of the pin,
      pass `nprobe >= nlist`.

    Tombstoned ids are anti-joined off the base side before scoring, so
    results match a vacuumed index. `nprobe >= nlist` degenerates to
    the exact k-NN join (`method='exact'` for bit-exact distances).
    """
    from ..index.api import _deleted_ids, _load
    from ..index.ivf import CELL_COL as IVF_CELL_COL
    from ..index.ivf import VECTORS_DIR, IvfFlatEngine, auto_nprobe

    cat, manifest, d, impl = _load(index_name, "", catalog)
    if not isinstance(impl, IvfFlatEngine):
        raise ValueError(
            f"index_knn_join needs an IVFFlat index; '{index_name}' is "
            f"{manifest['engine']}/{manifest.get('subtype', '')} (graph "
            "engines have no cell layout to join against — use knn_join, "
            "or ann_search_table for a small query side)"
        )
    base_id_col = manifest["id_col"]
    base_vec_col = manifest["vec_col"]
    metric = manifest["params"]["metric"]
    centroids = impl._centroids(spark, d)
    nlist_eff = centroids.shape[0]
    if nlist_eff == 0:
        raise ValueError(f"index '{index_name}' is empty (no trained cells)")
    if target_recall is not None:
        if nprobe:
            raise ValueError(
                "pass either nprobe (an explicit probe count) or "
                "target_recall, not both"
            )
        if not (0.0 < float(target_recall) <= 1.0):
            raise ValueError("target_recall must be in (0, 1]")
        from ..index.calibration import nprobe_for_target

        nprobe = nprobe_for_target(manifest, target_recall)
        if nprobe <= 0:
            raise ValueError(
                f"index '{index_name}' carries no measured recall curve "
                "(built with a pinned nprobe or calibration_queries=0, "
                "or pre-dates build-time calibration) — rebuild with "
                "nprobe=0 to measure, or pass an explicit nprobe"
            )
    elif nprobe == 0:
        # mirror index_scan's resolution exactly (round-9 fix — the old
        # jump straight to the static rule diverged from index_scan on
        # indexes with a PINNED build nprobe): the manifest's own
        # nprobe when pinned > the index's measured floor-clearing
        # count (build-time calibration) > the static worst-case rule
        from ..index.calibration import calibrated_nprobe

        nprobe = (
            int(manifest["params"].get("nprobe", 0) or 0)
            or calibrated_nprobe(manifest)
            or auto_nprobe(nlist_eff, int(manifest["dim"]))
        )
    nprobe = min(max(1, nprobe), nlist_eff)

    if query_vec_col == base_vec_col:
        queries_df = queries_df.withColumnRenamed(
            query_vec_col, f"_q_{query_vec_col}"
        )
        query_vec_col = f"_q_{query_vec_col}"
    if query_id_col == base_id_col:
        queries_df = queries_df.withColumnRenamed(
            query_id_col, f"_q_{query_id_col}"
        )
        query_id_col = f"_q_{query_id_col}"

    b = spark.read.parquet(f"{d}/{VECTORS_DIR}")
    if IVF_CELL_COL != CELL_COL:  # pragma: no cover - same constant today
        b = b.withColumnRenamed(IVF_CELL_COL, CELL_COL)
    deleted = _deleted_ids(spark, d, manifest)
    if deleted is not None:
        b = b.join(F.broadcast(deleted), on=base_id_col, how="anti")
    sq8 = impl._sq8_params(manifest)
    from ..functions.distance import cast_id_vec

    if method != "exact" and salt <= 1:
        # broadcast-queries scoring (round 16, guide §8 — see knn_join):
        # the probed-cell union is additionally known driver-side here,
        # so the partition pruning below costs NO extra Spark job (the
        # cogroup path re-runs the query assignment pass to collect it)
        got = _collect_queries_bounded(
            cast_id_vec(queries_df, query_id_col, query_vec_col),
            query_id_col, query_vec_col, int(centroids.shape[1]),
        )
        if got is not None:
            qids_np, qmat = got
            grouped_q, bounds = _driver_probe_csr(
                qmat, centroids, metric, nprobe
            )
            probed = np.flatnonzero(np.diff(bounds) > 0)
            bb = b
            if len(probed) < nlist_eff:
                # keep the isin prune: it reaches the parquet scan as
                # partition pruning (the token filter inside the scoring
                # stage cannot)
                bb = bb.where(
                    F.col(CELL_COL).isin([int(c) for c in probed])
                )
            if sq8 is not None:
                from ..index.ivf import _decode_cells_df

                bb = _decode_cells_df(bb, base_id_col, base_vec_col, sq8,
                                      with_cell=True)
            par = max(1, spark.sparkContext.defaultParallelism)
            tokens, n_bins = _cell_tokens(bounds, None, par)
            bb = _with_tokens(
                bb.select(base_id_col, base_vec_col, CELL_COL), tokens
            )
            return _broadcast_scored_topk(
                bb, base_id_col, base_vec_col, query_id_col, qids_np,
                qmat, grouped_q, bounds, metric, k, n_bins,
            )

    q = _assign_cells(
        cast_id_vec(queries_df, query_id_col, query_vec_col),
        query_vec_col, centroids, metric, nprobe,
        [query_id_col, query_vec_col],
    )
    if nprobe < nlist_eff:
        # partition pruning: only cells some query probes are scanned.
        # Collecting the distinct probed cells re-runs the (narrow,
        # cheap) query assignment pass once more — worth it whenever the
        # base outweighs the query side, which is this operator's use
        # case: it converts the base-side read+cogroup from ALL cells to
        # the probed union (a query workload with locality probes far
        # fewer than nlist cells). The collect is bounded by nlist_eff
        # ints. Cells probed by nobody would only cogroup against empty
        # query groups — pruning is a scan optimization, not a
        # correctness requirement.
        probed = [
            int(r[CELL_COL])
            for r in q.select(CELL_COL).distinct().collect()
        ]
        if len(probed) < nlist_eff:
            b = b.where(F.col(CELL_COL).isin(probed))
    if sq8 is not None:
        # dequantize AFTER the cell pruning so the parquet scan still
        # reads only the probed cells' (1/4-size) code files
        from ..index.ivf import _decode_cells_df

        b = _decode_cells_df(b, base_id_col, base_vec_col, sq8,
                             with_cell=True)
    return _cell_scored_topk(
        q, b, query_id_col, query_vec_col, base_id_col, base_vec_col,
        k, metric, method, salt,
    )
