"""DiskANN/Vamana engine: graph build + greedy search over `.diskann` files.

Build (`CREATE INDEX ... USING DISKANN`, `src/diskann_index.cpp:111-310`):
the reference buffers every vector in one global sink state and builds
single-threaded (`ParallelSink()=false`); our single-shard build mirrors
that exactly (driver-side sequential inserts in id order). For scale,
`shards=N` partitions ids by hash and builds N independent graphs in
parallel executors (`applyInPandas`), searching all shards and merging —
the same shard-and-merge trade the reference makes in `MergeIndexes`.

Artifact layout:

    graph/shard_<s>.diskann    v2 binary (+ SQ8 appendix when quantized)
    labels/                    parquet (shard, label, id) label↔id map
    route/                     parquet (shard, centroid) — only when
                               shard_by='cells' (kmeans-routed shards)

Shard routing (`shard_by`, beyond-reference): 'hash' spreads rows
uniformly — perfectly balanced, but every query searches EVERY shard,
so per-query work grows linearly with the corpus. 'cells' makes
each shard a kmeans cell (the SPANN / clustered-DiskANN design): a
search ranks the routing centroids and probes only the `route_nprobe`
nearest shards (0 = the recall-calibrated `ivf.auto_nprobe` rule), so
per-query work stays ~constant as the corpus grows; appends route to
the nearest centroid's shard to preserve the spatial locality the probe
relies on, and vacuum retrains the routing (the rebalance path).
'auto' (the default since round 8) resolves at build time — 'cells'
past 8 shards, 'hash' otherwise — and the manifest records the
resolved value.

The `.diskann` shard files ARE the vector storage — `vectors()`
reconstructs (id, vec) rows distributively from shards + label map for
vacuum/merge/insert, so the index never keeps a second parquet copy of
every vector (2x storage at 100 TB otherwise).

Search: each process memmaps the shards it probes and keeps them, with
their label→id arrays, in a per-process cache; it runs the greedy
search, resolves ids and keeps each query's global top-k by (distance,
id). A few queries are served on the driver; a batch is one Spark job,
a `mapInArrow` over the query frame. The tombstone over-request happens
in `api.index_scan`.
"""

from __future__ import annotations

import os
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..local import local_df
from .engines import register_engine
from ..functions.distance import (
    np_from_arrow_list,
    np_index_distances,
    np_stack_vectors,
)
from .file_format import read_diskann, read_hnsw, read_sq8, write_diskann
from .hnsw_core import build_hnsw
from .vamana_core import (
    SQ8Vectors,
    VamanaGraph,
    _mix64_np,
    build_graph,
    sq8_quantize,
)
from ..functions.text import quote_ident as _quote

GRAPH_DIR = "graph"
LABELS_DIR = "labels"
# shard_by='cells' routing table: parquet (shard int, centroid) — one
# kmeans centroid per shard, read driver-side at search/append time
ROUTE_DIR = "route"

# per-process (driver or python worker) shard cache, LRU-bounded two
# ways (round 8): by RESIDENT BYTES (the real constraint — SQ8 shards
# keep their u8 codes resident; mmapped f32/adjacency segments charge 0
# because the OS reclaims those pages under pressure) and by entry COUNT
# as an fd/handle backstop. Eviction only drops the python object — a
# later touch re-mmaps / re-reads (cheap). Hash-sharded indexes fan
# every query over every shard, so a long-lived worker's cache converges
# to the whole index: at 25k-row x d768 shards the round-7 dequantized-
# f32 cache cost ~77 MB/shard (~20 GB/worker at the count cap); the u8
# view caches ~19 MB/shard and the byte budget bounds it regardless.
# Search attaches each shard's label→id arrays to its cached graph
# (`_shard_ids`); they charge the same budget.
_GRAPH_CACHE: "dict" = {}  # (path, mtime) -> (graph, resident_nbytes)
MAX_CACHED_SHARDS = 256
MAX_CACHED_BYTES = int(
    os.environ.get("SPARK_GRAFT_SHARD_CACHE_BYTES", str(1 << 30))
)
_CACHE_BYTES = 0


def _resident_nbytes(g) -> int:
    """Bytes this graph object pins in process memory: numpy arrays that
    are NOT memmaps (mmapped segments are OS-paged, reclaimable) plus
    the SQ8 code view, HNSW upper-layer adjacency and the shard's
    label→id arrays once `_shard_ids` attached them."""
    total = 0
    for name in ("vectors", "adjacency", "levels"):
        arr = getattr(g, name, None)
        if arr is None or isinstance(arr, np.memmap):
            continue
        total += int(arr.nbytes)  # ndarray and SQ8Vectors both expose it
    for layer in getattr(g, "upper", ()) or ():
        for ids in layer.values():
            total += int(getattr(ids, "nbytes", 8 * len(ids)))
    for arr in getattr(g, "label_ids", ())[1:]:
        total += int(arr.nbytes)
    return total


def _labels_sig(artifact_dir: str) -> str:
    """Digest of the label map's files (name, size, mtime). Appends add
    part files and rebuilds replace them, so any change to the map
    changes the digest; executors compare it against the one their
    cached id arrays were read under."""
    import hashlib

    entries = sorted(
        (e.name, e.stat().st_size, e.stat().st_mtime_ns)
        for e in os.scandir(f"{artifact_dir}/{LABELS_DIR}")
    )
    return hashlib.sha1(repr(entries).encode()).hexdigest()


def _route_centroids(spark: SparkSession, artifact_dir: str,
                     manifest_params: dict) -> np.ndarray | None:
    """(n_shards, dim) routing centroids for a shard_by='cells' index;
    None for hash-sharded indexes. Gated on BOTH the manifest flag and
    the route dir so a stale dir (or a hash index) never routes."""
    if (manifest_params or {}).get("shard_by", "hash") != "cells":
        return None
    path = f"{artifact_dir}/{ROUTE_DIR}"
    if not os.path.isdir(path):
        return None
    try:
        import pyarrow.dataset as ds

        pdf = (
            ds.dataset(path, format="parquet")
            .to_table(columns=["shard", "centroid"])
            .to_pandas()
            .sort_values("shard")
        )
        cents = np.array(pdf["centroid"].tolist(), dtype=np.float32)
        shards = pdf["shard"].to_numpy(dtype=np.int64)
    except Exception:
        rows = spark.read.parquet(path).orderBy("shard").collect()
        cents = np.array([r["centroid"] for r in rows], dtype=np.float32)
        shards = np.array([r["shard"] for r in rows], dtype=np.int64)
    # shard ids are dense 0..k-1 by construction; assert so a corrupted
    # route table fails loud instead of mapping queries to wrong shards
    if not np.array_equal(shards, np.arange(len(shards))):
        raise ValueError(
            f"route table at {path} has non-dense shard ids {shards[:8]}..."
        )
    return cents


def _resolve_search_complexity(
    manifest: dict, search_complexity: int | None
) -> int | None:
    """search_complexity=None resolution shared by every graph-search
    surface (round 10 — the symmetric half of `_resolve_route_nprobe`):
    explicit per-call value > the index's own MEASURED in-shard
    floor-clearing L (build-time calibration, `l_calibration`) > None,
    which the graph kernels resolve to their static default
    (build_complexity for Vamana, ef_construction for HNSW —
    `vamana_core.VamanaGraph.search:111`, `hnsw_core:285`). Uniform
    indexes measure L == the static default, so this is a no-op there;
    dense-cluster shards measure the larger L their occlusion-pruned
    beams actually need (the round-9 residual: ~0.76 in-shard recall at
    the default L on clustered 100k)."""
    if search_complexity is not None:
        return search_complexity
    from .calibration import calibrated_l

    return calibrated_l(manifest) or None


def _resolve_route_nprobe(manifest: dict, n_shards: int, dim: int) -> int:
    """route_nprobe=0 resolution shared by every routed-search surface:
    explicit manifest value > the index's own MEASURED floor-clearing
    probe count (build-time calibration, round 9) > the static
    uniform-worst-case `ivf.auto_route_nprobe` rule (pre-round-9
    artifacts, calibration_queries=0 builds)."""
    from .calibration import calibrated_nprobe
    from .ivf import auto_route_nprobe

    rnp = int((manifest.get("params") or {}).get("route_nprobe", 0) or 0)
    if rnp == 0:
        rnp = calibrated_nprobe(manifest, "route_calibration")
    if rnp == 0:
        rnp = auto_route_nprobe(n_shards, dim)
    return min(max(1, rnp), n_shards)


def _route_probe_sets(
    route: np.ndarray,
    queries,
    metric: str,
    manifest: dict,
    existing_shards: set[int],
) -> list[set[int]]:
    """Per-query probed shard sets: the `route_nprobe` nearest routing
    centroids (0 = the index's measured calibration when recorded, else
    the static ivf.auto_route_nprobe rule — both budget for the
    per-shard graph-search miss on top of the routing miss), filtered
    to shard files that exist (empty cells write none)."""
    from ..functions.distance import np_index_distances

    qmat = np.asarray(queries, dtype=np.float32)
    if qmat.ndim == 1:
        qmat = qmat[None, :]
    cd = np_index_distances(metric, route, qmat)  # (q, n_shards)
    rnp = _resolve_route_nprobe(manifest, route.shape[0], route.shape[1])
    order = np.argsort(cd, axis=1, kind="stable")[:, :rnp]
    sets = [
        {int(c) for c in order[qi] if int(c) in existing_shards}
        for qi in range(qmat.shape[0])
    ]
    # a probe set can only come out empty if the route table and the
    # shard files disagree (e.g. every probed cell was empty at build);
    # degrade that query to a full fan-out rather than zero results
    return [s if s else set(existing_shards) for s in sets]


# round 15 (guide §1.2 "the distributed algorithm first"): a beam at
# width L over degree-d adjacency visits ~0.7*L*d rows regardless of
# shard size (measured: 46% of a 781-row shard at L=32, d=16), so when
# the shard is not much bigger than L*d an exact BLAS scan of the whole
# shard is FASTER than walking the graph (measured slab-beam/flat-scan
# ratios, BLAS pinned 1 thread: 781x128 2.0-11.1x, 1500x16 3.3-13.0x
# across batch widths 1-193; crossover ~2x L*d single-query, ~12-25x
# L*d batched) and strictly better recall (exact per shard — the
# calibrated floor stays a floor). 4x L*d keeps every covered shape a
# win at every batch width. 0 disables (beam everywhere). Read per
# call (not at import) so executors and tests resolve their own env.
FLAT_SCAN_FACTOR_DEFAULT = 4.0


def _flat_scan_ok(g, k: int, search_complexity) -> bool:
    """True when target_recall (slab) serving should answer this shard
    with the exact scan: plain fp32 residency only (SQ8 codes would
    need a full dequantize — their tiers run shards far past the gate
    anyway) and shard rows within FLAT_SCAN_FACTOR * L * degree."""
    v = getattr(g, "vectors", None)
    if not isinstance(v, np.ndarray):
        return False
    factor = float(
        os.environ.get("SPARK_GRAFT_FLAT_SCAN_FACTOR", "")
        or FLAT_SCAN_FACTOR_DEFAULT
    )
    deg = getattr(g, "max_degree", 0) or 2 * getattr(g, "m", 0)
    L = max(k, int(search_complexity or getattr(g, "build_complexity", 0) or k))
    return deg > 0 and g.n <= factor * L * deg


def _flat_search_batch(g, qm: np.ndarray, k: int):
    """Exact per-shard top-k, same return shape as `search_batch`:
    list[list[(label, distance)]] ascending. Selection ranks through
    the batched GEMM kernel routing/IVF already use
    (`np_index_distances`); the k survivors' emitted distances are then
    recomputed through `vamana_core._dists` so every distance the
    engine emits keeps funnelling through that one reduction (the
    bitwise-parity invariant its docstring pins)."""
    from .vamana_core import _dists

    nq = qm.shape[0]
    kk = min(k, g.n)
    if kk <= 0 or nq == 0:
        return [[] for _ in range(nq)]
    V = g.vectors[: g.n]
    d = np_index_distances(g.metric, V, qm)
    if kk < g.n:
        idx = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    else:
        idx = np.broadcast_to(np.arange(g.n), (nq, g.n))
    out = []
    for i in range(nq):
        rows = idx[i]
        ds = _dists(g.metric, V[rows], qm[i])
        o = np.lexsort((rows, ds))
        out.append(list(zip(rows[o].tolist(), ds[o].tolist())))
    return out


def _batch_queries(b, qid_name: str, dim: int):
    """(query matrix, query ids) of one Arrow batch of a query frame."""
    qs = np_from_arrow_list(b.column(b.schema.get_field_index("_qv")), dim)
    if qs is None:
        qs = np_stack_vectors(b.select(["_qv"]).to_pandas()["_qv"])
    qids = b.column(b.schema.get_field_index(qid_name)).to_numpy(
        zero_copy_only=False
    )
    return qs, qids


def _search_kernel(g, qm: np.ndarray, k: int, search_complexity, slab: bool):
    """One shard's hits for the query rows `qm`: list[list[(label,
    distance)]]. `slab` (target_recall-driven calls only) takes the
    exact scan on small fp32 shards and the frontier-slab beam
    elsewhere; the default is the lock-step beam, whose per-query
    results do not depend on the batch."""
    if slab and _flat_scan_ok(g, k, search_complexity):
        return _flat_search_batch(g, qm, k)
    if slab and hasattr(g, "search_batch_slab"):
        return g.search_batch_slab(qm, k, search_complexity)
    return g.search_batch(qm, k, search_complexity)


def _topk_batch(qs: np.ndarray, qids, psets, shard_files, k: int,
                search_complexity, labels: "tuple[str, str]",
                names: "tuple[str, str]", qid_np_dtype,
                slab: bool = False, per_query: bool = False):
    """Search a slab of queries and return their global top-k as one
    Arrow RecordBatch (qid, id, _distance).

    Each query searches the shards in its probe set (`psets`, positional;
    None = every shard). Hits resolve (shard, label) → id through the
    id arrays cached beside each shard (`_shard_ids`), and each query
    keeps its first k rows ordered by (distance ascending, NaN last; id
    ascending) — the order every search surface promises. The cut is
    exact because a query's whole probe set is searched here.
    `per_query` calls the kernel one query at a time: the batched exact
    scan can rank near-ties differently from the single-query one, and
    the few-query driver path keeps the single-query results."""
    import pyarrow as pa

    nq = len(qids)
    wanted = [
        (s, p) for s, p in shard_files
        if psets is None or any(s in ps for ps in psets)
    ]
    maps = _shard_ids(wanted, *labels)
    acc_i: list = [[] for _ in range(nq)]
    acc_d: list = [[] for _ in range(nq)]
    for shard, _ in wanted:
        g, lab, ids = maps[shard]
        keep = [i for i in range(nq) if psets is None or shard in psets[i]]
        if per_query:
            found = [
                _search_kernel(g, qs[i:i + 1], k, search_complexity, slab)[0]
                for i in keep
            ]
        else:
            found = _search_kernel(g, qs[keep], k, search_complexity, slab)
        for qi, hits in zip(keep, found):
            if not hits or not len(lab):
                continue
            la, da = zip(*hits)
            la = np.asarray(la, dtype=np.int64)
            pos = np.minimum(np.searchsorted(lab, la), len(lab) - 1)
            ok = lab[pos] == la  # a label missing from the map drops
            acc_i[qi].append(ids[pos[ok]])
            acc_d[qi].append(np.asarray(da, dtype=np.float64)[ok])
    out_q, out_i, out_d = [], [], []
    for qi in range(nq):
        if not acc_d[qi]:
            continue
        i = np.concatenate(acc_i[qi])
        d = np.concatenate(acc_d[qi])
        o = np.lexsort((i, d))[:k]
        out_q.append(np.full(len(o), qids[qi], dtype=qid_np_dtype))
        out_i.append(i[o])
        out_d.append(d[o])
    cols = (
        [np.concatenate(out_q), np.concatenate(out_i), np.concatenate(out_d)]
        if out_q
        else [np.empty(0, qid_np_dtype), np.empty(0, np.int64),
              np.empty(0, np.float64)]
    )
    return pa.RecordBatch.from_arrays(
        [pa.array(c) for c in cols], names=[*names, "_distance"]
    )


def _shard_ids(wanted, labels_dir: str, sig: str):
    """shard → (graph, sorted labels, ids) for every (shard, path) in
    `wanted`. The label→id arrays live on the cached graph object
    (`label_ids`, tagged with the label map digest `sig`) and count
    against the cache's byte budget. Shards whose arrays are missing or
    were read under another digest reload in one filtered label-map
    read; a rewritten shard file reloads as a new graph object."""
    out, missing = {}, []
    for shard, path in wanted:
        key, g = _cached_shard(path)
        ent = getattr(g, "label_ids", None)
        if ent is not None and ent[0] == sig:
            out[shard] = (g, ent[1], ent[2])
        else:
            missing.append((shard, key, g))
    if not missing:
        return out
    import pyarrow.dataset as ds

    tbl = ds.dataset(labels_dir, format="parquet").to_table(
        columns=["shard", "label", "id"],
        filter=ds.field("shard").isin([s for s, _, _ in missing]),
    )
    s, lab, ids = (
        tbl[c].to_numpy().astype(np.int64, copy=False)
        for c in ("shard", "label", "id")
    )
    order = np.lexsort((lab, s))
    s, lab, ids = s[order], lab[order], ids[order]
    for shard, key, g in missing:
        a, z = np.searchsorted(s, [shard, shard + 1])
        g.label_ids = (sig, lab[a:z].copy(), ids[a:z].copy())
        out[shard] = (g, g.label_ids[1], g.label_ids[2])
        _recharge(key, g)
    return out


def _evict_cache_entry(key) -> None:
    global _CACHE_BYTES
    _, nbytes = _GRAPH_CACHE.pop(key)
    _CACHE_BYTES -= nbytes


def _clear_shard_cache() -> None:
    """Reset the cache AND its byte accounting together (tests, or a
    session that wants to drop every resident shard right now)."""
    global _CACHE_BYTES
    _GRAPH_CACHE.clear()
    _CACHE_BYTES = 0


def _recharge(key, g) -> None:
    """(Re)charge `g`'s resident bytes to cache entry `key`, then evict
    least-recently-used entries past the byte budget (the real
    constraint) or the count cap (fd backstop), never `key` itself. A
    key already evicted stays out."""
    global _CACHE_BYTES
    if key not in _GRAPH_CACHE:
        return
    nbytes = _resident_nbytes(g)
    _CACHE_BYTES += nbytes - _GRAPH_CACHE[key][1]
    _GRAPH_CACHE[key] = (g, nbytes)
    while len(_GRAPH_CACHE) > 1 and (
        _CACHE_BYTES > MAX_CACHED_BYTES or len(_GRAPH_CACHE) > MAX_CACHED_SHARDS
    ):
        oldest = next(iter(_GRAPH_CACHE))
        if oldest == key:
            break
        _evict_cache_entry(oldest)


def _load_shard(path: str):
    return _cached_shard(path)[1]


def _cached_shard(path: str):
    """(cache key, graph) for a shard file, loading it on a miss."""
    key = (path, os.path.getmtime(path))
    entry = _GRAPH_CACHE.get(key)
    if entry is not None:
        # LRU touch: plain dicts iterate in insertion order, so
        # re-inserting moves this key to the back (= most recent)
        del _GRAPH_CACHE[key]
        _GRAPH_CACHE[key] = entry
        return key, entry[0]
    # evict stale generations of this shard (append/vacuum rewrote
    # the file → new mtime → new key; leaking a resident entry per
    # rewrite bloats long-lived sessions)
    for stale in [k for k in _GRAPH_CACHE if k[0] == path]:
        _evict_cache_entry(stale)
    # a shard with an HNSW appendix loads as a layered HnswGraph
    # (same search interface); plain shards load as VamanaGraph
    g = read_hnsw(path, mmap=True)
    if g is None:
        g = read_diskann(path, mmap=True)
        sq8 = read_sq8(path)
        if sq8 is not None:
            # search in (near) the quantized domain, like the
            # reference's SQ8 provider (provider.rs:161-231): u8 codes
            # stay resident, rows dequantize on read — bitwise-equal
            # distances to the full dequantized matrix at 1/4 the
            # resident bytes
            g.vectors = SQ8Vectors(*sq8)
    _GRAPH_CACHE[key] = (g, 0)
    _recharge(key, g)
    return key, g


class VamanaEngine:
    name = "vamana"

    def build(
        self,
        spark: SparkSession,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        artifact_dir: str,
        params,
        dim: int,
    ) -> dict:
        os.makedirs(f"{artifact_dir}/{GRAPH_DIR}", exist_ok=True)
        src = df.select(id_col, vec_col)

        def build_shard_np(ids: np.ndarray, vecs: np.ndarray,
                           shard: int, walls=None) -> pd.DataFrame:
            # id-sorted build (reference insert order); numpy-facing so
            # the cell build's mapInArrow path never round-trips the
            # vectors through pandas object Series (round 13). `walls`
            # (round 14, r13 verdict item 1): per-phase wall dict the
            # cell build fills so the 10M composite phase is
            # attributable — graph insert vs shard-file write.
            import time as _t

            order = np.argsort(ids, kind="stable")
            ids = ids[order].astype(np.int64, copy=False)
            vecs = vecs[order]
            _w0 = _t.perf_counter()
            g = build_graph(
                vecs,
                max_degree=params.max_degree,
                build_complexity=params.build_complexity,
                alpha=params.alpha,
                metric=params.metric,
                start_strategy=getattr(params, "start_strategy", "first"),
                start_nsamples=getattr(params, "start_nsamples", 1),
                start_seed=getattr(params, "start_seed", 42),
            )
            _w1 = _t.perf_counter()
            sq8 = sq8_quantize(vecs) if params.quantize_sq8 and len(vecs) else None
            write_diskann(
                f"{artifact_dir}/{GRAPH_DIR}/shard_{shard}.diskann", g, sq8
            )
            if walls is not None:
                _w2 = _t.perf_counter()
                walls["graph_insert"] += _w1 - _w0
                walls["file_write"] += _w2 - _w1
            return pd.DataFrame(
                {
                    "shard": np.full(len(ids), shard, dtype=np.int32),
                    "label": np.arange(len(ids), dtype=np.int64),
                    "id": ids,
                }
            )

        shards = self._run_sharded_build(
            spark, src, id_col, params, build_shard_np, artifact_dir
        )
        return {
            "layout": "diskann-v2", "shards": shards,
            # measured routing calibration (round 9; None for
            # hash/single-shard layouts — also CLEARS a stale value
            # when vacuum/merge rebuilds under a different layout)
            "route_calibration": getattr(params, "_route_calibration", None),
            # measured in-shard L calibration (round 10; same
            # clear-on-rebuild contract)
            "l_calibration": getattr(params, "_l_calibration", None),
            # measured end recall at the default operating point — the
            # anchor of the target_recall composition (round 11)
            "end_calibration": getattr(params, "_end_calibration", None),
        }

    def _run_sharded_build(self, spark, src, id_col, params, build_shard_np,
                           artifact_dir) -> int:
        """Shared shard-and-merge driver for every graph engine: 1 shard
        = reference-parity driver build; N shards = the shuffle partition
        IS the shard — repartition(shards, id) spreads rows uniformly
        (hash of a unique id) and each task builds exactly one graph from
        its whole partition. One shuffle, perfect task balance, no hidden
        sampling job (repartitionByRange runs one to estimate bounds).
        `params.shards == 0` (both engines' default) resolves here: one
        graph up to `params.auto_shard_rows()` vectors (the round-9
        degree-aware budget — the historical reference-parity 25k at
        default degrees, smaller for low-degree graphs that degrade
        well before 25k rows; measurement table in params.py), then one
        shard per budget — so a big CREATE INDEX never routes the whole
        table through the driver.
        Returns the number of shard files actually written (empty hash
        partitions write none — the manifest must report what exists,
        since append's overflow numbering and diagnostics read it).

        `shard_by='cells'` (the SPANN/clustered-DiskANN shape): shard =
        kmeans cell instead of id hash. Same one-shuffle build, but the
        shards are SPATIAL, so search probes only the `route_nprobe`
        nearest (see `search`) — per-query work stays ~constant as the
        corpus grows, where hash shards force a full fan-out. The
        routing centroids land in `route/` and the manifest's
        `shard_by` flag gates their use (a stale dir alone never
        routes). Cell sizes follow the data distribution — the kmeans
        balance, not perfect hash balance, is the price of locality."""
        import shutil

        vec_col = [c for c in src.columns if c != id_col][0]

        def build_shard(pdf: pd.DataFrame, shard: int) -> pd.DataFrame:
            # pandas adapter for the single-shard / hash-partition
            # paths; the cell path feeds build_shard_np from Arrow
            # buffers directly (stack-then-sort == sort-then-stack, so
            # both paths produce byte-identical shard files)
            return build_shard_np(
                pdf[id_col].to_numpy(), np_stack_vectors(pdf[vec_col]),
                shard,
            )

        # routed-probe + in-shard-L calibration results (set by
        # _run_cell_build; None-initialized here so hash/single-shard
        # builds — and vacuum/merge rebuilds that CHANGE layout —
        # record no stale measurement)
        params._route_calibration = None
        params._l_calibration = None
        params._end_calibration = None
        shards = int(getattr(params, "shards", 0))
        n_rows = getattr(params, "_n_rows", None)
        if shards == 0:
            if n_rows is None:
                n_rows = src.count()
            # one graph up to the DEGREE-AWARE budget, then one shard
            # per budget (round 9; see params.auto_shard_rows). At the
            # reference-default degrees the budget IS the historical
            # 25k parity threshold, so default builds keep the
            # reference's single-graph layout exactly; a low-degree
            # build shards earlier because its single graph would
            # already be under the recall floor at 25k (measured 0.336
            # local recall@10 for degree 16 — the flat budget was a
            # silent recall cliff at ANY size past ~1.5k, not just 1M).
            # `shards=1` still forces the parity layout at any size.
            per = (
                params.auto_shard_rows()
                if hasattr(params, "auto_shard_rows")
                else int(getattr(params, "AUTO_SHARD_ROWS", 25_000))
            )
            shards = max(1, -(-int(n_rows) // per))
        if getattr(params, "shard_by", "hash") == "auto":
            # round-8 default: past 8 shards, hash fan-out makes
            # per-query work linear in the corpus — the wrong default
            # at scale; kmeans-routed cells keep it ~constant (probed
            # fraction decays as shards^-0.25) while holding the 0.70
            # recall floor (auto_route_nprobe calibration). At <=8
            # shards routing resolves to near-full fan-out anyway, so
            # 'hash' keeps the reference-parity layout. The RESOLVED
            # value is written back so the manifest records what was
            # built (vacuum/merge rebuilds keep it).
            params.shard_by = "cells" if shards > 8 else "hash"
        # a rebuilt (vacuum/merge) artifact must not inherit a stale
        # routing table from a previous layout
        shutil.rmtree(f"{artifact_dir}/{ROUTE_DIR}", ignore_errors=True)
        if shards == 1:
            labels = build_shard(src.toPandas(), 0)
            spark.createDataFrame(
                labels, schema="shard int, label long, id long"
            ).write.mode("overwrite").parquet(f"{artifact_dir}/{LABELS_DIR}")
            return 1

        if getattr(params, "shard_by", "hash") == "cells":
            return self._run_cell_build(
                spark, src, id_col, params, build_shard_np, artifact_dir,
                shards, n_rows,
            )

        def build_partition(batches):
            pdfs = [p for p in batches if len(p)]
            if not pdfs:
                return
            pdf = pd.concat(pdfs)
            yield build_shard(
                pdf.drop(columns=["shard"]), int(pdf["shard"].iloc[0])
            )

        (
            src.repartition(shards, F.col(id_col))
            .withColumn("shard", F.spark_partition_id())
            .mapInPandas(
                build_partition, schema="shard int, label long, id long"
            )
            .write.mode("overwrite")
            .parquet(f"{artifact_dir}/{LABELS_DIR}")
        )
        return len(self._shard_files(artifact_dir))

    def _run_cell_build(self, spark, src, id_col, params, build_shard_np,
                        artifact_dir, shards: int, n_rows) -> int:
        """shard_by='cells': train routing centroids on a bounded
        deterministic sample (the IVF build's train discipline), assign
        rows to their nearest centroid in one narrow pass, build one
        graph per CELL. A shuffle partition may receive several cells
        (hash of the cell id), so the build task loops per cell —
        shard file ids are cell ids, dense 0..k_eff-1."""
        import time as _time

        from .ivf import _kmeans

        # phase-wall attribution for scale tuning (round 13): set
        # SPARK_GRAFT_BUILD_PHASES=1 to print each build phase's wall —
        # the 10M smokes report one build number; this names where it
        # goes (train/kmeans vs assign+build vs calibration)
        _phases = os.environ.get("SPARK_GRAFT_BUILD_PHASES")
        _t0 = _time.perf_counter()

        def _phase(name: str) -> None:
            nonlocal _t0
            if _phases:
                now = _time.perf_counter()
                print(f"[build-phase] {name}: {now - _t0:.1f}s", flush=True)
                _t0 = now

        vec_col = [c for c in src.columns if c != id_col][0]
        if n_rows is None:
            n_rows = src.count()
        n_rows = int(n_rows)
        cap = min(max(50 * shards, 10_000), n_rows, 200_000)
        sample = src.select(vec_col)
        if n_rows > cap:
            modulus = max(1, n_rows // cap)
            sample = src.where(
                F.pmod(F.abs(F.hash(F.col(id_col))), F.lit(modulus)) == 0
            ).select(vec_col)
        _phase("count+sample-plan")
        train = np_stack_vectors(sample.toPandas()[vec_col])[:cap]
        _phase("train-collect")
        centroids = _kmeans(train, shards)
        _phase("routing-kmeans")
        k_eff = centroids.shape[0]
        from ..functions.distance import np_index_distances
        from ..functions.partitioning import exact_partition_tokens

        # Cell-size guard (round 15): k-means does NOT guarantee
        # balanced cells — on uniform HIGH-DIM data it collapses
        # outright (measured: k=667 over 1M x 768 put 96.9% of rows in
        # 4 cells; the 5 mega-cell graph builds then ran 200k-row
        # degree-16 graphs — hours of straggler wall AND far past the
        # degree's recall capacity). SPANN solves this with balanced
        # closure clustering; the Spark-shaped equivalent here is
        # SUB-SPLITTING: estimate per-cell mass from the train sample
        # (free, driver-side), give any cell estimated past 2x the
        # per-shard budget ceil(est/budget) sub-shards, and assign rows
        # to sub-shards by a deterministic splitmix64 of the id. Each
        # sub-shard gets its OWN shard id but carries its cell's
        # CENTROID in the route table (duplicated rows), so the search
        # path needs no changes: ranking duplicates ties them adjacent
        # — probing the nearest cells naturally probes their sub-shards
        # first, and route_nprobe stays a true per-shard WORK budget.
        # Balanced builds estimate no cell past 2x budget and resolve
        # to the historical one-shard-per-cell layout exactly.
        budget_rows = max(1, -(-n_rows // max(1, k_eff)))
        n_sub = np.ones(k_eff, dtype=np.int64)
        est = None
        if os.environ.get("SPARK_GRAFT_CELL_SPLIT", "1") != "0" and len(train):
            tcn = np.einsum("ij,ij->i", centroids, centroids)
            ta = (
                tcn[None, :] - 2.0 * (train @ centroids.T)
            ).argmin(axis=1)
            est = (
                np.bincount(ta, minlength=k_eff).astype(np.float64)
                / len(train) * n_rows
            )
            over = est > 2 * budget_rows
            n_sub[over] = np.ceil(est[over] / budget_rows).astype(np.int64)
        sub_offsets = np.concatenate(
            [[0], np.cumsum(n_sub)]
        ).astype(np.int64)
        total_shards = int(sub_offsets[-1])
        if _phases and total_shards > k_eff:
            print(
                f"[build-phase] cell-split: {int((n_sub > 1).sum())} "
                f"oversized cells -> {total_shards} shards "
                f"(k_eff {k_eff}, budget {budget_rows})",
                flush=True,
            )
        from .ivf import _write_centroids

        # route table: one row per SUB-shard, centroid duplicated
        # across a split cell's sub-shards (dense shard ids 0..S-1)
        route_cents = centroids[np.repeat(np.arange(k_eff), n_sub)]
        _write_centroids(
            spark, f"{artifact_dir}/{ROUTE_DIR}", route_cents,
            cell_col="shard"
        )

        # collision-free cell->partition placement (round 11): hashing
        # k_eff dense cell ids into k_eff partitions collides ~26% of
        # them — those tasks build TWO (or more) graphs sequentially
        # while ~1/e of the cores sit idle, and the straggler doubles
        # the build wall exactly when shard builds are expensive
        # (observed live: the 300k degree-64 smoke finished 10/12 cells
        # in ~27 min and spent another hour on 2 collision tasks).
        # Round 10 fixed that with repartitionByRange, whose
        # range-boundary sampling job re-ran the whole assignment pass
        # once more per build; the precomputed hash TOKENS place cell c
        # in partition c exactly with a plain hash repartition — no
        # collisions AND no sampling job.
        #
        # Cell PACKING (round 15 optimization — guide §2.2 "fewer,
        # larger reduce partitions"): one partition per cell schedules
        # `total_shards` tasks and M x total_shards shuffle blocks. At
        # the 10M tier (6667 x ~1500-row cells) the measured
        # schedule+shuffle floor of the build exchange alone is 75-86s
        # at 6667 partitions vs 13.6-14.6s at 834 (passthrough A/B,
        # this round) — pure partition-count overhead. When the build
        # has far more cells than cores, pack cells into mass-balanced
        # bins (LPT over the train-sample row estimates, heaviest cell
        # first into the lightest bin) and give each BIN one partition;
        # the build task loops its bin's cells exactly as it always
        # looped hash-collided cells, so every cell still builds alone
        # from its own id-sorted rows — shard files, labels, and
        # calibration are byte-identical; only task placement changes.
        # The n_bins >= 8x-parallelism floor keeps bins >> workers (LPT
        # tail stays negligible) and the total_shards <= 8x-parallelism
        # gate keeps every build that fits in a few waves — including
        # all bench/oracle layouts — on the historical
        # one-cell-per-partition placement exactly. The round-11
        # expensive-cell lesson is preserved by LPT: a heavy cell lands
        # alone in its bin unless there are more heavy cells than bins,
        # which no placement could fix. SPARK_GRAFT_CELL_PACK = target
        # cells/bin cap (default 8; 0 disables packing).
        par = max(1, spark.sparkContext.defaultParallelism)
        pack = float(os.environ.get("SPARK_GRAFT_CELL_PACK", "") or 8)
        if pack > 0 and total_shards > 8 * par:
            # max(1, int(pack)): a fractional env value in (0,1) passes
            # the pack>0 gate but int(pack)==0 would ZeroDivisionError
            # (r15 ADVICE)
            n_bins = min(
                total_shards,
                max(8 * par, -(-total_shards // max(1, int(pack)))),
            )
        else:
            n_bins = total_shards
        if n_bins < total_shards:
            import heapq

            if est is not None:
                est_shard = np.repeat(est / n_sub, n_sub)
            else:
                est_shard = np.ones(total_shards, dtype=np.float64)
            # unit-mass floor (r15 ADVICE): zero-estimate cells (zero
            # train-sample rows) would otherwise all pile into bin 0 —
            # popping (0.0, 0) and pushing (0.0, 0) back keeps bin 0
            # the heap minimum; with the floor they round-robin
            est_shard = np.maximum(est_shard, 1.0)
            heavy_first = np.argsort(-est_shard, kind="stable")
            heap = [(0.0, b) for b in range(n_bins)]
            bin_of = np.empty(total_shards, dtype=np.int64)
            for s in heavy_first.tolist():
                load, b = heapq.heappop(heap)
                bin_of[s] = b
                heapq.heappush(heap, (load + float(est_shard[s]), b))
            tokens = exact_partition_tokens(n_bins)[bin_of]
            if _phases:
                print(
                    f"[build-phase] cell-pack: {total_shards} shards -> "
                    f"{n_bins} partitions (~{total_shards / n_bins:.1f} "
                    "cells/task)",
                    flush=True,
                )
        else:
            tokens = exact_partition_tokens(total_shards)
        bc = spark.sparkContext.broadcast(
            (centroids, tokens, sub_offsets, n_sub)
        )
        metric = params.metric

        # round 14 (r13 verdict item 1): per-TASK phase walls, summed
        # via accumulators, so the one driver-side composite phase
        # ("assign+cell-builds+labels") decomposes into named executor
        # work — assignment GEMM, shuffle-read wait, Arrow->numpy input,
        # graph insert, shard-file write. Sums are TASK-seconds across
        # all concurrent workers (32x the wall when perfectly parallel);
        # the residual vs the composite wall is shuffle-write + parquet
        # label write + scheduling. Only created when the phase print is
        # on — zero cost otherwise.
        task_accs = (
            {
                k: spark.sparkContext.accumulator(0.0)
                for k in ("assign", "shuffle_fetch", "input_arrow",
                          "graph_insert", "file_write")
            }
            if _phases
            else None
        )

        def assign(batches):
            # mapInArrow (round 12, same fix as the IVF build): the
            # pandas round trip of the vector column dominated the
            # pass, not the assignment GEMM
            import time as _t

            import pyarrow as pa

            from .ivf import _arrow_cells

            cm, toks, offs, nsub = bc.value
            t_body = 0.0
            for b in batches:
                if b.num_rows == 0:
                    continue
                t_in = _t.perf_counter()
                cells = _arrow_cells(b, vec_col, cm, metric)
                # sub-shard placement (round 15 cell-size guard):
                # deterministic splitmix64 of the id spreads an
                # oversized cell's rows across its sub-shards; unsplit
                # cells (nsub=1) reduce to shard id == cell id exactly
                ids_np = (
                    b.column(b.schema.get_field_index(id_col))
                    .to_numpy(zero_copy_only=False)
                    .astype(np.uint64)
                )
                sub = _mix64_np(ids_np) % nsub[cells].astype(np.uint64)
                sids = (offs[cells] + sub.astype(np.int64)).astype(np.int64)
                out = pa.RecordBatch.from_arrays(
                    [
                        b.column(b.schema.get_field_index(id_col)),
                        b.column(b.schema.get_field_index(vec_col)),
                        pa.array(sids.astype(np.int32), type=pa.int32()),
                        pa.array(
                            toks[sids].astype(np.int32), type=pa.int32()
                        ),
                    ],
                    names=[id_col, vec_col, "shard", "_pt"],
                )
                t_body += _t.perf_counter() - t_in
                yield out
            if task_accs is not None and t_body:
                task_accs["assign"].add(t_body)

        schema = (
            f"{_quote(id_col)} long, {_quote(vec_col)} array<float>, "
            "shard int, _pt int"
        )

        def build_cells(batches):
            # mapInArrow (round 13 — r12 verdict item 2): the OLD
            # mapInPandas body round-tripped every vector through a
            # pandas object Series on its way into the per-cell build —
            # the same conversion tax the round-12 Arrow scan fixes
            # removed everywhere else. Vectors reshape zero-copy from
            # the Arrow child buffers; grouping is one stable argsort
            # over the int32 cell column.
            import time as _t

            import pyarrow as pa

            from ..functions.distance import np_from_arrow_list

            walls = (
                {"shuffle_fetch": 0.0, "input_arrow": 0.0,
                 "graph_insert": 0.0, "file_write": 0.0}
                if task_accs is not None
                else None
            )
            id_parts, vec_parts, cell_parts = [], [], []
            t_prev = _t.perf_counter()
            for b in batches:
                t_in = _t.perf_counter()
                if walls is not None:
                    # time inside the generator's __next__ = waiting on
                    # the shuffle reader for the next batch
                    walls["shuffle_fetch"] += t_in - t_prev
                if b.num_rows == 0:
                    t_prev = _t.perf_counter()
                    continue
                ids_b = b.column(b.schema.get_field_index(id_col)).to_numpy(
                    zero_copy_only=False
                )
                vcol = b.column(b.schema.get_field_index(vec_col))
                dim = len(vcol[0].as_py() or []) if b.num_rows else 0
                mat = np_from_arrow_list(vcol, dim)
                if mat is None:
                    mat = np_stack_vectors(
                        b.select([vec_col]).to_pandas()[vec_col]
                    )
                cells_b = b.column(
                    b.schema.get_field_index("shard")
                ).to_numpy(zero_copy_only=False)
                id_parts.append(ids_b)
                vec_parts.append(mat)
                cell_parts.append(cells_b)
                t_prev = _t.perf_counter()
                if walls is not None:
                    walls["input_arrow"] += t_prev - t_in
            if not id_parts:
                return
            t_in = _t.perf_counter()
            ids = np.concatenate(id_parts)
            vecs = np.vstack(vec_parts)
            cells = np.concatenate(cell_parts)
            order = np.argsort(cells, kind="stable")
            cells_s = cells[order]
            starts = np.concatenate(
                [[0], np.flatnonzero(np.diff(cells_s)) + 1, [len(cells_s)]]
            )
            if walls is not None:
                walls["input_arrow"] += _t.perf_counter() - t_in
            # single-BLAS-thread insert kernels for the cell builds:
            # this task is one of `defaultParallelism` running
            # concurrently — a second BLAS thread only oversubscribes
            # (measured -8% per cell at the 10M shape). Restored after:
            # python workers are reused by later jobs whose big-GEMM
            # kernels want the default.
            from .vamana_core import _blas_set_threads

            prev_threads = _blas_set_threads(1)
            try:
                for a, z in zip(starts[:-1], starts[1:]):
                    rows = order[a:z]
                    frame = build_shard_np(ids[rows], vecs[rows],
                                           int(cells_s[a]), walls)
                    yield pa.RecordBatch.from_pandas(
                        frame, preserve_index=False
                    )
            finally:
                if prev_threads is not None:
                    _blas_set_threads(prev_threads)
            if walls is not None:
                for k, v in walls.items():
                    if v:
                        task_accs[k].add(v)

        from ..functions.distance import cast_id_vec

        (
            # belt-and-braces dtype cast (round-13 advice): the assign
            # batches pass id/vec VERBATIM into the declared
            # long/array<float> schema; create_index already normalizes,
            # so this is a Catalyst-eliminated no-op on that path
            cast_id_vec(src, id_col, vec_col)
            .mapInArrow(assign, schema=schema)
            .repartition(n_bins, F.col("_pt"))
            .mapInArrow(
                build_cells, schema="shard int, label long, id long"
            )
            .write.mode("overwrite")
            .parquet(f"{artifact_dir}/{LABELS_DIR}")
        )
        if task_accs is not None:
            parts = " ".join(
                f"{k}={acc.value:.1f}s" for k, acc in task_accs.items()
            )
            print(
                f"[build-phase-tasks] {parts} (TASK-seconds summed across "
                f"{total_shards} cells; divide by concurrent workers for wall; "
                "residual vs the composite wall = shuffle-write + label "
                "parquet + scheduling)",
                flush=True,
            )
        _phase("assign+cell-builds+labels")
        # FUSED build-time measurement (round 11; shard files exist
        # now): one shared sample + one exact-top-k scan feed the
        # routing curve (round 9), the in-shard L curve (round 10), AND
        # one end-to-end search at the resolved default config whose
        # measured end recall anchors the target_recall composition
        # contract (see calibration.measure_graph_calibrations /
        # resolve_end_recall). The routing curve is only STORED when
        # route_nprobe stays on AUTO — a pinned probe count is what
        # every search will use (same dead-weight rule as the IVF
        # build's nprobe gate); L is a per-call knob with no build pin,
        # so its measurement is never dead weight.
        nq = int(getattr(params, "calibration_queries", 0) or 0)
        shard_files = self._shard_files(artifact_dir)
        if nq > 0 and shard_files:
            from .calibration import measure_graph_calibrations

            from .calibration import shape_search_results

            def search_fn(qm, kk, rnp, L):
                mani = {
                    "id_col": id_col,
                    "params": {"metric": metric, "shard_by": "cells",
                               "route_nprobe": int(rnp)},
                }
                # round 15 (r14 advice): the end anchor is the ONLY
                # consumer-facing promise of target_recall serving, and
                # that serving rides the frontier-slab beam (api.py
                # target_recall gate) — measure the anchor with the
                # SAME beam, so a slab-vs-lockstep recall delta (the
                # parity tests tolerate up to -0.02 on some shapes)
                # can never let the measured floor undershoot. The
                # routing/L curves stay lock-step-measured (they are
                # shard-local quantities; the anchor absorbs the
                # composition error including the beam's).
                if os.environ.get("SPARK_GRAFT_SLAB_SEARCH", "1") != "0":
                    mani["slab_beam"] = True
                res = self.search(
                    spark, mani, artifact_dir,
                    [[float(x) for x in q] for q in qm], kk,
                    search_complexity=int(L),
                ).collect()
                return shape_search_results(res, len(qm), id_col)

            measure_routing = (
                k_eff > 1
                and int(getattr(params, "route_nprobe", 0) or 0) == 0
            )
            (
                params._route_calibration,
                params._l_calibration,
                params._end_calibration,
            ) = measure_graph_calibrations(
                # route_cents, not centroids: the curves must rank the
                # SAME (sub-shard) rows serve-time routing ranks —
                # identical when no cell split
                src, id_col, vec_col, route_cents, metric, n_rows,
                shard_files, f"{artifact_dir}/{LABELS_DIR}",
                self._default_search_complexity(params), search_fn,
                measure_routing=measure_routing, n_queries=nq,
                split=(
                    (sub_offsets, n_sub) if total_shards > k_eff else None
                ),
            )
            _phase("fused-calibration")
        return len(shard_files)

    def _default_search_complexity(self, params) -> int:
        """The engine's STATIC default search L — what a
        `search_complexity=None` search falls back to inside the graph
        kernel (`vamana_core.VamanaGraph.search:111`); the base of the
        build-time L-calibration grid."""
        return int(params.build_complexity)

    def ids(self, spark: SparkSession, artifact_dir: str, id_col: str) -> DataFrame:
        """Just the indexed ids — a column-pruned label-map scan, no
        graph loads (used by the insert uniqueness check)."""
        return (
            spark.read.parquet(f"{artifact_dir}/{LABELS_DIR}")
            .select(F.col("id").alias(id_col))
        )

    def vectors(self, spark: SparkSession, artifact_dir: str) -> DataFrame:
        """(id, vec) reconstructed from the graph shards + label map.
        Distributed: each task mmaps only the shards its label rows point
        at — no driver materialization, no duplicate vector parquet."""
        from .catalog import read_manifest

        m = read_manifest(artifact_dir, spark)
        id_col, vec_col = m["id_col"], m["vec_col"]
        files = dict(self._shard_files(artifact_dir))
        labels = spark.read.parquet(f"{artifact_dir}/{LABELS_DIR}")

        def emit(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                for shard, grp in pdf.groupby("shard"):
                    # raw file read (not _load_shard): SQ8 indexes keep
                    # full-precision vectors in the v2 body; rebuilds must
                    # use those, not the dequantized search cache
                    g = read_diskann(files[int(shard)], mmap=True)
                    lab = grp["label"].to_numpy()
                    yield pd.DataFrame(
                        {
                            id_col: grp["id"].to_numpy(),
                            vec_col: list(np.asarray(g.vectors[lab])),
                        }
                    )

        return labels.mapInPandas(
            emit, schema=f"{_quote(id_col)} long, {_quote(vec_col)} array<float>"
        )

    # a shard at/above this many vectors stops receiving appends; new
    # rows open a fresh overflow shard instead (bounds the rewrite cost
    # of any single append and keeps shard sizes even at scale).
    # Degree-aware since round 9 (see _append_cap): the flat 25k value
    # is only the ceiling — a low-degree graph degrades well before it.
    APPEND_SHARD_CAP = 25_000

    def _append_cap(self, params) -> int:
        """Shard-growth threshold for appends: the smaller of the
        engine's operational ceiling (APPEND_SHARD_CAP — also the knob
        tests patch) and the same degree-aware budget the auto build
        uses (params.auto_shard_rows), so a degree-16 index
        overflows/warns at the size its graphs can actually serve
        instead of the flat 25k ceiling."""
        cap = int(self.APPEND_SHARD_CAP)
        if hasattr(params, "auto_shard_rows"):
            cap = min(cap, int(params.auto_shard_rows()))
        return cap
    # appends collect the delta to the driver (sequential insert is the
    # reference's own semantics); a delta past this cap raises instead
    # of silently OOM-ing the driver — same limit-probe house style as
    # operators/batch.py MAX_QUERY_ROWS
    MAX_APPEND_ROWS = 100_000

    def _collect_delta(self, df_new: DataFrame, id_col: str, vec_col: str):
        """Bounded driver collect of an append delta, id-ordered. ONE
        collect both probes the cap and yields the rows: a separate
        count-then-collect pair evaluates the source twice, so a
        non-deterministic delta (sampled/rand-filtered frame, re-read of
        changing data) could pass the probe yet collect past the cap —
        or collect a different row set than what was counted."""
        pdf = (
            df_new.select(id_col, vec_col)
            .limit(self.MAX_APPEND_ROWS + 1)
            .toPandas()
        )
        if len(pdf) > self.MAX_APPEND_ROWS:
            raise ValueError(
                f"append delta exceeds {self.MAX_APPEND_ROWS} rows; "
                "per-vector insert collects the delta to the driver "
                "(reference stream-insert semantics). For bulk loads "
                "use create_index over the full table, or build a "
                "second index and merge_indexes."
            )
        return pdf.sort_values(id_col).reset_index(drop=True)

    # --- routed-append hooks (overridden by HnswEngine) ----------------
    def _load_writable(self, path: str):
        return read_diskann(path, mmap=False)

    def _fresh_graph(self, vecs: np.ndarray, params):
        return build_graph(
            vecs,
            max_degree=params.max_degree,
            build_complexity=params.build_complexity,
            alpha=getattr(params, "alpha", 1.2),
            metric=params.metric,
            start_strategy=getattr(params, "start_strategy", "first"),
            start_nsamples=getattr(params, "start_nsamples", 1),
            start_seed=getattr(params, "start_seed", 42),
        )

    def _write_shard(self, path: str, g, params) -> None:
        sq8 = None
        if getattr(params, "quantize_sq8", False) and g.n:
            sq8 = sq8_quantize(g.vectors[: g.n])
        write_diskann(path, g, sq8)

    def _append_routed(
        self, spark, manifest, artifact_dir, pdf, params, route: np.ndarray
    ) -> dict:
        """shard_by='cells' append: each new row goes to the shard whose
        ROUTING CENTROID is nearest — spatial locality must hold or the
        probe-time recall story breaks, so smallest-shard routing does
        not apply. Touched shard files are rewritten (possibly several,
        one per distinct target cell); an overgrown cell has no overflow
        shard — `vacuum` rebuilds and RETRAINS the routing, which is the
        rebalance path."""
        from ..functions.distance import np_index_distances

        id_col, vec_col = manifest["id_col"], manifest["vec_col"]
        vecs = np_stack_vectors(pdf[vec_col])
        metric = manifest["params"]["metric"]
        cells = np_index_distances(metric, vecs, route).argmin(axis=0)
        files = dict(self._shard_files(artifact_dir))
        labels: list[tuple[int, int, int]] = []
        overgrown: list[int] = []
        for cell in sorted({int(c) for c in cells}):
            sub = pdf[cells == cell].sort_values(id_col).reset_index(drop=True)
            svecs = np_stack_vectors(sub[vec_col])
            path = files.get(
                cell, f"{artifact_dir}/{GRAPH_DIR}/shard_{cell}.diskann"
            )
            g = self._load_writable(path) if cell in files else None
            if g is None or g.n == 0:
                # empty cell (wrote no file at build, or 0-row shard):
                # per-vector insert can't seed a dimensionless graph
                g = self._fresh_graph(svecs, params)
                labels += [
                    (cell, label, int(rid))
                    for label, rid in enumerate(sub[id_col])
                ]
            else:
                for rid, vec in zip(sub[id_col], svecs):
                    labels.append((cell, g.insert(vec), int(rid)))
            self._write_shard(path, g, params)
            if g.n > self._append_cap(params):
                overgrown.append(cell)
        local_df(
            spark, labels, "shard int, label long, id long"
        ).write.mode("append").parquet(f"{artifact_dir}/{LABELS_DIR}")
        out = {"shards": len(self._shard_files(artifact_dir))}
        if overgrown:
            # routed appends have no overflow shard (spatial locality
            # must hold), so a hot cell grows without bound and every
            # later append to it rewrites an ever-larger file — tell the
            # caller the vacuum/retrain rebalance path is due instead of
            # degrading silently toward O(n)-per-batch
            import warnings

            warnings.warn(
                f"routed append grew shard(s) {overgrown} past the "
                f"append cap {self._append_cap(params)} (degree-aware; "
                f"ceiling APPEND_SHARD_CAP={self.APPEND_SHARD_CAP}); run "
                "vacuum_index to rebalance (retrains the routing)",
                stacklevel=3,
            )
            out["needs_vacuum"] = True
        return out

    def append(
        self,
        spark: SparkSession,
        manifest: dict,
        artifact_dir: str,
        df_new: DataFrame,
        params,
    ) -> dict:
        """Live insert (`src/diskann_index.cpp:316-361`), shard-routed.

        The reference stream-inserts sequentially into its single graph;
        a multi-shard index must NOT funnel every append into shard 0 —
        that shard would grow without bound and each append would
        re-serialize an ever-larger file (the round-2 scale finding).
        Appends instead go to the SMALLEST existing shard, and when even
        that shard is at `APPEND_SHARD_CAP`, into a fresh overflow shard
        (merged down later by the existing `MergeIndexes`/`Vacuum`
        machinery). Exactly one shard file is written per append;
        untouched shards stay byte-identical. shard_by='cells' indexes
        route by nearest centroid instead — see `_append_routed`."""
        id_col, vec_col = manifest["id_col"], manifest["vec_col"]
        pdf = self._collect_delta(df_new, id_col, vec_col)
        if not len(pdf):
            return {}
        route = _route_centroids(spark, artifact_dir, manifest["params"])
        if route is not None:
            return self._append_routed(
                spark, manifest, artifact_dir, pdf, params, route
            )
        vecs = np_stack_vectors(pdf[vec_col])

        shard_files = self._shard_files(artifact_dir)
        # smallest shard by file size (header-free proxy for vector count;
        # no graph loads for the routing decision)
        target = min(shard_files, key=lambda sf: os.path.getsize(sf[1]))
        g = read_diskann(target[1], mmap=False)  # writable copy
        if g.n == 0:
            # empty shard (index created over 0 rows, dim unknown): build
            # it fresh from the new batch — per-vector insert can't seed a
            # dimensionless graph
            shard_id, path = target
            g = build_graph(
                vecs,
                max_degree=params.max_degree,
                build_complexity=params.build_complexity,
                alpha=getattr(params, "alpha", 1.2),
                metric=params.metric,
                start_strategy=getattr(params, "start_strategy", "first"),
                start_nsamples=getattr(params, "start_nsamples", 1),
                start_seed=getattr(params, "start_seed", 42),
            )
            labels = [
                (shard_id, label, int(rid))
                for label, rid in enumerate(pdf[id_col])
            ]
        elif g.n >= self._append_cap(params):
            # overflow shard: bounded build from just the new rows
            shard_id = max(s for s, _ in shard_files) + 1
            path = f"{artifact_dir}/{GRAPH_DIR}/shard_{shard_id}.diskann"
            g = build_graph(
                vecs,
                max_degree=params.max_degree,
                build_complexity=params.build_complexity,
                alpha=getattr(params, "alpha", 1.2),
                metric=params.metric,
                start_strategy=getattr(params, "start_strategy", "first"),
                start_nsamples=getattr(params, "start_nsamples", 1),
                start_seed=getattr(params, "start_seed", 42),
            )
            labels = [
                (shard_id, label, int(rid))
                for label, rid in enumerate(pdf[id_col])
            ]
        else:
            shard_id, path = target
            labels = []
            for rid, vec in zip(pdf[id_col], vecs):
                label = g.insert(vec)
                labels.append((shard_id, label, int(rid)))
        sq8 = None
        if getattr(params, "quantize_sq8", False) and g.n:
            sq8 = sq8_quantize(g.vectors[: g.n])
        write_diskann(path, g, sq8)
        # cache keys include mtime, so the rewritten file misses the old
        # entry automatically on next load
        local_df(
            spark, labels, "shard int, label long, id long"
        ).write.mode("append").parquet(f"{artifact_dir}/{LABELS_DIR}")
        # recount from disk: build shard numbering can be non-contiguous
        # (empty hash partitions write no file), so shard_id+1 would
        # overstate the count after an overflow append
        return {"shards": len(self._shard_files(artifact_dir))}

    # above this many queries, fan out across executors instead of
    # looping on the driver
    DISTRIBUTE_THRESHOLD = 8

    def _shard_files(self, artifact_dir: str) -> list[tuple[int, str]]:
        gdir = f"{artifact_dir}/{GRAPH_DIR}"
        return sorted(
            (int(f.split("_")[1].split(".")[0]), os.path.join(gdir, f))
            for f in os.listdir(gdir)
            if f.endswith(".diskann")
        )

    def search(
        self,
        spark: SparkSession,
        manifest: dict,
        artifact_dir: str,
        queries: Sequence[Sequence[float]],
        k: int,
        search_complexity: int | None = None,
    ) -> DataFrame:
        id_col = manifest["id_col"]
        # None → the index's measured in-shard L when recorded (round
        # 10), else the kernel's static default
        search_complexity = _resolve_search_complexity(
            manifest, search_complexity
        )
        shard_files = self._shard_files(artifact_dir)
        # shard_by='cells': probe only the route_nprobe nearest shards
        # per query instead of fanning out to all of them
        probe_sets = None
        route = _route_centroids(spark, artifact_dir, manifest["params"])
        if route is not None and len(shard_files) > 1:
            probe_sets = _route_probe_sets(
                route, queries, manifest["params"]["metric"],
                manifest, {s for s, _ in shard_files},
            )
        labels = (f"{artifact_dir}/{LABELS_DIR}", _labels_sig(artifact_dir))
        slab = bool(manifest.get("slab_beam"))
        schema = f"query_idx int, {_quote(id_col)} long, _distance double"
        if len(queries) > self.DISTRIBUTE_THRESHOLD:
            return self._search_distributed(
                spark, queries, k, search_complexity, shard_files,
                probe_sets, labels, slab, id_col, schema,
            )
        qm = np.asarray(queries, dtype=np.float32)
        rows = _topk_batch(
            qm, range(len(qm)), probe_sets, shard_files, k,
            search_complexity, labels, ("query_idx", id_col), np.int32,
            slab, per_query=slab,
        )
        return local_df(
            spark, rows.to_pandas().itertuples(index=False, name=None), schema
        )

    def _search_distributed(
        self, spark, queries, k, search_complexity, shard_files, probe_sets,
        labels, slab, id_col, schema,
    ) -> DataFrame:
        """Batch path (`rust_lib/src/provider.rs:248-441` lock-step batch →
        Spark shape), planned as ONE narrow `mapInArrow` over the query
        frame — one Spark job per call, no exchange, no join. `local_df`
        already splits the queries across the cluster's cores; each task
        memmaps the shard files from shared storage (per-process cache,
        like the reference's mmap DiskProvider), searches its queries'
        probe sets, resolves ids from the cached per-shard id arrays and
        emits each query's final top-k (`_topk_batch`). With `probe_sets`
        (shard_by='cells') each task touches only the shards its own
        queries probe; the routing map rides a broadcast, tiny."""
        qrows = [(i, [float(x) for x in q]) for i, q in enumerate(queries)]
        qdf = local_df(spark, qrows, "query_idx int, _qv array<float>")
        bpm = spark.sparkContext.broadcast(probe_sets)
        dim = len(qrows[0][1])

        def run(batches):
            pm = bpm.value
            for b in batches:
                if b.num_rows == 0:
                    continue
                qs, qids = _batch_queries(b, "query_idx", dim)
                psets = None if pm is None else [pm[qi] for qi in qids]
                yield _topk_batch(
                    qs, qids, psets, shard_files, k, search_complexity,
                    labels, ("query_idx", id_col), np.int32, slab,
                )

        return qdf.mapInArrow(run, schema=schema)

    def search_df(
        self,
        spark: SparkSession,
        manifest: dict,
        artifact_dir: str,
        queries_df: DataFrame,
        query_id_col: str,
        query_vec_col: str,
        k: int,
        search_complexity: int | None = None,
    ) -> DataFrame:
        """DataFrame-queries search → (<query_id_col>, <id>, _distance),
        the global top-k per query, WITHOUT the driver ever holding the
        queries (beyond-reference: the reference's `ann_search_table`
        streams the query table through one in-process index,
        `src/ann_search.cpp:397-691`; here the query side is an unbounded
        DataFrame — the scale path for "search N million embeddings
        against the index").

        Each task runs the `_search_distributed` body on its Arrow
        batches: routing (shard_by='cells') ranks the batch's own probe
        sets off a broadcast centroid matrix, and ids resolve from the
        cached per-shard id arrays — no label-map join. A final window
        over `_qid` keeps k rows per query with the same (distance, NaN
        last; id) order, because DataFrame query ids need not be unique
        across tasks."""
        from pyspark.sql import Window

        id_col = manifest["id_col"]
        metric = manifest["params"]["metric"]
        search_complexity = _resolve_search_complexity(
            manifest, search_complexity
        )
        shard_files = self._shard_files(artifact_dir)
        route = _route_centroids(spark, artifact_dir, manifest["params"])
        if len(shard_files) <= 1:
            route = None
        bc = spark.sparkContext.broadcast(route)
        existing = {s for s, _ in shard_files}
        labels = (f"{artifact_dir}/{LABELS_DIR}", _labels_sig(artifact_dir))

        # the query id rides the shuffle as LONG; non-integral ids are
        # rejected one level up in index_search_table (uniformly for
        # all engines) before reaching this cast
        qdf = queries_df.select(
            F.col(query_id_col).cast("long").alias("_qid"),
            F.col(query_vec_col).alias("_qv"),
        ).where(F.size("_qv") == int(manifest["dim"]))
        # spread the query side across the cluster unconditionally: a
        # filtered frame routinely arrives with most partitions EMPTY
        # (a range-partitioned id filter leaves 1/10 of the partitions
        # holding rows; a partition COUNT check cannot see that), and
        # graph search cost is per-row CPU — stragglers dominate wall
        # time far more than this one narrow (id, vec) exchange costs.
        # Same price knn_join pays to explode its query side.
        qdf = qdf.repartition(spark.sparkContext.defaultParallelism)

        dim = int(manifest["dim"])
        slab = bool(manifest.get("slab_beam"))

        def run(batches):
            route_mat = bc.value
            for b in batches:
                if b.num_rows == 0:
                    continue
                qs, qids = _batch_queries(b, "_qid", dim)
                pm = None if route_mat is None else _route_probe_sets(
                    route_mat, qs, metric, manifest, existing
                )
                yield _topk_batch(
                    qs, qids, pm, shard_files, k, search_complexity,
                    labels, ("_qid", "id"), np.int64, slab,
                )

        hits = qdf.mapInArrow(
            run, schema="_qid long, id long, _distance double"
        )
        w = Window.partitionBy("_qid").orderBy(
            F.col("_distance").asc_nulls_last(), F.col("id").asc()
        )
        return (
            hits.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .select(
                F.col("_qid").alias(query_id_col),
                F.col("id").alias(id_col),
                "_distance",
            )
        )


class HnswEngine(VamanaEngine):
    """`CREATE INDEX ... USING FAISS WITH (type='HNSW', hnsw_m=...)`:
    REAL layered HNSW (`hnsw_core.HnswGraph`), matching the reference's
    `faiss::IndexHNSWFlat(dimension, hnsw_m)` structure
    (`src/faiss_index.cpp:47-48`, params `src/include/faiss_index.hpp:37-113`):
    geometric layer assignment, per-layer beam search + Algorithm-4
    neighbor selection, efSearch via `search_complexity`.

    Default `shards=0` = auto (same policy as the DiskANN engine): one
    graph like the reference (faiss builds one HNSW per index) up to
    AUTO_SHARD_ROWS vectors, then one shard per the degree-aware
    `auto_shard_rows()` budget (round 9) so a big build never collects
    the table to the driver and low-m graphs get shards they can serve;
    `shards=N` forces a count, with N independent layered graphs built
    in parallel executors and search results merged — a single
    sequential build is unusable past ~10^5 rows. The
    shard file reuses the `.diskann` v2 body (layer-0 adjacency →
    mmap-able, `vectors()` reconstruction works unchanged) plus an
    upper-layer appendix. Search/distribution plumbing is inherited —
    `_load_shard` returns an HnswGraph whenever the appendix is present.
    Correctness is gated the way the reference gates HNSW: recall floors
    vs brute force, exact degeneracy at efSearch >= n, param plumbing,
    lifecycle/restart tests."""

    name = "hnsw"

    @staticmethod
    def _ef_construction(params) -> int:
        return max(2 * int(params.hnsw_m), 40)

    # --- routed-append hooks (HNSW graph type) --------------------------
    def _load_writable(self, path: str):
        g = read_hnsw(path, mmap=False)
        if g is None:
            raise ValueError(
                f"Index shard '{path}' predates the layered-HNSW format; "
                "drop and recreate the index to append to it"
            )
        return g

    def _fresh_graph(self, vecs: np.ndarray, params):
        return build_hnsw(
            vecs, m=int(params.hnsw_m),
            ef_construction=self._ef_construction(params),
            metric=params.metric,
        )

    def _write_shard(self, path: str, g, params) -> None:
        write_diskann(path, g, None, hnsw=g)

    def _build_shard_fn(self, artifact_dir: str, id_col: str, vec_col: str,
                        params):
        m, ef = int(params.hnsw_m), self._ef_construction(params)
        metric = params.metric

        def build_shard_np(ids: np.ndarray, vecs: np.ndarray,
                           shard: int, walls=None) -> pd.DataFrame:
            import time as _t

            order = np.argsort(ids, kind="stable")
            ids = ids[order].astype(np.int64, copy=False)
            _w0 = _t.perf_counter()
            g = build_hnsw(
                vecs[order] if len(ids) else vecs, m=m, ef_construction=ef,
                metric=metric,
            )
            _w1 = _t.perf_counter()
            write_diskann(
                f"{artifact_dir}/{GRAPH_DIR}/shard_{shard}.diskann", g,
                None, hnsw=g,
            )
            if walls is not None:
                _w2 = _t.perf_counter()
                walls["graph_insert"] += _w1 - _w0
                walls["file_write"] += _w2 - _w1
            return pd.DataFrame(
                {
                    "shard": np.full(len(ids), shard, dtype=np.int32),
                    "label": np.arange(len(ids), dtype=np.int64),
                    "id": ids,
                }
            )

        return build_shard_np

    def build(self, spark, df, id_col, vec_col, artifact_dir, params, dim):
        os.makedirs(f"{artifact_dir}/{GRAPH_DIR}", exist_ok=True)
        src = df.select(id_col, vec_col)
        build_shard_np = self._build_shard_fn(artifact_dir, id_col, vec_col,
                                              params)
        shards = self._run_sharded_build(
            spark, src, id_col, params, build_shard_np, artifact_dir
        )
        return {
            "layout": "hnsw-layered", "shards": shards,
            "route_calibration": getattr(params, "_route_calibration", None),
            "l_calibration": getattr(params, "_l_calibration", None),
            "end_calibration": getattr(params, "_end_calibration", None),
        }

    def _default_search_complexity(self, params) -> int:
        """efSearch defaults to ef_construction (`hnsw_core:285`) — the
        base of the build-time L-calibration grid for HNSW shards."""
        return self._ef_construction(params)

    def append(self, spark, manifest, artifact_dir, df_new, params):
        """Shard-routed append (same policy as VamanaEngine.append):
        smallest shard receives the rows; at APPEND_SHARD_CAP a fresh
        overflow shard is built instead. Exactly one shard file is
        rewritten. shard_by='cells' routes by nearest centroid instead —
        see `_append_routed`."""
        id_col, vec_col = manifest["id_col"], manifest["vec_col"]
        pdf = self._collect_delta(df_new, id_col, vec_col)
        if not len(pdf):
            return {}
        route = _route_centroids(spark, artifact_dir, manifest["params"])
        if route is not None:
            return self._append_routed(
                spark, manifest, artifact_dir, pdf, params, route
            )
        vecs = np_stack_vectors(pdf[vec_col])
        shard_files = self._shard_files(artifact_dir)
        shard_id, path = min(
            shard_files, key=lambda sf: os.path.getsize(sf[1])
        )
        g = read_hnsw(path, mmap=False)
        if g is None:
            # shard has no HNSW appendix — an artifact from the old
            # 'hnsw-as-vamana-graph' layout; its shards are plain Vamana
            # bodies an HnswGraph can't extend
            raise ValueError(
                f"Index shard '{path}' predates the layered-HNSW format; "
                "drop and recreate the index to append to it"
            )
        if g.n == 0:
            # empty shard (index created over 0 rows, dim unknown): build
            # it fresh from the new batch in place
            g = build_hnsw(
                vecs, m=int(params.hnsw_m),
                ef_construction=self._ef_construction(params),
                metric=params.metric,
            )
            labels = [
                (shard_id, label, int(rid))
                for label, rid in enumerate(pdf[id_col])
            ]
        elif g.n >= self._append_cap(params):
            shard_id = max(s for s, _ in shard_files) + 1
            path = f"{artifact_dir}/{GRAPH_DIR}/shard_{shard_id}.diskann"
            g = build_hnsw(
                vecs, m=int(params.hnsw_m),
                ef_construction=self._ef_construction(params),
                metric=params.metric,
            )
            labels = [
                (shard_id, label, int(rid))
                for label, rid in enumerate(pdf[id_col])
            ]
        else:
            labels = []
            for rid, vec in zip(pdf[id_col], vecs):
                label = g.insert(vec)
                labels.append((shard_id, label, int(rid)))
        write_diskann(path, g, None, hnsw=g)
        local_df(
            spark, labels, "shard int, label long, id long"
        ).write.mode("append").parquet(f"{artifact_dir}/{LABELS_DIR}")
        # recount from disk: build shard numbering can be non-contiguous
        # (empty hash partitions write no file), so shard_id+1 would
        # overstate the count after an overflow append
        return {"shards": len(self._shard_files(artifact_dir))}


register_engine("diskann", "vamana", VamanaEngine())
register_engine("faiss", "hnsw", HnswEngine())
