"""Distance semantics pinned by the reference's tests.

Golden values from `/root/reference/test/sql/diskann_basic.test:27-34`
(squared L2 between unit axes = 2.0, to midpoint = 0.5) and
`rust_lib/src/distance.rs:20-25` (IP = negated dot product).
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_ann_spark.functions import distance
from duckdb_ann_spark.functions.distance import (
    array_distance,
    cosine_distance,
    cosine_similarity,
    index_distance,
    inner_product,
    l2sq_distance,
    nearest_cells,
    neg_inner_product,
    np_index_distances,
)

AXES = [
    (1, [1.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 1.0]),
    (4, [0.5, 0.5, 0.0]),
    (5, [0.0, 0.5, 0.5]),
]


@pytest.fixture(scope="module")
def vectors3(spark):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in AXES],
        "id int, embedding array<float>",
    )


def _dist_map(df, expr):
    rows = df.select("id", expr.alias("d")).collect()
    return {r["id"]: r["d"] for r in rows}


def test_l2sq_axis_goldens(vectors3):
    d = _dist_map(vectors3, l2sq_distance("embedding", [1.0, 0.0, 0.0]))
    assert d[1] == 0.0
    assert d[2] == 2.0  # diskann_basic.test: squared L2, not Euclidean
    assert d[3] == 2.0
    assert d[4] == 0.5
    assert d[5] == 1.5


def test_array_distance_is_euclidean(vectors3):
    d = _dist_map(vectors3, array_distance("embedding", [1.0, 0.0, 0.0]))
    assert d[2] == pytest.approx(math.sqrt(2.0))
    assert d[4] == pytest.approx(math.sqrt(0.5))


def test_ip_is_negated_dot(vectors3):
    d = _dist_map(vectors3, neg_inner_product("embedding", [1.0, 2.0, 3.0]))
    assert d[1] == -1.0
    assert d[2] == -2.0
    assert d[5] == -2.5
    p = _dist_map(vectors3, inner_product("embedding", [1.0, 2.0, 3.0]))
    assert p[1] == 1.0


def test_cosine(vectors3):
    s = _dist_map(vectors3, cosine_similarity("embedding", [1.0, 0.0, 0.0]))
    assert s[1] == pytest.approx(1.0)
    assert s[2] == pytest.approx(0.0)
    assert s[4] == pytest.approx(1.0 / math.sqrt(2.0))
    d = _dist_map(vectors3, cosine_distance("embedding", [1.0, 0.0, 0.0]))
    assert d[1] == pytest.approx(0.0)


def test_index_distance_dispatch(vectors3):
    assert _dist_map(vectors3, index_distance("l2", "embedding", [1, 0, 0]))[2] == 2.0
    assert _dist_map(vectors3, index_distance("IP", "embedding", [1, 0, 0]))[1] == -1.0
    with pytest.raises(ValueError, match="Supported: l2, ip, cosine"):
        index_distance("hamming", "embedding", [1, 0, 0])


def test_np_twin_matches_column_exprs(vectors3):
    import numpy as np

    mat = np.array([v for _, v in AXES], dtype=np.float32)
    q = np.array([1.0, 0.0, 0.0], dtype=np.float32)
    d = np_index_distances("l2", mat, q)[0]
    assert d.tolist() == pytest.approx([0.0, 2.0, 2.0, 0.5, 1.5])
    dip = np_index_distances("ip", mat, q)[0]
    assert dip.tolist() == pytest.approx([-1.0, 0.0, 0.0, -0.5, 0.0])


def test_vector_distances_strict_vs_zero_fill(spark):
    """Dimension mismatch: strict propagates NULL (sorts last); the
    strict=False path zero-pads/truncates to the query dim and returns a
    finite distance like the reference's VectorDistancesInOut
    (src/ann_search.cpp:697-732)."""
    from duckdb_ann_spark.operators.topk import vector_distances

    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0, 9.0])],
        "id long, embedding array<float>",
    )
    q = [1.0, 0.0, 0.0]
    strict = {r.id: r._distance for r in vector_distances(df, "embedding", q).collect()}
    assert strict[0] == 0.0 and strict[1] is None and strict[2] is None
    loose = {
        r.id: r._distance
        for r in vector_distances(df, "embedding", q, strict=False).collect()
    }
    # short row zero-padded to [1,0,0] -> 0.0; long row truncated -> 0.0
    assert loose == {0: 0.0, 1: 0.0, 2: 0.0}


def test_oracle_fold_edge_cases_match_spark(spark):
    """The DuckDB fold must mirror zip_with's pad-with-NULL on length
    mismatch and the 0.0 seed on empty vectors (a seedless list_reduce
    crashes; ranging over one side alone returned a finite distance
    where Spark returns NULL)."""
    import duckdb
    import math

    from duckdb_ann_spark.functions.distance import l2sq_distance
    from duckdb_ann_spark.oracle import sql_l2sq

    rows = [
        (0, [1.0], [1.0, 2.0]),    # short row vs longer query
        (1, [], []),               # empty both
        (2, [1.0, 2.0], [3.0, 5.0]),
    ]
    df = spark.createDataFrame(
        rows, "i long, a array<double>, b array<double>"
    )
    got = {
        r["i"]: r["d"]
        for r in df.select(
            "i", l2sq_distance("a", "b").alias("d")
        ).collect()
    }
    con = duckdb.connect()
    want = dict(con.execute(
        "SELECT i, " + sql_l2sq("a", "b") + " FROM (VALUES "
        "(0, [1.0]::DOUBLE[], [1.0, 2.0]::DOUBLE[]), "
        "(1, []::DOUBLE[], []::DOUBLE[]), "
        "(2, [1.0, 2.0]::DOUBLE[], [3.0, 5.0]::DOUBLE[])) t(i, a, b)"
    ).fetchall())
    for i in got:
        if got[i] is None or (isinstance(got[i], float) and math.isnan(got[i])):
            assert want[i] is None, (i, got[i], want[i])
        else:
            assert got[i] == want[i], (i, got[i], want[i])
    assert got[1] == 0.0 and got[0] is None


def test_nearest_cells_equals_stable_argsort(monkeypatch):
    """The partition-based nearest-centroid pick equals the stable full
    sort — order, ties to the lower index, NaN (cosine zero vectors)
    last — in one block and across blocks."""
    rng = np.random.default_rng(5)
    mat = rng.integers(0, 3, (700, 4)).astype(np.float32)  # many ties
    cent = rng.integers(0, 3, (12, 4)).astype(np.float32)
    mat[:7] = 0.0
    cent[3] = 0.0
    for elems in (1 << 22, 50):  # one block; 4-row blocks
        monkeypatch.setattr(distance, "PROBE_ELEMS", elems)
        for metric in ("l2", "ip", "cosine"):
            d = np_index_distances(metric, mat, cent)
            for nprobe in (1, 2, 5, 12):
                want = np.argsort(d, axis=0, kind="stable")[:nprobe]
                got = nearest_cells(metric, mat, cent, nprobe)
                assert got.shape == want.shape
                assert (got == want).all(), (elems, metric, nprobe)
