"""Collision-free hash-partition tokens (round 11,
functions/partitioning.py): the Python murmur3 re-implementation must
match Spark's `F.hash` EXACTLY — cell builds rely on tokens landing
each dense cell id in its own partition (`repartition(k, token)`), and
a silent Spark-side hash change would re-introduce the ~26%
collision-straggler the tokens exist to kill."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from duckdb_ann_spark.functions.partitioning import (
    exact_partition_tokens,
    murmur3_hash_int,
)


def test_murmur3_matches_spark_hash(spark):
    vals = list(range(256)) + [2**31 - 1, -(2**31), -1, 123456789]
    df = spark.createDataFrame(pd.DataFrame({"v": vals})).select(
        F.col("v").cast("int").alias("v")
    )
    got = {r["v"]: r["h"] for r in df.select("v", F.hash("v").alias("h")).collect()}
    assert all(got[v] == murmur3_hash_int(v) for v in vals)


@pytest.mark.parametrize("n", [1, 2, 13, 128, 700])
def test_tokens_cover_all_partitions(n):
    toks = exact_partition_tokens(n)
    assert sorted(murmur3_hash_int(int(t)) % n for t in toks) == list(range(n))


def test_repartition_places_one_cell_per_partition(spark):
    """End-to-end: repartition(n, token_col) puts dense key c in
    partition c — the exact placement the cell build stage depends on."""
    n = 37
    toks = exact_partition_tokens(n)
    pdf = pd.DataFrame({
        "cell": list(range(n)) * 3,
        "t": [int(toks[c]) for c in list(range(n)) * 3],
    })
    df = spark.createDataFrame(pdf).select(
        "cell", F.col("t").cast("int").alias("t")
    )
    rows = (
        df.repartition(n, "t")
        .withColumn("p", F.spark_partition_id())
        .collect()
    )
    assert all(r["p"] == r["cell"] for r in rows)


def test_mix64_np_matches_scalar_mixer():
    """The vectorized splitmix64 that places Vamana sub-shards and
    knn_join salt units is bit-identical to the scalar mixer behind
    entry-point sampling and HNSW levels, including ids that wrap."""
    import numpy as np

    from duckdb_ann_spark.functions.partitioning import mix64_np
    from duckdb_ann_spark.index.vamana_core import _mix64

    ids = np.array([0, 1, 2, 12345, 2**40 + 7, -1, -(2**63)], dtype=np.int64)
    got = mix64_np(ids.astype(np.uint64))
    assert [int(v) for v in got] == [
        _mix64(int(i) & ((1 << 64) - 1)) for i in ids
    ]
