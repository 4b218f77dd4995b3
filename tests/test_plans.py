"""Physical-plan shape assertions: the properties that keep these
operators viable at 100 TB must be visible in `.explain`, not assumed."""

import re

import pytest
from pyspark.sql import functions as F

from duckdb_ann_spark.operators.topk import topk, vector_distances
from duckdb_ann_spark.sources import read_table
from duckdb_ann_spark.suite.relational import (
    q_multi_join_region_sales,
    q_pricing_summary,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_column_pruning_reaches_scan(spark, emb):
    """A 2-column projection must not read the other columns."""
    df = vector_distances(emb, "embedding", [0.0] * 64).select(
        "vec_id", "_distance"
    )
    m = re.search(r"ReadSchema: ([^\n]*)", _plan(df))
    assert m, _plan(df)
    assert "label" not in m.group(1)  # pruned
    assert "embedding" in m.group(1)  # needed by the distance expr


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    df = li.where(F.col("l_quantity") > 40).select("l_orderkey")
    plan = _plan(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "l_quantity" in m.group(1), plan


def test_star_join_is_all_broadcast(spark, sf_dir):
    """Three small dims against the fact table: every join must be a
    BroadcastHashJoin — a SortMergeJoin would shuffle the fact table
    three times."""
    plan = _plan(q_multi_join_region_sales(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_agg_is_partial_then_final(spark, sf_dir):
    """Q1-shape agg must map-side combine (partial_ functions before the
    exchange), so the shuffle carries group states, not rows."""
    plan = _plan(q_pricing_summary(spark, sf_dir))
    assert "partial_" in plan, plan
    # the partial agg must sit between the scan and the exchange: in the
    # bottom-up plan string that means it prints BEFORE the scan line
    assert plan.index("partial_") < plan.index("Scan parquet"), plan
    # exactly one shuffle for the aggregation (plus none for the sort of
    # 6 output rows under AQE)
    assert "Exchange hashpartitioning(l_returnflag" in plan, plan


def test_distance_exprs_stay_in_codegen(spark, emb):
    """The JVM fold distances must not fall back to Python: no
    BatchEvalPython / ArrowEvalPython stage in the exact top-k plan."""
    df = topk(emb, "embedding", [0.0] * 64, 10, "l2", id_col="vec_id")
    plan = _plan(df)
    assert "EvalPython" not in plan, plan
    # `*(n)` prefixes mark whole-stage-codegen stages in the simple plan
    # string (the HOF aggregate itself is interpreted, but the surrounding
    # scan/project stage must still be codegen'd and JVM-side).
    assert "*(1)" in plan, plan


def test_vamana_batch_search_plan_has_no_join_or_exchange(spark, sf_dir,
                                                         tmp_path):
    """The label map scales with the index, so it must never shuffle or
    land on the driver. The batch search resolves ids inside the search
    task instead: the plan is the query frame under one MapInArrow — no
    Join of any kind and no Exchange."""
    from duckdb_ann_spark.index import Catalog, create_index, index_scan

    cat = Catalog(str(tmp_path / "plan_cat"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    create_index(
        emb, "vec_id", "embedding", "plan_vam", engine="diskann",
        max_degree=16, build_complexity=32, catalog=cat,
    )
    qs = [[0.0] * 64] * 16  # > DISTRIBUTE_THRESHOLD -> distributed path
    plan = _plan(index_scan(spark, "plan_vam", qs, 5, catalog=cat))
    assert "MapInArrow" in plan, plan
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_ivf_probe_scan_has_no_join(spark, sf_dir, tmp_path):
    """Partial-probe IVF search: probe routing lives in the broadcast
    closure — the plan is scan -> python scorer -> window, no join
    duplicating base rows per query."""
    from duckdb_ann_spark.index import Catalog, create_index, index_scan

    cat = Catalog(str(tmp_path / "plan_cat2"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    create_index(
        emb, "vec_id", "embedding", "plan_ivf", engine="faiss",
        type="IVFFlat", ivf_nlist=8, nprobe=2, catalog=cat,
    )
    plan = _plan(index_scan(spark, "plan_ivf", [[0.0] * 64], 5, catalog=cat))
    assert "Join" not in plan, plan
    assert "PartitionFilters" in plan, plan


def test_bm25_plan_no_explode_no_join_shuffle(spark, sf_dir):
    """Round-3 BM25 shape: per-doc tf/dl are array ops over one bound
    tokenize evaluation — the plan must contain NO Generate (explode),
    NO SortMergeJoin, and only the constants-aggregate exchange(s); the
    constants arrive via broadcast."""
    from duckdb_ann_spark.operators.hybrid import bm25_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(bm25_scores(docs, "doc_id", "text", "spark join query data"))
    assert "Generate" not in plan, plan          # no explode pass
    assert "SortMergeJoin" not in plan, plan     # no per-term shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # the only exchanges allowed are the single-row constants aggregate
    # (partial -> final) — no hashpartitioning of the doc stream
    assert "Exchange hashpartitioning" not in plan, plan


def test_embedding_dedup_distinct_carries_no_vectors(spark, sf_dir):
    """The sign-LSH candidate distinct must dedupe (id_a, id_b) rows only;
    the embedding arrays join back AFTER it. If a vector column rode
    through the distinct's exchange, every candidate pair would shuffle
    ~2 x dim x 4 bytes plus array-equality hashing."""
    from duckdb_ann_spark.operators.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    plan = _plan(embedding_near_dup_pairs(emb, "vec_id", "embedding"))
    # every distinct compiles to HashAggregate(keys=[...]) pairs around an
    # exchange; none of those key lists may contain the vector aliases
    for m in re.finditer(r"HashAggregate\(keys=\[([^\]]*)\]", plan):
        keys = m.group(1)
        assert "_va" not in keys and "_vb" not in keys and "embedding" not in keys, plan


def test_minhash_signature_single_scan(spark, sf_dir):
    """Signatures are one narrow projection: no shuffle, no explode, no
    Python eval — the tokenize/shingle/md5 pipeline stays JVM-side."""
    from duckdb_ann_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(minhash_signatures(docs, "doc_id", "text"))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_pack_and_stratified_windows_are_two_level(spark):
    """The round-6 skew fix: neither pack_sequences nor stratified_sample
    may contain a window partitioned by the domain column ALONE — a
    Zipfian corpus (one domain 80%+ of rows) would serialize that window
    into a single task. Every per-row window must carry the second-level
    chunk/bucket key; only the tiny per-chunk-totals prefix (operating on
    <= chunks rows per domain) partitions by domain alone."""
    from duckdb_ann_spark.operators.corpus_ops import (
        pack_sequences,
        stratified_sample,
    )

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 0, "rare").otherwise("web").alias("source"),
        F.lit("a b c").alias("text"),
    )
    for out in (
        pack_sequences(df, "doc_id", "source", "text", max_len=8, chunks=8),
        stratified_sample(df, "doc_id", "source", 5),
    ):
        plan = _plan(out)
        # windowspecdefinition(source, ..., doc_id ASC ...) with no chunk
        # key between would be the single-level shape
        for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            parts = [p.strip().split("#")[0] for p in spec.split(",")]
            if any(p.startswith("doc_id") for p in parts):
                # the per-row cumsum/rank window: needs the 2nd key
                assert any(p.startswith(("_chunk", "_sb")) for p in parts), spec
