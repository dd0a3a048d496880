"""Physical-plan regression tests: the scale properties PLANS.md
documents, machine-checked so they can't silently regress.

Each assertion pins a property that matters at 100 TB — predicate
pushdown reaching the parquet scan, static partition pruning on the
index layouts, shuffle-count ceilings on hot paths, no interpreted
Python in the relational layer. Run at sf0.001 (plan shape, not
data volume)."""

import re

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    return len(re.findall(r"Exchange (?:hash|range|RoundRobin|Single)", plan))


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


def test_q1_pushdown_and_pruning(spark, qs):
    plan = _plan(qs["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: the scan must not read all 16 lineitem columns
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m and len(m.group(1).split(",")) <= 7, m and m.group(1)


def test_indexed_lsh_static_partition_pruning(spark, qs):
    plan = _plan(qs["indexed_vector_knn_lsh"](spark, SF))
    assert re.search(r"PartitionFilters: \[.*sig", plan), plan[:800]


def test_indexed_ivf_cell_pruning(spark, qs):
    plan = _plan(qs["indexed_vector_knn_ivf"](spark, SF))
    assert re.search(r"PartitionFilters: \[cent_id", plan), plan[:800]


def test_indexed_bm25_token_bucket_pruning(spark, qs):
    plan = _plan(qs["indexed_bm25_search"](spark, SF))
    assert re.search(r"PartitionFilters: \[tbucket", plan)
    # token IN-list pushed to the parquet scan
    assert re.search(r"PushedFilters: \[.*In\(token", plan)


def test_tpch_dimensions_broadcast_not_shuffled(spark, qs):
    """q5's five dimension joins must all be broadcast — a shuffled
    sort-merge join on nation/region/supplier at 100 TB would move
    the fact table for no reason."""
    plan = _plan(qs["q5_local_supplier_volume"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_topk_is_take_ordered(spark, qs):
    """ORDER BY score LIMIT k must compile to TakeOrderedAndProject
    (per-partition top-k), never a global sort."""
    plan = _plan(qs["vector_knn"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_bm25_adhoc_shuffle_ceiling(spark, qs):
    """The restructured ad-hoc BM25 keeps its posting shuffle on
    query-term hits only; ceiling guards against reintroducing the
    full-vocabulary aggregation (was 10 shuffles, now <=6)."""
    assert _shuffles(_plan(qs["bm25_search"](spark, SF))) <= 6


def test_bm25_prf_parquet_scan_ceiling(spark, qs):
    """PRF's base leg, expansion counts, weighted rescore and doc
    lengths all read ONE checkpointed content-postings table (r11):
    the formatted plan names "Scan parquet" 8 times (each scan twice —
    tree and details; 30 when every leg re-tokenized the corpus)."""
    df = qs["bm25_prf_search"](spark, SF)
    formatted = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert formatted.count("Scan parquet") <= 8


def test_no_python_udfs_on_relational_paths(spark, qs):
    """TPC-H-shape and event queries must stay JVM-side end to end:
    no BatchEvalPython / ArrowEvalPython stages."""
    for name in ("q1_pricing_summary", "q3_shipping_priority",
                 "q9_product_profit", "events_sessionize",
                 "asof_purchase_view", "dedup_minhash_lsh",
                 "text_profile", "bpe_token_count"):
        plan = _plan(qs[name](spark, SF))
        assert "EvalPython" not in plan, name


def test_indexed_ivfpq_code_cell_pruning(spark, qs):
    """The IVF-PQ ADC scan must read only the probed cells' byte
    codes — cent_id partition pruning on the pq_codes_ivf layout."""
    plan = _plan(qs["indexed_vector_knn_ivfpq"](spark, SF))
    assert re.search(r"PartitionFilters: \[cent_id#\d+ IN", plan), plan[:800]


def test_tfidf_similar_single_corpus_shuffle(spark, qs):
    """With weights/norms materialized once, the visible plan tail is
    broadcast-only (no corpus-sized exchange downstream of the
    checkpointed postings)."""
    plan = _plan(qs["tfidf_similar_docs"](spark, SF))
    assert _shuffles(plan) <= 1, plan[:1200]
    assert "SortMergeJoin" not in plan


def test_kmeans_no_global_window(spark, qs):
    """The k-means output (and every per-iteration plan before it)
    must never plan a no-partition corpus window; the final model is
    a k×dim local relation."""
    plan = _plan(qs["embedding_kmeans"](spark, SF))
    assert "Window" not in plan


def test_source_matrix_bounded_output_agg(spark, qs):
    """Cross-source matrix: the last aggregate runs on edge rows
    (O(n) star edges), never a pairwise blowup; no cartesian join."""
    plan = _plan(qs["dedup_source_matrix"](spark, SF))
    assert "CartesianProduct" not in plan


def test_winsorize_bounds_broadcast(spark, qs):
    """The percentile-bounds table joins back as a broadcast — the
    event stream itself never re-shuffles for the clamp."""
    plan = _plan(qs["events_winsorize"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_skyline_no_global_window_no_cartesian(spark, qs):
    """Skyline avoids both failure shapes: the O(n²) domination join
    and a single-partition global window. The only windows run per
    partition-id / per range-partition."""
    plan = _plan(qs["parts_pareto_frontier"](spark, SF))
    assert "CartesianProduct" not in plan
    # exactly ONE single-partition exchange survives: the prefix-max
    # window over per-partition maxima (#partitions rows, bounded by
    # cluster size) — the data-sized windows are all partition-keyed
    assert plan.count("Exchange SinglePartition") == 1


def test_column_profile_single_scan(spark, qs):
    """ANALYZE profile: every statistic comes from ONE scan of
    lineitem (the Expand for multi-distinct still reads once)."""
    plan = _plan(qs["lineitem_column_stats"](spark, SF))
    assert plan.count("FileScan parquet") == 1


def test_nb_model_broadcast_inference(spark, qs):
    """NB inference joins the token stream against the model as a
    broadcast — the stream shuffles only for (doc,label) sums."""
    plan = _plan(qs["classify_nb_language"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_snapshot_diff_no_cartesian(spark, qs):
    plan = _plan(qs["orders_snapshot_diff"](spark, SF))
    assert "CartesianProduct" not in plan
    assert re.search(r"SortMergeJoin \[.*\], \[.*\], FullOuter", plan)


def test_cms_sketch_broadcast_probe(spark, qs):
    """CMS estimates probe a broadcast sketch (depth*width bounded)."""
    plan = _plan(qs["events_cms_heavy_hitters"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_indexed_phrase_position_bucket_pruning(spark, qs):
    plan = _plan(qs["indexed_phrase_search"](spark, SF))
    # every per-term read of the positional layout is bucket-pruned
    # and the token equality pushes into the parquet scan
    assert re.search(r"PartitionFilters: \[tbucket", plan)
    assert re.search(r"PushedFilters: \[.*token", plan)
