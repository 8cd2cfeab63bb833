"""Global plan lint: every registered query's physical plan is checked
for the one unconditional scale-killer — a true CartesianProduct node
(a broadcast NLJ from an intentional F.broadcast crossJoin is fine; a
CartesianProduct means two non-broadcast sides pair-expand).

Queries whose CONSTRUCTION runs eager jobs (localCheckpoint-based
iterative pipelines) are excluded here — each already has a dedicated
plan audit or measured bench/probe evidence; re-building them per lint
run would re-train kmeans/PQ codebooks etc. for no added signal."""

from __future__ import annotations

import pytest

from kafka_streams_dexcom_spark.plans import explain_str
from kafka_streams_dexcom_spark.queries import all_queries

# eager-checkpoint construction (iterative / multi-consumer pipelines)
EAGER = {
    "dedup_best_survivors",
    "dedup_clusters",
    "dedup_survivors",
    "dedup_minhash_lsh",
    "dedup_incremental",
    "dedup_ngram_jaccard",
    "dedup_rate_by_source",
    "pagerank_centrality",
    "triangle_count",
    "triangle_count_capped",
    "kmeans_cells",
    "dedup_embedding_ivf",
    "sim_search_ivf",
    "sim_search_ivfpq",
    "sim_search_pq",
    "sim_search_recall",
    "ann_recall_matrix",
    "matryoshka_recall",
    "source_minhash_jaccard",
    "source_overlap",
    "embedding_quantize",
    "contamination_check",
    "doc_perplexity",
    "dup_span_fraction",
    "bm25_rerank",
}


@pytest.mark.parametrize(
    "name", sorted(n for n in all_queries() if n not in EAGER)
)
def test_no_cartesian_product(spark, sf_dir, name):
    plan = explain_str(all_queries()[name](spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
