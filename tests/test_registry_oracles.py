"""Registry queries against their DuckDB oracles at sf0.01.

Each query here composes on a fragment it shares with a base query (the
Kruskal-Wallis rank grid, the ROC rank statistics, the DSIR ratios, the
part co-purchase triangles, the k-means replay), on the Spark side and in
its oracle. Running base and derived side by side pins both ends of every
shared fragment. The trading-graph family runs the same check in
``test_graph.py``.
"""

from __future__ import annotations

import pytest

SHARED_FRAGMENT_QUERIES = [
    "stat_kruskal_wallis",
    "stat_dunn_posthoc",
    "ml_roc_auc",
    "ml_auc_ci_hanley",
    "doc_dsir_importance",
    "doc_dsir_select",
    "graph_triangle_count",
    "graph_clustering_coeff",
    "emb_kmeans_lloyd",
    "ml_kmeans_silhouette",
    "dedup_semantic",
    "dedup_semantic_autok",
]


@pytest.mark.parametrize("name", SHARED_FRAGMENT_QUERIES)
def test_query_matches_oracle(assert_matches_oracle, name):
    assert_matches_oracle(name)
