"""Fixpoint operators keep their state in local checkpoints, not in the
session's cache: while a result is alive and has been collected, Spark's
CacheManager holds nothing for it.  A checkpoint lives as long as some
plan reads it and is freed by Spark's cleaner afterwards, so no operator
has to tie a cache's lifetime to its Python result object."""
import pytest

from tosidewalk_spark.operators import clustering, dedup, graph, text

_EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (4, 3)]
_EMB = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.01]),
        (3, [0.01, 1.0]), (4, [1.0, 0.01])]
_DOCS = [(1, "the cat sat on the mat"), (2, "the cat sat on the mat"),
         (3, "the hat that ate then"), (4, "aaaa banana")]


def _edges(spark):
    return spark.createDataFrame(_EDGES, "src long, dst long")


def _emb(spark):
    return spark.createDataFrame(_EMB, "vec_id long, embedding array<float>")


def _docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


CASES = {
    "pagerank": lambda s: graph.pagerank(_edges(s), n_iter=3),
    "hits": lambda s: graph.hits(_edges(s), n_iter=3),
    "bfs_distances": lambda s: graph.bfs_distances(
        _edges(s), s.createDataFrame([(0,)], "node_id long"), n_rounds=3),
    "label_propagation": lambda s: graph.label_propagation(_edges(s), n_rounds=3),
    "kmeans_assign": lambda s: clustering.kmeans_assign(_emb(s), k=2, n_iter=2),
    "semantic_dedup": lambda s: clustering.semantic_dedup(_emb(s), k=2, n_iter=2),
    "bpe_learn": lambda s: text.bpe_learn(_docs(s), n_merges=3),
    "dedup_clusters": lambda s: dedup.dedup_clusters(_docs(s)),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_fixpoint_operator_leaves_cache_manager_empty(spark, name):
    spark.catalog.clearCache()  # start from an empty cache, whatever ran before
    result = CASES[name](spark)
    assert result.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name
