"""Operators keep re-read relations in local checkpoints (or in no cache
at all), not in the session's cache: while a result is alive and has been
collected, Spark's CacheManager holds nothing for it.  A checkpoint lives
as long as some plan reads it and is freed by Spark's cleaner afterwards,
so no operator has to tie a cache's lifetime to its Python result object."""
import pytest
from pyspark.sql import functions as F

from tosidewalk_spark.functions import sqlfns
from tosidewalk_spark.operators import (clustering, dedup, graph, network,
                                        search, spatial, text)
from tosidewalk_spark.sources import synth

_EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (4, 3)]
_EMB = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.01]),
        (3, [0.01, 1.0]), (4, [1.0, 0.01])]
_DOCS = [(1, "the cat sat on the mat"), (2, "the cat sat on the mat"),
         (3, "the hat that ate then"), (4, "aaaa banana")]
_PTS = [("u1", "e1", 47.6004, -122.3300), ("u2", "e2", 47.6000, -122.3303),
        ("u3", "e3", 47.6010, -122.3290)]


def _edges(spark):
    return spark.createDataFrame(_EDGES, "src long, dst long")


def _emb(spark):
    return spark.createDataFrame(_EMB, "vec_id long, embedding array<float>")


def _docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def _knn(spark, k):
    nodes, ways = synth.micro_fixture(spark, "straight3")
    bufs = spatial.street_buffers(
        spatial.street_segments(network.geom_ways(nodes, ways)))
    pts = (spark.createDataFrame(_PTS, "url string, entity string, "
                                 "lat double, lng double")
           .withColumn("cell9", F.expr(sqlfns.cell_sql("lat", "lng", 9))))
    return spatial.knn_join(pts, spatial.segments_by_cell(bufs), k=k)


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
    "knn_join_k1": lambda s: _knn(s, 1),
    "knn_join_k3": lambda s: _knn(s, 3),
    "triangle_count": lambda s: graph.triangle_count(_edges(s)),
    "dsir_weights": lambda s: text.dsir_weights(
        _docs(s), _docs(s).filter("doc_id % 2 = 1")),
    "ccnet_buckets": lambda s: text.ccnet_buckets(
        _docs(s).withColumn("lang", F.lit("en")),
        _docs(s).filter("doc_id = 1")),
    "phrase_search": lambda s: search.phrase_search(_docs(s), ["the", "cat"]),
    "embedding_neardup_pairs": lambda s: dedup.embedding_neardup_pairs(
        _emb(s), cos_threshold=0.9),
    "containment_pairs": lambda s: dedup.containment_pairs(_docs(s)),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_fixpoint_operator_leaves_cache_manager_empty(spark, name):
    spark.catalog.clearCache()  # start from an empty cache, whatever ran before
    result = CASES[name](spark)
    assert result.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name


def test_leak_count_sees_a_live_persist(spark):
    """The module leak check has teeth: a live persisted DataFrame raises
    the count it reads by one, and unpersisting it brings it back."""
    from conftest import _persisted_rdds
    # let the cleaner drop what earlier tests left, so the count is steady
    before = _persisted_rdds(at_most=0, wait_s=10.0)
    df = spark.range(10).persist()
    try:
        df.count()
        assert _persisted_rdds() == before + 1
    finally:
        df.unpersist(blocking=True)
    assert _persisted_rdds(at_most=before) == before
