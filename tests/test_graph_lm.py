"""Unit tests for the r4 fourth-wave operators: fixed-point PageRank over
the deterministic link graph, and reference-corpus bigram LM fluency."""
import pytest
from pyspark.sql import functions as F

from tosidewalk_spark.operators import graph, text

SCALE = graph.PR_SCALE


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_pagerank_two_cycle_exact_fixpoint(spark):
    # a <-> b: init 5e8 each IS the fixpoint (base 75e6 + 85%*5e8 = 5e8),
    # closed form, so every iteration count returns exactly scale/2 each
    for k in (1, 3, 5):
        rows = {r.node_id: r.rank_fx
                for r in graph.pagerank(
                    _edges(spark, [(0, 1), (1, 0)]), n_iter=k).collect()}
        assert rows == {0: SCALE // 2, 1: SCALE // 2}


def test_pagerank_no_inlinks_node_sits_at_teleport_base(spark):
    # a->b, b->a, c->a: c receives nothing, so after >=1 round its rank is
    # exactly the teleport base = 15% * scale / (100% * 3)
    out = {r.node_id: r for r in graph.pagerank(
        _edges(spark, [(0, 1), (1, 0), (2, 0)]), n_iter=3).collect()}
    base = (15 * SCALE) // (100 * 3)
    assert out[2].rank_fx == base
    assert out[0].rank_fx > out[1].rank_fx > out[2].rank_fx
    assert out[2].out_deg == 1 and out[0].out_deg == 1


def test_pagerank_parallel_edges_vote_twice(spark):
    # a links to b twice and to c once: outdeg(a)=3, b gets 2 shares
    out = {r.node_id: r.rank_fx for r in graph.pagerank(
        _edges(spark, [(0, 1), (0, 1), (0, 2), (1, 0), (2, 0)]),
        n_iter=4).collect()}
    assert out[1] > out[2]


def test_pagerank_mass_conserved_on_link_graph(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pr = graph.pagerank(graph.link_graph(docs), n_iter=5)
    agg = pr.agg(F.sum("rank_fx").alias("s"),
                 F.count("*").alias("n"),
                 F.min("out_deg").alias("mn")).collect()[0]
    # floor leak only: total mass stays within a loose 1% of scale and
    # never exceeds it; no dangling nodes by construction
    assert SCALE * 0.99 <= agg.s <= SCALE
    assert agg.mn >= 1
    assert agg.n == docs.count()


def test_lm_fluency_closed_form(spark):
    # ref "a b a b a c": c2 = {ab:2, ba:2, ac:1}, c1 = {a:3, b:2}, V=3
    ref = spark.createDataFrame([(0, "a b a b a c")],
                                "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "a b"),       # p(ab) = (2+1)/(3+3) = 1/2
         (2, "c c"),       # OOV bigram, OOV w1: p = 1/(0+3) = 1/3
         (3, "x"),         # no bigrams
         (4, None)],       # NULL text: no bigrams, kept
        "doc_id long, text string")
    out = {r.doc_id: (r.n_bigrams, r.n_oov, r.score_fx)
           for r in text.lm_fluency(docs, ref).collect()}
    s = text.LM_SCALE
    assert out[1] == (1, 0, s // 2)
    assert out[2] == (1, 1, (s + 1) // 3)   # floor(1e12/3 + 0.5)
    assert out[3] == (0, 0, 0)
    assert out[4] == (0, 0, 0)
    assert len(out) == 4


def test_lm_fluency_fluent_beats_shuffled(spark):
    # the score's purpose: reference-like ordering outscores a
    # rare-transition ordering of the same tokens
    ref = spark.createDataFrame(
        [(0, "the cat sat on the mat the cat sat on the mat")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "mat the on sat cat the")],
        "doc_id long, text string")
    out = {r.doc_id: r.score_fx
           for r in text.lm_fluency(docs, ref).collect()}
    assert out[1] > out[2]


def test_dsir_single_bucket_normalization_identity(spark):
    # with n_buckets=1 both models are the whole distribution: p_b and q_b
    # are exactly 1.0, ratio_fx is exactly the scale, so score_fx must be
    # n_grams * scale for every doc -- pins the smoothing denominators
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a"), (3, ""), (4, None)],
        "doc_id long, text string")
    out = {r.doc_id: (r.n_grams, r.n_target_hit, r.score_fx)
           for r in text.dsir_weights(docs, docs.filter("doc_id = 1"),
                                      n_buckets=1).collect()}
    s = text.DSIR_SCALE
    assert out[1] == (5, 5, 5 * s)   # a,b,c + "a b","b c"
    assert out[2] == (1, 1, 1 * s)   # one unigram, no bigrams
    assert out[3] == (0, 0, 0)       # empty text: row kept
    assert out[4] == (0, 0, 0)       # NULL text: row kept
    assert len(out) == 4


def test_dsir_target_like_doc_outscores_off_target(spark):
    # the weight's purpose: a doc whose grams sit in target-heavy buckets
    # gets a higher per-gram score than one sharing nothing with the target
    docs = spark.createDataFrame(
        [(0, "aa bb aa bb"), (1, "aa bb"), (2, "zz qq")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in text.dsir_weights(
        docs, docs.filter("doc_id = 0")).collect()}
    assert out[1].n_grams == out[2].n_grams == 3
    assert out[1].n_target_hit == 3 and out[2].n_target_hit == 0
    assert out[1].score_fx > out[2].score_fx


def _ph(s, mult):
    a = 0
    for ch in s:
        a = (a * mult + ord(ch)) % 2147483647
    return a


def test_mixture_weights_single_stratum_and_sqrt_scaling(spark):
    one = spark.createDataFrame([(i, "en") for i in range(7)],
                                "doc_id long, lang string")
    r = text.mixture_weights(one, budget=500).collect()
    assert len(r) == 1 and r[0].weight_fx == 1_000_000 and r[0].quota == 500
    # 4 docs vs 1: sqrt masses 2000/1000 -> weights 2/3 vs 1/3, i.e. the
    # head stratum is downweighted vs its 4/5 proportional share
    two = spark.createDataFrame(
        [(i, "en") for i in range(4)] + [(9, "de")],
        "doc_id long, lang string")
    out = {r.stratum: r for r in text.mixture_weights(two, budget=300).collect()}
    assert out["en"].sqrt_fx == 2000 and out["de"].sqrt_fx == 1000
    assert out["en"].weight_fx == 666_667 and out["de"].weight_fx == 333_333
    assert out["en"].quota == 200 and out["de"].quota == 100


def test_mixture_weights_isqrt_template_exact():
    # the SQL isqrt template must equal math.isqrt at perfect-square
    # boundaries and on random values — evaluated on DuckDB (no Spark)
    import math
    import duckdb
    vals = []
    for k in (1, 2, 10, 1000, 44721, 3_037_000):
        vals += [k * k - 1, k * k, k * k + 1]
    vals += [3, 7, 12345, 987654321, 10**12 + 7]
    expr = text._isqrt_sql("x")
    got = duckdb.sql(
        f"SELECT x, {expr} AS s FROM (SELECT unnest({vals}) AS x)"
    ).fetchall()
    for x, s in got:
        assert s == math.isqrt(x), (x, s, math.isqrt(x))


def test_hash_embed_planted_dims_and_signs(spark):
    docs = spark.createDataFrame(
        [(1, "aa aa bb"), (2, ""), (3, None)], "doc_id long, text string")
    out = {(r.doc_id, r.dim_id): r.val
           for r in text.hash_embed(docs).collect()}
    dim_a, sgn_a = _ph("aa", 31) % 64, 1 if _ph("aa", 37) % 2 == 0 else -1
    dim_b, sgn_b = _ph("bb", 31) % 64, 1 if _ph("bb", 37) % 2 == 0 else -1
    expect = {}
    expect[(1, dim_a)] = expect.get((1, dim_a), 0) + 2 * sgn_a
    expect[(1, dim_b)] = expect.get((1, dim_b), 0) + sgn_b
    assert out == {k: v for k, v in expect.items() if v != 0}


def test_hash_embed_dense_keeps_empty_docs(spark):
    docs = spark.createDataFrame(
        [(1, "x y z"), (2, ""), (3, None)], "doc_id long, text string")
    out = {r.doc_id: r.embedding
           for r in text.hash_embed_dense(docs, dim=16).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2] == [0.0] * 16 and out[3] == [0.0] * 16
    assert len(out[1]) == 16 and sum(abs(v) for v in out[1]) == 3.0


def test_chunk_windows_boundaries(spark):
    toks = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, toks), (2, "a b"), (3, ""), (4, None)],
        "doc_id long, text string")
    out = sorted((r.doc_id, r.chunk_no, r.start_tok, r.n_tokens, r.chunk_text)
                 for r in text.chunk_windows(docs, chunk_tokens=4,
                                             overlap=1).collect())
    # doc 1: 10 tokens, stride 3 -> starts 0,3,6,9; last chunk short
    assert out == [
        (1, 0, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 3, 4, "t3 t4 t5 t6"),
        (1, 2, 6, 4, "t6 t7 t8 t9"),
        (1, 3, 9, 1, "t9"),
        (2, 0, 0, 2, "a b"),
    ]
    # overlap: consecutive chunks share exactly `overlap` tokens
    assert out[0][4].split()[-1] == out[1][4].split()[0]


def test_triangle_count_k4_and_acyclic(spark):
    """K4 has 4 triangles, every node in exactly 3; a path has none;
    duplicate and reversed edges do not inflate counts."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    out = {r.node: r.n_tri for r in
           graph.triangle_count(_edges(spark, k4)).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}
    path = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    assert graph.triangle_count(path).count() == 0
    dup = _edges(spark, [(0, 1), (1, 0), (0, 1), (1, 2), (2, 0), (2, 0)])
    out2 = {r.node: r.n_tri for r in graph.triangle_count(dup).collect()}
    assert out2 == {0: 1, 1: 1, 2: 1}


def test_triangle_count_hub_closure(spark):
    """A star hub closes exactly the triangles whose rim edge exists —
    the degree-oriented wedge join must not count open wedges."""
    star = [(100, i) for i in range(10)] + [(0, 1), (4, 5)]
    out = {r.node: r.n_tri for r in
           graph.triangle_count(_edges(spark, star)).collect()}
    assert out == {100: 2, 0: 1, 1: 1, 4: 1, 5: 1}


def test_hits_bipartite_fixpoint_exact(spark):
    """K_{2,2} hubs->authorities: round 1 already reaches the fixpoint —
    hubs split the L1 mass 50/50, authorities likewise, and the pure
    sides hold exactly 0 in the opposite role."""
    S = graph.HITS_SCALE
    edges = [(0, 2), (0, 3), (1, 2), (1, 3)]
    for k in (1, 4):
        out = {r.node_id: r for r in
               graph.hits(_edges(spark, edges), n_iter=k).collect()}
        assert {n: v.hub_fx for n, v in out.items()} == \
            {0: S // 2, 1: S // 2, 2: 0, 3: 0}
        assert {n: v.auth_fx for n, v in out.items()} == \
            {0: 0, 1: 0, 2: S // 2, 3: S // 2}


def test_hits_broader_hub_and_endorsed_auth_rank_higher(spark):
    # 0 -> {2,3}, 1 -> {2}: node 2 is endorsed by both hubs so
    # auth(2) > auth(3); hub(0) covers both authorities so hub(0) > hub(1)
    out = {r.node_id: r for r in graph.hits(
        _edges(spark, [(0, 2), (0, 3), (1, 2)]), n_iter=3).collect()}
    assert out[2].auth_fx > out[3].auth_fx > 0
    assert out[0].hub_fx > out[1].hub_fx > 0
    assert out[2].hub_fx == 0 and out[0].auth_fx == 0


def test_hits_l1_mass_and_coverage_on_link_graph(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hs = graph.hits(graph.link_graph(docs), n_iter=5)
    agg = hs.agg(F.sum("hub_fx").alias("h"), F.sum("auth_fx").alias("a"),
                 F.count("*").alias("n")).collect()[0]
    S = graph.HITS_SCALE
    # L1 normalisation leaks at most 1 unit of mass per node to floor
    assert S - agg.n <= agg.h <= S and S - agg.n <= agg.a <= S
    assert agg.n == docs.count()


# star (1,0),(2,0),(3,0), two rounds: the round-2 authority rescale
# multiplies a'(0) = scale by scale, so the largest scale that fits BIGINT
# is floor(sqrt(2^63 - 1))
HITS_SCALE_LIMIT = 3_037_000_499


def test_hits_rescale_at_overflow_limit(spark):
    out = {r.node_id: r for r in graph.hits(
        _edges(spark, [(1, 0), (2, 0), (3, 0)]), n_iter=2,
        scale=HITS_SCALE_LIMIT).collect()}
    assert out[0].auth_fx == HITS_SCALE_LIMIT
    assert {n: r.hub_fx for n, r in out.items()} == \
        {0: 0, 1: HITS_SCALE_LIMIT // 3, 2: HITS_SCALE_LIMIT // 3,
         3: HITS_SCALE_LIMIT // 3}


def test_hits_rescale_past_overflow_limit_raises(spark):
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        graph.hits(_edges(spark, [(1, 0), (2, 0), (3, 0)]), n_iter=2,
                   scale=HITS_SCALE_LIMIT + 1).collect()


def test_bfs_distances_path_bounded_and_multisource(spark):
    """Hop distances are exact, the n_rounds bound truncates the reach,
    and a node takes the MIN over sources."""
    path = [(i, i + 1) for i in range(6)]          # 0->1->...->6
    src = spark.createDataFrame([(0,), (4,)], "node_id long")
    out = {r.node_id: r.dist for r in
           graph.bfs_distances(_edges(spark, path), src,
                               n_rounds=3).collect()}
    # from 0: 1,2,3 at 1..3; from 4: 5,6 at 1,2; beyond 3 hops unreached
    assert out == {0: 0, 1: 1, 2: 2, 3: 3, 4: 0, 5: 1, 6: 2}


def test_bfs_distances_shorter_path_wins(spark):
    # 0->1->3 and 0->3: dist(3) must be 1, not 2
    out = {r.node_id: r.dist for r in graph.bfs_distances(
        _edges(spark, [(0, 1), (1, 3), (0, 3)]),
        spark.createDataFrame([(0,)], "node_id long"),
        n_rounds=4).collect()}
    assert out == {0: 0, 1: 1, 3: 1}


def test_cooccurrence_edges_window2_symmetric(spark):
    docs = spark.createDataFrame([(1, "a b a"), (2, "c"), (3, "")],
                                 "doc_id long, text string")
    rows = [(r.src, r.dst) for r in
            graph.cooccurrence_edges(docs).collect()]
    # "a b a" -> adjacent pairs (a,b),(b,a); symmetrized = 4 edges; the
    # 1-token and empty docs contribute nothing
    assert sorted(rows) == [("a", "b"), ("a", "b"), ("b", "a"), ("b", "a")]


def test_textrank_hub_word_ranks_first(spark):
    docs = spark.createDataFrame(
        [(1, "x a"), (2, "x b"), (3, "x c"), (4, "x d"), (5, "a b")],
        "doc_id long, text string")
    out = graph.textrank_keywords(docs, k=3, n_iter=4).collect()
    assert out[0].term == "x"                      # degree-4 hub
    ranks = [r.rank_fx for r in out]
    assert ranks == sorted(ranks, reverse=True) and len(out) == 3


def test_lpa_disjoint_components_converge_to_min_id(spark):
    """Two symmetric triangles: labels flood to each component's min
    node id and stay there; no cross-component leakage."""
    tri = lambda a, b, c: [(a, b), (b, a), (b, c), (c, b), (a, c), (c, a)]
    out = {r.node_id: r.label for r in graph.label_propagation(
        _edges(spark, tri(0, 1, 2) + tri(10, 11, 12)),
        n_rounds=4).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def test_lpa_tie_breaks_to_smallest_label_and_sources_keep_own(spark):
    # 3->9 and 7->9: round 1 is a 1-1 tie, smallest label (3) wins;
    # 3 and 7 have no in-edges so they keep their own labels forever
    out = {r.node_id: r.label for r in graph.label_propagation(
        _edges(spark, [(3, 9), (7, 9)]), n_rounds=1).collect()}
    assert out == {3: 3, 7: 7, 9: 3}
