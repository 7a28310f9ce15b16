"""Web-graph operators: deterministic link-graph derivation and
fixed-point PageRank.

The reference pipeline (tongning/ToSidewalk) has no web-graph surface;
PageRank is the canonical webtext-corpus ranking signal (Page et al. 1999;
Common Crawl publishes host-level ranks computed exactly this way) and a
standard quality prior for training-data curation.  Design notes for 10^12
pages / 10^13 edges:

- **Power iteration as K chained join+agg rounds**, K fixed: each round is
  one equi-join of the rank vector against the edge relation on ``src``
  plus one hash aggregation on ``dst`` — the classic Spark PageRank shape,
  except the rank table is re-derived from the node relation every round
  (LEFT join) so sink pages that receive no links keep the teleport mass.
  At scale the edge relation is the 100 TB side and the rank vector the
  small side; partition both by node id (bucketBy) and every round's join
  is co-located, leaving the dst aggregation as the only real shuffle.
- **All arithmetic is BIGINT fixed-point** (``scale`` = 1e9 of total mass).
  A double rank vector would make the per-dst SUM addition-order-dependent
  under parallel aggregation — a different answer at every parallelism and
  an un-oracle-able one.  Integer division (floor, positive operands) and
  BIGINT SUM are exact and associative, so ranks are bit-identical at any
  core count and across engines (the DuckDB twin unrolls the same K
  rounds).  Headroom: total mass 1e9, damping multiply ×85 ≤ 8.5e10,
  far under int64.
- **Leaked mass is deliberate**: floor-division drops < outdeg units of
  mass per node per round, and dangling nodes (none in the derived graph
  — every page links out by construction) would drop their whole rank.
  PageRank-with-leak keeps the ORDER of ranks (what a curation pipeline
  consumes) and buys exact determinism; the classic renormalisation is a
  one-line follow-up agg if true probabilities are ever needed.

No reference parity to cite: /root/reference is empty this round
(SURVEY.md §0); the operator derives from the public PageRank literature
and the Spark GraphX/Pregel formulation of it.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, functions as F

from .dedup import _spread
from .spatial import _safe_unpersist

PR_SCALE = 1_000_000_000  # total fixed-point mass distributed over nodes
PR_DAMPING_PCT = 85       # damping as an integer percentage (0.85)


def link_graph(docs: DataFrame, fanout: int = 3) -> DataFrame:
    """Deterministic synthetic out-links: page ``i`` links to
    ``(i * m_j + a_j) % n`` for ``fanout`` fixed affine maps, self-loops
    dropped (so outdeg is ``fanout`` or ``fanout - 1``, never 0 — no
    dangling nodes by construction).  ``n`` rides a 1-row broadcast cross
    join, keeping the edge derivation plan-only (no driver count action).

    Stands in for the href-extraction pass (operators/text.extract_text
    owns real HTML); the GRAPH operators downstream are the real thing.
    Output: (src, dst), one row per directed edge, duplicates possible
    when two maps collide — kept, PageRank treats them as parallel edges
    (a page linking twice votes twice)."""
    maps = [(17, 1), (31, 7), (2, 3)][:fanout]
    n1 = docs.agg(F.count("*").cast("long").alias("_n"))
    dsts = ", ".join(f"CAST((doc_id * {m} + {a}) % _n AS BIGINT)"
                     for m, a in maps)
    return (_spread(docs).select("doc_id").crossJoin(F.broadcast(n1))
            .select(F.col("doc_id").alias("src"),
                    F.explode(F.expr(f"ARRAY({dsts})")).alias("dst"))
            .filter("src != dst"))


def pagerank(edges: DataFrame, n_iter: int = 5,
             damping_pct: int = PR_DAMPING_PCT,
             scale: int = PR_SCALE) -> DataFrame:
    """Fixed-point PageRank over ``(src, dst)`` edges: ``n_iter`` exact
    power-iteration rounds, BIGINT arithmetic throughout (see module
    docstring for why fixed-point).

    Per round, for every node v:
        rank'(v) = base + (damping_pct * SUM over in-edges(u, v) of
                   (rank(u) DIV outdeg(u))) DIV 100
    with ``base = ((100 - damping_pct) * scale) DIV (100 * n)`` the
    teleport share.  Parallel edges vote once each (outdeg counts them).

    Plan: the edge relation is pre-joined with outdeg ONCE as ``ew`` (r6
    — the old shape re-aggregated and re-joined outdeg inside every
    round); every round is then ONE join(on src) → hash-agg(dst) → LEFT
    join back to the node relation, so nodes with no in-edges stay at
    ``base`` instead of dropping out; each round's rank vector is cut off
    with an eager localCheckpoint (it is referenced twice per round — see
    the loop comment).  ``e``, ``nodes`` and ``ew`` are re-read by later
    jobs, so each is a lazy localCheckpoint: materialized by its first
    job, freed by Spark's cleaner once no plan reads it.

    Output: (node_id, rank_fx, out_deg) — rank_fx sums to ~scale (minus
    the documented floor leak)."""
    e = _spread(edges).select("src", "dst").localCheckpoint(eager=False)
    nodes = (e.select(F.col("src").alias("node_id"))
             .unionByName(e.select(F.col("dst").alias("node_id")))
             .distinct().localCheckpoint(eager=False))
    # edges pre-joined with out-degree ONCE (r6): the old
    # shape re-aggregated outdeg and re-joined it inside EVERY round —
    # n_iter extra (agg + join) stages for an edge-constant value.  The
    # weights are identical (out_deg per src is a pure function of e).
    outdeg = e.groupBy("src").agg(F.count("*").cast("long").alias("out_deg"))
    ew = e.join(outdeg, "src").localCheckpoint(eager=False)
    n1 = nodes.agg(F.count("*").cast("long").alias("_n"))
    base_expr = (f"CAST(({100 - damping_pct} * CAST({scale} AS BIGINT))"
                 f" DIV (100 * _n) AS BIGINT)")
    ranks = (nodes.crossJoin(F.broadcast(n1))
             .select("node_id",
                     F.expr(f"CAST(CAST({scale} AS BIGINT) DIV _n"
                            " AS BIGINT)").alias("rank_fx"),
                     F.expr(base_expr).alias("_base")))
    for _ in range(n_iter):
        contrib = (ranks.join(ew, F.col("node_id") == F.col("src"))
                   .select("dst", F.expr("rank_fx DIV out_deg")
                           .alias("_c")))
        inflow = contrib.groupBy("dst").agg(F.sum("_c").alias("_in"))
        # per-round localCheckpoint (the hits/LPA discipline): the rank
        # vector is referenced TWICE per round (contrib + the rebuild),
        # so left lazy the plan doubles per round and exchange reuse
        # only partly contains the re-execution — measured 5.7 -> 3.9 s
        # at sf0.1 with bit-identical output (integer arithmetic)
        ranks = (ranks.select("node_id", "_base")
                 .join(inflow, F.col("node_id") == F.col("dst"), "left")
                 .select("node_id", "_base",
                         F.expr(f"CAST(_base + ({damping_pct} * "
                                "COALESCE(_in, CAST(0 AS BIGINT)))"
                                " DIV 100 AS BIGINT)").alias("rank_fx"))
                 .localCheckpoint())
    return (ranks.join(outdeg, F.col("node_id") == F.col("src"), "left")
            .select("node_id", "rank_fx",
                    F.expr("COALESCE(out_deg, CAST(0 AS BIGINT))")
                    .alias("out_deg")))


def pagerank_duckdb_sql(edges_sql: str, n_iter: int = 5,
                        damping_pct: int = PR_DAMPING_PCT,
                        scale: int = PR_SCALE) -> str:
    """DuckDB twin: the same K rounds unrolled as chained CTEs, the same
    BIGINT floor-division arithmetic (``//`` in DuckDB == ``DIV`` in Spark
    for the all-positive operands here), so ranks match bit-for-bit."""
    ctes = [
        f"e AS MATERIALIZED ({edges_sql})",
        ("nodes AS MATERIALIZED (SELECT DISTINCT node_id FROM "
         "(SELECT src AS node_id FROM e UNION ALL SELECT dst FROM e))"),
        ("od AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS "
         "out_deg FROM e GROUP BY src)"),
        ("p AS (SELECT CAST(COUNT(*) AS BIGINT) AS _n, "
         f"CAST(({100 - damping_pct} * CAST({scale} AS BIGINT))"
         f" // (100 * CAST(COUNT(*) AS BIGINT)) AS BIGINT) AS _base"
         " FROM nodes)"),
        (f"r0 AS (SELECT node_id, CAST(CAST({scale} AS BIGINT) // _n"
         " AS BIGINT) AS rank_fx, _base FROM nodes, p)"),
    ]
    for i in range(n_iter):
        ctes.append(
            f"i{i} AS (SELECT dst, SUM(r{i}.rank_fx // od.out_deg) AS _in"
            f" FROM r{i} JOIN e ON r{i}.node_id = e.src"
            f" JOIN od ON e.src = od.src GROUP BY dst)")
        ctes.append(
            f"r{i + 1} AS (SELECT r{i}.node_id, CAST(r{i}._base +"
            f" ({damping_pct} * COALESCE(i{i}._in, CAST(0 AS BIGINT)))"
            f" // 100 AS BIGINT) AS rank_fx, r{i}._base AS _base"
            f" FROM r{i} LEFT JOIN i{i} ON r{i}.node_id = i{i}.dst)")
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT r{n_iter}.node_id, r{n_iter}.rank_fx,
           COALESCE(od.out_deg, CAST(0 AS BIGINT)) AS out_deg
    FROM r{n_iter} LEFT JOIN od ON r{n_iter}.node_id = od.src
    """)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the (undirected view of the) link
    graph — the clustering-coefficient / spam-farm-detection primitive
    (Cohen 2009's MapReduce formulation; Spark GraphX's TriangleCount
    computes the same statistic).  Output: (node, n_tri), one row per
    node that closes >= 1 triangle (sparse semantics — join back to the
    node relation for zeros).

    Scale shape — DEGREE-ORIENTED wedge closure, the standard trick that
    makes triangle listing feasible on power-law webgraphs: orient every
    undirected edge from its lower-(degree, id) endpoint to its higher
    one.  Every node's ORIENTED out-degree is O(sqrt(m)) regardless of
    its raw degree (a hub with 10^7 followers has huge in-degree but only
    out-edges to even-better-connected nodes), so the wedge self-join on
    src — the only quadratic step — is bounded per key; id-oriented
    closure would square the hub degree instead.  Each triangle
    {r1 < r2 < r3} in (deg, id) order is listed exactly once as the
    wedge r1->{r2, r3} closed by the oriented edge r2->r3.

    Plan: dedup + two degree joins + one self-join + one closing
    equi-join + a 3-corner explode into a map-side-combinable agg.  All
    equi-joins on node ids (AQE picks broadcast for small graphs), no
    windows, no python, no driver actions."""
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .filter("a <> b").distinct())
    deg = (und.selectExpr("a AS node").unionAll(und.selectExpr("b AS node"))
           .groupBy("node").agg(F.count("*").cast("long").alias("deg")))
    e = (und.join(deg.selectExpr("node AS a", "deg AS da"), "a")
         .join(deg.selectExpr("node AS b", "deg AS db"), "b"))
    lower = "(da < db OR (da = db AND a < b))"
    oriented = e.selectExpr(
        f"CASE WHEN {lower} THEN a ELSE b END AS src",
        f"CASE WHEN {lower} THEN b ELSE a END AS dst",
        f"CASE WHEN {lower} THEN db ELSE da END AS ddst").persist()
    e1 = oriented.selectExpr("src", "dst AS x", "ddst AS dx")
    e2 = oriented.selectExpr("src", "dst AS y", "ddst AS dy")
    wedges = (e1.join(e2, "src")
              .filter("dx < dy OR (dx = dy AND x < y)"))
    tri = wedges.join(oriented.selectExpr("src AS x", "dst AS y"),
                      ["x", "y"], "left_semi")
    result = (tri.selectExpr("EXPLODE(ARRAY(src, x, y)) AS node")
              .groupBy("node")
              .agg(F.count("*").cast("long").alias("n_tri")))
    weakref.finalize(result, _safe_unpersist, oriented)
    return result


HITS_SCALE = 1_000_000  # L1 mass per score vector; see overflow note below


def hits(edges: DataFrame, n_iter: int = 5,
         scale: int = HITS_SCALE) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) over ``(src, dst)`` edges:
    ``n_iter`` exact mutual-reinforcement rounds in the standard order
    (authorities from current hubs, then hubs from the NEW authorities),
    BIGINT fixed-point throughout — same determinism argument as
    pagerank (integer SUM is associative: bit-identical at any core
    count and vs the unrolled DuckDB twin).

    Normalisation is L1 at fixed-point ``scale`` (not the textbook L2 —
    SQRT would leave integer arithmetic; L1 preserves the RANKING, which
    is what a link-spam / seed-selection pipeline consumes):
        a'(v) = Σ_{(u,v)∈E} h(u);   a(v) = (a'(v) * scale) DIV Σ a'
    Parallel edges vote once each (they are repeated endorsements).

    Overflow headroom: the rescale product is a'(v) * scale ≤
    indeg_max · scale², so scale = 10⁶ holds to indeg_max ≈ 9·10⁶; for
    crawl graphs with hotter hubs drop scale a decade (ranking
    unchanged, one fewer digit of score resolution).  Past that cliff
    the engines DIVERGE, not merely degrade (ADVICE r5): Spark's
    non-ANSI BIGINT multiply wraps silently (wrong ranks) while DuckDB
    promotes the SUM to HUGEINT and raises on the out-of-range product
    (hard error) — size `scale` to the graph's max in-degree.

    Plan: each round is two join→hash-agg passes over the edges plus two
    1-row L1 totals that ride broadcasts (no driver collect).
    Unlike pagerank, each round references the previous score vector
    FOUR times (raw agg in the total AND the rescale, for both roles) —
    left lazy, the logical plan and the executed work grow 4^n_iter, so
    each round's HUB vector is cut off with an eager
    ``localCheckpoint``: one small per-round job materializes the
    (node_id, BIGINT) relation to executor-local storage and all later
    references read it flat.  The intra-round authority vector needs no
    checkpoint of its own — it reads the already-flat hubs, so its
    subtree is constant-size; its raw aggregate (read by the L1 total,
    the rescale, and the next half-round; the last round's also by the
    output join) is a lazy localCheckpoint, as are the hub raw aggregate,
    the edges and the node relation — each materialized by its first job
    and freed by Spark's cleaner once no plan reads it.  Values are
    unchanged (integer arithmetic, already deterministic); the cost is
    one job per round, the shape a checkpointed iterative
    GraphX/GraphFrames loop pays.
    Nodes with no in-links (or out-links) hold score 0 from round 1 —
    kept in the output, not dropped.  Output: (node_id, hub_fx,
    auth_fx), each column summing to ~scale minus floor leak."""
    assert n_iter >= 1, "hits needs at least one reinforcement round"
    e = _spread(edges).select("src", "dst").localCheckpoint(eager=False)
    nodes = (e.select(F.col("src").alias("node_id"))
             .unionByName(e.select(F.col("dst").alias("node_id")))
             .distinct().localCheckpoint(eager=False))
    n1 = nodes.agg(F.count("*").cast("long").alias("_n"))
    # h0 is referenced once (round 1's a_raw): no checkpoint needed.
    # GREATEST(..., 1): with more than `scale` nodes the floor division
    # yields 0 for every node, all L1 totals become 0 and the DIV _t
    # rescale emits NULL — silently all-NULL scores (ADVICE r5).  The
    # round-1 L1 rescale renormalizes any uniform positive init, so
    # results are unchanged wherever the old init was non-zero (i.e. on
    # every graph below the cliff, including every oracle fixture).
    h = (nodes.crossJoin(F.broadcast(n1))
         .select("node_id",
                 F.expr(f"GREATEST(CAST(CAST({scale} AS BIGINT) DIV _n "
                        f"AS BIGINT), 1)").alias("h_fx")))
    a = None
    for _ in range(n_iter):
        # (r6 note: folding the L1 total into this aggregation via
        # rollup/grouping-sets was measured and REVERTED — the Expand
        # doubles the aggregation input, costing far more than the
        # 1-row total agg it saves: 8.1 -> 12.6 s at sf0.1.)
        #
        # SPARSE rounds (r6): the loop used to LEFT-join every half-round
        # score back onto the full node relation purely to carry explicit
        # zeros — but HITS has no teleport term, so a zero-score node
        # contributes exactly nothing to the next aggregation and to the
        # L1 total (integer SUM of the same non-zero multiset).  Keeping
        # the vectors sparse drops TWO node-relation joins per round; the
        # zeros come back once, in the output join below.  Values are
        # bit-identical (same sums, same DIV rescale).
        a_raw = (h.join(e, F.col("node_id") == F.col("src"))
                 .groupBy("dst").agg(F.sum("h_fx").alias("_a"))
                 .localCheckpoint(eager=False))
        a_tot = a_raw.agg(F.sum("_a").alias("_t"))
        a = (a_raw.crossJoin(F.broadcast(a_tot))
             .select(F.col("dst").alias("node_id"),
                     F.expr(f"CAST((_a * CAST({scale} AS BIGINT)) "
                            f"DIV _t AS BIGINT)").alias("a_fx")))
        h_raw = (a.join(e, F.col("node_id") == F.col("dst"))
                 .groupBy("src").agg(F.sum("a_fx").alias("_h"))
                 .localCheckpoint(eager=False))
        h_tot = h_raw.agg(F.sum("_h").alias("_t2"))
        h = (h_raw.crossJoin(F.broadcast(h_tot))
             .select(F.col("src").alias("node_id"),
                     F.expr(f"CAST((_h * CAST({scale} AS BIGINT)) "
                            f"DIV _t2 AS BIGINT)").alias("h_fx"))
             .localCheckpoint())
    # densify once: every node appears in the output, zero-score nodes
    # (no in-links / no out-links) included — same rows and values as the
    # old per-round dense rebuild
    return (nodes
            .join(h.selectExpr("node_id AS _nh", "h_fx"),
                  F.col("node_id") == F.col("_nh"), "left")
            .join(a.selectExpr("node_id AS _na", "a_fx"),
                  F.col("node_id") == F.col("_na"), "left")
            .select("node_id",
                    F.expr("COALESCE(h_fx, CAST(0 AS BIGINT))").alias("hub_fx"),
                    F.expr("COALESCE(a_fx, CAST(0 AS BIGINT))").alias("auth_fx")))


def hits_duckdb_sql(edges_sql: str, n_iter: int = 5,
                    scale: int = HITS_SCALE) -> str:
    """DuckDB twin: the same rounds unrolled as chained CTEs, the same
    BIGINT floor arithmetic (`//` == Spark `DIV` on these non-negative
    operands), so scores match bit-for-bit.  Every per-round CTE is
    MATERIALIZED — non-materialized CTEs inline per reference and each
    round references the previous vector 4x, so the lazy form blows up
    4^n_iter exactly like the un-checkpointed Spark loop would."""
    ctes = [
        f"e AS MATERIALIZED ({edges_sql})",
        ("nodes AS MATERIALIZED (SELECT DISTINCT node_id FROM "
         "(SELECT src AS node_id FROM e UNION ALL SELECT dst FROM e))"),
        (f"h0 AS MATERIALIZED (SELECT node_id, CAST(CAST({scale} AS BIGINT) // "
         "(SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS BIGINT) AS h_fx"
         " FROM nodes)"),
    ]
    for i in range(n_iter):
        ctes.append(
            f"ar{i} AS MATERIALIZED (SELECT dst, SUM(h_fx) AS _a FROM h{i}"
            f" JOIN e ON h{i}.node_id = e.src GROUP BY dst)")
        ctes.append(
            f"a{i + 1} AS MATERIALIZED (SELECT nodes.node_id, CAST((COALESCE(_a,"
            f" CAST(0 AS BIGINT)) * CAST({scale} AS BIGINT)) //"
            f" (SELECT SUM(_a) FROM ar{i}) AS BIGINT) AS a_fx"
            f" FROM nodes LEFT JOIN ar{i} ON nodes.node_id = ar{i}.dst)")
        ctes.append(
            f"hr{i} AS MATERIALIZED (SELECT src, SUM(a_fx) AS _h FROM a{i + 1}"
            f" JOIN e ON a{i + 1}.node_id = e.dst GROUP BY src)")
        ctes.append(
            f"h{i + 1} AS MATERIALIZED (SELECT nodes.node_id, CAST((COALESCE(_h,"
            f" CAST(0 AS BIGINT)) * CAST({scale} AS BIGINT)) //"
            f" (SELECT SUM(_h) FROM hr{i}) AS BIGINT) AS h_fx"
            f" FROM nodes LEFT JOIN hr{i} ON nodes.node_id = hr{i}.src)")
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT h{n_iter}.node_id, h{n_iter}.h_fx AS hub_fx, a{n_iter}.a_fx AS auth_fx
    FROM h{n_iter} JOIN a{n_iter} ON h{n_iter}.node_id = a{n_iter}.node_id
    """)


def bfs_distances(edges: DataFrame, sources: DataFrame,
                  n_rounds: int = 5) -> DataFrame:
    """Multi-source BFS hop distances (the GraphX ShortestPaths /
    Pregel landmark shape): dist(v) = exact minimum hop count from ANY
    source node, bounded at ``n_rounds`` hops — the bounded-radius
    variant a crawl-frontier or link-spam-neighborhood job runs (seeds =
    known-good or known-bad hosts, radius small).  ``sources`` is a
    (node_id) relation; output (node_id, dist) contains ONLY nodes
    reached within the bound, dist in [0, n_rounds] exact integers.

    Plan: per round the FRONTIER (nodes first reached in the previous
    round — not the whole known set) joins the checkpointed edge relation
    and the relaxed candidates fold into the known set via one
    map-side-combinable MIN agg; each round's known set is cut off with
    an eager ``localCheckpoint`` (the ``hits`` discipline — the set is
    referenced by the next round's frontier filter, the union, AND the
    final output, and BFS lineage would otherwise deepen per round).
    Frontier-only relaxation is what keeps 100 TB viable: a round's join
    input is proportional to the NEW wavefront, not the accumulated
    reach, so the expanding-ball blowup stays in the agg's hash table
    where partial aggregation absorbs it."""
    e = _spread(edges).select("src", "dst").localCheckpoint(eager=False)
    dist = (sources.select("node_id",
                           F.lit(0).cast("long").alias("dist"))
            .distinct().localCheckpoint())
    for r in range(1, n_rounds + 1):
        frontier = dist.filter(F.col("dist") == r - 1)
        relaxed = (frontier.join(e, F.col("node_id") == F.col("src"))
                   .select(F.col("dst").alias("node_id"),
                           F.lit(r).cast("long").alias("dist")))
        dist = (dist.unionByName(relaxed)
                .groupBy("node_id").agg(F.min("dist").alias("dist"))
                .localCheckpoint())
    return dist


def bfs_duckdb_sql(edges_sql: str, sources_sql: str,
                   n_rounds: int = 5) -> str:
    """DuckDB twin: the same frontier rounds unrolled, every per-round
    CTE MATERIALIZED (the hits twin's 4^n lesson applied at 2^n)."""
    ctes = [
        f"e AS MATERIALIZED ({edges_sql})",
        (f"d0 AS MATERIALIZED (SELECT DISTINCT node_id, "
         f"CAST(0 AS BIGINT) AS dist FROM ({sources_sql}))"),
    ]
    for r in range(1, n_rounds + 1):
        ctes.append(
            f"fr{r} AS MATERIALIZED (SELECT e.dst AS node_id, "
            f"CAST({r} AS BIGINT) AS dist FROM d{r - 1} JOIN e"
            f" ON d{r - 1}.node_id = e.src"
            f" WHERE d{r - 1}.dist = {r - 1})")
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT node_id, MIN(dist) AS dist"
            f" FROM (SELECT * FROM d{r - 1} UNION ALL SELECT * FROM fr{r})"
            f" GROUP BY node_id)")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node_id, dist FROM d{n_rounds}")


def cooccurrence_edges(docs: DataFrame) -> DataFrame:
    """Adjacent-token co-occurrence edges over the corpus (the TextRank
    window-2 graph, Mihalcea & Tarau 2004): one edge per adjacent token
    pair per document, BOTH directions (the TextRank graph is
    undirected; a symmetric directed edge set gives the same power
    iteration), self-pairs dropped.  Repeated co-occurrences stay as
    parallel edges — pagerank treats them as repeated votes, which IS
    the edge-weighted TextRank formulation in integer form.

    Plan: tokens never leave their row — the pair derivation is a
    row-local ARRAYS_ZIP of the token array against its own 1-shifted
    slice inside codegen, then one explode; no shuffle at all until the
    consumer aggregates."""
    from .text import _tokens
    t = _tokens()
    # GREATEST clamp: SIZE()-1 is -1 on empty docs and SLICE rejects
    # negative lengths under ANSI; 0-length slices zip to an empty array
    pair = (f"EXPLODE(ARRAYS_ZIP("
            f"SLICE({t}, 1, GREATEST(SIZE({t}) - 1, 0)), "
            f"SLICE({t}, 2, GREATEST(SIZE({t}) - 1, 0))))")
    adj = (_spread(docs)
           .select(F.expr(pair).alias("p"))
           .select(F.col("p").getField("0").alias("w1"),
                   F.col("p").getField("1").alias("w2"))
           .filter("w1 != w2"))
    return (adj.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
            .unionByName(
                adj.select(F.col("w2").alias("src"),
                           F.col("w1").alias("dst"))))


def textrank_keywords(docs: DataFrame, k: int = 25,
                      n_iter: int = 5) -> DataFrame:
    """Corpus-level TextRank keyword extraction: ``pagerank`` over the
    adjacent-token co-occurrence graph, top ``k`` terms by rank.  Pure
    composition — the co-occurrence derivation is row-local, the
    ranking reuses the fixed-point BIGINT pagerank (node ids are the
    words themselves; the arithmetic never touches them), and the top-k
    is a TakeOrderedAndProject (per-partition heads, no global sort)
    with (rank DESC, term ASC) total order so ties cut identically in
    both engines.  Output: (term, rank_fx)."""
    pr = pagerank(cooccurrence_edges(docs), n_iter=n_iter)
    return (pr.select(F.col("node_id").alias("term"), "rank_fx")
            .orderBy(F.col("rank_fx").desc(), F.col("term").asc())
            .limit(k))


def label_propagation(edges: DataFrame, n_rounds: int = 5) -> DataFrame:
    """Semi-synchronous label propagation (Raghavan et al. 2007, the
    GraphX LPA shape) over ``(src, dst)`` directed edges: every node
    starts as its own label; each round a node adopts the most frequent
    label among its IN-neighbors, totally ordered by (count DESC, label
    ASC) so the adoption is deterministic — no random tie-break, no
    vertex-order dependence, bit-identical at any parallelism and vs
    the unrolled DuckDB twin.  Nodes with no in-edges keep their label.
    Parallel edges vote once each (repeated links are repeated votes).
    Bounded rounds (LPA oscillates on bipartite structures; a fixed
    round budget is the standard production cut — communities are
    whatever the labels say after ``n_rounds``).

    Plan: per round one equi-join against the checkpointed edges, one
    (dst, label) hash count — map-side combinable, the hot-community
    skew absorber — then an argmax folded as MIN(STRUCT(-cnt, label))
    in the same agg pipeline (no window, no sort), LEFT join back so
    isolated nodes survive.  The label vector is referenced twice per
    round (votes + keep-own fallback): localCheckpoint per round, the
    ``hits`` discipline.  Output: (node_id, label)."""
    e = _spread(edges).select("src", "dst").localCheckpoint(eager=False)
    labels = (e.select(F.col("src").alias("node_id"))
              .unionByName(e.select(F.col("dst").alias("node_id")))
              .distinct()
              .select("node_id", F.col("node_id").alias("label"))
              .localCheckpoint())
    for _ in range(n_rounds):
        votes = (labels.join(e, F.col("node_id") == F.col("src"))
                 .groupBy("dst", "label")
                 .agg(F.count("*").cast("long").alias("cnt")))
        best = (votes.groupBy("dst")
                .agg(F.expr("MIN(STRUCT(-cnt AS negcnt, label)).label")
                     .alias("new_label")))
        labels = (labels.join(best, F.col("node_id") == F.col("dst"),
                              "left")
                  .select("node_id",
                          F.coalesce("new_label", "label").alias("label"))
                  .localCheckpoint())
    return labels


def lpa_duckdb_sql(edges_sql: str, n_rounds: int = 5) -> str:
    """DuckDB twin: the same rounds unrolled, MATERIALIZED per round;
    argmax via MIN over a (negcnt, label) struct — the same total order
    as the Spark side's MIN(STRUCT(-cnt, label))."""
    ctes = [
        f"e AS MATERIALIZED ({edges_sql})",
        ("l0 AS MATERIALIZED (SELECT node_id, node_id AS label FROM "
         "(SELECT DISTINCT node_id FROM (SELECT src AS node_id FROM e "
         "UNION ALL SELECT dst FROM e)))"),
    ]
    for r in range(1, n_rounds + 1):
        ctes.append(
            f"v{r} AS MATERIALIZED (SELECT e.dst, l{r - 1}.label, "
            f"CAST(COUNT(*) AS BIGINT) AS cnt FROM l{r - 1} JOIN e"
            f" ON l{r - 1}.node_id = e.src GROUP BY e.dst, l{r - 1}.label)")
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT dst, "
            f"(MIN(struct_pack(negcnt := -cnt, lbl := label))).lbl"
            f" AS new_label FROM v{r} GROUP BY dst)")
        ctes.append(
            f"l{r} AS MATERIALIZED (SELECT l{r - 1}.node_id, "
            f"COALESCE(b{r}.new_label, l{r - 1}.label) AS label"
            f" FROM l{r - 1} LEFT JOIN b{r}"
            f" ON l{r - 1}.node_id = b{r}.dst)")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node_id, label FROM l{n_rounds}")
