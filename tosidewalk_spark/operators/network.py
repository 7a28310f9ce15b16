"""Street-network stages — DataFrame re-expressions of the reference's
in-place object-graph mutations (SURVEY.md §2A R1-R8, R17, R18).

Reference loci (module/function level; /root/reference was empty this
session — SURVEY.md §0): ``network.py § OSM.parse_intersections`` (R3),
``§ OSM.clean_street_segmentation / Network.join_ways`` (R4),
``§ OSM.split_streets`` (R5), ``§ OSM.find/merge_parallel_street_segments``
(R6/R7), node merge (R8), ``§ Network.simplify`` (R17),
``§ remove_short_segments`` (R18).

Every function is a pure DF -> DF transform.  The canonical network is a
pair (nodes, ways):

    nodes: node_id bigint, lat double, lng double, tags map<string,string>
    ways:  way_id bigint, node_ids array<bigint>, highway string,
           tags map<string,string>

Scale notes (100 TB design): way_nodes explode + hash aggregations and
equi-joins shuffle on node_id/way_id — uniformly distributed ids, no skew;
fixpoint loops (R4/R8 connected components) run genuinely log-diameter
rounds (min-label propagation alternated with pointer jumping) with
localCheckpoint per round to cut lineage, and raise on non-convergence;
candidate generation for spatial self-joins (R6, R8) is cell-bucketed so
the join is an equi-join, never a cross.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from ..functions import sqlfns
from ..kernel import cells, geom

STREET_WHITELIST = [
    "motorway", "trunk", "primary", "secondary", "tertiary", "unclassified",
    "residential", "living_street",
]
SPLIT_FACTOR = 4096           # split-segment way id = way_id * 4096 + seg_no
                              # (OSM ways allow 2000 nd refs; ASSERT_TRUE in
                              # split_streets fails loudly on overflow rather
                              # than corrupting ids — ADVICE.md r1)
PARALLEL_NODE_BASE = 3_000_000_000_000
MAX_CC_ROUNDS = 30


# --- R1 whitelist filter ----------------------------------------------------

def filter_streets(ways: DataFrame) -> DataFrame:
    """Keep drivable streets (reference: highway-tag whitelist; footway /
    service / path are dropped)."""
    return ways.filter(F.col("highway").isin(STREET_WHITELIST))


# --- R2 node-ref resolution --------------------------------------------------

def way_nodes(ways: DataFrame) -> DataFrame:
    """Exploded edge table (way_id, seq, node_id) — the normalized form of
    the reference's ordered nd-ref lists."""
    return ways.select(
        "way_id", F.posexplode("node_ids").alias("seq", "node_id"))


def geom_ways(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """Resolve node refs to coordinates (R2: hash equi-join) and re-gather
    ordered vertex arrays: way_id, highway, tags, node_ids, lats, lngs."""
    wn = way_nodes(ways).join(nodes.select("node_id", "lat", "lng"), "node_id")
    gathered = (
        wn.groupBy("way_id")
        .agg(F.sort_array(F.collect_list(F.struct("seq", "node_id", "lat", "lng"))).alias("vs"))
        .select(
            "way_id",
            F.expr("TRANSFORM(vs, v -> v.node_id)").alias("node_ids"),
            F.expr("TRANSFORM(vs, v -> v.lat)").alias("lats"),
            F.expr("TRANSFORM(vs, v -> v.lng)").alias("lngs"),
        )
    )
    return gathered.join(ways.select("way_id", "highway", "tags"), "way_id")


# --- R3 intersection detection ----------------------------------------------

def intersections(ways: DataFrame) -> DataFrame:
    """Nodes shared by >= 2 distinct ways (reference: Node.is_intersection).
    Returns node_id, n_ways, n_refs; crosswalk eligibility (degree >= 3)
    is a downstream filter on arm count, not decided here."""
    return (
        way_nodes(ways)
        .groupBy("node_id")
        .agg(F.countDistinct("way_id").alias("n_ways"), F.count("*").alias("n_refs"))
        .filter(F.col("n_ways") >= 2)
    )


# --- connected-components fixpoint (shared by R4 and R8) ----------------------

def connected_components(edges: DataFrame, max_rounds: int = MAX_CC_ROUNDS) -> DataFrame:
    """Connected components over an undirected edge list (src, dst) ->
    (id, component), component = min node id in the component.

    Each round alternates (a) one hop of min-label propagation with (b) a
    pointer-jumping step (component <- component's component — path
    doubling), so label chains contract geometrically and the loop
    converges in O(log diameter) rounds — NOT diameter rounds.  Plain
    min-propagation (round 1/2 of this engine) needed diameter rounds, and
    a real OSM road of >MAX_CC_ROUNDS chained fragments (common on long
    rural ways) would silently return PARTIALLY merged components
    (VERDICT.md r2 'What's wrong' #1).  With doubling, 30 rounds cover
    diameters beyond 2^30; if the fixpoint still hasn't converged the
    function raises instead of returning wrong labels.

    Invariant used by the jump join: every label value is itself a node id
    present in ``labels`` (labels start as ids and min-propagation only
    moves existing labels around), so the self-join always finds the
    parent row.  Driver-side fixpoint loop (SURVEY.md §3.2); each round is
    two shuffles; localCheckpoint cuts lineage per round.

    One-hop MIN-CONTRACTION before the fixpoint (r4): map every node to
    L(v) = min(v, min neighbor) and run the loop on the QUOTIENT graph
    (distinct (L(u), L(v)) pairs, self-loops dropped).  Correct because
    L(v) is v or a neighbor of v (contracting an edge preserves
    components — the quotient's components pull back exactly), and the
    global min node maps to itself so component ids are unchanged.  The
    win: the round join touches the contracted distinct edge set instead
    of the full multiplicity — a near-dup quasi-clique of k docs
    (O(k²) verified pairs) collapses to ~one quotient node, so the graft
    cluster graph shrinks ~100x (sf0.1: 1.3M sym rows -> ~10k quotient
    rows), and R4's two-way chains halve.  The loop itself is unchanged,
    including the non-convergence guard."""
    # checkpoint the edge list BEFORE symmetrizing: the union's two
    # branches are two references to the `edges` plan, so symmetrize-
    # then-checkpoint evaluated the caller's (often expensive) pair-
    # generation subtree TWICE — for dedup_clusters that was the whole
    # banded simhash verify run twice (~4 s each at sf0.1, r6 measure)
    e0 = edges.selectExpr("src", "dst").localCheckpoint(eager=True)
    # sym stays LAZY (r6): it is two scans of the checkpointed e0 — an
    # eager checkpoint here materialized 2|E| rows purely to save re-union,
    # one fixed job per CC call for no recompute worth avoiding
    sym = e0.union(e0.selectExpr("dst AS src", "src AS dst"))
    contract = (sym.groupBy("src").agg(F.min("dst").alias("mn"))
                .select(F.col("src").alias("id"),
                        F.least("src", "mn").alias("lbl"))
                .localCheckpoint(eager=True))
    sym = (sym
           .join(contract.selectExpr("id AS src", "lbl AS lsrc"), "src")
           .join(contract.selectExpr("id AS dst", "lbl AS ldst"), "dst")
           .select(F.col("lsrc").alias("src"), F.col("ldst").alias("dst"))
           .filter(F.col("src") != F.col("dst")).distinct()
           .localCheckpoint(eager=True))  # symmetric: built from symmetric sym
    labels = (
        sym.select(F.col("src").alias("id")).distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    changed = 1
    for _ in range(max_rounds):
        neighbor_min = (
            sym.join(labels.withColumnRenamed("id", "dst")
                     .withColumnRenamed("component", "nbr_component"), "dst")
            .groupBy("src").agg(F.min("nbr_component").alias("nbr_component"))
        )
        # carry the pre-round label through the round so convergence is a
        # row-local FILTER over the checkpointed result — the old shape
        # re-joined new vs old labels purely to count changes, one extra
        # join + shuffle per round (r6 optimization; labels unchanged)
        stepped = (
            labels.join(neighbor_min.withColumnRenamed("src", "id"), "id", "left")
            .select("id", F.col("component").alias("_old"),
                    F.least("component", F.coalesce("nbr_component", "component")).alias("component"))
        )
        # pointer jump THROUGH THE PRE-ROUND LABELS: L' <- min(L', L(L'))
        # where L is the previous round's (already checkpointed, flat)
        # vector — r6: jumping through the freshly-stepped vector forced a
        # second eager checkpoint per round purely to self-join it; the
        # pre-round jump keeps one materialization per round.  Still
        # correct: every label value is a node id present in `labels`, the
        # update stays monotone non-increasing and bounded by the
        # component min, and the fixpoint condition (stable under both
        # neighbor-min and jump) is unchanged — so converged labels are
        # identical; only the per-round contraction schedule differs
        # (both are O(log diameter), the non-convergence guard is intact).
        jump_map = labels.select(F.col("id").alias("component"),
                                 F.col("component").alias("jmp"))
        new_labels = (
            stepped.join(jump_map, "component", "left")
            .select("id", "_old",
                    F.least("component",
                            F.coalesce("jmp", F.col("component"))).alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (new_labels
                   .filter(F.col("component") != F.col("_old"))
                   .limit(1).count())
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} rounds "
            f"(graph diameter beyond 2^{max_rounds}?) — refusing to return "
            f"partially merged components")
    # pull the quotient components back to the original nodes; a label
    # absent from the quotient graph means its whole component collapsed
    # in the contraction step — it is its own component id
    return (contract
            .join(labels.selectExpr("id AS lbl", "component"), "lbl", "left")
            .select("id", F.coalesce("component", "lbl").alias("component")))


# --- R4 street segmentation cleanup / way joining -----------------------------

_MERGE_SCHEMA = T.StructType([
    T.StructField("way_id", T.LongType()),
    T.StructField("node_ids", T.ArrayType(T.LongType())),
    T.StructField("highway", T.StringType()),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
])


def _chain_merge(pdf: pd.DataFrame) -> pd.DataFrame:
    """Merge a component of endpoint-chained ways into one ordered way.
    Groups are tiny (a handful of OSM fragments), so plain python here is
    not a hot path; determinism: output id = min way_id, orientation starts
    from the chain end containing the smallest terminal node."""
    if len(pdf) == 1:
        r = pdf.iloc[0]
        return pd.DataFrame([{"way_id": r.way_id, "node_ids": list(r.node_ids),
                              "highway": r.highway, "tags": r.tags}])
    seqs = {int(r.way_id): list(r.node_ids) for r in pdf.itertuples()}
    # endpoint -> ways incident at that endpoint
    from collections import defaultdict
    at = defaultdict(list)
    for wid, ids in seqs.items():
        at[ids[0]].append(wid)
        at[ids[-1]].append(wid)
    terminals = sorted(n for n, ws in at.items() if len(ws) == 1)
    start = terminals[0] if terminals else min(at)
    merged, used = [], set()
    cur = start
    while True:
        nxt = [w for w in at[cur] if w not in used]
        if not nxt:
            break
        wid = min(nxt)
        used.add(wid)
        ids = seqs[wid]
        if ids[-1] == cur:
            ids = ids[::-1]
        merged.extend(ids if not merged else ids[1:])
        cur = ids[-1]
    if len(used) < len(seqs):  # non-chain topology: bail out, keep originals
        return pd.DataFrame([{"way_id": r.way_id, "node_ids": list(r.node_ids),
                              "highway": r.highway, "tags": r.tags} for r in pdf.itertuples()])
    first = pdf.loc[pdf.way_id.idxmin()]
    return pd.DataFrame([{"way_id": int(pdf.way_id.min()), "node_ids": merged,
                          "highway": first.highway, "tags": first.tags}])


def join_segmented_ways(ways: DataFrame) -> DataFrame:
    """R4: merge consecutive ways that share an endpoint node used by
    exactly those two ways and carrying the same highway class (reference:
    clean_street_segmentation).  Plan: endpoint self-join -> CC -> per-
    component ordered chain merge in applyInPandas."""
    ends = ways.select(
        "way_id", "highway",
        F.explode(F.array(F.element_at("node_ids", 1), F.element_at("node_ids", -1))).alias("node_id"),
    )
    deg = ends.groupBy("node_id", "highway").agg(
        F.countDistinct("way_id").alias("n"), F.collect_set("way_id").alias("ws"))
    # also require the node is not a true intersection (no third way anywhere)
    all_deg = way_nodes(ways).groupBy("node_id").agg(F.countDistinct("way_id").alias("n_all"))
    pairs = (
        deg.join(all_deg, "node_id")
        .filter((F.col("n") == 2) & (F.col("n_all") == 2))
        .select(F.element_at(F.array_sort("ws"), 1).alias("src"),
                F.element_at(F.array_sort("ws"), 2).alias("dst"))
    )
    # no isEmpty() pre-probe: it cost a full evaluation of the pairs plan
    # as an extra Spark job on EVERY call just to short-circuit the rare
    # empty case (VERDICT.md r3 'What's wrong' #4).  An empty edge list
    # falls out naturally: CC converges in one round on zero rows, every
    # way becomes its own component, and _chain_merge returns single-way
    # groups unchanged.
    comp = connected_components(pairs)
    tagged = ways.join(comp.withColumnRenamed("id", "way_id"), "way_id", "left") \
                 .withColumn("component", F.coalesce("component", "way_id"))
    return tagged.groupBy("component").applyInPandas(
        lambda _, pdf: _chain_merge(pdf.drop(columns=["component"])), _MERGE_SCHEMA)


# --- R5 street splitting -------------------------------------------------------

def split_streets(ways: DataFrame, inter: DataFrame | None = None) -> DataFrame:
    """R5: split each way at interior intersection vertices so segments span
    intersection -> intersection.  Window running sum assigns each vertex a
    segment range [excl_prefix, incl_prefix]; split vertices belong to both
    adjacent segments via explode(sequence(...)).  New way id =
    way_id * SPLIT_FACTOR + seg_no (deterministic; parent kept)."""
    inter = intersections(ways) if inter is None else inter
    # n_vertices rides the explode (r6): the old shape re-derived it as a
    # separate (way_id, SIZE) relation and equi-joined it back — one join
    # stage (cold-compiled in every bench session) for a value that is 4
    # bytes wide per exploded row when simply carried
    wn = ways.select("way_id", F.size("node_ids").alias("n_vertices"),
                     F.posexplode("node_ids").alias("seq", "node_id"))
    wn = wn.join(
        inter.select("node_id", F.lit(True).alias("is_x")), "node_id", "left")
    w = Window.partitionBy("way_id").orderBy("seq")
    wn = wn.withColumn(
        "is_split",
        (F.coalesce("is_x", F.lit(False)) & (F.col("seq") > 0)
         & (F.col("seq") < F.col("n_vertices") - 1)).cast("int"))
    wn = wn.withColumn("incl", F.sum("is_split").over(w)) \
           .withColumn("excl", F.col("incl") - F.col("is_split"))
    exploded = wn.select(
        "way_id", "seq", "node_id",
        F.explode(F.expr("SEQUENCE(excl, incl)")).alias("seg_no"))
    segs = (
        exploded.groupBy("way_id", "seg_no")
        .agg(F.sort_array(F.collect_list(F.struct("seq", "node_id"))).alias("vs"))
        .select(
            F.expr(f"way_id * {SPLIT_FACTOR} + seg_no + COALESCE(CAST(ASSERT_TRUE("
                   f"seg_no < {SPLIT_FACTOR}, 'seg_no overflows SPLIT_FACTOR') AS BIGINT), 0)"
                   ).alias("way_id"),
            F.col("way_id").alias("parent_way_id"),
            F.col("seg_no"),
            F.expr("TRANSFORM(vs, v -> v.node_id)").alias("node_ids"),
        )
        .filter(F.size("node_ids") >= 2)
    )
    return segs.join(ways.select(F.col("way_id").alias("parent_way_id"), "highway", "tags"),
                     "parent_way_id")


# --- R8 node merging -----------------------------------------------------------

def _node_merge_remap(pts: DataFrame, threshold_m: float) -> DataFrame:
    """(old_id -> new_id) remap for nodes closer than threshold_m.
    Candidates from a cell-bucketed self-join (cell edge > threshold so a
    disk-1 neighborhood covers it) — an equi-join, never a cross join;
    cluster merge = connected components; canonical id = min(node_id).
    Empty when no pair is within threshold — callers coalesce through it,
    no driver-side emptiness probe (VERDICT.md r3 'What's wrong' #4: the
    old cand.isEmpty() guard evaluated the whole candidate plan as an
    extra job per call)."""
    res = 13  # 9.5 m cells > 5 m threshold
    disk_cells = F.array(*[
        F.expr(sqlfns.cell_sql(f"lat + {di} * {cells.cell_size_deg(res)!r}",
                               f"lng + {dj} * {cells.cell_size_deg(res)!r}", res))
        for di in (-1, 0, 1) for dj in (-1, 0, 1)])
    left = pts.withColumn("cell", F.explode(disk_cells))
    right = pts.select(
        F.col("node_id").alias("node_id_b"), F.col("lat").alias("lat_b"),
        F.col("lng").alias("lng_b"),
        F.expr(sqlfns.cell_sql("lat", "lng", res)).alias("cell"))
    cand = (
        left.join(right, "cell")
        .filter(F.col("node_id") < F.col("node_id_b"))
        .filter(F.expr(sqlfns.haversine_sql("lat", "lng", "lat_b", "lng_b")) < threshold_m)
        .select(F.col("node_id").alias("src"), F.col("node_id_b").alias("dst"))
        .distinct()
    )
    comp = connected_components(cand)
    return comp.filter(F.col("id") != F.col("component")) \
               .select(F.col("id").alias("old_id"), F.col("component").alias("new_id"))


def merge_nodes(nodes: DataFrame, ways: DataFrame,
                threshold_m: float = geom.NODE_MERGE_M) -> tuple[DataFrame, DataFrame]:
    """R8: collapse nodes closer than threshold_m into the min-id canonical
    node and rewrite way vertex lists (consecutive duplicates dropped)."""
    remap = _node_merge_remap(nodes.select("node_id", "lat", "lng"), threshold_m)
    exploded = way_nodes(ways).join(
        F.broadcast(remap).withColumnRenamed("old_id", "node_id"), "node_id", "left")
    exploded = exploded.withColumn("node_id", F.coalesce("new_id", "node_id"))
    rewritten = (
        exploded.groupBy("way_id")
        .agg(F.sort_array(F.collect_list(F.struct("seq", "node_id"))).alias("vs"))
        .select("way_id", F.expr(
            "FILTER(TRANSFORM(vs, v -> v.node_id), (x, i) -> i = 0 OR x != TRANSFORM(vs, v -> v.node_id)[i - 1])"
        ).alias("node_ids"))
        .filter(F.size("node_ids") >= 2)
    )
    new_ways = rewritten.join(ways.drop("node_ids"), "way_id")
    merged_away = remap.select(F.col("old_id").alias("node_id"))
    new_nodes = nodes.join(merged_away, "node_id", "left_anti")
    return new_nodes, new_ways


def merge_nodes_gw(gw: DataFrame,
                   threshold_m: float = geom.NODE_MERGE_M) -> DataFrame:
    """R8 in the REFERENCE's pipeline position — between parallel-merge and
    simplify, over the gw form where coordinates ride inline (VERDICT.md r1
    'What's missing' #5; round 1 only merged on the node/way form before
    geometry gathering).  Vertices closer than threshold_m collapse to the
    min-id vertex: ids AND coordinates rewrite to the canonical vertex,
    consecutive duplicates drop, degenerate (<2 vertex) ways drop."""
    verts = (gw.select(F.explode(F.arrays_zip("node_ids", "lats", "lngs")).alias("v"))
             .select(F.col("v.node_ids").alias("node_id"),
                     F.col("v.lats").alias("lat"), F.col("v.lngs").alias("lng"))
             .dropDuplicates(["node_id"]))
    remap = _node_merge_remap(verts, threshold_m)
    canon = remap.join(verts.select(F.col("node_id").alias("new_id"),
                                    F.col("lat").alias("c_lat"),
                                    F.col("lng").alias("c_lng")), "new_id")
    exploded = gw.select(
        "way_id", "highway",
        F.posexplode(F.arrays_zip("node_ids", "lats", "lngs")).alias("seq", "v")
    ).select("way_id", "highway", "seq",
             F.col("v.node_ids").alias("node_id"),
             F.col("v.lats").alias("lat"), F.col("v.lngs").alias("lng"))
    exploded = (exploded.join(
        F.broadcast(canon).withColumnRenamed("old_id", "node_id"), "node_id", "left")
        .select("way_id", "highway", "seq",
                F.coalesce("new_id", "node_id").alias("node_id"),
                F.coalesce("c_lat", "lat").alias("lat"),
                F.coalesce("c_lng", "lng").alias("lng")))
    gathered = (exploded.groupBy("way_id", "highway")
                .agg(F.sort_array(F.collect_list(
                    F.struct("seq", "node_id", "lat", "lng"))).alias("vs"))
                .withColumn("vs", F.expr(
                    "FILTER(vs, (x, i) -> i = 0 OR x.node_id != vs[i - 1].node_id)")))
    return (gathered.select(
        "way_id", "highway",
        F.expr("TRANSFORM(vs, v -> v.node_id)").alias("node_ids"),
        F.expr("TRANSFORM(vs, v -> v.lat)").alias("lats"),
        F.expr("TRANSFORM(vs, v -> v.lng)").alias("lngs"))
        .filter(F.size("node_ids") >= 2)
        .select("way_id", "node_ids", "lats", "lngs", "highway"))


# --- R17 Douglas-Peucker simplification ------------------------------------------

def simplify_ways(nodes: DataFrame, ways: DataFrame,
                  tol_m: float = geom.DP_TOLERANCE_M) -> DataFrame:
    """R17: exact recursive Douglas-Peucker per way (kernel twin), dropping
    interior vertices below tol_m — ``simplify_gw`` over the resolved
    geometry, projected back to the node/way form."""
    slim = simplify_gw(geom_ways(nodes, ways), tol_m).select("way_id", "node_ids")
    return slim.join(ways.drop("node_ids"), "way_id")


# --- R18 short-segment removal ----------------------------------------------------

def way_length_expr() -> F.Column:
    """Polyline length in meters as a pure SQL expression over (lats, lngs)
    arrays — stays in whole-stage codegen."""
    hav = sqlfns.haversine_sql("lats[k - 1]", "lngs[k - 1]", "lats[k]", "lngs[k]")
    # SIZE guard: SEQUENCE(1, 0) is DESCENDING in Spark, so a 1-vertex way
    # would walk bogus negative indices (ADVICE.md r1) — degenerate rows get
    # length 0 and drop cleanly at the >= min_len filter
    return F.expr(
        f"CASE WHEN SIZE(lats) >= 2 THEN "
        f"AGGREGATE(SEQUENCE(1, SIZE(lats) - 1), CAST(0.0 AS DOUBLE), (acc, k) -> acc + {hav}) "
        f"ELSE CAST(0.0 AS DOUBLE) END")


def remove_short_segments(nodes: DataFrame, ways: DataFrame,
                          min_len_m: float = geom.SHORT_SEGMENT_M) -> DataFrame:
    """R18: drop ways shorter than min_len_m (filter on an R9 length agg) —
    ``drop_short_gw`` over the resolved geometry, projected back to the
    node/way form."""
    return (drop_short_gw(geom_ways(nodes, ways), min_len_m)
            .select("way_id", "node_ids", "highway", "tags"))


def simplify_gw(gw: DataFrame, tol_m: float = geom.DP_TOLERANCE_M) -> DataFrame:
    """R17 on gw-shaped rows (way_id, node_ids, lats, lngs, highway):
    Douglas-Peucker directly over the vertex arrays."""
    schema = T.StructType([
        T.StructField("way_id", T.LongType()),
        T.StructField("node_ids", T.ArrayType(T.LongType())),
        T.StructField("lats", T.ArrayType(T.DoubleType())),
        T.StructField("lngs", T.ArrayType(T.DoubleType())),
        T.StructField("highway", T.StringType()),
    ])

    def dp(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            rows = []
            for r in pdf.itertuples():
                la, lg = np.asarray(r.lats), np.asarray(r.lngs)
                keep = geom.douglas_peucker_mask(la, lg, tol_m)
                rows.append({
                    "way_id": r.way_id,
                    "node_ids": [int(x) for x, kk in zip(r.node_ids, keep) if kk],
                    "lats": la[keep].tolist(), "lngs": lg[keep].tolist(),
                    "highway": r.highway})
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return gw.select("way_id", "node_ids", "lats", "lngs", "highway").mapInPandas(dp, schema)


def drop_short_gw(gw: DataFrame, min_len_m: float = geom.SHORT_SEGMENT_M) -> DataFrame:
    """R18 on gw-shaped rows: length filter via the SQL length aggregate."""
    return gw.withColumn("len_m", way_length_expr()) \
             .filter(F.col("len_m") >= min_len_m).drop("len_m")


# --- R6/R7 parallel segment detection + merge ---------------------------------------

_MERGED_SCHEMA = T.StructType([
    T.StructField("way_id", T.LongType()),
    T.StructField("node_ids", T.ArrayType(T.LongType())),
    T.StructField("lats", T.ArrayType(T.DoubleType())),
    T.StructField("lngs", T.ArrayType(T.DoubleType())),
    T.StructField("highway", T.StringType()),
])


def _mean_bearing(lats, lngs):
    x, y = geom.equirect_xy(np.asarray(lats), np.asarray(lngs), lats[0], lngs[0])
    return float(np.arctan2(y[-1] - y[0], x[-1] - x[0]))


def _endpoint_cols(side: str) -> list:
    """Scalar endpoint/midpoint columns for one side of the parallel-pair
    join: first/last/middle vertex of the polyline, JVM-side."""
    return [
        F.expr("ELEMENT_AT(lats, 1)").alias(f"flat_{side}"),
        F.expr("ELEMENT_AT(lngs, 1)").alias(f"flng_{side}"),
        F.expr("ELEMENT_AT(lats, -1)").alias(f"llat_{side}"),
        F.expr("ELEMENT_AT(lngs, -1)").alias(f"llng_{side}"),
        F.expr("lats[CAST(SIZE(lats) / 2 AS INT)]").alias(f"mlat_{side}"),
        F.expr("lngs[CAST(SIZE(lngs) / 2 AS INT)]").alias(f"mlng_{side}"),
    ]


def find_parallel_pairs(gw: DataFrame,
                        dist_m: float = geom.PARALLEL_DIST_M,
                        angle_rad: float = geom.PARALLEL_ANGLE_RAD) -> DataFrame:
    """R6: candidate pairs via a cell-bucket equi-join on vertex cells,
    refined by the exact heading/separation/overlap predicate in pure Spark
    SQL (whole-stage codegen; the round-1 pandas-UDF refine looped per row,
    VERDICT.md 'What's wrong' #4) — the reference's only theta-join,
    compiled to equi-join + scalar refine.

    Cover: the a-side explodes a (2*r_lat+1) x (2*r_lng+1) integer-offset
    disk around each vertex's res-11 cell, covering ``dist_m`` in BOTH axes
    (round 1 expanded latitude only and silently missed east-west-separated
    pairs — ADVICE.md r1 high).  r_lng assumes |lat| <= 60 (lng cell edge
    >= half the lat edge)."""
    import math as _math
    res = 11
    s = sqlfns.dlit(cells.cell_size_deg(res))
    edge_m = cells.cell_size_deg(res) * geom.M_PER_DEG
    r_lat = _math.ceil(dist_m / edge_m)
    r_lng = _math.ceil(dist_m / (edge_m * 0.5))
    jk = f"CAST(FLOOR((lats[k] + 90.0e0) / {s}) AS BIGINT)"
    ik = f"CAST(FLOOR((lngs[k] + 180.0e0) / {s}) AS BIGINT)"
    covered = F.expr(
        "ARRAY_DISTINCT(FLATTEN(TRANSFORM(SEQUENCE(0, SIZE(lats) - 1), k -> "
        f"FLATTEN(TRANSFORM(SEQUENCE(-{r_lat}, {r_lat}), di -> "
        f"TRANSFORM(SEQUENCE(-{r_lng}, {r_lng}), dj -> "
        f"CAST({res} AS BIGINT) * {sqlfns.POW2_56} "
        f"+ ({jk} + di) * {sqlfns.POW2_28} + ({ik} + dj)))))))")
    exact = F.expr(
        "ARRAY_DISTINCT(TRANSFORM(SEQUENCE(0, SIZE(lats) - 1), k -> "
        f"CAST({res} AS BIGINT) * {sqlfns.POW2_56} "
        f"+ ({jk}) * {sqlfns.POW2_28} + ({ik})))")
    a = gw.select(F.col("way_id").alias("way_a"), *_endpoint_cols("a"),
                  F.explode(covered).alias("cell"))
    b = gw.select(F.col("way_id").alias("way_b"), *_endpoint_cols("b"),
                  F.col("lats").alias("lats_b"), F.col("lngs").alias("lngs_b"),
                  F.explode(exact).alias("cell"))
    cand = (a.join(b, "cell").filter(F.col("way_a") < F.col("way_b"))
            .dropDuplicates(["way_a", "way_b"]))

    # exact refine, all scalar SQL over the endpoint/midpoint columns:
    M = sqlfns.M
    pi = sqlfns.dlit(_math.pi)

    def bearing(side: str) -> str:
        c = sqlfns.coslat_sql(f"flat_{side}")
        return (f"ATAN2((llat_{side} - flat_{side}) * {M}, "
                f"(llng_{side} - flng_{side}) * {c} * {M})")

    # separation: min distance from a's middle vertex to b's segments
    seg_d = sqlfns.seg_dist_sql("mlat_a", "mlng_a",
                                "lats_b[q]", "lngs_b[q]",
                                "lats_b[q + 1]", "lngs_b[q + 1]")
    sep = (f"CASE WHEN SIZE(lats_b) >= 2 THEN "
           f"ARRAY_MIN(TRANSFORM(SEQUENCE(0, SIZE(lats_b) - 2), q -> {seg_d})) "
           f"ELSE CAST(NULL AS DOUBLE) END")
    # overlap: b's endpoints projected onto a's chord (frame anchored at
    # a's first vertex — same arithmetic the numpy kernel twin uses)
    ca = sqlfns.coslat_sql("flat_a")
    cx = f"((llng_a - flng_a) * {ca} * {M})"
    cy = f"((llat_a - flat_a) * {M})"
    x2 = f"((flng_b - flng_a) * {ca} * {M})"
    y2 = f"((flat_b - flat_a) * {M})"
    x3 = f"((llng_b - flng_a) * {ca} * {M})"
    y3 = f"((llat_b - flat_a) * {M})"
    L2 = f"({cx} * {cx} + {cy} * {cy})"
    t0 = f"(({x2} * {cx} + {y2} * {cy}) / {L2})"
    t1 = f"(({x3} * {cx} + {y3} * {cy}) / {L2})"
    overlap = (f"(LEAST(GREATEST({t0}, {t1}), 1.0e0) "
               f"- GREATEST(LEAST({t0}, {t1}), 0.0e0))")

    scored = cand.select(
        "way_a", "way_b",
        F.expr(f"PMOD(ABS({bearing('a')} - {bearing('b')}), {pi})").alias("braw"),
        F.expr(sep).alias("sep_m"),
        F.expr(overlap).alias("ov"))
    return (scored
            .withColumn("bdiff", F.expr(f"LEAST(braw, {pi} - braw)"))
            .filter(f"bdiff <= {sqlfns.dlit(angle_rad)} "
                    f"AND sep_m <= {sqlfns.dlit(dist_m)} AND sep_m >= 0.5e0 "
                    f"AND ov >= 0.3e0")
            .select("way_a", "way_b", "sep_m"))


def merge_parallel_pairs(gw: DataFrame, pairs: DataFrame) -> DataFrame:
    """R7: replace each matched pair with a pointwise-midpoint centerline.
    Greedy mutual-best matching keeps each segment in at most one merge
    (window row_number by (sep, partner)); merged id = min(way_a, way_b),
    fresh deterministic node ids.  Originals are anti-joined out, merged
    rows unioned in — the reference's in-place rewiring as set ops."""
    wa = Window.partitionBy("way_a").orderBy("sep_m", "way_b")
    wb = Window.partitionBy("way_b").orderBy("sep_m", "way_a")
    best = (pairs.withColumn("ra", F.row_number().over(wa))
            .withColumn("rb", F.row_number().over(wb))
            .filter((F.col("ra") == 1) & (F.col("rb") == 1))
            .select("way_a", "way_b"))
    ga = gw.select(F.col("way_id").alias("way_a"), F.col("lats").alias("lats_a"),
                   F.col("lngs").alias("lngs_a"), F.col("highway").alias("highway_a"))
    gb = gw.select(F.col("way_id").alias("way_b"), F.col("lats").alias("lats_b"),
                   F.col("lngs").alias("lngs_b"))
    todo = best.join(ga, "way_a").join(gb, "way_b")

    def centerline(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for r in pdf.itertuples():
            la, ga_ = np.asarray(r.lats_a), np.asarray(r.lngs_a)
            lb, gb_ = np.asarray(r.lats_b), np.asarray(r.lngs_b)
            ba, bb = _mean_bearing(la, ga_), _mean_bearing(lb, gb_)
            if np.cos(ba - bb) < 0:       # orient b like a
                lb, gb_ = lb[::-1], gb_[::-1]
            k = max(la.size, lb.size)
            t = np.linspace(0.0, 1.0, k)

            def resample(ls, gs):
                x, y = geom.equirect_xy(ls, gs, ls[0], gs[0])
                d = np.concatenate([[0.0], np.cumsum(np.hypot(np.diff(x), np.diff(y)))])
                tt = d / d[-1] if d[-1] > 0 else d
                return np.interp(t, tt, ls), np.interp(t, tt, gs)

            ral, rag = resample(la, ga_)
            rbl, rbg = resample(lb, gb_)
            wid = int(min(r.way_a, r.way_b))
            out.append({
                "way_id": wid,
                "node_ids": [PARALLEL_NODE_BASE + wid * 10_000 + i for i in range(k)],
                "lats": ((ral + rbl) / 2.0).tolist(),
                "lngs": ((rag + rbg) / 2.0).tolist(),
                "highway": r.highway_a,
            })
        return pd.DataFrame(out, columns=["way_id", "node_ids", "lats", "lngs", "highway"])

    merged = todo.groupBy("way_a").applyInPandas(lambda _, p: centerline(p), _MERGED_SCHEMA)
    drop = best.selectExpr("way_a AS way_id").union(best.selectExpr("way_b AS way_id"))
    kept = gw.join(drop, "way_id", "left_anti") \
             .select("way_id", "node_ids", "lats", "lngs", "highway")
    return kept.unionByName(merged)
