"""Street-network stage tests on FIXTURES.md micro-networks."""
import numpy as np
import pytest

from tosidewalk_spark.kernel import geom
from tosidewalk_spark.operators import network as N
from tosidewalk_spark.sources import synth


def test_filter_streets_whitelist(spark):
    _, ways = synth.osm_grid(spark, g=4, with_noise_ways=True)
    kept = N.filter_streets(ways)
    assert kept.count() == 8  # 4 horiz + 4 vert, noise dropped
    assert kept.filter("highway IN ('footway','service')").count() == 0


def test_intersections_grid(spark):
    _, ways = synth.osm_grid(spark, g=4, with_noise_ways=False)
    inter = N.intersections(ways)
    # every grid node belongs to one horizontal + one vertical way
    assert inter.count() == 16
    assert inter.filter("n_ways != 2").count() == 0


def test_intersections_t(spark):
    _, ways = synth.micro_fixture(spark, "t_intersection")
    inter = N.intersections(ways)
    rows = inter.collect()
    assert len(rows) == 1 and rows[0].node_id == 2 and rows[0].n_ways == 3


def test_join_segmented_street(spark):
    _, ways = synth.micro_fixture(spark, "segmented_street")
    merged = N.join_segmented_ways(ways)
    rows = merged.collect()
    assert len(rows) == 1
    assert rows[0].way_id == 1
    assert rows[0].node_ids == [1, 2, 3]


def test_join_ways_no_merge_at_intersection(spark):
    # t_intersection: node 2 has 3 ways -> nothing merges
    _, ways = synth.micro_fixture(spark, "t_intersection")
    merged = N.join_segmented_ways(ways)
    assert merged.count() == 3


def test_connected_components_long_chain(spark):
    # diameter 199 >> MAX_CC_ROUNDS: the pointer-jumping rounds must
    # converge (plain min-propagation needed diameter rounds and silently
    # returned partial components — VERDICT.md r2 'What's wrong' #1)
    from pyspark.sql import functions as F
    edges = spark.range(199).selectExpr("id AS src", "id + 1 AS dst")
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet().toArray())
    comp = N.connected_components(edges)
    # the edge list, the quotient graph and every superseded round's labels
    # are released on return; only the two checkpoints comp reads stay
    assert len(set(persisted().keySet().toArray()) - before) == 2
    agg = comp.agg(F.countDistinct("component").alias("n"),
                   F.count("*").alias("c")).collect()[0]
    assert agg.n == 1 and agg.c == 200


def test_connected_components_match_union_find(spark):
    """r6: the pointer jump now goes through the PRE-round label vector
    (one checkpoint per round instead of two) — pin the converged labels
    against a driver-side union-find on a deterministic multi-component
    graph mixing chains, a star, a clique and singletonizing self-edges."""
    from pyspark.sql import functions as F
    pairs = []
    pairs += [(i, i + 1) for i in range(0, 40)]            # chain 0..40
    pairs += [(100, 100 + i) for i in range(1, 12)]        # star at 100
    pairs += [(200 + i, 200 + j) for i in range(6) for j in range(i + 1, 6)]
    pairs += [(300, 301), (301, 302), (302, 300)]          # triangle
    edges = spark.createDataFrame(pairs, "src long, dst long")
    comp = {r.id: r.component
            for r in N.connected_components(edges).collect()}
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert comp == want


def test_connected_components_raises_on_non_convergence(spark):
    edges = spark.range(60).selectExpr("id AS src", "id + 1 AS dst")
    with pytest.raises(RuntimeError, match="did not converge"):
        N.connected_components(edges, max_rounds=1)


def test_join_ways_long_fragment_chain(spark):
    # 39-fragment rows (chain diameter 38, beyond the legacy 30-round
    # propagation budget) must merge back completely — VERDICT.md r2
    # 'Next round' #2
    ways = synth.segmented_grid_ways(spark, g=40)
    merged = N.join_segmented_ways(ways)
    rows = merged.collect()
    assert len(rows) == 40
    for r in rows:
        assert len(r.node_ids) == 40
        j = r.way_id // 39
        assert r.way_id == j * 39
        assert list(r.node_ids) == [j * 40 + i for i in range(40)]


def test_join_segmented_ways_shuffled_reversed_fragments(spark):
    """End to end: chains cut into fragments, shuffled and reversed, merge
    back to one way per chain in the brute-force walk's orientation."""
    rng = np.random.default_rng(11)
    rows, want = [], {}
    for c in range(12):
        path = list(range(c * 100, c * 100 + 10))
        frags = [path[k:k + 4] for k in range(0, 9, 3)]
        frags = [f[::-1] if rng.random() < 0.5 else f for f in frags]
        ids = [int(w) for w in rng.permutation(3) + c * 10]
        ws = dict(zip(ids, frags))
        want[min(ids)] = _walk(ws)
        rows += [(w, f, "residential", {"c": str(c)}) for w, f in ws.items()]
    ways = spark.createDataFrame(
        rows, "way_id long, node_ids array<long>, highway string, tags map<string,string>")
    got = {r.way_id: list(r.node_ids) for r in N.join_segmented_ways(ways).collect()}
    assert got == want


def test_split_street(spark):
    _, ways = synth.micro_fixture(spark, "split_street")
    segs = N.split_streets(ways).orderBy("way_id")
    main = segs.filter("parent_way_id = 1").orderBy("seg_no").collect()
    assert [r.node_ids for r in main] == [[1, 2], [2, 3, 4], [4, 5]]
    # stubs unsplit
    assert segs.filter("parent_way_id = 2").collect()[0].node_ids == [2, 6]


def test_split_grid_counts(spark):
    _, ways = synth.osm_grid(spark, g=4, with_noise_ways=False)
    segs = N.split_streets(ways)
    # each 4-vertex way -> 3 segments
    assert segs.count() == 8 * 3
    assert segs.filter("SIZE(node_ids) != 2").count() == 0


def test_merge_nodes(spark):
    nodes, ways = synth.micro_fixture(spark, "near_nodes")
    n2, w2 = N.merge_nodes(nodes, ways, threshold_m=5.0)
    assert n2.count() == 3  # node 3 collapsed into node 2
    rows = {r.way_id: r.node_ids for r in w2.collect()}
    assert rows[1] == [1, 2] and rows[2] == [2, 4]


def test_merge_nodes_gw_reference_position(spark):
    # R8 on the gw form (between parallel-merge and simplify, as the
    # reference orders it): ids AND inline coordinates rewrite
    nodes, ways = synth.micro_fixture(spark, "near_nodes")
    gw = N.geom_ways(nodes, ways)
    merged = N.merge_nodes_gw(gw, threshold_m=5.0)
    rows = {r.way_id: r for r in merged.collect()}
    assert rows[1].node_ids == [1, 2] and rows[2].node_ids == [2, 4]
    assert rows[2].lats[0] == rows[1].lats[1]
    assert rows[2].lngs[0] == rows[1].lngs[1]


def test_merge_nodes_noop(spark):
    nodes, ways = synth.micro_fixture(spark, "straight3")
    n2, w2 = N.merge_nodes(nodes, ways, threshold_m=5.0)
    assert n2.count() == 3 and w2.count() == 1


def test_simplify_zigzag(spark):
    nodes, ways = synth.micro_fixture(spark, "zigzag_redundant")
    slim = N.simplify_ways(nodes, ways, tol_m=0.5)
    rows = slim.collect()
    assert rows[0].node_ids == [1, 10]


def test_simplify_keeps_corner(spark):
    nodes, ways = synth.micro_fixture(spark, "bent3")
    slim = N.simplify_ways(nodes, ways, tol_m=0.5)
    assert slim.collect()[0].node_ids == [1, 2, 3]


def test_remove_short(spark):
    nodes, ways = synth.micro_fixture(spark, "shortstub")
    kept = N.remove_short_segments(nodes, ways, min_len_m=10.0)
    assert kept.count() == 0
    nodes2, ways2 = synth.micro_fixture(spark, "straight3")
    assert N.remove_short_segments(nodes2, ways2, min_len_m=10.0).count() == 1


def test_parallel_detect_and_merge(spark):
    nodes, ways = synth.micro_fixture(spark, "parallel_lanes")
    gw = N.geom_ways(nodes, ways)
    pairs = N.find_parallel_pairs(gw)
    prows = pairs.collect()
    assert len(prows) == 1
    assert {prows[0].way_a, prows[0].way_b} == {1, 2}
    assert prows[0].sep_m == pytest.approx(18.0, rel=0.05)
    merged = N.merge_parallel_pairs(gw, pairs)
    rows = merged.collect()
    assert len(rows) == 1 and rows[0].way_id == 1
    # centerline = midpoints: lng halfway between the two lanes
    lngs = np.array(rows[0].lngs)
    assert np.allclose(lngs, -122.330 + 9.0 / (111111.0 * np.cos(np.radians(47.6))), atol=1e-7)


def test_parallel_detect_ns_lng_separated(spark):
    # east-west separation straddling a res-11 cell column (ADVICE.md r1:
    # the round-1 lat-only cover silently missed these pairs)
    nodes, ways = synth.micro_fixture(spark, "parallel_lanes_ns")
    gw = N.geom_ways(nodes, ways)
    prows = N.find_parallel_pairs(gw).collect()
    assert len(prows) == 1
    assert {prows[0].way_a, prows[0].way_b} == {1, 2}
    assert prows[0].sep_m == pytest.approx(24.0, rel=0.05)


def test_parallel_ignores_perpendicular(spark):
    _, ways = synth.micro_fixture(spark, "t_intersection")
    nodes, _ = synth.micro_fixture(spark, "t_intersection")
    gw = N.geom_ways(nodes, ways)
    assert N.find_parallel_pairs(gw).count() == 0


_GW_SCHEMA = ("way_id long, node_ids array<long>, lats array<double>, "
              "lngs array<double>, highway string")


def test_simplify_gw_sql_matches_kernel(spark):
    """The SQL Douglas-Peucker keeps exactly kernel.douglas_peucker_mask's
    vertices, bit for bit: seeded random polylines of 2-39 vertices at
    several wiggle scales around the 0.5 m tolerance, plus n = 2, a
    collinear way, duplicate vertices and an all-duplicate way (seg2 = 0)."""
    rng = np.random.default_rng(17)
    ways = []
    for w in range(300):
        n = int(rng.integers(2, 40))
        lat = 47.6 + np.cumsum(rng.uniform(0, 2e-5, n))
        lng = -122.33 + np.cumsum(rng.uniform(-1e-5, 1e-5, n))
        lat = lat + rng.normal(0, [1e-7, 3e-6, 1e-5][w % 3], n)
        if w % 5 == 0 and n > 3:  # duplicate vertices
            k = int(rng.integers(1, n - 1))
            lat[k], lng[k] = lat[k - 1], lng[k - 1]
        ways.append((lat.tolist(), lng.tolist()))
    ways.append(([47.6, 47.601], [-122.33, -122.33]))
    ways.append(([47.6 + 1e-4 * k for k in range(7)], [-122.33 + 2e-4 * k for k in range(7)]))
    ways.append(([47.6, 47.6001, 47.6001, 47.6001, 47.6], [-122.33, -122.33, -122.33, -122.3301, -122.33]))
    ways.append(([47.6] * 4, [-122.33] * 4))
    gw = spark.createDataFrame(
        [(w, list(range(w * 100, w * 100 + len(la))), la, lg, "residential")
         for w, (la, lg) in enumerate(ways)], _GW_SCHEMA)
    got = {r.way_id: (list(r.node_ids), r.lats, r.lngs) for r in N.simplify_gw(gw).collect()}
    want = {}
    for w, (la, lg) in enumerate(ways):
        keep = geom.douglas_peucker_mask(la, lg, geom.DP_TOLERANCE_M)
        want[w] = ([w * 100 + k for k in range(len(la)) if keep[k]],
                   np.asarray(la)[keep].tolist(), np.asarray(lg)[keep].tolist())
    assert got == want
    # the cases exercise both outcomes: some interior vertices go, some stay
    assert 0 < sum(len(v[0]) for v in want.values()) - 2 * len(ways) < sum(
        len(la) for la, _ in ways) - 2 * len(ways)


def _lane(lat0, lng0, n, dlat, dlng, wiggle, rng):
    lat = lat0 + dlat * np.arange(n) + rng.normal(0, wiggle, n)
    lng = lng0 + dlng * np.arange(n) + rng.normal(0, wiggle, n)
    return lat.tolist(), lng.tolist()


def test_merge_parallel_pairs_matches_kernel(spark):
    """The SQL centerline is bit-equal to kernel.parallel_centerline:
    seeded lane pairs with unequal vertex counts, reversed partners and
    duplicate vertices, merged through a given pair list."""
    rng = np.random.default_rng(29)
    lanes, pairs = {}, []
    for p in range(40):
        lat0, lng0 = 47.6 + 0.01 * p, -122.33
        na, nb = int(rng.integers(2, 12)), int(rng.integers(2, 12))
        a = _lane(lat0, lng0, na, 1e-4, 1e-5, 2e-6, rng)
        b = _lane(lat0, lng0 + 2e-4, nb, 1e-4 * (na - 1) / max(nb - 1, 1), 1e-5, 2e-6, rng)
        if p % 3 == 1:  # reversed partner
            b = (b[0][::-1], b[1][::-1])
        if p % 4 == 2 and nb > 2:  # duplicate vertex
            b[0][1], b[1][1] = b[0][0], b[1][0]
        lanes[2 * p + 10], lanes[2 * p + 11] = a, b
        pairs.append((2 * p + 10, 2 * p + 11, 1.0))
    lanes[500] = ([47.9, 47.901], [-122.2, -122.2])  # unpaired: kept as is
    gw = spark.createDataFrame(
        [(w, list(range(w * 100, w * 100 + len(la))), la, lg, "primary")
         for w, (la, lg) in lanes.items()], _GW_SCHEMA)
    pdf = spark.createDataFrame(pairs, "way_a long, way_b long, sep_m double")
    got = {r.way_id: (list(r.node_ids), r.lats, r.lngs)
           for r in N.merge_parallel_pairs(gw, pdf).collect()}
    want = {500: (list(range(50000, 50002)), *lanes[500])}
    for wa, wb, _ in pairs:
        lat, lng = geom.parallel_centerline(*lanes[wa], *lanes[wb])
        want[wa] = ([N.PARALLEL_NODE_BASE + wa * 10_000 + i for i in range(lat.size)],
                    lat.tolist(), lng.tolist())
    assert got == want


def test_merge_parallel_pairs_node_id_capacity_limit(spark):
    """Centerline node ids give each merged way 10,000 slots: a 10,000-vertex
    centerline fits, a 10,001-vertex one fails loudly."""
    def merged(n):
        gw = spark.createDataFrame(
            [(1, list(range(n)), [47.6 + 1e-7 * k for k in range(n)], [-122.33] * n, "primary"),
             (2, [n, n + 1], [47.6, 47.6 + 1e-7 * (n - 1)], [-122.3298] * 2, "primary")],
            _GW_SCHEMA)
        pairs = spark.createDataFrame([(1, 2, 15.0)], "way_a long, way_b long, sep_m double")
        return N.merge_parallel_pairs(gw, pairs)

    rows = merged(10_000).collect()
    assert len(rows) == 1 and len(rows[0].node_ids) == 10_000
    assert rows[0].node_ids[-1] == N.PARALLEL_NODE_BASE + 1 * 10_000 + 9_999
    with pytest.raises(Exception, match="10001 centerline vertices overflow the node-id scheme"):
        merged(10_001).collect()


def _walk(ws):
    """Brute-force chain merge of one component's {way_id: node_ids}: the
    walk join_segmented_ways must reproduce; None when it cannot cover
    every way."""
    at = {}
    for wid, ids in ws.items():
        at.setdefault(ids[0], []).append(wid)
        at.setdefault(ids[-1], []).append(wid)
    terminals = sorted(n for n, w in at.items() if len(w) == 1)
    cur = terminals[0] if terminals else min(at)
    merged, used = [], set()
    while True:
        nxt = [w for w in at[cur] if w not in used]
        if not nxt:
            break
        wid = min(nxt)
        used.add(wid)
        ids = ws[wid][::-1] if ws[wid][-1] == cur else ws[wid]
        merged.extend(ids if not merged else ids[1:])
        cur = ids[-1]
    return merged if len(used) == len(ws) else None


def test_merge_chains_matches_bruteforce(spark):
    """The SQL chain walk against the python walk: seeded chains cut into
    shuffled, randomly reversed fragments, a cycle, a closed way, and a Y
    whose walk cannot cover its ways (the component keeps its ways)."""
    rng = np.random.default_rng(5)
    comps = []
    base = 0
    for c in range(30):
        path = list(range(base, base + int(rng.integers(3, 25))))
        base += 1000
        cuts = sorted(rng.choice(np.arange(1, len(path) - 1),
                                 size=int(rng.integers(1, len(path) - 1)), replace=False))
        frags = [path[a:b + 1] for a, b in zip([0, *cuts], [*cuts, len(path) - 1])]
        if c % 4 == 3:  # a cycle: the last fragment returns to the start
            frags.append([path[-1], base - 1, path[0]])
        frags = [f[::-1] if rng.random() < 0.5 else f for f in frags]
        ids = rng.permutation(len(frags)) + c * 100
        comps.append({int(w): f for w, f in zip(ids, frags)})
    comps.append({5000: [1, 2], 5001: [2, 3], 5002: [2, 4]})           # Y: falls back
    comps.append({5100: [9, 8, 7, 9], 5101: [9, 6]})                    # closed way
    comps.append({5200: [20, 21]})                                      # single way
    rows = [(wid, ids, "residential", {"name": str(wid)}, min(ws))
            for ws in comps for wid, ids in ws.items()]
    tagged = spark.createDataFrame(
        rows, "way_id long, node_ids array<long>, highway string, "
              "tags map<string,string>, component long")
    got = {r.way_id: (list(r.node_ids), r.tags["name"]) for r in N.merge_chains(tagged).collect()}
    want = {}
    for ws in comps:
        m = _walk(ws) if len(ws) > 1 else list(next(iter(ws.values())))
        if m is None:
            want.update({w: (ids, str(w)) for w, ids in ws.items()})
        else:
            want[min(ws)] = (m, str(min(ws)))
    assert any(_walk(ws) is None for ws in comps)
    assert got == want

