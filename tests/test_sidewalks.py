"""Sidewalk/crosswalk stage tests on FIXTURES.md micro-networks
(mirrors the reference's polyline-offset and network tests, BASELINE.json:6)."""
import json

import numpy as np
import pytest

from tosidewalk_spark.kernel import geom
from tosidewalk_spark.operators import network as N
from tosidewalk_spark.operators import sidewalks as SW
from tosidewalk_spark.sources import synth


def _gw(spark, name):
    nodes, ways = synth.micro_fixture(spark, name)
    return N.geom_ways(nodes, ways)


def test_make_sidewalks_straight3(spark):
    sw = SW.make_sidewalks(_gw(spark, "straight3"), offset_m=4.0).orderBy("side")
    rows = sw.collect()
    assert len(rows) == 2
    assert {r.side for r in rows} == {0, 1}
    assert rows[0].way_id == SW.SW_WAY_BASE + 2 and rows[1].way_id == SW.SW_WAY_BASE + 3
    street_lats = [47.600, 47.6009, 47.6018]
    for r in rows:
        assert len(r.node_ids) == 3
        # offset distance 4 m at every vertex, parallel (same lats)
        assert np.allclose(r.lats, street_lats, atol=1e-9)
        for k in range(3):
            d = geom.haversine_m(street_lats[k], -122.330, r.lats[k], r.lngs[k])
            assert d == pytest.approx(4.0, rel=0.01)
    # left/right on opposite sides
    assert (rows[0].lngs[0] - -122.330) * (rows[1].lngs[0] - -122.330) < 0


def _kernel_sidewalks(gw, offset_m=geom.SIDEWALK_OFFSET_M):
    """make_sidewalks' rows computed by the numpy kernel over collected gw
    rows, keyed by way id, with the closed-form sidewalk ids."""
    out = {}
    for r in gw.collect():
        n = len(r.lats)
        if n < 2:
            continue
        llat, llng, rlat, rlng = geom.offset_polyline(r.lats, r.lngs, offset_m)
        for side, (slat, slng) in enumerate(((llat, llng), (rlat, rlng))):
            out[SW.SW_WAY_BASE + 2 * r.way_id + side] = (
                r.way_id, side,
                [SW.SW_NODE_BASE + r.way_id * 20_000 + side * 10_000 + k
                 for k in range(n)],
                slat.tolist(), slng.tolist(), r.highway)
    return out


def test_make_sidewalks_sql_matches_pandas(spark):
    """r6: make_sidewalks was rewritten from applyInPandas to pure SQL for
    the per-session python-worker spawn cost — the SQL form must stay
    BIT-identical to kernel.offset_polyline on every geometry class
    (straight, bent, multi-vertex near-collinear, grid city)."""
    fixtures = ["straight3", "bent3", "zigzag_redundant", "split_street"]
    grid_nodes, grid_ways = synth.osm_grid(spark, g=6)
    gws = [_gw(spark, name) for name in fixtures] + [
        N.geom_ways(grid_nodes, N.split_streets(N.filter_streets(grid_ways)))]
    for name, gw in zip(fixtures + ["grid6"], gws):
        sql_rows = {r.way_id: (r.parent_way_id, r.side, list(r.node_ids),
                               r.lats, r.lngs, r.highway)
                    for r in SW.make_sidewalks(gw).collect()}
        # exact double equality — the whole point of the op-order mirror
        assert sql_rows == _kernel_sidewalks(gw), name


def test_make_sidewalks_node_id_capacity_limit(spark):
    """The node-id scheme gives each side 10,000 ids: a 9,999-vertex way
    is the largest that fits, a 10,000-vertex way fails loudly."""
    def way(n):
        return spark.createDataFrame(
            [(7, list(range(n)), [47.6 + 1e-6 * k for k in range(n)],
              [-122.33] * n, "residential")],
            "way_id long, node_ids array<long>, lats array<double>, "
            "lngs array<double>, highway string")

    rows = SW.make_sidewalks(way(9_999)).collect()
    assert len(rows) == 2 and all(len(r.node_ids) == 9_999 for r in rows)
    assert max(max(r.node_ids) for r in rows) == SW.SW_NODE_BASE + 7 * 20_000 + 19_998
    with pytest.raises(Exception, match="10000 vertices overflow the sidewalk node-id scheme"):
        SW.make_sidewalks(way(10_000)).collect()


def test_make_sidewalks_plan_has_no_python(spark):
    """The SQL rewrite's reason to exist: no python stage anywhere in the
    sidewalk synthesis plan (upstream geom_ways exchanges are unaffected)."""
    gw = _gw(spark, "bent3")
    plan = SW.make_sidewalks(gw)._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                   "BatchEvalPython"):
        assert marker not in plan


def test_sidewalk_ids_deterministic_across_parallelism(spark):
    gw = _gw(spark, "bent3")
    a = {(r.way_id, tuple(r.node_ids)) for r in SW.make_sidewalks(gw.repartition(1)).collect()}
    b = {(r.way_id, tuple(r.node_ids)) for r in SW.make_sidewalks(gw.repartition(7)).collect()}
    assert a == b


def test_make_crosswalks_four_way(spark):
    nodes, ways = synth.micro_fixture(spark, "four_way")
    gw = N.geom_ways(nodes, ways)
    inter = N.intersections(ways)
    cw = SW.make_crosswalks(gw, inter)
    rows = cw.collect()
    assert len(rows) == 4  # 4 corners -> 4 ring ways
    assert all(r.intersection_node_id == 1 for r in rows)
    corners = SW.crosswalk_corner_nodes(cw).collect()
    assert len(corners) == 4
    for c in corners:
        d = geom.haversine_m(47.6009, -122.330, c.corner_lat, c.corner_lng)
        assert d == pytest.approx(geom.CROSSWALK_OFFSET_M, rel=0.02)


def test_make_crosswalks_t(spark):
    nodes, ways = synth.micro_fixture(spark, "t_intersection")
    gw = N.geom_ways(nodes, ways)
    cw = SW.make_crosswalks(gw, N.intersections(ways))
    assert cw.count() == 3  # 3 arms -> 3 corners -> 3 ring ways


def test_no_crosswalk_below_degree3(spark):
    nodes, ways = synth.micro_fixture(spark, "segmented_street")
    gw = N.geom_ways(nodes, ways)
    cw = SW.make_crosswalks(gw, N.intersections(ways))
    assert cw.count() == 0  # shared node has only 2 arms


def test_rewire_endpoints(spark):
    nodes, ways = synth.micro_fixture(spark, "four_way")
    gw = N.geom_ways(nodes, ways)
    inter = N.intersections(ways)
    segs = N.split_streets(ways, inter)
    gsegs = N.geom_ways(nodes, segs)
    sw = SW.make_sidewalks(gsegs)
    cw = SW.make_crosswalks(gw, inter)
    corners = SW.crosswalk_corner_nodes(cw)
    rewired = SW.rewire_sidewalk_endpoints(sw, corners, snap_m=8.0)
    rows = rewired.collect()
    assert len(rows) == sw.count()
    snapped = [r for r in rows
               if any(n >= SW.CW_NODE_BASE for n in r.node_ids)]
    assert len(snapped) > 0
    for r in snapped:
        # snapped endpoints carry corner coords exactly
        for pos in (0, -1):
            if r.node_ids[pos] >= SW.CW_NODE_BASE:
                d = geom.haversine_m(47.6009, -122.330, r.lats[pos], r.lngs[pos])
                assert d == pytest.approx(geom.CROSSWALK_OFFSET_M, rel=0.02)


def test_union_and_geojson(spark):
    nodes, ways = synth.micro_fixture(spark, "t_intersection")
    gw = N.geom_ways(nodes, ways)
    inter = N.intersections(ways)
    sw = SW.make_sidewalks(gw)
    cw = SW.make_crosswalks(gw, inter)
    net = SW.union_network(gw, sw, cw)
    assert net.count() == 3 + 6 + 3
    assert set(r.kind for r in net.select("kind").distinct().collect()) == {
        "street", "sidewalk", "crosswalk"}
    feats = SW.to_geojson_features(net).collect()
    f = json.loads(feats[0].feature)
    assert f["type"] == "Feature" and f["geometry"]["type"] == "LineString"
    assert len(f["geometry"]["coordinates"][0]) == 2
