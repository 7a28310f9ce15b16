"""Graft spatial operator tests (G3-G6) incl. brute-force kNN equivalence
and parallelism-invariance (FIXTURES.md §3)."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from tosidewalk_spark.kernel import cells, geom
from tosidewalk_spark.operators import network as N
from tosidewalk_spark.operators import sidewalks as SW
from tosidewalk_spark.operators import spatial as SP
from tosidewalk_spark.plans import pipeline
from tosidewalk_spark.sources import synth


def _points(spark, rows):
    df = spark.createDataFrame(rows, "url string, entity string, lat double, lng double")
    return df.withColumn("cell9", F.expr(
        __import__("tosidewalk_spark.functions.sqlfns", fromlist=["x"]).cell_sql("lat", "lng", 9)))


def test_street_segments_explode(spark):
    nodes, ways = synth.micro_fixture(spark, "straight3")
    gw = N.geom_ways(nodes, ways).withColumn("kind", F.lit("street"))
    segs = SP.street_segments(gw)
    rows = segs.orderBy("segment_id").collect()
    assert len(rows) == 2
    assert rows[0].segment_id == 1 * SP.SEG_FACTOR + 0
    assert rows[0].alat == 47.600 and rows[0].blat == pytest.approx(47.6009)


def test_buffers_cover_and_contain(spark):
    nodes, ways = synth.micro_fixture(spark, "straight3")
    gw = N.geom_ways(nodes, ways)
    bufs = SP.street_buffers(SP.street_segments(gw), half_width_m=12.0)
    rows = bufs.collect()
    assert len(rows) == 2
    for r in rows:
        assert len(r.poly_lats) == 4
        # cover includes the segment midpoint's cell
        mid_cell = cells.cell((r.alat + r.blat) / 2, (r.alng + r.blng) / 2, 9)
        assert mid_cell in set(r.cells)


def test_pip_join_inside_outside(spark):
    nodes, ways = synth.micro_fixture(spark, "straight3")
    gw = N.geom_ways(nodes, ways)
    bufs = SP.street_buffers(SP.street_segments(gw), half_width_m=12.0,
                             res=SP.PIP_COVER_RES)
    near = geom.latlng_offset(47.6004, -122.330, 5.0, 0.0)
    far = geom.latlng_offset(47.6004, -122.330, 50.0, 0.0)
    pts = _points(spark, [
        ("u1", "e1", float(near[0]), float(near[1])),
        ("u2", "e2", float(far[0]), float(far[1])),
    ])
    out = SP.pip_join(pts, bufs).collect()
    assert {r.url for r in out} == {"u1"}
    assert out[0].dist_m == pytest.approx(5.0, rel=0.01)


def _in_grid_points(rng):
    return [(float(47.60 + rng.uniform(0, 4) * synth.LAT_STEP),
             float(-122.33 + rng.uniform(0, 4) * synth.LNG_STEP)) for _ in range(20)]


def _outside_points(rng):
    """300-800 m beyond one side of the g=5 grid's bbox (cycling E, W, N,
    S): most of the network is far, and every point's candidates come from
    disk cells well away from its own."""
    lat0, lng0 = 47.60, -122.33
    lat1, lng1 = lat0 + 4 * synth.LAT_STEP, lng0 + 4 * synth.LNG_STEP
    out = []
    for i in range(20):
        off = rng.uniform(300.0, 800.0)
        lat = lat0 + rng.uniform(0, 4) * synth.LAT_STEP
        lng = lng0 + rng.uniform(0, 4) * synth.LNG_STEP
        # start on that side's edge of the grid, then step outward
        lat, lng, dx, dy = [(lat, lng1, off, 0.0), (lat, lng0, -off, 0.0),
                            (lat1, lng, 0.0, off), (lat0, lng, 0.0, -off)][i % 4]
        plat, plng = geom.latlng_offset(lat, lng, dx, dy)
        out.append((float(plat), float(plng)))
    return out


@pytest.mark.parametrize("where", ["in_grid", "outside"])
@pytest.mark.parametrize("k", [1, 3])
def test_knn_matches_bruteforce(spark, k, where):
    # 20 hash-placed points vs the grid-city sidewalk network
    nodes, ways = synth.osm_grid(spark, g=5, with_noise_ways=False)
    gw = N.geom_ways(nodes, N.split_streets(ways))
    sw = SW.make_sidewalks(gw)
    segs = SP.street_segments(sw.withColumn("kind", F.lit("sidewalk")))
    bufs = SP.street_buffers(segs)
    place = _in_grid_points if where == "in_grid" else _outside_points
    rows = [(f"u{i}", f"e{i}", plat, plng)
            for i, (plat, plng) in enumerate(place(np.random.default_rng(3)))]
    pts = _points(spark, rows)
    knn = SP.knn_join(pts, SP.segments_by_cell(bufs), k=k).collect()
    # brute force with the numpy kernel
    seg_rows = segs.collect()
    a = np.array([[s.alat, s.alng, s.blat, s.blng] for s in seg_rows])
    sid = np.array([s.segment_id for s in seg_rows])
    wid = np.array([s.way_id for s in seg_rows])
    got = {}
    for r in knn:
        got.setdefault(r.url, []).append((r.knn_rank, r.segment_id, r.dist_m))
    assert len(got) == 20
    # knn_join is exact when the k-th neighbor lies in disk(max_ring=8),
    # whose east-west reach is at least 8 lng cell edges (~823 m here)
    reach_m = 8 * cells.cell_size_deg(9) * geom.M_PER_DEG * float(
        geom.coslat(max(r[2] for r in rows)))
    for (u, e, plat, plng) in rows:
        d = geom.point_segment_dist_m(plat, plng, a[:, 0], a[:, 1], a[:, 2], a[:, 3])
        order = np.lexsort((sid, wid, np.round(d, 9)))[:k]
        assert d[order[-1]] < reach_m, f"{u}: k-th neighbor beyond disk(8)"
        have = sorted(got[u])
        assert [rk for rk, _, _ in have] == list(range(1, k + 1))
        assert [s for _, s, _ in have] == [int(x) for x in sid[order]], u
        assert [dm for _, _, dm in have] == pytest.approx(d[order].tolist(), abs=1e-6)


def test_knn_rank_and_distance_sane(spark):
    nodes, ways = synth.micro_fixture(spark, "straight3")
    gw = N.geom_ways(nodes, ways)
    bufs = SP.street_buffers(SP.street_segments(gw))
    p = geom.latlng_offset(47.6004, -122.330, 30.0, 0.0)
    pts = _points(spark, [("u1", "e1", float(p[0]), float(p[1]))])
    out = SP.knn_join(pts, SP.segments_by_cell(bufs), k=1).collect()
    assert len(out) == 1 and out[0].knn_rank == 1
    assert out[0].dist_m == pytest.approx(30.0, rel=0.01)
    # straight3 has 2 segments: k=3 returns both (the cells' k-th bound is
    # NULL, so nothing is pruned), ranked 1 and 2
    out3 = sorted(SP.knn_join(pts, SP.segments_by_cell(bufs), k=3).collect(),
                  key=lambda r: r.knn_rank)
    assert [r.knn_rank for r in out3] == [1, 2]
    assert out3[0].dist_m == pytest.approx(30.0, rel=0.01)
    assert out3[0].dist_m <= out3[1].dist_m


def test_tiles_counts_and_raster(spark):
    nodes, ways = synth.micro_fixture(spark, "straight3")
    gw = N.geom_ways(nodes, ways)
    bufs = SP.street_buffers(SP.street_segments(gw))
    near = geom.latlng_offset(47.6004, -122.330, 5.0, 0.0)
    far = geom.latlng_offset(47.6004, -122.330, 2000.0, 0.0)
    pts = _points(spark, [
        ("u1", "e1", float(near[0]), float(near[1])),
        ("u2", "e2", float(near[0]), float(near[1])),
        ("u3", "e3", float(far[0]), float(far[1])),
    ])
    knn = SP.knn_join(pts, SP.segments_by_cell(bufs), k=1, max_ring=2)
    tiles = SP.coverage_tiles(pts, knn).collect()
    by_cell = {t.cell9: t for t in tiles}
    near_cell = cells.cell(float(near[0]), float(near[1]), 9)
    t = by_cell[near_cell]
    assert t.n_pages == 2 and t.n_matched == 2 and t.coverage == 1.0
    assert len(t.raster) == 16 and sum(t.raster) == 2.0


def test_tiles_parallelism_invariance(spark):
    docs = spark.range(200).selectExpr("id AS doc_id")
    pts = synth.geo_entities_from_documents(docs)
    nodes, ways = synth.osm_grid(spark, g=4)
    net = pipeline.build_network(nodes, ways)
    out8 = pipeline.run_graft(pts.repartition(2), net, k=1)["tiles"]
    out32 = pipeline.run_graft(pts.repartition(13), net, k=1)["tiles"]
    a = sorted((r.cell9, r.n_pages, r.n_matched, tuple(r.raster)) for r in out8.collect())
    b = sorted((r.cell9, r.n_pages, r.n_matched, tuple(r.raster)) for r in out32.collect())
    assert a == b


def test_flagship_smoke(spark):
    df = pipeline.flagship(spark, "/root/testdata/sf0.001", grid=6)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["cell9", "n_pages", "n_matched", "coverage", "raster"]


def test_build_network_g6_digest(spark):
    """The production inference chain's exact output on the g=6 grid city:
    (rows, lineage checksum) pinned, not just rows > 0."""
    from tosidewalk_spark.operators import lineage
    net = pipeline.build_network(*synth.osm_grid(spark, g=6))
    row = net.agg(F.count("*").alias("n"), lineage.checksum_expr(net.columns)).first()
    assert (row["n"], row["checksum"]) == (286, 319612802063)


def test_vectorize_tiles_runs_and_merges_runs(spark):
    raster = [0.0, 2.0, 2.0, 0.0,
              0.0, 0.0, 0.0, 3.0,
              1.0, 1.0, 1.0, 1.0,
              0.0, 0.0, 0.0, 0.0]
    tiles = spark.createDataFrame(
        [(1, 10, 5, 0.5, raster)],
        "cell9 long, n_pages long, n_matched long, coverage double, raster array<double>")
    got = {(r.r, r.c0, r.c1): r.mass
           for r in SP.vectorize_tiles(tiles, threshold=1.0).collect()}
    assert got == {(0, 1, 2): 4.0, (1, 3, 3): 3.0, (2, 0, 3): 4.0}


def test_vectorize_tiles_plan_is_pure_sql(spark):
    tiles = spark.createDataFrame(
        [(1, 1, 1, 1.0, [1.0] * 16)],
        "cell9 long, n_pages long, n_matched long, coverage double, raster array<double>")
    plan = SP.vectorize_tiles(tiles)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_pip_join_resolution_mismatch_raises(spark):
    """Mismatched buffer-cover/probe resolutions must fail LOUDLY (the
    pre-r3 behavior was a silent zero-row join) — both via the wrapper
    attribute pre-flight AND via the cover_res column, which survives
    checkpoints/selects where the attribute does not (review r3)."""
    nodes, ways = synth.micro_fixture(spark, "straight3")
    gw = N.geom_ways(nodes, ways)
    near = geom.latlng_offset(47.6004, -122.330, 5.0, 0.0)
    pts = _points(spark, [("u1", "e1", float(near[0]), float(near[1]))])

    bufs9 = SP.street_buffers(SP.street_segments(gw))  # default res 9
    with pytest.raises(ValueError, match="covered"):
        SP.pip_join(pts, bufs9)  # pre-flight: attr vs default cover_res 11

    # attr is gone after a checkpoint, but the column guard still fires
    bufs9_ck = SP.street_buffers(SP.street_segments(gw)).localCheckpoint(eager=True)
    assert getattr(bufs9_ck, "_tsw_cover_res", None) is None
    with pytest.raises(Exception, match="cover_res"):
        SP.pip_join(pts, bufs9_ck).collect()

    # matching resolutions keep working through a checkpoint
    ok = SP.street_buffers(SP.street_segments(gw), half_width_m=12.0,
                           res=SP.PIP_COVER_RES).localCheckpoint(eager=True)
    assert {r.url for r in SP.pip_join(pts, ok).collect()} == {"u1"}


def test_compact_cells_roundtrip_minimality_and_guards(spark):
    """H3-compact pair invariants: uncompact(compact(S)) == S exactly, no
    4 output cells share a parent (minimality), duplicates in the input
    are tolerated (set semantics), an aligned full quad folds all the way
    to min_res, and uncompact rejects cells finer than the target."""
    import numpy as np
    import pytest
    from collections import Counter
    from tosidewalk_spark.kernel import cells as C
    from tosidewalk_spark.operators import spatial as SP

    ii, jj = np.meshgrid(np.arange(200, 221), np.arange(400, 417))
    ids = [int(c) for c in C.pack_ij(ii.ravel(), jj.ravel(), 9)]
    inp = spark.createDataFrame([(c,) for c in ids + ids[:50]], "cell long")
    out = SP.compact_cells(inp, res=9, min_res=7).collect()
    assert len(out) < len(ids)
    par = Counter(C.parent(r.cell, r.cell_res - 1)
                  for r in out if r.cell_res > 7)
    assert not par or max(par.values()) < 4
    back = sorted(r.cell for r in SP.uncompact_cells(
        spark.createDataFrame([(r.cell,) for r in out], "cell long"),
        res=9).collect())
    assert back == sorted(ids)

    # an aligned 8x8 block (i,j multiples of 8) folds to ONE res-6 cell
    ii2, jj2 = np.meshgrid(np.arange(64, 72), np.arange(64, 72))
    blk = spark.createDataFrame(
        [(int(c),) for c in C.pack_ij(ii2.ravel(), jj2.ravel(), 9)],
        "cell long")
    folded = SP.compact_cells(blk, res=9, min_res=6).collect()
    assert len(folded) == 1 and folded[0].cell_res == 6
    assert folded[0].cell == C.pack_ij(8, 8, 6)

    with pytest.raises(ValueError):
        SP.compact_cells(blk, res=9, min_res=10)
    with pytest.raises(Exception):  # ASSERT_TRUE surfaces as SparkException
        SP.uncompact_cells(
            spark.createDataFrame([(int(C.pack_ij(1, 1, 9)),)], "cell long"),
            res=8).collect()


def test_polyfill_cells_exact_interior_and_compact_compose(spark):
    """True-polygon polyfill: equals the python crossing-number twin cell
    for cell, is a strict subset of the bbox cover, rejects degenerate
    polygons, and composes with compact_cells (the canonical H3
    polyfill -> compact workflow) such that uncompacting the compacted
    covering returns exactly the polyfill set."""
    import math
    import pytest
    from tosidewalk_spark.kernel import cells as C
    from tosidewalk_spark.operators import spatial as SP

    poly = [(47.652, -122.351), (47.664, -122.332), (47.6455, -122.3085),
            (47.6362, -122.3348)]
    got = sorted(r.cell for r in
                 SP.polyfill_cells(spark, poly, res=9).collect())

    def inside(py_, px_):
        n = len(poly); c = False
        for k in range(n):
            y1, x1 = poly[k]; y2, x2 = poly[(k + 1) % n]
            if (y1 > py_) != (y2 > py_) and \
                    px_ < x1 + (x2 - x1) * (py_ - y1) / (y2 - y1):
                c = not c
        return c

    s = C.cell_size_deg(9)
    j0 = math.floor((min(p[0] for p in poly) + 90) / s)
    j1 = math.floor((max(p[0] for p in poly) + 90) / s)
    i0 = math.floor((min(p[1] for p in poly) + 180) / s)
    i1 = math.floor((max(p[1] for p in poly) + 180) / s)
    want = sorted(int(C.pack_ij(i, j, 9))
                  for j in range(j0, j1 + 1) for i in range(i0, i1 + 1)
                  if inside((j + 0.5) * s - 90, (i + 0.5) * s - 180))
    assert got == want and len(got) > 0
    bbox = set(int(c) for c in C.polyfill(
        [p[0] for p in poly], [p[1] for p in poly], 9))
    assert set(got) < bbox

    compacted = SP.compact_cells(
        SP.polyfill_cells(spark, poly, res=9), res=9, min_res=6)
    n_compact = compacted.count()
    assert 0 < n_compact < len(got)
    back = sorted(r.cell for r in SP.uncompact_cells(
        compacted.select("cell"), res=9).collect())
    assert back == got

    with pytest.raises(ValueError):
        SP.polygon_contains_sql("x", "y", poly[:2])


def test_cells_to_geojson_valid_and_matches_kernel(spark):
    """Every exported feature parses as RFC 7946 JSON, its ring is closed
    CCW, and the corner coordinates equal the kernel lattice decode to
    the printed precision — across MIXED resolutions."""
    import json
    from tosidewalk_spark.kernel import cells as C
    from tosidewalk_spark.operators import spatial as SP
    ids = [int(C.pack_ij(5, 7, 9)), int(C.pack_ij(3, 2, 6)),
           int(C.pack_ij(100, 200, 11))]
    rows = SP.cells_to_geojson(
        spark.createDataFrame([(c,) for c in ids], "cell long")).collect()
    assert len(rows) == len(ids)
    for r in rows:
        f = json.loads(r.feature)
        assert f["type"] == "Feature" and f["properties"]["cell"] == r.cell
        ring = f["geometry"]["coordinates"][0]
        assert len(ring) == 5 and ring[0] == ring[-1]
        res = f["properties"]["res"]
        s = C.cell_size_deg(res)
        i, j = C.cell_ij(r.cell)
        assert abs(ring[0][0] - (int(i) * s - 180.0)) < 1e-6
        assert abs(ring[0][1] - (int(j) * s - 90.0)) < 1e-6
        assert abs(ring[2][0] - ((int(i) + 1) * s - 180.0)) < 1e-6
        assert abs(ring[2][1] - ((int(j) + 1) * s - 90.0)) < 1e-6


def test_focal_sum_exact_window_semantics(spark):
    """Focal sum equals the brute-force python 3x3 window on a planted
    sparse grid, keeps sparse semantics (empty-disk cells absent), and
    rejects k < 1."""
    import pytest
    from collections import defaultdict
    from tosidewalk_spark.kernel import cells as C
    from tosidewalk_spark.operators import spatial as SP
    pts = {(10, 10): 5, (11, 10): 2, (13, 13): 7, (10, 11): 1}
    df = spark.createDataFrame(
        [(int(C.pack_ij(i, j, 9)), n) for (i, j), n in pts.items()],
        "cell long, n long")
    got = {r.cell: r.focal_sum for r in SP.focal_sum(df, k=1).collect()}
    want = defaultdict(int)
    for (i, j), n in pts.items():
        for di in (-1, 0, 1):
            for dj in (-1, 0, 1):
                want[int(C.pack_ij(i + di, j + dj, 9))] += n
    assert got == dict(want)
    # the isolated (13,13) cluster does not bleed into (10,10)'s disk
    assert got[int(C.pack_ij(10, 10, 9))] == 8
    assert got[int(C.pack_ij(13, 13, 9))] == 7
    with pytest.raises(ValueError):
        SP.focal_sum(df, k=0)


def test_compact_uncompact_property_random_sets(spark):
    """Property over RANDOM cell sets (hypothesis): for any finite set S
    of res-9 cells, uncompact(compact(S), 9) == S exactly AND no 4 output
    cells share a parent (minimality) — the pair's contract on arbitrary
    shapes, not just the rectangle/block fixtures."""
    from collections import Counter
    from hypothesis import given, settings, HealthCheck
    from hypothesis import strategies as st
    from tosidewalk_spark.kernel import cells as C
    from tosidewalk_spark.operators import spatial as SP

    ij = st.tuples(st.integers(min_value=0, max_value=23),
                   st.integers(min_value=0, max_value=23))

    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.sets(ij, min_size=1, max_size=48))
    def prop(pts):
        ids = sorted(int(C.pack_ij(i, j, 9)) for i, j in pts)
        inp = spark.createDataFrame([(c,) for c in ids], "cell long")
        out = SP.compact_cells(inp, res=9, min_res=6).collect()
        back = sorted(r.cell for r in SP.uncompact_cells(
            spark.createDataFrame([(r.cell,) for r in out], "cell long"),
            res=9).collect())
        assert back == ids
        par = Counter(C.parent(r.cell, r.cell_res - 1)
                      for r in out if r.cell_res > 6)
        assert not par or max(par.values()) < 4

    prop()


def test_uncompact_cells_gap_case_is_total(spark):
    """ADVICE r4 (medium): the side=2^d CASE previously stopped at d=15
    with no ELSE, so a cell more than 15 resolutions coarser than the
    target made side NULL and SEQUENCE/EXPLODE silently emitted ZERO
    rows.  Now (a) res outside [0,19] raises loudly at the API, and
    (b) the CASE covers the full legal gap range 0..19 — asserted
    structurally on the optimized plan (the d=16..19 arms fold to
    sequence bounds 65535/131071/262143/524287), because a 4^16-row
    expansion cannot be materialized and Spark's CollectLimit does not
    short-circuit nested Generates (measured: take(1) scales with the
    full expansion).  A gap-8 expansion (65,536 children) additionally
    verifies an arm beyond the old roundtrip fixtures end-to-end."""
    import pytest
    from tosidewalk_spark.operators import spatial as SP
    P56, P28 = 72057594037927936, 268435456
    parent = 3 * P56 + 5 * P28 + 7  # res 3, j=5, i=7
    inp = spark.createDataFrame([(parent,)], "cell long")
    with pytest.raises(ValueError, match=r"res must be in \[0, 19\]"):
        SP.uncompact_cells(inp, res=25)
    plan = (SP.uncompact_cells(inp, res=19)
            ._jdf.queryExecution().optimizedPlan().toString())
    for bound in (65535, 131071, 262143, 524287):  # d = 16..19
        assert f" {bound}" in plan, f"missing CASE arm folding to {bound}"
    # end-to-end at gap 8: exactly 4^8 distinct res-11 children of the
    # res-3 parent's block
    out = SP.uncompact_cells(inp, res=11)
    side = 1 << 8
    rows = out.collect()
    assert len(rows) == side * side
    cs = {r.cell for r in rows}
    assert len(cs) == side * side
    lo = 11 * P56 + (5 * side) * P28 + 7 * side
    assert min(cs) == lo
    assert max(cs) == 11 * P56 + (6 * side - 1) * P28 + (8 * side - 1)


def test_scatter_disk_does_not_alias_across_field_bounds(spark):
    """ADVICE r4: an i=0 cell's di=-1 ghost is bit-identical to the REAL
    cell (i_max, j-1), so without the field-bound filter a lattice-edge
    disk leaked its sum across the antimeridian onto a real cell's row.
    The disk of an (i=0, j=0) cell must now contain exactly the 4 in-
    bounds neighbors — and no output id may decode to i or j outside
    [0, 2^28)."""
    from tosidewalk_spark.operators import spatial as SP
    import pyspark.sql.functions as F
    P56, P28 = 72057594037927936, 268435456
    corner = 9 * P56 + 0 * P28 + 0  # res 9, j=0, i=0
    out = SP.scatter_disk(
        spark.createDataFrame([(corner, 1)], "cell long, v int"), k=1)
    got = sorted(r.cell for r in out.collect())
    want = sorted(9 * P56 + j * P28 + i for i in (0, 1) for j in (0, 1))
    assert got == want
    # and an i=i_max cell must not overflow into (j+1, i=0)
    edge = 9 * P56 + 5 * P28 + (P28 - 1)
    got2 = sorted(r.cell for r in SP.scatter_disk(
        spark.createDataFrame([(edge, 1)], "cell long, v int"), k=1).collect())
    want2 = sorted(9 * P56 + j * P28 + i
                   for i in (P28 - 2, P28 - 1) for j in (4, 5, 6))
    assert got2 == want2


def test_grid_paths_properties_and_python_twin(spark):
    """Endpoints exact, length = grid_dist + 1, every hop Chebyshev-1,
    and the whole path equals an independent python twin of the
    round-half-up interpolation."""
    from tosidewalk_spark.kernel import cells as KC
    from tosidewalk_spark.operators import spatial as SP

    P28, P56 = 1 << 28, 1 << 56
    cases = [("p0", (47.60, -122.33), (47.60, -122.33)),   # d = 0
             ("p1", (47.60, -122.33), (47.61, -122.30)),
             ("p2", (47.59, -122.31), (47.62, -122.34)),   # negative di
             ("p3", (47.605, -122.33), (47.605, -122.30))]  # axis-aligned
    rows = [(pid, int(KC.cell(a[0], a[1], 9)), int(KC.cell(b[0], b[1], 9)))
            for pid, a, b in cases]
    pairs = spark.createDataFrame(
        rows, "pair_id string, cell_a long, cell_b long")
    out = SP.grid_paths(pairs).collect()

    def py_path(ca, cb):
        ia, ja = ca % P28, (ca % P56) // P28
        ib, jb = cb % P28, (cb % P56) // P28
        adi, adj = abs(ib - ia), abs(jb - ja)
        si, sj = (1 if ib >= ia else -1), (1 if jb >= ja else -1)
        d = max(adi, adj)
        res = ca // P56
        path = []
        for t in range(d + 1):
            oi = 0 if d == 0 else (2 * adi * t + d) // (2 * d)
            oj = 0 if d == 0 else (2 * adj * t + d) // (2 * d)
            path.append(res * P56 + (ja + sj * oj) * P28 + (ia + si * oi))
        return d, path

    by_pair = {}
    for r in out:
        by_pair.setdefault(r.pair_id, []).append(r)
    for (pid, ca, cb) in rows:
        d, want = py_path(ca, cb)
        got = sorted(by_pair[pid], key=lambda r: r.step)
        assert [r.cell for r in got] == want, pid
        assert all(r.grid_dist == d for r in got)
        assert got[0].cell == ca and got[-1].cell == cb, pid
        for u, v in zip(got, got[1:]):  # every hop is Chebyshev-adjacent
            iu, ju = u.cell % P28, (u.cell % P56) // P28
            iv, jv = v.cell % P28, (v.cell % P56) // P28
            assert max(abs(iu - iv), abs(ju - jv)) == 1, pid


def test_grid_paths_mixed_res_fails_loudly(spark):
    from tosidewalk_spark.kernel import cells as KC
    from tosidewalk_spark.operators import spatial as SP
    import pytest as _pt
    pairs = spark.createDataFrame(
        [("x", int(KC.cell(47.6, -122.33, 9)),
          int(KC.cell(47.6, -122.33, 8)))],
        "pair_id string, cell_a long, cell_b long")
    with _pt.raises(Exception, match="resolutions"):
        SP.grid_paths(pairs).collect()


def test_registry_center_cell_constant_matches_kernel(spark):
    from tosidewalk_spark.kernel import cells as KC
    from tosidewalk_spark.plans import registry as R
    assert R._CENTER_CELL9 == int(KC.cell(47.60, -122.33, 9))


def test_trajectory_stats_integer_grid_metrics(spark):
    """Path metrics are exact Chebyshev grid units; returns-to-start
    give net_dist 0 while total_dist counts both legs; singleton
    trajectories are all-zero."""
    from datetime import datetime as DT
    from tosidewalk_spark.kernel import cells as KC
    from tosidewalk_spark.operators import spatial as SP
    P28, P56 = 1 << 28, 1 << 56
    mk = lambda lat, lng: int(KC.cell(lat, lng, 9))
    c1, c2 = mk(47.60, -122.33), mk(47.61, -122.30)
    cheb = max(abs(c1 % P28 - c2 % P28),
               abs((c1 % P56) // P28 - (c2 % P56) // P28))
    d = spark.createDataFrame(
        [(1, DT(2024, 1, 1, 0, 0), 1, c1),
         (1, DT(2024, 1, 1, 0, 5), 2, c2),
         (1, DT(2024, 1, 1, 0, 9), 3, c2),      # dwell: no move
         (1, DT(2024, 1, 1, 0, 12), 4, c1),     # return to start
         (2, DT(2024, 1, 1, 1, 0), 5, mk(47.59, -122.31))],
        "traj_id long, ts timestamp, event_id long, cell long")
    out = {r.traj_id: r for r in SP.trajectory_stats(d).collect()}
    r = out[1]
    assert (r.n_points, r.n_moves) == (4, 2)
    assert r.total_dist == 2 * cheb and r.max_step == cheb
    assert r.start_cell == c1 and r.end_cell == c1 and r.net_dist == 0
    assert (out[2].n_points, out[2].total_dist, out[2].net_dist) == (1, 0, 0)


def test_trajectory_stats_mixed_res_fails_loudly(spark):
    from datetime import datetime as DT
    from tosidewalk_spark.kernel import cells as KC
    from tosidewalk_spark.operators import spatial as SP
    import pytest as _pt
    d = spark.createDataFrame(
        [(1, DT(2024, 1, 1), 1, int(KC.cell(47.6, -122.33, 9))),
         (1, DT(2024, 1, 2), 2, int(KC.cell(47.6, -122.33, 8)))],
        "traj_id long, ts timestamp, event_id long, cell long")
    with _pt.raises(Exception, match="resolutions"):
        SP.trajectory_stats(d).collect()


def test_grid_dbscan_blobs_noise_and_isolation(spark):
    """Adjacent dense cells merge; a dense cell 2+ away stays its own
    cluster (Chebyshev-1 adjacency only); sparse cells are noise."""
    from tosidewalk_spark.operators import spatial as SP
    P28, P56 = 1 << 28, 1 << 56
    mk = lambda i, j: 9 * P56 + j * P28 + i
    rows = []
    for cell, n in [(mk(10, 10), 4), (mk(11, 11), 5), (mk(11, 10), 4),
                    (mk(10, 13), 4), (mk(50, 50), 6), (mk(20, 20), 1)]:
        rows += [(cell,)] * n
    d = spark.createDataFrame(rows, "cell long")
    out = {r.cell: r for r in SP.grid_dbscan(d, min_pts=4).collect()}
    a = mk(10, 10)
    assert (out[mk(10, 10)].cluster_id == out[mk(11, 11)].cluster_id
            == out[mk(11, 10)].cluster_id == a)   # diagonal adjacency merges
    assert out[mk(10, 13)].cluster_id == mk(10, 13)  # gap 2: separate
    assert out[mk(50, 50)].cluster_id == mk(50, 50)  # isolated singleton
    assert mk(20, 20) not in out                     # sparse = noise
    assert out[mk(11, 11)].n_points == 5


def test_grid_dbscan_mixed_res_fails_loudly(spark):
    from tosidewalk_spark.operators import spatial as SP
    import pytest as _pt
    P28, P56 = 1 << 28, 1 << 56
    rows = [(9 * P56 + 10 * P28 + 10,)] * 4 + [(8 * P56 + 5 * P28 + 5,)] * 4
    d = spark.createDataFrame(rows, "cell long")
    with _pt.raises(Exception, match="mixed"):
        SP.grid_dbscan(d, min_pts=4).collect()


def test_od_matrix_transitions_and_distinct_trajs(spark):
    """Consecutive pings roll up to parent zones; n_trans counts
    transitions, n_trajs distinct trajectories; dwells kept."""
    from datetime import datetime as DT
    from tosidewalk_spark.operators import spatial as SP
    P28, P56 = 1 << 28, 1 << 56
    mk = lambda i, j: 9 * P56 + j * P28 + i
    pz = lambda i, j: 7 * P56 + (j // 4) * P28 + (i // 4)
    pings = spark.createDataFrame(
        [(1, DT(2024, 1, 1, 0, 0), 1, mk(10, 10)),
         (1, DT(2024, 1, 1, 0, 5), 2, mk(50, 50)),
         (1, DT(2024, 1, 1, 0, 9), 3, mk(50, 50)),
         (2, DT(2024, 1, 1, 1, 0), 4, mk(10, 10)),
         (2, DT(2024, 1, 1, 1, 5), 5, mk(50, 50))],
        "traj_id long, ts timestamp, event_id long, cell long")
    om = {(r.o_zone, r.d_zone): r
          for r in SP.od_matrix(pings, parent_res=7, res=9).collect()}
    flow = om[(pz(10, 10), pz(50, 50))]
    assert flow.n_trans == 2 and flow.n_trajs == 2
    dwell = om[(pz(50, 50), pz(50, 50))]
    assert dwell.n_trans == 1 and dwell.n_trajs == 1
    assert len(om) == 2


def test_hotspot_gi_matches_python_twin_and_flags_blob(spark):
    """Gi* z over a hot blob + scattered background equals a direct
    python computation of the textbook formula; the blob scores z > 2,
    background near 0; degenerate rasters yield NULL."""
    import math
    from tosidewalk_spark.operators import spatial as SP
    P28, P56 = 1 << 28, 1 << 56
    mk = lambda i, j: 9 * P56 + j * P28 + i
    data = [(mk(10, 10), 50), (mk(10, 11), 40), (mk(11, 10), 45),
            (mk(11, 11), 55), (mk(100, 100), 1), (mk(200, 200), 1),
            (mk(300, 300), 2), (mk(400, 400), 1), (mk(500, 500), 1),
            (mk(600, 600), 2)]
    d = spark.createDataFrame(data, "cell long, n long")
    out = {r.cell: r for r in SP.hotspot_gi(d, k=1).collect()}
    n = len(data)
    sx = sum(v for _, v in data)
    sx2 = sum(v * v for _, v in data)
    xbar, var = sx / n, sx2 / n - (sx / n) ** 2
    for c, v in data:
        i, j = c % P28, (c % P56) // P28
        ns = [vv for cc, vv in data
              if max(abs(cc % P28 - i), abs((cc % P56) // P28 - j)) <= 1]
        S, w = sum(ns), len(ns)
        z = ((S - xbar * w)
             / (math.sqrt(var) * math.sqrt((n * w - w * w) / (n - 1))))
        r = out[c]
        assert (r.focal_sum, r.w) == (S, w)
        assert abs(r.z - z) < 1e-12
    assert out[mk(10, 10)].z > 2 and abs(out[mk(200, 200)].z) < 1
    # degenerate: constant raster -> NULL z (zero variance)
    flat = spark.createDataFrame(
        [(mk(1, 1), 3), (mk(5, 5), 3)], "cell long, n long")
    assert all(r.z is None for r in SP.hotspot_gi(flat, k=1).collect())


def test_moran_i_matches_python_twin_signs(spark):
    """Moran's I over a clustered blob + scattered background equals the
    textbook formula computed directly in python; a clustered raster
    scores I > 0, a checkerboard I < 0, degenerate rasters NULL."""
    P28, P56 = 1 << 28, 1 << 56
    mk = lambda i, j: 9 * P56 + j * P28 + i

    def twin(data):
        n = len(data)
        sx = sum(v for _, v in data)
        num = den = W = 0
        for c, v in data:
            i, j = c % P28, (c % P56) // P28
            ns = [vv for cc, vv in data if cc != c
                  and max(abs(cc % P28 - i),
                          abs((cc % P56) // P28 - j)) <= 1]
            dev = n * v - sx
            lag = n * sum(ns) - len(ns) * sx
            num += dev * lag
            den += dev * dev
            W += len(ns)
        return n, W, num, den, (n * num) / (W * den) if W and den else None

    blob = [(mk(10, 10), 50), (mk(10, 11), 40), (mk(11, 10), 45),
            (mk(11, 11), 55), (mk(100, 100), 1), (mk(200, 200), 1),
            (mk(300, 300), 2), (mk(400, 400), 1), (mk(500, 500), 1)]
    d = spark.createDataFrame(blob, "cell long, n long")
    r = SP.moran_i(d, k=1).collect()[0]
    n, W, num, den, I = twin(blob)
    assert (r.n_cells, r.w_sum, r.num, r.den) == (n, W, num, den)
    assert r.moran_i == pytest.approx(I, abs=1e-12) and r.moran_i > 0
    # checkerboard: adjacent cells alternate high/low -> negative I
    board = [(mk(i, j), 10 if (i + j) % 2 == 0 else 1)
             for i in range(4) for j in range(4)]
    b = spark.createDataFrame(board, "cell long, n long")
    rb = SP.moran_i(b, k=1).collect()[0]
    nb, Wb, numb, denb, Ib = twin(board)
    assert (rb.w_sum, rb.num, rb.den) == (Wb, numb, denb)
    assert rb.moran_i == pytest.approx(Ib, abs=1e-12) and rb.moran_i < 0
    # degenerate: constant raster -> den = 0 -> NULL; isolated cells
    # (no occupied neighbor anywhere) -> w_sum = 0 -> NULL
    flat = spark.createDataFrame(
        [(mk(1, 1), 3), (mk(1, 2), 3)], "cell long, n long")
    assert SP.moran_i(flat, k=1).collect()[0].moran_i is None
    iso = spark.createDataFrame(
        [(mk(1, 1), 3), (mk(50, 50), 9)], "cell long, n long")
    ri = SP.moran_i(iso, k=1).collect()[0]
    assert ri.w_sum == 0 and ri.moran_i is None


def test_map_match_run_collapse_and_nearest(spark):
    """Pings walking up one street, over to the far segment, and back
    collapse into 3 traversals of the correct segments with exact
    enter/leave micros; each ping snaps to its true nearest segment."""
    import datetime as dt

    nodes, ways = synth.micro_fixture(spark, "straight3")
    gw = N.geom_ways(nodes, ways)
    segs = SP.street_segments(gw)
    seg_cells = SP.segments_by_cell(SP.street_buffers(segs))
    seg_rows = sorted(segs.collect(), key=lambda s: s.alat)
    lo_seg, hi_seg = seg_rows[0].segment_id, seg_rows[1].segment_id
    # seg 1 spans lat [47.600, 47.6009], seg 2 [47.6009, 47.6018]
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def ping(eid, lat, secs):
        lng = -122.330 + 5.0 / (111111.0 * 0.675)  # ~5 m east of the line
        return (7, eid, t0 + dt.timedelta(seconds=secs), lat, lng)

    rows = [ping(1, 47.60040, 0), ping(2, 47.60050, 10),
            ping(3, 47.60140, 20), ping(4, 47.60045, 30)]
    pings = spark.createDataFrame(
        rows, "traj_id long, event_id long, ts timestamp, lat double, lng double"
    ).withColumn("cell9", F.expr(
        __import__("tosidewalk_spark.functions.sqlfns",
                   fromlist=["x"]).cell_sql("lat", "lng", 9)))
    out = sorted(SP.map_match(pings, seg_cells).collect(),
                 key=lambda r: r.traversal_id)
    assert [r.traversal_id for r in out] == [1, 2, 3]
    assert [r.segment_id for r in out] == [lo_seg, hi_seg, lo_seg]
    assert [r.n_pings for r in out] == [2, 1, 1]
    base_us = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert (out[0].enter_us, out[0].leave_us) == (base_us, base_us + 10_000_000)
    assert out[2].enter_us == base_us + 30_000_000
    assert all(r.traj_id == 7 for r in out)


def test_emerging_hotspots_planted_trends_and_zero_fill(spark):
    """A monotonically growing cell scores the maximum MK statistic, a
    flat one 0, a cooling one the minimum; a cell absent from middle
    bins is zero-filled (the dip is real and breaks monotonicity); an
    isolated neighbor's mass reaches the cell through the focal stage."""
    P28, P56 = 1 << 28, 1 << 56
    mk = lambda i, j: 9 * P56 + j * P28 + i
    rows = []
    # grower: v = bin+1 at an isolated cell, bins 0..4
    rows += [(mk(10, 10), b, b + 1) for b in range(5)]
    # flat: constant 7
    rows += [(mk(100, 100), b, 7) for b in range(5)]
    # cooler: 5,4,3,2,1
    rows += [(mk(200, 200), b, 5 - b) for b in range(5)]
    # gap: occupied bins 0 and 4 only -> series 3,0,0,0,3
    rows += [(mk(300, 300), 0, 3), (mk(300, 300), 4, 3)]
    # neighbor-only mass: cell A empty itself every bin, neighbor B
    # grows; A is NOT in the study set (never occupied) so no row for A,
    # but B's own focal series still grows
    rows += [(mk(400, 400), b, 2 * b + 1) for b in range(5)]
    df = spark.createDataFrame(rows, "cell long, bin long, v long")
    out = {r.cell: r for r in SP.emerging_hotspots(df, k=1).collect()}
    assert set(out) == {mk(10, 10), mk(100, 100), mk(200, 200),
                        mk(300, 300), mk(400, 400)}
    assert all(r.n_bins == 5 for r in out.values())
    assert (out[mk(10, 10)].s_mk, out[mk(10, 10)].n_pos) == (10, 10)
    assert out[mk(100, 100)].s_mk == 0 and out[mk(100, 100)].n_pos == 0
    assert (out[mk(200, 200)].s_mk, out[mk(200, 200)].n_neg) == (-10, 10)
    # gap series 3,0,0,0,3: pairs -> 3 negatives (3 vs the zeros),
    # 3 positives (zeros vs final 3), (0,4) tie, zero-zero ties
    g = out[mk(300, 300)]
    assert (g.s_mk, g.n_pos, g.n_neg) == (0, 3, 3)
    assert out[mk(400, 400)].s_mk == 10


def test_emerging_hotspots_focal_couples_neighbors(spark):
    """Two adjacent cells with opposite raw trends share a FLAT focal
    series — the focal stage is what distinguishes emerging_hotspots
    from a per-cell MK on raw counts."""
    P28, P56 = 1 << 28, 1 << 56
    mk = lambda i, j: 9 * P56 + j * P28 + i
    rows = ([(mk(10, 10), b, b + 1) for b in range(4)]
            + [(mk(10, 11), b, 4 - b) for b in range(4)])
    out = {r.cell: r for r in SP.emerging_hotspots(
        spark.createDataFrame(rows, "cell long, bin long, v long"),
        k=1).collect()}
    assert out[mk(10, 10)].s_mk == 0 and out[mk(10, 11)].s_mk == 0


def test_zonal_stats_overlap_empty_and_exact_aggs(spark):
    """Overlapping zones each count shared cells; empty zones still
    emit a row (n_cells 0, NULL min/max); stats are exact."""
    from tosidewalk_spark.kernel import cells as KC
    from tosidewalk_spark.operators import spatial as SP

    mk = lambda i, j, v: (int(KC.pack_ij(i, j, 9)), v)
    cells = spark.createDataFrame(
        [mk(10, 20, 5), mk(11, 20, 7), mk(12, 25, 100)],
        "cell long, v long")
    zones = spark.createDataFrame(
        [("a", 10, 11, 20, 20),      # two cells
         ("b", 10, 12, 20, 25),      # all three (overlaps a)
         ("c", 500, 600, 500, 600)], # empty
        "zone_id string, i_lo long, i_hi long, j_lo long, j_hi long")
    out = {r.zone_id: r for r in SP.zonal_stats(cells, zones).collect()}
    assert (out["a"].n_cells, out["a"].v_sum, out["a"].v_min,
            out["a"].v_max) == (2, 12, 5, 7)
    assert (out["b"].n_cells, out["b"].v_sum, out["b"].v_max) == (3, 112, 100)
    assert (out["c"].n_cells, out["c"].v_sum, out["c"].v_min,
            out["c"].v_max) == (0, 0, None, None)
