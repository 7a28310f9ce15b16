"""Cross-engine equality: numpy kernel == Spark SQL expr == DuckDB SQL."""
import duckdb
import numpy as np
import pandas as pd

from tosidewalk_spark.functions import sqlfns
from tosidewalk_spark.kernel import cells, geom

RNG = np.random.default_rng(7)
N = 200
LAT = RNG.uniform(47.55, 47.65, N)
LNG = RNG.uniform(-122.40, -122.25, N)
LAT2 = LAT + RNG.uniform(-0.01, 0.01, N)
LNG2 = LNG + RNG.uniform(-0.01, 0.01, N)
PDF = pd.DataFrame({"lat": LAT, "lng": LNG, "lat2": LAT2, "lng2": LNG2})


def _spark_eval(spark, expr_sql, as_type):
    df = spark.createDataFrame(PDF)
    return np.array(df.selectExpr(f"{expr_sql} AS v").toPandas()["v"], dtype=as_type)


def _duck_eval(expr_sql, as_type):
    return np.array(duckdb.sql(f"SELECT {expr_sql} AS v FROM PDF").df()["v"], dtype=as_type)


def test_cell_three_way(spark):
    want = cells.cell(LAT, LNG, 9)
    expr = sqlfns.cell_sql("lat", "lng", 9)
    got_s = _spark_eval(spark, expr, np.int64)
    got_d = _duck_eval(expr, np.int64)
    assert np.array_equal(want, got_s)
    assert np.array_equal(want, got_d)


def test_parent_three_way(spark):
    c9 = cells.cell(LAT, LNG, 9)
    want = cells.parent(c9, 5)
    expr = sqlfns.parent_sql(sqlfns.cell_sql("lat", "lng", 9), 9, 5)
    assert np.array_equal(want, _spark_eval(spark, expr, np.int64))
    assert np.array_equal(want, _duck_eval(expr, np.int64))


def test_haversine_three_way(spark):
    want = geom.haversine_m(LAT, LNG, LAT2, LNG2)
    expr = sqlfns.haversine_sql("lat", "lng", "lat2", "lng2")
    got_s = _spark_eval(spark, expr, np.float64)
    got_d = _duck_eval(expr, np.float64)
    assert np.allclose(want, got_s, rtol=1e-9, atol=1e-6)
    assert np.allclose(want, got_d, rtol=1e-9, atol=1e-6)


def test_seg_dist_three_way(spark):
    # segment = (lat,lng)->(lat2,lng2); probe point = midpoint offset
    plat, plng = LAT + 1e-4, LNG - 2e-4
    want = geom.point_segment_dist_m(plat, plng, LAT, LNG, LAT2, LNG2)
    pdf = PDF.assign(plat=plat, plng=plng)
    expr = sqlfns.seg_dist_sql("plat", "plng", "lat", "lng", "lat2", "lng2")
    got_s = np.array(spark.createDataFrame(pdf).selectExpr(f"{expr} AS v").toPandas()["v"])
    got_d = np.array(duckdb.sql(f"SELECT {expr} AS v FROM pdf").df()["v"])
    assert np.allclose(want, got_s, rtol=1e-9, atol=1e-9)
    assert np.allclose(want, got_d, rtol=1e-9, atol=1e-9)


def test_polyhash_three_way(spark):
    words = pd.DataFrame({"s": ["", "a", "abc", "hello world", "Straße-ascii", "q" * 50]})
    want = np.array([cells.hash63(w) for w in words["s"]], dtype=np.int64)
    got_s = np.array(spark.createDataFrame(words)
                     .selectExpr(f"{sqlfns.polyhash_spark('s')} AS v").toPandas()["v"], dtype=np.int64)
    got_d = np.array(duckdb.sql(f"SELECT {sqlfns.polyhash_duckdb('s')} AS v FROM words").df()["v"], dtype=np.int64)
    assert np.array_equal(want, got_s)
    assert np.array_equal(want, got_d)


def test_coslat_and_equirect_bit_identical(spark):
    want_cos = geom.coslat(LAT)
    expr = sqlfns.coslat_sql("lat")
    assert np.array_equal(want_cos, _spark_eval(spark, expr, np.float64))
    assert np.array_equal(want_cos, _duck_eval(expr, np.float64))
    want_d = geom.equirect_m(LAT, LNG, LAT2, LNG2)
    dexpr = sqlfns.equirect_dist_sql("lat", "lng", "lat2", "lng2")
    assert np.array_equal(want_d, _spark_eval(spark, dexpr, np.float64))
    assert np.array_equal(want_d, _duck_eval(dexpr, np.float64))


def test_zorder_three_way(spark):
    """Morton key: numpy kernel == Spark SQL == DuckDB SQL, including the
    interleave property (z of (i,0) uses only even bit positions, (0,j)
    only odd ones) and 16-bit boundary values."""
    i = np.concatenate([RNG.integers(0, 1 << 16, 100),
                        np.array([0, 1, 65535, 32768])]).astype(np.int64)
    j = np.concatenate([RNG.integers(0, 1 << 16, 100),
                        np.array([0, 65535, 1, 32768])]).astype(np.int64)
    want = cells.zorder(i, j)
    pdf = pd.DataFrame({"i": i, "j": j})
    expr = sqlfns.zorder_sql("i", "j")
    got_s = np.array(spark.createDataFrame(pdf).selectExpr(f"{expr} AS v")
                     .toPandas()["v"], dtype=np.int64)
    got_d = np.array(duckdb.sql(f"SELECT {expr} AS v FROM pdf").df()["v"],
                     dtype=np.int64)
    assert np.array_equal(want, got_s)
    assert np.array_equal(want, got_d)
    # bit-interleave identities
    assert cells.zorder(0b101, 0) == 0b010001
    assert cells.zorder(0, 0b101) == 0b100010
    assert cells.zorder(65535, 65535) == (1 << 32) - 1


# --- packed cell-id templates at fine resolutions ---------------------------
# res 19: j = 2^26 + 5, i = 2^28 - 1 (the last column before lng = +180).
# j·2^28 + i is past 2^53 there, so decoding j by dividing cell % 2^56 as a
# double rounds it up to j + 1.
EAST_EDGE_R19 = 1387108686840725503


def _lattice_cells():
    """(res, j, i) at res 9/13/18/19: random lattice points, the first and
    last rows, the first column and the last 6 columns before the east
    edge."""
    rng = np.random.default_rng(19)
    rows = []
    for res in (9, 13, 18, 19):
        nj, ni = 2 ** (res + 8), 2 ** (res + 9)
        js = np.concatenate([rng.integers(0, nj, 6), [0, nj - 1, nj // 2 + 5]])
        cols = ni - 1 - np.arange(6)
        is_ = np.concatenate([rng.integers(0, ni, 6), [0], cols])
        rows += [(res, int(j), int(i)) for j in js for i in is_]
    rows.append((19, 2 ** 26 + 5, 2 ** 28 - 1))  # EAST_EDGE_R19
    pdf = pd.DataFrame(rows, columns=["res", "j", "i"]).astype(
        {"res": np.int32, "j": np.int64, "i": np.int64})
    pdf["cell"] = [cells.pack_ij(i, j, r) for r, j, i in rows]
    return pdf


def _both_engines(spark, pdf, exprs):
    """Evaluate named SQL expressions over ``pdf`` in Spark and DuckDB.
    DuckDB spells Spark's ARRAY(...) constructor list_value(...)."""
    sel = [f"{e} AS {n}" for n, e in exprs.items()]
    got_s = spark.createDataFrame(pdf).selectExpr(*sel).toPandas()
    duck = ", ".join(x.replace("ARRAY(", "list_value(") for x in sel)
    got_d = duckdb.sql(f"SELECT {duck} FROM pdf").df()
    return got_s, got_d


def test_cell_decode_three_way(spark):
    pdf = _lattice_cells()
    assert EAST_EDGE_R19 in set(pdf["cell"])
    r, j, i = sqlfns.cell_decode_sql("cell")
    want_i, want_j = cells.cell_ij(pdf["cell"].to_numpy())
    want_r = cells.cell_res(pdf["cell"].to_numpy())
    for got in _both_engines(spark, pdf, {"r": r, "j": j, "i": i}):
        assert np.array_equal(got["r"].to_numpy(np.int64), want_r)
        assert np.array_equal(got["j"].to_numpy(np.int64), want_j)
        assert np.array_equal(got["i"].to_numpy(np.int64), want_i)


def test_cell_pack_three_way(spark):
    pdf = _lattice_cells()
    expr = sqlfns.cell_pack_sql("res", "j", "i")
    for got in _both_engines(spark, pdf, {"c": expr}):
        assert np.array_equal(got["c"].to_numpy(np.int64), pdf["cell"].to_numpy())
    # pack over the decoded fields is the identity
    ident = sqlfns.cell_pack_sql(*sqlfns.cell_decode_sql("cell"))
    for got in _both_engines(spark, pdf, {"c": ident}):
        assert np.array_equal(got["c"].to_numpy(np.int64), pdf["cell"].to_numpy())


def test_lattice_matches_cell_sql(spark):
    """lattice_sql is the (j, i) half of cell_sql: packing it at ``res``
    gives kernel.cells.cell on both engines."""
    for res in (9, 13, 18, 19):
        expr = sqlfns.cell_pack_sql(res, *sqlfns.lattice_sql("lat", "lng", res))
        want = cells.cell(LAT, LNG, res)
        assert np.array_equal(want, _spark_eval(spark, expr, np.int64))
        assert np.array_equal(want, _duck_eval(expr, np.int64))


def _disk_np(c: int, r_lat: int, r_lng: int) -> list[int]:
    """kernel.cells.disk with separate lat (j) and lng (i) radii."""
    i, j = cells.cell_ij(c)
    di, dj = np.meshgrid(np.arange(-r_lng, r_lng + 1), np.arange(-r_lat, r_lat + 1))
    return sorted(cells.pack_ij((i + di).ravel(), (j + dj).ravel(),
                                int(cells.cell_res(c))).tolist())


def test_disk_three_way(spark):
    """disk_sql over decoded j/i == kernel.cells.disk, for square and
    lat/lng-asymmetric radii, up to the lattice edges: at i = 0 and
    i = 2^28 - 1 (res 19) and at the first and last rows the neighbors
    leave the 28-bit fields, and both packs add, so they alias to the
    same ids."""
    pdf = _lattice_cells()
    edge = pdf[pdf["res"] == 19]["i"]
    assert {0, 2 ** 28 - 1} <= set(edge)
    _, j, i = sqlfns.cell_decode_sql("cell")
    ci, cj = cells.cell_ij(pdf["cell"].to_numpy())
    staged = pdf.assign(dj=cj, di=ci)
    radii = {"d1": (1, 1), "d2": (2, 2), "d12": (1, 2)}
    exprs = {n: sqlfns.disk_sql(j, i, "res", a, b) for n, (a, b) in radii.items()}
    # the staged-column form the operators use gives the same arrays
    exprs["s12"] = sqlfns.disk_sql("dj", "di", "res", 1, 2)
    for got in _both_engines(spark, staged, exprs):
        for k, c in enumerate(staged["cell"]):
            c = int(c)
            assert sorted(got["d1"][k]) == sorted(cells.disk(c, 1).tolist())
            assert sorted(got["d2"][k]) == sorted(cells.disk(c, 2).tolist())
            assert sorted(got["d12"][k]) == _disk_np(c, 1, 2)
            assert sorted(got["s12"][k]) == _disk_np(c, 1, 2)


def test_parent_sql_exact_at_res19_east_edge(spark):
    """parent_sql decodes j exactly on the res-19 east-edge cell, on both
    engines (the double-division decode put its parent one row north)."""
    pdf = pd.DataFrame({"cell": np.array([EAST_EDGE_R19], dtype=np.int64)})
    for pr in (18, 9, 0):
        expr = sqlfns.parent_sql("cell", 19, pr)
        want = cells.parent(EAST_EDGE_R19, pr)
        for got in _both_engines(spark, pdf, {"p": expr}):
            assert int(got["p"][0]) == want


def test_uncompact_identity_at_res19_east_edge(spark):
    """uncompact_cells of a res-19 cell to res 19 is the cell itself, and
    its res-18 parent expands to exactly its 4 children — on the last
    column before lng = +180 too."""
    from tosidewalk_spark.operators import spatial as SP
    df = spark.createDataFrame([(EAST_EDGE_R19,)], "cell long")
    assert [r.cell for r in SP.uncompact_cells(df, 19).collect()] == [EAST_EDGE_R19]
    p18 = cells.parent(EAST_EDGE_R19, 18)
    kids = SP.uncompact_cells(spark.createDataFrame([(p18,)], "cell long"), 19)
    i, j = cells.cell_ij(p18)
    want = sorted(cells.pack_ij(2 * i + di, 2 * j + dj, 19)
                  for di in (0, 1) for dj in (0, 1))
    assert sorted(r.cell for r in kids.collect()) == want
    assert EAST_EDGE_R19 in want
