"""Sidewalk + crosswalk inference stages (SURVEY.md §2A R11-R16, R19, R20).

Reference loci (module/function level — /root/reference empty this session,
SURVEY.md §0): ``ToSidewalk.py § make_sidewalk_nodes`` (R12),
``§ make_sidewalks`` (R13), ``§ sort_nodes`` (R14),
``§ make_crosswalk_node(s)`` (R15), ``§ make_crosswalks /
connect_crosswalk_nodes / swap_nodes`` (R16), ``ToSidewalk.py § main``
union (R19), ``network.py § export`` (R20).

Sidewalk offsets and crosswalk corners are pure SQL over the gathered
vertex arrays (no python worker — BASELINE.json:16), each evaluated in
its numpy kernel twin's op order so the two stay bit-identical.  Id
assignment is a pure function of input ids (SURVEY.md §7 hard part 2), so
output is independent of partitioning and parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import sqlfns
from ..functions.sqlfns import let_sql
from ..kernel import geom
from . import network as N

SW_WAY_BASE = 1_000_000_000
SW_NODE_BASE = 1_000_000_000_000
CW_WAY_BASE = 2_000_000_000
CW_NODE_BASE = 2_000_000_000_000
SNAP_DIST_M = 8.0  # sidewalk endpoint -> crosswalk corner splice radius


def make_sidewalks(gw: DataFrame, offset_m: float = geom.SIDEWALK_OFFSET_M) -> DataFrame:
    """R12+R13: two sidewalk polylines per street way, offset +-offset_m
    perpendicular via the bisector method — pure Spark SQL, bit-identical
    to kernel.offset_polyline (r6 rewrite of the grouped-map UDF form,
    pinned equal to the kernel by tests/test_sidewalks.py).

    Why SQL: the UDF form was the ONLY python stage in the bench's
    buffers chain, so every fresh session paid the python-worker spawn +
    Arrow init (~2.6 s/session, x25 sessions across the scaling legs) and
    the groupBy(way_id) shuffle — the SQL form is a narrow projection +
    explode, no shuffle, no python (guide §4).  Bit-exactness: every op is
    IEEE exact-rounded (+,-,*,/, SQRT) or the shared Horner cos, evaluated
    in the numpy kernel's exact order — see the inline op-order notes.

    Deterministic ids: way = SW_WAY_BASE + 2*parent + side,
    node = SW_NODE_BASE + parent*20000 + side*10000 + seq."""
    M = sqlfns.M
    d = sqlfns.dlit(offset_m)
    # n < 2: no segments, so no sidewalk; node-id capacity
    # guard stays loud (ASSERT_TRUE evaluates per row, raises on overflow)
    base = (gw.filter(F.size("lats") >= 2)
            .filter(F.expr(
                "ASSERT_TRUE(SIZE(lats) < 10000, CONCAT('way ', "
                "CAST(way_id AS STRING), ': ', CAST(SIZE(lats) AS STRING), "
                "' vertices overflow the sidewalk node-id scheme')) IS NULL"))
            .select("way_id", "highway", "lats", "lngs",
                    F.size("lats").alias("_n"),
                    # scalar anchor cos(lat0) — computed once per way
                    F.expr(sqlfns.coslat_sql("ELEMENT_AT(lats, 1)")).alias("_cs")))
    # the way's equirect frame at its first vertex
    x, y = sqlfns.equirect_xy_sql("a", "g", "ELEMENT_AT(lats, 1)", "ELEMENT_AT(lngs, 1)", cs="_cs")
    xy = base.select("*", F.expr(f"TRANSFORM(lngs, g -> {x})").alias("_xs"),
                     F.expr(f"TRANSFORM(lats, a -> {y})").alias("_ys"))
    # per-segment deltas, guarded lengths, unit directions (np.diff order)
    dxy = xy.select(
        "*",
        F.expr("TRANSFORM(SEQUENCE(1, _n - 1), k -> "
               "ELEMENT_AT(_xs, k + 1) - ELEMENT_AT(_xs, k))").alias("_dxs"),
        F.expr("TRANSFORM(SEQUENCE(1, _n - 1), k -> "
               "ELEMENT_AT(_ys, k + 1) - ELEMENT_AT(_ys, k))").alias("_dys"))
    ln = dxy.select(
        "*",
        F.expr("ZIP_WITH(_dxs, _dys, (dx, dy) -> "
               "CASE WHEN SQRT(dx * dx + dy * dy) = 0.0e0 THEN 1.0e0 "
               "ELSE SQRT(dx * dx + dy * dy) END)").alias("_ls"))
    u = ln.select(
        "*",
        F.expr("ZIP_WITH(_dxs, _ls, (dx, l) -> dx / l)").alias("_uxs"),
        F.expr("ZIP_WITH(_dys, _ls, (dy, l) -> dy / l)").alias("_uys"))
    # interior bisectors: b = u[k-1] + u[k]; |b| < 1e-12 -> 1 (degenerate);
    # ENDPOINTS take u directly (NOT re-normalized — dividing a unit vector
    # by its ~1.0 norm would change low bits vs the kernel)
    ib = u.select(
        "*",
        F.expr("CASE WHEN _n > 2 THEN TRANSFORM(SEQUENCE(1, _n - 2), k -> "
               "ELEMENT_AT(_uxs, k) + ELEMENT_AT(_uxs, k + 1)) "
               "ELSE CAST(ARRAY() AS ARRAY<DOUBLE>) END").alias("_ibx"),
        F.expr("CASE WHEN _n > 2 THEN TRANSFORM(SEQUENCE(1, _n - 2), k -> "
               "ELEMENT_AT(_uys, k) + ELEMENT_AT(_uys, k + 1)) "
               "ELSE CAST(ARRAY() AS ARRAY<DOUBLE>) END").alias("_iby"))
    ibl = ib.select(
        "*",
        F.expr("ZIP_WITH(_ibx, _iby, (bx, by) -> "
               "CASE WHEN SQRT(bx * bx + by * by) < 1e-12 THEN 1.0e0 "
               "ELSE SQRT(bx * bx + by * by) END)").alias("_ibl"))
    v = ibl.select(
        "way_id", "highway", "lats", "lngs", "_n", "_cs", "_xs", "_ys",
        F.expr("CONCAT(ARRAY(ELEMENT_AT(_uxs, 1)), "
               "ZIP_WITH(_ibx, _ibl, (bx, l) -> bx / l), "
               "ARRAY(ELEMENT_AT(_uxs, _n - 1)))").alias("_vxs"),
        F.expr("CONCAT(ARRAY(ELEMENT_AT(_uys, 1)), "
               "ZIP_WITH(_iby, _ibl, (by, l) -> by / l), "
               "ARRAY(ELEMENT_AT(_uys, _n - 1)))").alias("_vys"))
    # left = rotate +90 (lx, ly) = (x - vy*d, y + vx*d); right the mirror;
    # unproject: lat0 + py / M, lng0 + px / (M * cs) — kernel op order
    offs = v.select(
        F.col("way_id").alias("_pid"), "highway", "_n",
        F.expr(f"TRANSFORM(SEQUENCE(1, _n), k -> ELEMENT_AT(lats, 1) "
               f"+ (ELEMENT_AT(_ys, k) + ELEMENT_AT(_vxs, k) * {d}) / {M})").alias("_llats"),
        F.expr(f"TRANSFORM(SEQUENCE(1, _n), k -> ELEMENT_AT(lngs, 1) "
               f"+ (ELEMENT_AT(_xs, k) - ELEMENT_AT(_vys, k) * {d}) / ({M} * _cs))").alias("_llngs"),
        F.expr(f"TRANSFORM(SEQUENCE(1, _n), k -> ELEMENT_AT(lats, 1) "
               f"+ (ELEMENT_AT(_ys, k) - ELEMENT_AT(_vxs, k) * {d}) / {M})").alias("_rlats"),
        F.expr(f"TRANSFORM(SEQUENCE(1, _n), k -> ELEMENT_AT(lngs, 1) "
               f"+ (ELEMENT_AT(_xs, k) + ELEMENT_AT(_vys, k) * {d}) / ({M} * _cs))").alias("_rlngs"))
    sided = offs.select("*", F.explode(F.expr("ARRAY(0, 1)")).alias("side"))
    return sided.select(
        F.expr(f"{SW_WAY_BASE} + 2 * _pid + side").alias("way_id"),
        F.col("_pid").alias("parent_way_id"),
        F.col("side"),
        F.expr(f"TRANSFORM(SEQUENCE(0, _n - 1), k -> "
               f"{SW_NODE_BASE} + _pid * 20000 + side * 10000 + k)").alias("node_ids"),
        F.expr("CASE WHEN side = 0 THEN _llats ELSE _rlats END").alias("lats"),
        F.expr("CASE WHEN side = 0 THEN _llngs ELSE _rlngs END").alias("lngs"),
        F.col("highway"))


# --- R14/R15/R16: crosswalks ---------------------------------------------------

def make_crosswalks(gw: DataFrame, inter: DataFrame,
                    dist_m: float = geom.CROSSWALK_OFFSET_M) -> DataFrame:
    """R14+R15+R16a: per intersection of arm-degree >= 3, sort arms CCW by
    bearing, place one corner node per adjacent arm pair on the bisector
    at dist_m, connect consecutive corners into a crosswalk ring.
    Deterministic ids: corner k of intersection n -> CW_NODE_BASE + n*100
    + k, crosswalk way k -> CW_WAY_BASE + n*100 + k; an intersection with
    more than 100 arms fails loudly instead of colliding with n + 1's ids.

    Pure Spark SQL, bit-identical to kernel.crosswalk_corners (pinned by
    tests/test_sidewalks.py).  The arms of vertex i of a way are its array
    neighbours i - 1 and i + 1, so one groupBy(node_id) gathers every
    intersection's arms; the corners are per-row array functions in the
    kernel's op order.  ``inter`` is unused: arm-degree >= 3 is decided
    here, on the arms themselves."""
    M = sqlfns.M
    d = sqlfns.dlit(dist_m)
    arm = "NAMED_STRUCT('lat', lats[{k}], 'lng', lngs[{k}])"
    verts = gw.select("lats", "lngs", F.size("lats").alias("_n"),
                      F.posexplode("node_ids").alias("_i", "node_id"))
    arms = verts.select(
        "node_id", F.expr("lats[_i]").alias("clat"), F.expr("lngs[_i]").alias("clng"),
        F.expr(f"FILTER(ARRAY(CASE WHEN _i > 0 THEN {arm.format(k='_i - 1')} END, "
               f"CASE WHEN _i < _n - 1 THEN {arm.format(k='_i + 1')} END), "
               f"a -> a IS NOT NULL)").alias("arms"))
    inters = (arms.groupBy("node_id")
              .agg(F.min("clat").alias("clat"), F.min("clng").alias("clng"),
                   F.flatten(F.collect_list("arms")).alias("arms"))
              .filter(F.size("arms") >= 3)
              .filter(F.expr(
                  "ASSERT_TRUE(SIZE(arms) <= 100, CONCAT('intersection ', "
                  "CAST(node_id AS STRING), ': ', CAST(SIZE(arms) AS STRING), "
                  "' arms overflow the crosswalk id scheme')) IS NULL"))
              .select("node_id", "clat", "clng", "arms", F.size("arms").alias("_m"),
                      F.expr(sqlfns.coslat_sql("clat")).alias("_cs")))
    # equirect_xy around the centre, then the R14 sort on atan2 (ties,
    # i.e. equal bearings, fall to x then y, as in the kernel's lexsort)
    x, y = sqlfns.equirect_xy_sql("a.lat", "a.lng", "clat", "clng", cs="_cs")
    srt = ("ARRAY_SORT(TRANSFORM(arms, a -> " + let_sql(
        f"NAMED_STRUCT('x', {x}, 'y', {y})", "p",
        "NAMED_STRUCT('ang', ATAN2(p.y, p.x), 'x', p.x, 'y', p.y)") + "))")
    # unit arm vectors; a zero-length arm divides by 1
    unit = ("TRANSFORM(srt, p -> " + let_sql(
        "CASE WHEN SQRT(p.x * p.x + p.y * p.y) = 0.0e0 THEN 1.0e0 "
        "ELSE SQRT(p.x * p.x + p.y * p.y) END", "r",
        "NAMED_STRUCT('ux', p.x / r, 'uy', p.y / r)") + ")")
    # bisector of arm k and its CCW neighbour (k + 1) % m; bl < 1e-6
    # (opposite arms) takes the perpendicular (-uy, ux) of arm k over bl = 1,
    # whose division is exact and so left out; unproject: clat + cy / M,
    # clng + cx / (M * cs)
    bis = ("NAMED_STRUCT('ux', u[k].ux, 'uy', u[k].uy, "
           "'bx', u[k].ux + u[(k + 1) % _m].ux, 'by', u[k].uy + u[(k + 1) % _m].uy)")
    corner = let_sql(bis, "v", let_sql(
        "SQRT(v.bx * v.bx + v.by * v.by)", "bl",
        f"CASE WHEN bl < 1.0e-6 THEN NAMED_STRUCT("
        f"'lat', clat + (v.ux * {d}) / {M}, 'lng', clng + (-v.uy * {d}) / ({M} * _cs)) "
        f"ELSE NAMED_STRUCT('lat', clat + (v.by / bl * {d}) / {M}, "
        f"'lng', clng + (v.bx / bl * {d}) / ({M} * _cs)) END"))
    corners = inters.select("node_id", "_m", F.expr(let_sql(srt, "srt", let_sql(
        unit, "u", f"TRANSFORM(SEQUENCE(0, _m - 1), k -> {corner})"))).alias("_c"))
    ring = corners.select("node_id", "_m", "_c", F.posexplode("_c").alias("k", "c"))
    return ring.select(
        F.expr(f"{CW_WAY_BASE} + node_id * 100 + k").alias("way_id"),
        F.col("node_id").alias("intersection_node_id"),
        F.expr(f"ARRAY({CW_NODE_BASE} + node_id * 100 + k, "
               f"{CW_NODE_BASE} + node_id * 100 + (k + 1) % _m)").alias("node_ids"),
        F.expr("ARRAY(c.lat, _c[(k + 1) % _m].lat)").alias("lats"),
        F.expr("ARRAY(c.lng, _c[(k + 1) % _m].lng)").alias("lngs"))


def crosswalk_corner_nodes(crosswalks: DataFrame) -> DataFrame:
    """Corner-node table derived from crosswalk ways (first vertex of each
    ring way is a distinct corner)."""
    return crosswalks.select(
        F.element_at("node_ids", 1).alias("corner_id"),
        F.element_at("lats", 1).alias("corner_lat"),
        F.element_at("lngs", 1).alias("corner_lng"),
    ).distinct()


def rewire_sidewalk_endpoints(sidewalks: DataFrame, corners: DataFrame,
                              snap_m: float = SNAP_DIST_M) -> DataFrame:
    """R16b (reference ``swap_nodes``): splice each sidewalk endpoint onto
    its nearest crosswalk corner within snap_m.  Cell-bucketed candidate
    join (res 13 disk-1 covers the snap radius) -> nearest corner per
    endpoint via top-1 window -> conditional array rewrite in SQL (no UDF)."""
    res = 13
    ends = sidewalks.select(
        "way_id",
        F.explode(F.array(
            F.struct(F.lit(0).alias("pos"),
                     F.element_at("lats", 1).alias("elat"), F.element_at("lngs", 1).alias("elng")),
            F.struct(F.lit(1).alias("pos"),
                     F.element_at("lats", -1).alias("elat"), F.element_at("lngs", -1).alias("elng")),
        )).alias("e")
    ).select("way_id", F.col("e.pos").alias("pos"),
             F.col("e.elat").alias("elat"), F.col("e.elng").alias("elng"))
    j, i = sqlfns.lattice_sql("elat", "elng", res)
    ends_cells = (ends.select("*", F.expr(j).alias("_j"), F.expr(i).alias("_i"))
                  .withColumn("cell", F.explode(F.expr(sqlfns.disk_sql("_j", "_i", res, 1)))))
    corner_cells = corners.withColumn(
        "cell", F.expr(sqlfns.cell_sql("corner_lat", "corner_lng", res)))
    cand = (ends_cells.join(corner_cells, "cell")
            .withColumn("dist_m", F.expr(sqlfns.haversine_sql(
                "elat", "elng", "corner_lat", "corner_lng")))
            .filter(F.col("dist_m") <= snap_m))
    top = Window.partitionBy("way_id", "pos").orderBy("dist_m", "corner_id")
    best = (cand.withColumn("rk", F.row_number().over(top)).filter("rk = 1")
            .select("way_id", "pos", "corner_id", "corner_lat", "corner_lng"))
    starts = best.filter("pos = 0").select(
        "way_id", F.col("corner_id").alias("s_id"),
        F.col("corner_lat").alias("s_lat"), F.col("corner_lng").alias("s_lng"))
    finals = best.filter("pos = 1").select(
        "way_id", F.col("corner_id").alias("e_id"),
        F.col("corner_lat").alias("e_lat"), F.col("corner_lng").alias("e_lng"))
    sw = sidewalks.join(starts, "way_id", "left").join(finals, "way_id", "left")

    def rewrite(col, first, last):
        n = f"SIZE({col})"
        return F.expr(
            f"TRANSFORM({col}, (x, i) -> CASE WHEN i = 0 AND {first} IS NOT NULL THEN {first} "
            f"WHEN i = {n} - 1 AND {last} IS NOT NULL THEN {last} ELSE x END)")

    return sw.select(
        "way_id", "parent_way_id", "side",
        rewrite("node_ids", "s_id", "e_id").alias("node_ids"),
        rewrite("lats", "s_lat", "e_lat").alias("lats"),
        rewrite("lngs", "s_lng", "e_lng").alias("lngs"),
        "highway",
    )


# --- R19 network union -----------------------------------------------------------

def union_network(streets_gw: DataFrame, sidewalks: DataFrame,
                  crosswalks: DataFrame) -> DataFrame:
    """R19: final network = streets U sidewalks U crosswalks with a kind
    discriminator; unified schema (way_id, kind, highway, node_ids, lats,
    lngs)."""
    s = streets_gw.select("way_id", F.lit("street").alias("kind"), "highway",
                          "node_ids", "lats", "lngs")
    sw = sidewalks.select("way_id", F.lit("sidewalk").alias("kind"), "highway",
                          "node_ids", "lats", "lngs")
    cw = crosswalks.select("way_id", F.lit("crosswalk").alias("kind"),
                           F.lit("crossing").alias("highway"), "node_ids", "lats", "lngs")
    return s.unionByName(sw).unionByName(cw)


# --- R20 GeoJSON export ------------------------------------------------------------

def to_geojson_features(net: DataFrame, precision: int = 6) -> DataFrame:
    """R20: one canonical GeoJSON LineString Feature per way (rounded to
    ``precision`` decimals, fixed key order via struct field order) —
    written with df.write.text by callers."""
    coords = F.expr(
        f"TRANSFORM(ARRAYS_ZIP(lngs, lats), c -> ARRAY(ROUND(c.lngs, {precision}), ROUND(c.lats, {precision})))")
    feature = F.to_json(F.struct(
        F.lit("Feature").alias("type"),
        F.struct(
            F.col("way_id").alias("id"), F.col("kind").alias("kind"),
            F.col("highway").alias("highway")).alias("properties"),
        F.struct(
            F.lit("LineString").alias("type"),
            coords.alias("coordinates")).alias("geometry"),
    ))
    return net.select(F.col("way_id"), feature.alias("feature"))


def to_geojson_canonical(net: DataFrame, precision: int = 6) -> DataFrame:
    """R20 in oracle-checkable canonical form: the Feature JSON built with
    explicit %.{p}f fixed-point floats (C-printf semantics in BOTH Spark's
    format_string and DuckDB's printf) and fixed key order, so golden /
    cross-engine comparisons are byte-exact.  to_geojson_features (to_json)
    remains the production sink; this form freezes the float formatting
    that the reference's export golden tests pin down."""
    pt = (f"CONCAT('[', FORMAT_STRING('%.{precision}f', c.lngs), ',', "
          f"FORMAT_STRING('%.{precision}f', c.lats), ']')")
    coords = f"CONCAT_WS(',', TRANSFORM(ARRAYS_ZIP(lngs, lats), c -> {pt}))"
    feature = F.expr(
        "CONCAT('{\"type\":\"Feature\",\"properties\":{\"id\":', CAST(way_id AS STRING), "
        "',\"kind\":\"', kind, '\",\"highway\":\"', highway, "
        "'\"},\"geometry\":{\"type\":\"LineString\",\"coordinates\":[', "
        + coords + ", ']}}')")
    return net.select("way_id", feature.alias("feature"))
