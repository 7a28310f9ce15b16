"""Deterministic synthetic sources, generated Spark-natively.

Everything here is built from ``spark.range(n)`` + JVM-side expressions
(no driver-side lists, no RNG) so the same code scales from the 1k-row
smoke tables to the 10^12-row production shape: generation is a narrow
map over a splittable range, Catalyst prunes and pushes down as usual.

Shapes follow FIXTURES.md §1 exactly; the pages table matches the
input_hint schema (url, warc_ts, html, text, lang) verbatim
[BASELINE.json:16].
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import sqlfns

CITY_LAT = 47.60
CITY_LNG = -122.33
GRID_SPACING_M = 90.0
LAT_STEP = GRID_SPACING_M / 111111.0
LNG_STEP = GRID_SPACING_M / (111111.0 * math.cos(math.radians(CITY_LAT)))
HIGHWAYS = ["residential", "primary", "secondary", "tertiary"]
N_ENTITIES = 400  # distinct poi_k entities

_FILLER_REPEATS = 60
# the 97 distinct ~1.5 KB fillers as LITERALS: building them per row with
# REPEAT+CONCAT+RTRIM costs ~4 large allocations per page, which is the
# single worst scaler on a shared-memory box (allocation-rate bound at 32
# threads); a constant array costs one lookup + one final concat per row.
# Byte-identical to the r1 expression
# RTRIM(REPEAT(CONCAT('filler segment ', k, ' of page text corpus '), 60)).
_FILLERS = [
    ("".join(f"filler segment {k} of page text corpus " for _ in range(_FILLER_REPEATS))).rstrip()
    for k in range(97)
]


def pages(spark: SparkSession, n: int) -> DataFrame:
    """Common-Crawl-style pages table (FIXTURES.md §1 'pages').  The body
    carries ~1.5 KB of deterministic filler so per-page work (extraction,
    tokenization) is representative of real web pages, not 60-byte stubs."""
    ent = f"CONCAT('poi_', CAST((id * 7) % {N_ENTITIES} AS STRING))"
    filler_arr = "ARRAY(" + ",".join("'" + f + "'" for f in _FILLERS) + ")"
    filler = f"ELEMENT_AT({filler_arr}, CAST(id % 97 AS INT) + 1)"
    text = (f"CONCAT('visit ', {ent}, ' near block ', CAST(id % 1000 AS STRING), "
            f"' in sector ', CAST(id % 37 AS STRING), ' ', {filler})")
    return spark.range(n).select(
        F.expr("CONCAT('https://site', CAST(id % 997 AS STRING), '.example/p/', CAST(id AS STRING))").alias("url"),
        F.expr("TIMESTAMP '2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id * 137)").alias("warc_ts"),
        F.expr(f"CAST(CONCAT('<html><body><p>', {text}, '</p></body></html>') AS BINARY)").alias("html"),
        F.expr(text).alias("text"),
        F.expr("ELEMENT_AT(ARRAY('en','de','fr','es'), CAST(id % 4 AS INT) + 1)").alias("lang"),
    )


def entity_latlng_sql(entity: str) -> tuple[str, str]:
    """Deterministic geocode of an entity string (FIXTURES.md §1):
    lat/lng = city center +- hash-derived jitter within ~0.01 deg."""
    h1 = sqlfns.polyhash_spark(entity)
    h2 = sqlfns.polyhash_spark(f"CONCAT({entity}, 'x')")
    lat = f"(47.60e0 + ((({h1}) % 20000) - 10000) * 1e-6)"
    lng = f"(-122.33e0 + ((({h2}) % 20000) - 10000) * 1e-6)"
    return lat, lng


def entity_latlng_sql_duckdb(entity: str) -> tuple[str, str]:
    h1 = sqlfns.polyhash_duckdb(entity)
    h2 = sqlfns.polyhash_duckdb(f"CONCAT({entity}, 'x')")
    lat = f"(47.60e0 + ((({h1}) % 20000) - 10000) * 1e-6)"
    lng = f"(-122.33e0 + ((({h2}) % 20000) - 10000) * 1e-6)"
    return lat, lng


def _geocode_from_entity(df: DataFrame) -> DataFrame:
    """(url, entity) -> + lat, lng, cell9.  Staged projections: the
    expensive polynomial hash is computed ONCE per row in its own Project
    (Catalyst keeps non-cheap expressions un-inlined across projects);
    inlining the full templates into one select re-evaluates the hash 4x —
    measured 10x slower.  The lambda fold beat a CASE-unrolled variant
    (one straight-line fold per string length) 2.7x at 10M rows, so the
    HOF stays; consumers that need codegen-heavy stages downstream should
    materialize this output (bench persists it).  Values identical to the
    DuckDB twin."""
    h = df.select(
        "url", "entity",
        F.expr(sqlfns.polyhash_spark("entity")).alias("h1"))
    # h2 = poly(entity || 'x') derived ALGEBRAICALLY from h1: the fold is
    # linear, hash(s || c) = (hash(s)*31 + ord(c)) % P — bit-identical to
    # re-hashing and halves the dominant per-row cost (the HOF hash is both
    # the most expensive and the worst-scaling expression in the chain)
    h = h.withColumn("h2", F.expr(f"(h1 * 31 + 120) % {sqlfns.HASH_P}"))
    lat = "(47.60e0 + ((h1 % 20000) - 10000) * 1e-6)"
    lng = "(-122.33e0 + ((h2 % 20000) - 10000) * 1e-6)"
    return h.selectExpr(
        "url", "entity", f"{lat} AS lat", f"{lng} AS lng",
        f"{sqlfns.cell_sql(lat, lng, 9)} AS cell9")


def geo_entities(spark: SparkSession, pages_df: DataFrame) -> DataFrame:
    """Extract entity mentions from page text and geocode them (G3).
    Deterministic hash-geocoder; cell id via the shared SQL template so the
    DuckDB oracle can reproduce it bit-for-bit."""
    ent_df = pages_df.select(
        "url", F.expr("REGEXP_EXTRACT(text, 'poi_[0-9]+', 0)").alias("entity"))
    return _geocode_from_entity(ent_df)


def geo_entities_from_documents(docs: DataFrame) -> DataFrame:
    """Pages-proxy geo entities derived from the driver's read-only
    ``documents`` table (FIXTURES.md §4): url/entity/lat/lng/cell9 are all
    pure SQL functions of doc_id, so the DuckDB oracle can reproduce every
    row bit-for-bit (geo_entities_duckdb_sql below is the twin)."""
    ent_df = docs.select(
        F.expr("CONCAT('https://site', CAST(doc_id % 997 AS STRING), '.example/p/', CAST(doc_id AS STRING))").alias("url"),
        F.expr(f"CONCAT('poi_', CAST((doc_id * 7) % {N_ENTITIES} AS STRING))").alias("entity"),
    )
    return _geocode_from_entity(ent_df)


def geo_entities_duckdb_sql() -> str:
    """DuckDB twin of geo_entities_from_documents: a SELECT over the
    pre-registered ``documents`` view producing identical rows."""
    ent = f"CONCAT('poi_', CAST((doc_id * 7) % {N_ENTITIES} AS VARCHAR))"
    lat, lng = entity_latlng_sql_duckdb(ent)
    return (
        f"SELECT CONCAT('https://site', CAST(doc_id % 997 AS VARCHAR), '.example/p/', CAST(doc_id AS VARCHAR)) AS url, "
        f"{ent} AS entity, {lat} AS lat, {lng} AS lng, "
        f"{sqlfns.cell_sql(lat, lng, 9)} AS cell9 FROM documents"
    )


def osm_grid(spark: SparkSession, g: int = 8, with_noise_ways: bool = True
             ) -> tuple[DataFrame, DataFrame]:
    """Grid-city street network (FIXTURES.md §1 'osm_nodes/osm_ways'):
    g x g intersections spaced 90 m; one long way per row and per column
    (so R5 must split them at interior intersections); a sprinkling of
    footway/service ways the R1 whitelist filter must drop.

    node_id = j * g + i;  horizontal way j has id j, vertical way i has
    id g + i; noise ways get ids >= 2 * g.  All Spark-native.
    """
    nodes = spark.range(g * g).select(
        F.col("id").alias("node_id"),
        (F.lit(CITY_LAT) + (F.col("id") / g).cast("bigint") * F.lit(LAT_STEP)).alias("lat"),
        (F.lit(CITY_LNG) + (F.col("id") % g) * F.lit(LNG_STEP)).alias("lng"),
        F.create_map(F.lit("src"), F.lit("grid")).alias("tags"),
    )
    hw = F.element_at(F.array(*[F.lit(h) for h in HIGHWAYS]), (F.col("id") % 4 + 1).cast("int"))
    horiz = spark.range(g).select(
        F.col("id").alias("way_id"),
        F.expr(f"TRANSFORM(SEQUENCE(0, {g - 1}), i -> id * {g} + i)").alias("node_ids"),
        hw.alias("highway"),
        F.create_map(F.lit("name"), F.concat(F.lit("H-"), F.col("id").cast("string"))).alias("tags"),
    )
    vert = spark.range(g).select(
        (F.col("id") + g).alias("way_id"),
        F.expr(f"TRANSFORM(SEQUENCE(0, {g - 1}), j -> j * {g} + id)").alias("node_ids"),
        hw.alias("highway"),
        F.create_map(F.lit("name"), F.concat(F.lit("V-"), F.col("id").cast("string"))).alias("tags"),
    )
    ways = horiz.unionByName(vert)
    if with_noise_ways:
        noise = spark.range(g).select(
            (F.col("id") + 2 * g).alias("way_id"),
            F.expr(f"ARRAY(id * {g}, id * {g} + 1)").alias("node_ids"),
            F.expr("ELEMENT_AT(ARRAY('footway','service'), CAST(id % 2 AS INT) + 1)").alias("highway"),
            F.create_map(F.lit("name"), F.lit("noise")).alias("tags"),
        )
        ways = ways.unionByName(noise)
    return nodes, ways


# --------------------------------------------------------------------------
# Oracle-city generators: Spark-native synthetic networks whose geometry has
# a closed DuckDB form (every coordinate is the SAME literal arithmetic in
# both engines, so driver value-hash comparisons are bit-exact).  These back
# the R4/R6/R7/R8/R17/R20 CORRECTNESS entries (VERDICT.md r1 'Next round' #3).
# --------------------------------------------------------------------------

PC_PAIRS = 12
PC_PITCH_DEG = 150.0 / (111111.0 * math.cos(math.radians(CITY_LAT)))  # pair spacing
# sep(p) = 4.5 + 2p m: the top DETECTABLE pair (p=10) sits at 24.5 m —
# 0.5 m inside the 25 m threshold — and the first undetectable (p=11) at
# 26.5 m.  The round-2 base of 5.0 put p=10 at a nominal 25.0 m, where
# sub-mm poly-cos float effects decided oracle membership (ADVICE.md r2).
PC_SEP_BASE_DEG = 4.5 / (111111.0 * math.cos(math.radians(CITY_LAT)))
PC_SEP_STEP_DEG = 2.0 / (111111.0 * math.cos(math.radians(CITY_LAT)))
PC_DY_DEG = 100.0 / 111111.0  # vertex spacing along each lane


def parallel_city_lng_sql(p: str, side: str) -> str:
    """Longitude of lane (pair p, side 0/1) — shared Spark/DuckDB template."""
    from ..functions import sqlfns as S
    return (f"(-122.33e0 + ({p}) * {S.dlit(PC_PITCH_DEG)} + ({side}) * "
            f"({S.dlit(PC_SEP_BASE_DEG)} + ({p}) * {S.dlit(PC_SEP_STEP_DEG)}))")


def parallel_city_gw(spark: SparkSession) -> DataFrame:
    """R6/R7 oracle city: PC_PAIRS pairs of 3-vertex N-S lanes; pair p's
    lanes (way ids 2p, 2p+1) are separated 4.5 + 2p meters in longitude, so
    pairs up to p=10 (24.5 m) are parallel-detectable with a 0.5 m margin
    and p=11 (26.5 m) is not, with a 1.5 m margin.  Pairs sit 150 m apart —
    far beyond the detection threshold."""
    dy = sqlfns.dlit(PC_DY_DEG)
    lng = parallel_city_lng_sql("id DIV 2", "id % 2")
    return spark.range(2 * PC_PAIRS).select(
        F.col("id").alias("way_id"),
        F.expr("TRANSFORM(SEQUENCE(0, 2), k -> id * 10 + k)").alias("node_ids"),
        F.expr(f"TRANSFORM(SEQUENCE(0, 2), k -> 47.6e0 + k * {dy})").alias("lats"),
        F.expr(f"TRANSFORM(SEQUENCE(0, 2), k -> {lng})").alias("lngs"),
        F.lit("primary").alias("highway"),
    )


def segmented_grid_ways(spark: SparkSession, g: int = 8) -> DataFrame:
    """R4 oracle city: every horizontal grid row arrives as g-1 two-vertex
    fragments (way j*(g-1)+k spans nodes j*g+k .. j*g+k+1); no vertical
    ways, so every interior endpoint joins exactly two same-class fragments
    and R4 must merge each row back into one g-vertex way (id = min
    fragment id, oriented from the smallest terminal node)."""
    return spark.range(g * (g - 1)).select(
        F.col("id").alias("way_id"),
        F.expr(f"ARRAY((id DIV {g - 1}) * {g} + id % {g - 1}, "
               f"(id DIV {g - 1}) * {g} + id % {g - 1} + 1)").alias("node_ids"),
        F.lit("residential").alias("highway"),
        F.create_map(F.lit("src"), F.lit("segmented_grid")).alias("tags"),
    )


def twin_grid(spark: SparkSession, g: int = 8,
              offset_m: float = 3.0) -> tuple[DataFrame, DataFrame]:
    """R8 oracle city: the g x g grid nodes plus a twin of each node
    offset_m north (id + 100000); horizontal ways reference originals,
    vertical ways reference twins.  merge_nodes must collapse each twin
    into its original (min id) and rewrite the vertical ways."""
    d = sqlfns.dlit(offset_m / 111111.0)
    base = spark.range(g * g).select(
        F.col("id").alias("node_id"),
        (F.lit(CITY_LAT) + (F.col("id") / g).cast("bigint") * F.lit(LAT_STEP)).alias("lat"),
        (F.lit(CITY_LNG) + (F.col("id") % g) * F.lit(LNG_STEP)).alias("lng"),
        F.create_map(F.lit("src"), F.lit("twin_grid")).alias("tags"))
    twins = base.select(
        (F.col("node_id") + 100_000).alias("node_id"),
        F.expr(f"lat + {d}").alias("lat"), "lng", "tags")
    nodes = base.unionByName(twins)
    horiz = spark.range(g).select(
        F.col("id").alias("way_id"),
        F.expr(f"TRANSFORM(SEQUENCE(0, {g - 1}), i -> id * {g} + i)").alias("node_ids"),
        F.lit("residential").alias("highway"),
        F.create_map(F.lit("src"), F.lit("twin_grid")).alias("tags"))
    vert = spark.range(g).select(
        (F.col("id") + g).alias("way_id"),
        F.expr(f"TRANSFORM(SEQUENCE(0, {g - 1}), j -> j * {g} + id + 100000)").alias("node_ids"),
        F.lit("residential").alias("highway"),
        F.create_map(F.lit("src"), F.lit("twin_grid")).alias("tags"))
    return nodes, horiz.unionByName(vert)


ZZ_WAYS = 8
ZZ_M = 9           # vertices per way
ZZ_DY_DEG = 10.0 / 111111.0
ZZ_WIGGLE_DEG = 1e-9  # ~7.5e-5 m — far below the 0.5 m DP tolerance


def zigzag_city(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """R17 oracle city: ZZ_WAYS vertical ways of ZZ_M near-collinear
    vertices (alternate vertices wiggle 1e-9 deg east); Douglas-Peucker at
    0.5 m must keep exactly the two endpoints of every way."""
    dy = sqlfns.dlit(ZZ_DY_DEG)
    wig = sqlfns.dlit(ZZ_WIGGLE_DEG)
    nodes = spark.range(ZZ_WAYS * ZZ_M).select(
        F.col("id").alias("node_id"),
        F.expr(f"47.6e0 + (id % {ZZ_M}) * {dy}").alias("lat"),
        F.expr(f"-122.33e0 + (id DIV {ZZ_M}) * {sqlfns.dlit(LNG_STEP)} "
               f"+ (id % 2) * {wig}").alias("lng"),
        F.create_map(F.lit("src"), F.lit("zigzag_city")).alias("tags"))
    ways = spark.range(ZZ_WAYS).select(
        F.col("id").alias("way_id"),
        F.expr(f"TRANSFORM(SEQUENCE(0, {ZZ_M - 1}), k -> id * {ZZ_M} + k)").alias("node_ids"),
        F.lit("residential").alias("highway"),
        F.create_map(F.lit("src"), F.lit("zigzag_city")).alias("tags"))
    return nodes, ways


CROSS_DLAT = 90.0 / 111111.0
CROSS_DLNG = 90.0 / (111111.0 * math.cos(math.radians(CITY_LAT)))


def cross_city_gw(spark: SparkSession) -> DataFrame:
    """R14/R15/R16 oracle city: ONE 4-way intersection — two 3-vertex ways
    crossing at the center node (id 1).  The four arms are exactly axis-
    aligned, so the arm unit vectors are EXACT (+-1, 0)/(0, +-1) doubles
    and the crosswalk corner coordinates have a closed form:
    center +- ((1/sqrt(2)) * CROSSWALK_OFFSET) in each axis."""
    dlat = sqlfns.dlit(CROSS_DLAT)
    dlng = sqlfns.dlit(CROSS_DLNG)
    h = spark.range(1).select(
        F.lit(0).cast("long").alias("way_id"),
        F.expr("ARRAY(CAST(10 AS BIGINT), CAST(1 AS BIGINT), CAST(11 AS BIGINT))").alias("node_ids"),
        F.expr("ARRAY(47.6e0, 47.6e0, 47.6e0)").alias("lats"),
        F.expr(f"ARRAY(-122.33e0 - {dlng}, -122.33e0, -122.33e0 + {dlng})").alias("lngs"),
        F.lit("residential").alias("highway"))
    v = spark.range(1).select(
        F.lit(1).cast("long").alias("way_id"),
        F.expr("ARRAY(CAST(12 AS BIGINT), CAST(1 AS BIGINT), CAST(13 AS BIGINT))").alias("node_ids"),
        F.expr(f"ARRAY(47.6e0 - {dlat}, 47.6e0, 47.6e0 + {dlat})").alias("lats"),
        F.expr("ARRAY(-122.33e0, -122.33e0, -122.33e0)").alias("lngs"),
        F.lit("residential").alias("highway"))
    return h.unionByName(v)


DIAG_WAYS = 48
DIAG_LEN_DEG = 700.0 / 111111.0       # diagonal extent (lat); same meters in lng
DIAG_LEN_LNG_DEG = 700.0 / (111111.0 * math.cos(math.radians(CITY_LAT)))
# strips every 30 m in lng => perpendicular pitch ~21 m < the 24 m buffer
# width, so the strips tile the whole bbox and every oracle point is inside
# at least one rotated rectangle (non-vacuous check)
DIAG_STEP_LNG_DEG = 30.0 / (111111.0 * math.cos(math.radians(CITY_LAT)))
DIAG_LNG0 = "-122.3398e0"  # west enough that the NE-running strips still
                           # cover the bbox's west edge at its top latitude


def diag_city_gw(spark: SparkSession) -> DataFrame:
    """Rotated-street city for the non-axis-aligned PIP oracle
    (g4_pip_join_rot, VERDICT.md r1 'What's wrong' #7): DIAG_WAYS 2-vertex
    ways at ~45 deg crossing the oracle points bbox — their buffers are
    rotated rectangles, so the engine's ray-cast refine is exercised on
    genuinely diagonal edges."""
    lng0 = f"({DIAG_LNG0} + id * {sqlfns.dlit(DIAG_STEP_LNG_DEG)})"
    return spark.range(DIAG_WAYS).select(
        F.col("id").alias("way_id"),
        F.expr("ARRAY(id * 10, id * 10 + 1)").alias("node_ids"),
        F.expr(f"ARRAY(47.5995e0, 47.5995e0 + {sqlfns.dlit(DIAG_LEN_DEG)})").alias("lats"),
        F.expr(f"ARRAY({lng0}, {lng0} + {sqlfns.dlit(DIAG_LEN_LNG_DEG)})").alias("lngs"),
        F.lit("primary").alias("highway"),
    )


RW_WAYS = 24
RW_DY_DEG = 40.0 / 111111.0   # sidewalk vertex spacing (3 vertices, going N)
RW_DX_DEG = 30.0 / (111111.0 * math.cos(math.radians(CITY_LAT)))  # way pitch


def rewire_city_lng_sql(w: str) -> str:
    """Longitude of rewire-city way ``w`` — shared Spark/DuckDB template."""
    return f"(-122.33e0 + ({w}) * {sqlfns.dlit(RW_DX_DEG)})"


def rewire_city_start_corner_lat_sql(w: str) -> str:
    """Latitude of the corner placed south of way ``w``'s START endpoint:
    2..6 m away (snaps, unique nearest — the next corner is a full 30 m
    pitch away) except every third way, whose corner sits 9.5 m away —
    beyond the 8 m snap radius, so that endpoint must NOT rewire."""
    d = f"(CASE WHEN ({w}) % 3 = 2 THEN 9.5e0 ELSE 2.0e0 + (({w}) % 5) END)"
    return f"(47.6e0 - {d} / 111111.0e0)"


def rewire_city_end_corner_lat_sql(w: str) -> str:
    """Latitude of the corner placed 1..4 m north of way ``w``'s END
    endpoint (only even ways get one — odd ways exercise the no-corner
    left-join path)."""
    return (f"(47.6e0 + 2.0e0 * {sqlfns.dlit(RW_DY_DEG)} "
            f"+ (1.0e0 + (({w}) % 4)) / 111111.0e0)")


def rewire_city_sidewalks(spark: SparkSession) -> DataFrame:
    """R16b oracle city (sidewalk side): RW_WAYS 3-vertex N-S sidewalk-
    shaped ways, 30 m apart in longitude, node ids w*10+k.  Feeds
    operators.sidewalks.rewire_sidewalk_endpoints directly, isolating the
    endpoint-splice operator from the corner-placement geometry (whose
    atan2-based bisectors have no bit-exact SQL twin on general arms)."""
    lng = rewire_city_lng_sql("id")
    return spark.range(RW_WAYS).select(
        F.col("id").alias("way_id"),
        F.col("id").alias("parent_way_id"),
        F.lit(0).alias("side"),
        F.expr("TRANSFORM(SEQUENCE(0, 2), k -> id * 10 + k)").alias("node_ids"),
        F.expr(f"TRANSFORM(SEQUENCE(0, 2), k -> 47.6e0 + k * {sqlfns.dlit(RW_DY_DEG)})").alias("lats"),
        F.expr(f"TRANSFORM(SEQUENCE(0, 2), k -> {lng})").alias("lngs"),
        F.lit("residential").alias("highway"))


def rewire_city_corners(spark: SparkSession) -> DataFrame:
    """R16b oracle city (corner side): one start corner per way (id
    5000+w; 9.5 m away — unsnappable — for w%3==2) and one end corner for
    even ways (id 6000+w)."""
    start = spark.range(RW_WAYS).select(
        (F.col("id") + 5000).alias("corner_id"),
        F.expr(rewire_city_start_corner_lat_sql("id")).alias("corner_lat"),
        F.expr(rewire_city_lng_sql("id")).alias("corner_lng"))
    end = spark.range(RW_WAYS).filter("id % 2 = 0").select(
        (F.col("id") + 6000).alias("corner_id"),
        F.expr(rewire_city_end_corner_lat_sql("id")).alias("corner_lat"),
        F.expr(rewire_city_lng_sql("id")).alias("corner_lng"))
    return start.unionByName(end)


def micro_fixture(spark: SparkSession, name: str) -> tuple[DataFrame, DataFrame]:
    """Tiny hand-built networks mirroring the reference test families
    (FIXTURES.md §2).  Test-only — driver-side literals are fine here."""
    def mk(nodes, ways):
        ndf = spark.createDataFrame(nodes, "node_id bigint, lat double, lng double")
        ndf = ndf.withColumn("tags", F.create_map(F.lit("src"), F.lit(name)))
        wdf = spark.createDataFrame(ways, "way_id bigint, node_ids array<bigint>, highway string")
        wdf = wdf.withColumn("tags", F.create_map(F.lit("name"), F.lit(name)))
        return ndf, wdf

    lat0, lng0 = 47.600, -122.330
    dy, dx = 0.0009, 0.00133  # ~100 m steps
    if name == "straight3":
        return mk([(1, lat0, lng0), (2, lat0 + dy, lng0), (3, lat0 + 2 * dy, lng0)],
                  [(1, [1, 2, 3], "residential")])
    if name == "bent3":
        return mk([(1, lat0, lng0), (2, lat0 + dy, lng0), (3, lat0 + dy, lng0 + dx)],
                  [(1, [1, 2, 3], "residential")])
    if name == "t_intersection":
        return mk([(1, lat0, lng0), (2, lat0 + dy, lng0), (3, lat0 + 2 * dy, lng0),
                   (4, lat0 + dy, lng0 + dx)],
                  [(1, [1, 2], "residential"), (2, [2, 3], "residential"),
                   (3, [2, 4], "primary")])
    if name == "four_way":
        return mk([(1, lat0 + dy, lng0), (2, lat0, lng0), (3, lat0 + 2 * dy, lng0),
                   (4, lat0 + dy, lng0 - dx), (5, lat0 + dy, lng0 + dx)],
                  [(1, [2, 1], "residential"), (2, [1, 3], "residential"),
                   (3, [4, 1], "primary"), (4, [1, 5], "primary")])
    if name == "segmented_street":
        return mk([(1, lat0, lng0), (2, lat0 + dy, lng0), (3, lat0 + 2 * dy, lng0)],
                  [(1, [1, 2], "residential"), (2, [2, 3], "residential")])
    if name == "split_street":
        return mk([(1, lat0, lng0), (2, lat0 + dy, lng0), (3, lat0 + 2 * dy, lng0),
                   (4, lat0 + 3 * dy, lng0), (5, lat0 + 4 * dy, lng0),
                   (6, lat0 + dy, lng0 + dx), (7, lat0 + 3 * dy, lng0 + dx)],
                  [(1, [1, 2, 3, 4, 5], "primary"),
                   (2, [2, 6], "residential"), (3, [4, 7], "residential")])
    if name == "parallel_lanes":
        off = 18.0 / (111111.0 * math.cos(math.radians(lat0)))
        return mk([(1, lat0, lng0), (2, lat0 + dy, lng0), (3, lat0 + 2 * dy, lng0),
                   (4, lat0, lng0 + off), (5, lat0 + dy, lng0 + off), (6, lat0 + 2 * dy, lng0 + off)],
                  [(1, [1, 2, 3], "primary"), (2, [4, 5, 6], "primary")])
    if name == "parallel_lanes_ns":
        # two N-S lanes ~24 m apart in LONGITUDE, deliberately straddling a
        # res-11 cell column boundary — the round-1 candidate cover expanded
        # only latitude and silently missed these (ADVICE.md r1 high)
        s11 = 360.0 / 2 ** 20
        off = 24.0 / (111111.0 * math.cos(math.radians(lat0)))
        col_edge = (math.floor((lng0 + 180.0) / s11) + 1) * s11 - 180.0
        g0 = col_edge - 0.4 * off
        g1 = g0 + off
        return mk([(1, lat0, g0), (2, lat0 + dy, g0), (3, lat0 + 2 * dy, g0),
                   (4, lat0, g1), (5, lat0 + dy, g1), (6, lat0 + 2 * dy, g1)],
                  [(1, [1, 2, 3], "primary"), (2, [4, 5, 6], "primary")])
    if name == "near_nodes":
        eps = 3.0 / 111111.0
        return mk([(1, lat0, lng0), (2, lat0 + dy, lng0),
                   (3, lat0 + dy + eps, lng0), (4, lat0 + 2 * dy, lng0)],
                  [(1, [1, 2], "residential"), (2, [3, 4], "residential")])
    if name == "shortstub":
        eps = 4.0 / 111111.0
        return mk([(1, lat0, lng0), (2, lat0 + eps, lng0)],
                  [(1, [1, 2], "residential")])
    if name == "zigzag_redundant":
        rows, wig = [], 1e-9
        for k in range(10):
            rows.append((k + 1, lat0 + k * 1e-4, lng0 + (wig if k % 2 else 0.0)))
        return mk(rows, [(1, [k + 1 for k in range(10)], "residential")])
    raise KeyError(name)
