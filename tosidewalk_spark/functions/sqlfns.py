"""Shared SQL expression templates — the bridge between the Spark engine
and the DuckDB oracle.

Each template here is a single ANSI-SQL string formatted with column
references and used BOTH as a Spark ``F.expr(...)`` (JVM-side, whole-stage
codegen — the fast path per the north rule) and verbatim inside the
``oracle_sql()`` strings that DuckDB runs.  One template, two engines =>
bit-identical arithmetic, which is what makes the driver's value-hash
comparison pass without tolerance hacks.

Kernel twins: cells.cell == cell_sql, cells.cell_res/cell_ij ==
cell_decode_sql, cells.pack_ij == cell_pack_sql, cells.disk == disk_sql,
geom.haversine_m == haversine_sql, geom.point_segment_dist_m ==
seg_dist_sql, cells.hash63 == polyhash.  The packed cell-id layout
(res·2^56 + j·2^28 + i) is spelled here and in kernel/cells.py only;
operators and oracle twins go through the cell_* / lattice / disk
templates.
Unit tests in tests/test_sqlfns.py check numpy-vs-Spark-vs-DuckDB equality.
"""

from __future__ import annotations

from ..kernel import cells as _cells

POW2_56 = 72057594037927936  # 2**56
POW2_28 = 268435456          # 2**28
HASH_P = _cells.HASH_P


def dlit(x: float) -> str:
    """Emit a float as a DOUBLE literal valid in both Spark and DuckDB.
    Plain fractional literals parse as DECIMAL in both engines (and chained
    DECIMAL multiplication overflows DuckDB's max scale), so force exponent
    notation — exponent literals are DOUBLE everywhere."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s) else s + "e0"


M = "111111.0e0"
EARTH_R = "6371009.0e0"


def cell_decode_sql(cell: str) -> tuple[str, str, str]:
    """(res, j, i) fields of a packed cell id — mirror of kernel.cells
    cell_res / cell_ij.  ``res`` is INT, ``j`` and ``i`` BIGINT.  The one
    division both engines spell alike is a DOUBLE division, so each field
    is isolated by modulo BEFORE dividing: the numerators res·2^56 and
    j·2^28 have at most 28 significant bits and divide exactly.  (Dividing
    ``cell % 2^56 = j·2^28 + i`` instead rounds once that sum passes 2^53,
    which at res 19 maps the last columns before lng = +180 to j + 1.)"""
    c = f"({cell})"
    return (f"CAST(({c} - {c} % {POW2_56}) / {POW2_56} AS INT)",
            f"CAST(({c} % {POW2_56} - {c} % {POW2_28}) / {POW2_28} AS BIGINT)",
            f"({c} % {POW2_28})")


def cell_pack_sql(res, j: str, i: str) -> str:
    """Cell id from its (res, j, i) fields — mirror of kernel.cells.pack_ij.
    ``res`` is an int or an integer expression."""
    return f"(CAST({res} AS BIGINT) * {POW2_56} + ({j}) * {POW2_28} + ({i}))"


def in_field_sql(j: str, i: str) -> str:
    """True when lattice coordinates fit the 28-bit j/i fields.  A
    coordinate outside them packs onto a DIFFERENT real cell (i = -1 is
    bit-identical to (j - 1, i = 2^28 - 1)), so neighbor arithmetic that
    can leave the lattice filters on this."""
    return (f"(({i}) >= 0 AND ({i}) < {POW2_28} "
            f"AND ({j}) >= 0 AND ({j}) < {POW2_28})")


def lattice_sql(lat: str, lng: str, res: int) -> tuple[str, str]:
    """(j, i) lattice coordinates of a lat/lng at ``res`` (BIGINT)."""
    s = dlit(_cells.cell_size_deg(res))
    return (f"CAST(FLOOR(({lat} + 90.0e0) / {s}) AS BIGINT)",
            f"CAST(FLOOR(({lng} + 180.0e0) / {s}) AS BIGINT)")


def cell_sql(lat: str, lng: str, res: int = 9) -> str:
    """Cell id at resolution ``res`` — mirror of kernel.cells.cell."""
    return cell_pack_sql(res, *lattice_sql(lat, lng, res))


def disk_sql(j: str, i: str, res, r_lat: int, r_lng: int | None = None) -> str:
    """ARRAY of the (2·r_lat + 1) x (2·r_lng + 1) cell ids around lattice
    point (j, i) at ``res`` — kernel.cells.disk with separate lat/lng radii
    (r_lng defaults to r_lat).  Unrolled: every element is two integer adds
    and a pack, so the array stays in whole-stage codegen.  Pass ``j`` and
    ``i`` as STAGED columns: each element repeats them, and an inline
    FLOOR derivation (or an unmaterialized upstream chain behind lat/lng)
    would be re-evaluated per element — a disk(6) probe written that way
    ran ~100x slower.  No lattice-edge clipping: ids past the edge alias
    other cells, so callers that can reach an edge filter on in_field_sql
    or refine every candidate exactly.  Spark SQL; DuckDB spells the
    ARRAY(...) constructor list_value(...)."""
    r_lng = r_lat if r_lng is None else r_lng
    return "ARRAY(" + ", ".join(
        cell_pack_sql(res, f"{j} + {dj}", f"{i} + {di}")
        for di in range(-r_lng, r_lng + 1)
        for dj in range(-r_lat, r_lat + 1)) + ")"


def parent_sql(cell: str, res: int, parent_res: int) -> str:
    """Parent cell id — mirror of kernel.cells.parent.  Integer shifts are
    spelled FLOOR(x / 2**n) because Spark's DIV is not DuckDB SQL and
    DuckDB's // is not Spark SQL; j, i < 2**28, so the doubles are exact."""
    d = 2 ** (res - parent_res)
    _, j, i = cell_decode_sql(cell)
    return cell_pack_sql(parent_res, f"CAST(FLOOR({j} / {d}) AS BIGINT)",
                         f"CAST(FLOOR({i} / {d}) AS BIGINT)")


def zorder_sql(i: str, j: str, bits: int = 16) -> str:
    """Z-order (Morton) key of two NON-NEGATIVE integer lattice columns —
    mirror of kernel.cells.zorder.  Spelled as FLOOR-division + modulo
    arithmetic (no engine-specific bit operators) so the identical string
    runs in Spark and DuckDB; every intermediate < 2**(2*bits) <= 2**52,
    exact in BIGINT and in the doubles FLOOR sees."""
    terms = []
    for b in range(bits):
        terms.append(f"(CAST(FLOOR(({i}) / {2 ** b}) AS BIGINT) % 2) * {2 ** (2 * b)}")
        terms.append(f"(CAST(FLOOR(({j}) / {2 ** b}) AS BIGINT) % 2) * {2 ** (2 * b + 1)}")
    return "(" + " + ".join(terms) + ")"


def haversine_sql(lat1: str, lng1: str, lat2: str, lng2: str) -> str:
    """Great-circle meters — mirror of kernel.geom.haversine_m."""
    return (
        f"(2.0e0 * {EARTH_R} * ASIN(SQRT("
        f"POWER(SIN(RADIANS(({lat2}) - ({lat1})) / 2.0e0), 2) "
        f"+ COS(RADIANS({lat1})) * COS(RADIANS({lat2})) "
        f"* POWER(SIN(RADIANS(({lng2}) - ({lng1})) / 2.0e0), 2))))"
    )


def let_sql(value: str, name: str, body: str) -> str:
    """``let name = value in body``: a one-element TRANSFORM binds the
    lambda variable ``name``, so ``value`` is evaluated once however often
    ``body`` reads it.  Spark SQL."""
    return f"TRANSFORM(ARRAY({value}), {name} -> {body})[0]"


RAD = "0.017453292519943295e0"


def coslat_sql(lat: str) -> str:
    """cos(radians(lat)) as the shared degree-8 Horner polynomial — twin of
    kernel.geom.coslat.  +-* only, so Spark, DuckDB and numpy produce the
    SAME double bit-for-bit (libm cos does not guarantee that)."""
    t = f"(({lat}) * {RAD})"
    t2 = f"({t} * {t})"
    return (f"(1.0e0 + {t2} * (-0.5e0 + {t2} * (0.041666666666666664e0 "
            f"+ {t2} * (-0.001388888888888889e0 + {t2} * 2.48015873015873e-05))))")


def equirect_xy_sql(lat: str, lng: str, lat0: str, lng0: str,
                    cs: str | None = None) -> tuple[str, str]:
    """(x, y) meters of (lat, lng) in the frame anchored at (lat0, lng0) —
    twin of kernel.geom.equirect_xy in its op order, x = ((lng - lng0) *
    cos(lat0)) * M and y = (lat - lat0) * M, which the numpy-twin operators
    need to stay bit-identical.  ``cs`` names an already computed cos(lat0)
    (a staged column); by default it is coslat_sql(lat0)."""
    c = coslat_sql(lat0) if cs is None else cs
    return f"((({lng}) - ({lng0})) * {c} * {M})", f"((({lat}) - ({lat0})) * {M})"


def equirect_dist_sql(lat1: str, lng1: str, lat2: str, lng2: str) -> str:
    """Planar equirectangular meters anchored at point 1 — twin of
    kernel.geom.equirect_m; bit-identical across engines (poly cos)."""
    dx = f"((({lng2}) - ({lng1})) * {coslat_sql(lat1)} * {M})"
    dy = f"((({lat2}) - ({lat1})) * {M})"
    return f"(SQRT({dx} * {dx} + {dy} * {dy}))"


def seg_frame_sql(alat: str, alng: str, blat: str,
                  blng: str) -> tuple[str, str, str, str]:
    """(cm, mx, my, s2): the planar frame of segment a->b that
    frame_dist_sql and frame_inside_sql measure in — equirectangular,
    anchored at a, poly cos.  cm is meters per degree of longitude at a,
    (mx, my) the segment vector in meters and s2 its squared length plus a
    tiny epsilon, so zero-length segments divide safely and identically in
    every engine.  Callers may stage the four values as columns and pass
    the column names on."""
    cm = f"({coslat_sql(alat)} * {M})"
    mx = f"((({blng}) - ({alng})) * {cm})"
    my = f"((({blat}) - ({alat})) * {M})"
    return cm, mx, my, f"({mx} * {mx} + {my} * {my} + 1e-300)"


def _frame_point_sql(plat: str, plng: str, alat: str, alng: str,
                     cm: str) -> tuple[str, str]:
    """(px, py): point p in the segment frame anchored at a."""
    return f"((({plng}) - ({alng})) * {cm})", f"((({plat}) - ({alat})) * {M})"


def frame_dist_sql(plat: str, plng: str, alat: str, alng: str,
                   cm: str, mx: str, my: str, s2: str) -> str:
    """Point-to-segment meters in the segment's seg_frame_sql frame: the
    projection parameter clamped to [0, 1], then the residual's length."""
    px, py = _frame_point_sql(plat, plng, alat, alng, cm)
    t = f"LEAST(GREATEST(({px} * {mx} + {py} * {my}) / {s2}, 0.0e0), 1.0e0)"
    # (e)*(e), NOT POWER(e, 2): libm pow is not exact-rounded and Spark
    # vs DuckDB disagreed by 1 ulp on fuzzed inputs (caught by
    # tests/test_cross_engine_fuzz.py); multiplication is IEEE
    # exact-rounded everywhere and matches the numpy twin's ex*ex.
    # Codegen/CSE dedupes the repeated subexpression.
    ex = f"({px} - ({t}) * {mx})"
    ey = f"({py} - ({t}) * {my})"
    return f"(SQRT({ex} * {ex} + {ey} * {ey}))"


def frame_inside_sql(plat: str, plng: str, alat: str, alng: str,
                     cm: str, mx: str, my: str, s2: str,
                     half_width_m: float) -> str:
    """Strict containment of p in the flat-capped rectangle buffering the
    segment by half_width_m each side, in its seg_frame_sql frame:
    0 < t < 1 along the segment and squared perpendicular distance < hw^2.
    The s2 epsilon makes zero-length segments test false."""
    hw = dlit(half_width_m)
    px, py = _frame_point_sql(plat, plng, alat, alng, cm)
    t = f"(({px} * {mx} + {py} * {my}) / {s2})"
    ex = f"({px} - {t} * {mx})"
    ey = f"({py} - {t} * {my})"
    return (f"(({t}) > 0.0e0 AND ({t}) < 1.0e0 "
            f"AND ({ex} * {ex} + {ey} * {ey}) < ({hw} * {hw}))")


def seg_dist_sql(plat: str, plng: str, alat: str, alng: str,
                 blat: str, blng: str) -> str:
    """Point-to-segment meters — mirror of kernel.geom.point_segment_dist_m.

    frame_dist_sql in the seg_frame_sql frame of a->b; the shared
    polynomial cos makes all three engines agree bit-for-bit."""
    return frame_dist_sql(plat, plng, alat, alng,
                          *seg_frame_sql(alat, alng, blat, blng))


def buffer_corners_sql(alat: str, alng: str, blat: str, blng: str,
                       half_width_m: float) -> tuple[list[str], list[str]]:
    """The 4 corner coordinates (CCW, flat caps) of the rectangle buffering
    segment a->b by half_width_m each side — twin of
    kernel.geom.buffer_segment (which uses sqrt(dx*dx + dy*dy), not hypot,
    precisely so this template is bit-identical in Spark, DuckDB and numpy).
    Returns ([4 lat exprs], [4 lng exprs])."""
    hw = dlit(half_width_m)
    cm, mx, my, _ = seg_frame_sql(alat, alng, blat, blng)
    L = (f"(CASE WHEN SQRT({mx} * {mx} + {my} * {my}) = 0.0e0 THEN 1.0e0 "
         f"ELSE SQRT({mx} * {mx} + {my} * {my}) END)")
    nx = f"(-(({my}) / {L}) * {hw})"
    ny = f"((({mx}) / {L}) * {hw})"
    lats = [f"(({alat}) + {ny} / {M})",
            f"(({alat}) + ({my} + {ny}) / {M})",
            f"(({alat}) + ({my} - {ny}) / {M})",
            f"(({alat}) + (-{ny}) / {M})"]
    lngs = [f"(({alng}) + {nx} / {cm})",
            f"(({alng}) + ({mx} + {nx}) / {cm})",
            f"(({alng}) + ({mx} - {nx}) / {cm})",
            f"(({alng}) + (-{nx}) / {cm})"]
    return lats, lngs


def rect_inside_sql(plat: str, plng: str, alat: str, alng: str,
                    blat: str, blng: str, half_width_m: float) -> str:
    """Strict containment of a point in the flat-capped rectangle buffering
    segment a->b by half_width_m each side: frame_inside_sql in the same
    seg_frame_sql frame as seg_dist_sql.  Identical template in Spark and
    DuckDB => bit-identical booleans.

    Why not ray-casting over the 4 corners: that expression is so large
    that Spark's generated code blows the JIT method limit and the whole
    stage falls back to interpreted evaluation — measured 50 us/row vs
    <1 us for this ~30-op form.  Semantics differ from corner ray-casting
    only ON the zero-measure boundary (exact cap/edge hits)."""
    return frame_inside_sql(plat, plng, alat, alng,
                            *seg_frame_sql(alat, alng, blat, blng), half_width_m)


def polyhash_spark(s: str, mult: int = 31) -> str:
    """Polynomial string hash, Spark flavor — mirror of kernel.cells.hash63.
    ``mult`` picks the polynomial base: a second hash with a DIFFERENT base
    (e.g. 37) is genuinely independent of the base-31 one — unlike a
    suffix-salted variant of the same base, which is an affine function of
    it (ADVICE.md r2: any two tokens colliding on base-31 collided on the
    salted variant too).

    r6 form: ONE SPLIT(s, '') pass to per-character strings, then a
    direct AGGREGATE fold.  The previous per-index form
    (AGGREGATE(TRANSFORM(SEQUENCE(1, LENGTH(s)), k -> ASCII(SUBSTRING(
    s, k, 1))) ...)) re-scanned the UTF-8 bytes from position 0 on EVERY
    SUBSTRING call — O(n²) per string, measured 4.2x slower on ~1 KB
    document fingerprints and ~20% slower on short tokens.  Values are
    bit-identical: Spark's SPLIT is code-point based (surrogate pairs
    are NOT split — verified against SUBSTRING/ASCII on astral-plane
    chars), ASCII returns the same code point, and the fold order is
    unchanged.  The FILTER drops the empty-string artifact an
    empty-pattern regex split can append; interior elements of a
    ''-split are single characters, never ''.  CASE keeps the NULL/empty
    sentinel at 0."""
    return (
        f"(CASE WHEN {s} IS NULL OR LENGTH({s}) = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE AGGREGATE(FILTER(SPLIT({s}, ''), c -> c != ''), "
        f"CAST(0 AS BIGINT), (a, c) -> (a * {mult} + ASCII(c)) % {HASH_P}) "
        f"END)"
    )


def polyhash_duckdb(s: str, mult: int = 31) -> str:
    """Polynomial string hash, DuckDB flavor — same fold as polyhash_spark
    (list_prepend(0, ...) + list_reduce == aggregate with 0 init)."""
    return (
        f"(CASE WHEN {s} IS NULL THEN CAST(0 AS BIGINT) ELSE "
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({s}) + 1), "
        f"k -> CAST(ascii(substr({s}, k, 1)) AS BIGINT))), "
        f"(a, x) -> (a * {mult} + x) % {HASH_P}) END)"
    )


def minhash_spark(hashes_col: str, a: int, b: int) -> str:
    """min over ((a*h + b) % P) of an array<bigint> column, Spark flavor."""
    return (
        f"ARRAY_MIN(TRANSFORM({hashes_col}, "
        f"h -> ({a} * h + {b}) % {HASH_P}))"
    )


def minhash_duckdb(hashes_col: str, a: int, b: int) -> str:
    return (
        f"list_min(list_transform({hashes_col}, "
        f"h -> ({a} * h + {b}) % {HASH_P}))"
    )


def bm25_part_sql(tf: str = "tf", df: str = "df", dl: str = "dl",
                  n_docs: str = "n_docs", avgdl: str = "avgdl") -> str:
    """Per-(term, doc) BM25 partial, quantized to BIGINT — ONE template
    valid in both Spark SQL and DuckDB (the shared-template discipline:
    identical expression tree => identical IEEE doubles => identical
    FLOOR quantization on both engines).

    Rational-idf BM25 (k1 = 1.2, b = 0.75): the standard
    ln((N - df + 0.5)/(df + 0.5) + 1) idf is replaced by the rational
    factor (N - df + 0.5)/(df + 0.5) itself — LN is libm and drifts by
    ulps between engines (the POWER(x,2) lesson, BENCH/BASELINE.md),
    while +,-,*,/ are exactly rounded.  Rankings differ from log-BM25
    only in how multi-term scores mix (rare terms weigh relatively
    more); the saturation/length-normalization behavior BM25 exists for
    lives in the tf term, which is exact Robertson-Sparck Jones.

    The partial is scaled 1e4 and FLOOR(x + 0.5)-quantized BEFORE the
    per-(query, doc) SUM so the aggregate is an order-free BIGINT sum —
    deterministic at any parallelism (tfidf_topk's discipline)."""
    idf = (f"((CAST({n_docs} - {df} AS DOUBLE) + 0.5e0) / "
           f"(CAST({df} AS DOUBLE) + 0.5e0))")
    num = f"(CAST({tf} AS DOUBLE) * 2.2e0)"
    den = (f"(CAST({tf} AS DOUBLE) + 1.2e0 * "
           f"(0.25e0 + 0.75e0 * (CAST({dl} AS DOUBLE) / {avgdl})))")
    return f"CAST(FLOOR({idf} * {num} / {den} * 1.0e4 + 0.5e0) AS BIGINT)"


def gi_z_sql(S: str = "focal_sum", w: str = "w", n: str = "n_cells",
             sum_x: str = "sum_x", sum_x2: str = "sum_x2") -> str:
    """Getis-Ord Gi* z-score, ONE template valid in both Spark SQL and
    DuckDB (the bm25_part_sql discipline): binary disk weights, study
    area = the OCCUPIED cells of the sparse raster.

        z = (S - xbar*w) / (s * SQRT((n*w - w^2) / (n - 1)))

    with xbar/s the mean/population-sd of the occupied-cell values.
    Every operand is a BIGINT cast to DOUBLE (exact while the sums stay
    below 2^53 — the mixture_weights headroom note applies) and the
    operators are +,-,*,/ and SQRT, all IEEE exact-rounded on both
    engines, evaluated in one fixed tree.  Degenerate inputs yield NULL
    instead of garbage: n = 1 (no variance denominator), zero variance
    (constant raster), and w = n (disk covers the whole study area, a
    toy-raster case where the Gi* denominator is 0)."""
    nd = f"CAST({n} AS DOUBLE)"
    xbar = f"(CAST({sum_x} AS DOUBLE) / {nd})"
    var = f"(CAST({sum_x2} AS DOUBLE) / {nd} - {xbar} * {xbar})"
    u = f"(({nd} * CAST({w} AS DOUBLE) - CAST({w} AS DOUBLE) * CAST({w} AS DOUBLE)) / ({nd} - 1.0e0))"
    return (f"CASE WHEN {n} > 1 AND {var} > 0.0e0 AND {w} < {n} THEN "
            f"(CAST({S} AS DOUBLE) - {xbar} * CAST({w} AS DOUBLE)) / "
            f"(SQRT({var}) * SQRT({u})) ELSE NULL END")
