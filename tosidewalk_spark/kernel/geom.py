"""Pure-numpy geometry kernel — the single source of truth for every
geometric computation in the engine.

The reference (tongning/ToSidewalk, public knowledge — /root/reference was
empty this session, SURVEY.md §0) implements these as per-object Python
methods: ``latlng.py § LatLng.distance_to/angle_to/vector`` (R9),
``utilities.py § latlng_offset`` (R10), ``ToSidewalk.py §
make_sidewalk_nodes`` (R12), ``ToSidewalk.py § make_crosswalk_node`` (R15),
``network.py § Network.simplify`` Douglas-Peucker (R17).  Here each is a
vectorized numpy function.  The Spark operators run SQL twins of this
code in the same op order, and the tests pin them bit-equal to it, so
Spark-vs-kernel equality tests distribution bugs independently of geometry
(SURVEY.md §5.2).

Frame convention: all planar work happens in a local equirectangular meter
frame anchored at a reference latitude:  x = (lng - lng0) * cos(lat0) * M,
y = (lat - lat0) * M  with  M = 111_111 m/deg.  The same arithmetic is
emitted as Spark SQL / DuckDB SQL by functions/sqlfns.py so oracle twins
agree to FP roundoff (compared columns are rounded to 6 decimals).
"""

from __future__ import annotations

import numpy as np

M_PER_DEG = 111111.0  # meters per degree of latitude (reference R10 constant)
EARTH_R = 6371009.0   # mean earth radius, meters (haversine)
RAD = 0.017453292519943295  # pi / 180, frozen literal shared with sqlfns

# cos(radians(lat)) as a degree-8 Taylor/Horner polynomial.  Rationale
# (SURVEY.md correctness design): libm cos differs in the last ulp between
# the JVM, numpy and DuckDB, which would make cross-engine value-hash
# comparisons flaky; +-*/ and sqrt are IEEE exact-rounded, so a fixed
# Horner polynomial evaluated in the same op order is BIT-IDENTICAL in all
# three engines.  Relative error < 5e-8 for |lat| <= 60 deg — irrelevant at
# city scale, and the approximation IS the engine's frozen metric.
_C2 = -0.5
_C4 = 1.0 / 24.0
_C6 = -1.0 / 720.0
_C8 = 1.0 / 40320.0


def coslat(lat_deg):
    """Shared polynomial cos(radians(lat)) — twin of sqlfns.coslat_sql."""
    t = np.asarray(lat_deg, dtype=np.float64) * RAD
    t2 = t * t
    return 1.0 + t2 * (_C2 + t2 * (_C4 + t2 * (_C6 + t2 * _C8)))

# Pipeline constants (reference values unverifiable this session — these are
# the engine's frozen semantics, golden-tested; re-check when the reference
# mounts, SURVEY.md §0 checklist item 2).
SIDEWALK_OFFSET_M = 4.0     # street centerline -> sidewalk distance
CROSSWALK_OFFSET_M = 5.657  # intersection -> crosswalk corner distance
NODE_MERGE_M = 5.0          # nodes closer than this collapse (R8)
DP_TOLERANCE_M = 0.5        # Douglas-Peucker tolerance (R17)
SHORT_SEGMENT_M = 10.0      # segments shorter than this drop (R18)
PARALLEL_DIST_M = 25.0      # max separation for parallel-pair detection (R6)
PARALLEL_ANGLE_RAD = 0.1745  # ~10 deg max heading difference (R6)
BUFFER_HALF_WIDTH_M = 12.0  # street buffer half-width for PIP join (G4)


# --- R9: geodesic scalars --------------------------------------------------

def haversine_m(lat1, lng1, lat2, lng2):
    """Great-circle distance in meters (vectorized)."""
    la1, lo1, la2, lo2 = (np.radians(np.asarray(a, dtype=np.float64))
                          for a in (lat1, lng1, lat2, lng2))
    dla, dlo = la2 - la1, lo2 - lo1
    h = np.sin(dla / 2.0) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlo / 2.0) ** 2
    return 2.0 * EARTH_R * np.arcsin(np.sqrt(h))


def bearing_rad(lat1, lng1, lat2, lng2):
    """Initial bearing from point 1 to point 2, radians in (-pi, pi]."""
    la1, lo1, la2, lo2 = (np.radians(np.asarray(a, dtype=np.float64))
                          for a in (lat1, lng1, lat2, lng2))
    dlo = lo2 - lo1
    y = np.sin(dlo) * np.cos(la2)
    x = np.cos(la1) * np.sin(la2) - np.sin(la1) * np.cos(la2) * np.cos(dlo)
    return np.arctan2(y, x)


def equirect_xy(lat, lng, lat0, lng0):
    """Project to the local meter frame anchored at (lat0, lng0)."""
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    x = (lng - lng0) * coslat(lat0) * M_PER_DEG
    y = (lat - lat0) * M_PER_DEG
    return x, y


# --- R10: meter -> degree offsetting ---------------------------------------

def latlng_offset(lat, lng, dx_m, dy_m):
    """Displace (lat, lng) by (dx_m east, dy_m north) meters.
    Mirrors reference ``utilities.py § latlng_offset`` semantics."""
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    nlat = lat + np.asarray(dy_m) / M_PER_DEG
    nlng = lng + np.asarray(dx_m) / (M_PER_DEG * coslat(lat))
    return nlat, nlng


# --- R11/R12: polyline offsetting (sidewalk node synthesis) ----------------

def offset_polyline(lats, lngs, dist_m):
    """Offset a polyline by +-dist_m perpendicular: returns
    (left_lats, left_lngs, right_lats, right_lngs).

    Reference semantics (ToSidewalk.py § make_sidewalk_nodes): at each
    interior vertex the offset direction is the perpendicular of the
    *averaged unit directions* of the two adjacent segments (angle
    bisector); endpoints use the pure perpendicular of their single
    segment.  Left = +90deg from travel direction, right = -90deg.
    """
    lats = np.asarray(lats, dtype=np.float64)
    lngs = np.asarray(lngs, dtype=np.float64)
    n = lats.size
    lat0, lng0 = lats[0], lngs[0]
    x, y = equirect_xy(lats, lngs, lat0, lng0)
    dx, dy = np.diff(x), np.diff(y)
    seg_len = np.sqrt(dx * dx + dy * dy)
    seg_len = np.where(seg_len == 0.0, 1.0, seg_len)
    ux, uy = dx / seg_len, dy / seg_len          # unit direction per segment
    # per-vertex direction = mean of adjacent segment directions
    vx = np.empty(n); vy = np.empty(n)
    vx[0], vy[0] = ux[0], uy[0]
    vx[-1], vy[-1] = ux[-1], uy[-1]
    if n > 2:
        bx, by = ux[:-1] + ux[1:], uy[:-1] + uy[1:]
        bl = np.sqrt(bx * bx + by * by)
        bl = np.where(bl < 1e-12, 1.0, bl)
        vx[1:-1], vy[1:-1] = bx / bl, by / bl
    # left normal = rotate +90: (-vy, vx); right = (vy, -vx)
    lx, ly = x - vy * dist_m, y + vx * dist_m
    rx, ry = x + vy * dist_m, y - vx * dist_m
    def unproject(px, py):
        plat = lat0 + py / M_PER_DEG
        plng = lng0 + px / (M_PER_DEG * coslat(lat0))
        return plat, plng
    llat, llng = unproject(lx, ly)
    rlat, rlng = unproject(rx, ry)
    return llat, llng, rlat, rlng


# --- R15: crosswalk corner placement ---------------------------------------

def crosswalk_corners(center_lat, center_lng, arm_lats, arm_lngs,
                      dist_m=CROSSWALK_OFFSET_M):
    """Given an intersection center and its adjacent arm vertices, place one
    corner node between each pair of angularly-adjacent arms
    (ToSidewalk.py § make_crosswalk_node semantics).

    Arms are sorted CCW by bearing, ties by (x, y) (R14).  Corner k sits at
    center + dist_m * normalize(u_k + u_{k+1}); if the two arms are nearly
    opposite (bisector degenerate), the corner uses the perpendicular of
    arm k instead.  Returns (corner_lats, corner_lngs, arm_order) where
    arm_order is the CCW argsort of the input arms.
    """
    alats = np.asarray(arm_lats, dtype=np.float64)
    alngs = np.asarray(arm_lngs, dtype=np.float64)
    x, y = equirect_xy(alats, alngs, center_lat, center_lng)
    ang = np.arctan2(y, x)
    # R14 angular sort, CCW; equal bearings fall to x, then y, so the
    # order does not depend on the order the arms come in
    order = np.lexsort((y, x, ang))
    x, y = x[order], y[order]
    r = np.sqrt(x * x + y * y)
    r = np.where(r == 0.0, 1.0, r)
    ux, uy = x / r, y / r
    nux, nuy = np.roll(ux, -1), np.roll(uy, -1)
    bx, by = ux + nux, uy + nuy
    bl = np.sqrt(bx * bx + by * by)
    degen = bl < 1e-6
    # degenerate (opposite arms): perpendicular of arm k
    bx = np.where(degen, -uy, bx)
    by = np.where(degen, ux, by)
    bl = np.where(degen, 1.0, bl)
    cx, cy = bx / bl * dist_m, by / bl * dist_m
    clat = center_lat + cy / M_PER_DEG
    clng = center_lng + cx / (M_PER_DEG * coslat(center_lat))
    return clat, clng, order


# --- R17: Douglas-Peucker --------------------------------------------------

def douglas_peucker_mask(lats, lngs, tol_m=DP_TOLERANCE_M):
    """Boolean keep-mask for exact recursive Douglas-Peucker with a meter
    tolerance (network.py § Network.simplify semantics)."""
    lats = np.asarray(lats, dtype=np.float64)
    lngs = np.asarray(lngs, dtype=np.float64)
    n = lats.size
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    if n <= 2:
        return keep
    x, y = equirect_xy(lats, lngs, lats[0], lngs[0])
    stack = [(0, n - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        ax, ay, bx, by = x[a], y[a], x[b], y[b]
        mx, my = bx - ax, by - ay
        seg2 = mx * mx + my * my
        px, py = x[a + 1:b] - ax, y[a + 1:b] - ay
        if seg2 == 0.0:
            d2 = px * px + py * py
        else:
            t = np.clip((px * mx + py * my) / seg2, 0.0, 1.0)
            ex, ey = px - t * mx, py - t * my
            d2 = ex * ex + ey * ey
        k = int(np.argmax(d2))
        if d2[k] > tol_m * tol_m:
            idx = a + 1 + k
            keep[idx] = True
            stack.append((a, idx))
            stack.append((idx, b))
    return keep


# --- R7: parallel-pair centerline -----------------------------------------

def parallel_centerline(lats_a, lngs_a, lats_b, lngs_b):
    """Pointwise-midpoint centerline of two parallel polylines (R7): b is
    reversed when its chord bearing opposes a's, both are resampled by arc
    length at k = max(n_a, n_b) evenly spaced fractions, and the samples
    are averaged.  Returns (lats, lngs).  Arc length is
    sqrt(dx*dx + dy*dy), not np.hypot, for the reason buffer_segment
    gives: the SQL twin in operators/network.py matches it bit-for-bit."""
    la, ga = np.asarray(lats_a, dtype=np.float64), np.asarray(lngs_a, dtype=np.float64)
    lb, gb = np.asarray(lats_b, dtype=np.float64), np.asarray(lngs_b, dtype=np.float64)

    def bearing(ls, gs):
        x, y = equirect_xy(ls, gs, ls[0], gs[0])
        return np.arctan2(y[-1] - y[0], x[-1] - x[0])

    if np.cos(bearing(la, ga) - bearing(lb, gb)) < 0:
        lb, gb = lb[::-1], gb[::-1]
    t = np.linspace(0.0, 1.0, max(la.size, lb.size))

    def resample(ls, gs):
        x, y = equirect_xy(ls, gs, ls[0], gs[0])
        dx, dy = np.diff(x), np.diff(y)
        d = np.concatenate([[0.0], np.cumsum(np.sqrt(dx * dx + dy * dy))])
        tt = d / d[-1] if d[-1] > 0 else d
        return np.interp(t, tt, ls), np.interp(t, tt, gs)

    ral, rag = resample(la, ga)
    rbl, rbg = resample(lb, gb)
    return (ral + rbl) / 2.0, (rag + rbg) / 2.0


# --- G4: point-in-polygon + segment buffers --------------------------------

def point_in_polygon(plats, plngs, poly_lats, poly_lngs):
    """Vectorized ray-casting: points x one polygon -> boolean array.
    Boundary convention: half-open edges (standard even-odd crossing)."""
    plats = np.asarray(plats, dtype=np.float64)
    plngs = np.asarray(plngs, dtype=np.float64)
    vy = np.asarray(poly_lats, dtype=np.float64)
    vx = np.asarray(poly_lngs, dtype=np.float64)
    n = vy.size
    inside = np.zeros(plats.shape, dtype=bool)
    j = n - 1
    for i in range(n):
        cond = ((vy[i] > plats) != (vy[j] > plats))
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (vx[j] - vx[i]) * (plats - vy[i]) / (vy[j] - vy[i]) + vx[i]
        inside ^= cond & (plngs < xint)
        j = i
    return inside


def buffer_segment(alat, alng, blat, blng, half_width_m=BUFFER_HALF_WIDTH_M):
    """Rectangle polygon (4 corners, CCW, lat/lng arrays) buffering segment
    a->b by half_width_m on each side (flat caps)."""
    x, y = equirect_xy(np.array([alat, blat]), np.array([alng, blng]), alat, alng)
    dx, dy = x[1] - x[0], y[1] - y[0]
    # sqrt(dx*dx + dy*dy), NOT np.hypot: IEEE RN sqrt/mul are exact-rounded,
    # so this matches sqlfns.buffer_corners_sql bit-for-bit in Spark/DuckDB
    # (hypot uses a different algorithm and can differ in the last ulp)
    L = float(np.sqrt(dx * dx + dy * dy)) or 1.0
    ux, uy = dx / L, dy / L
    nx, ny = -uy * half_width_m, ux * half_width_m
    cx = np.array([x[0] + nx, x[1] + nx, x[1] - nx, x[0] - nx])
    cy = np.array([y[0] + ny, y[1] + ny, y[1] - ny, y[0] - ny])
    clat = alat + cy / M_PER_DEG
    clng = alng + cx / (M_PER_DEG * coslat(alat))
    return clat, clng


# --- G5: point-to-segment distance (kNN metric) -----------------------------

def point_segment_dist_m(plat, plng, alat, alng, blat, blng):
    """Meters from point(s) to segment(s) in the equirectangular frame
    anchored at the segment start.  Broadcasting-compatible.  The SQL twin
    in functions/sqlfns.py emits literally this arithmetic."""
    plat = np.asarray(plat, dtype=np.float64); plng = np.asarray(plng, dtype=np.float64)
    alat = np.asarray(alat, dtype=np.float64); alng = np.asarray(alng, dtype=np.float64)
    blat = np.asarray(blat, dtype=np.float64); blng = np.asarray(blng, dtype=np.float64)
    c = coslat(alat) * M_PER_DEG
    mx, my = (blng - alng) * c, (blat - alat) * M_PER_DEG
    px, py = (plng - alng) * c, (plat - alat) * M_PER_DEG
    seg2 = mx * mx + my * my
    t = np.where(seg2 == 0.0, 0.0, np.clip((px * mx + py * my) / np.where(seg2 == 0.0, 1.0, seg2), 0.0, 1.0))
    ex, ey = px - t * mx, py - t * my
    return np.sqrt(ex * ex + ey * ey)


def polyline_length_m(lats, lngs):
    lats = np.asarray(lats, dtype=np.float64)
    lngs = np.asarray(lngs, dtype=np.float64)
    x, y = equirect_xy(lats, lngs, lats[0], lngs[0])
    return float(np.sum(np.hypot(np.diff(x), np.diff(y))))


def equirect_m(lat1, lng1, lat2, lng2):
    """Planar equirectangular meters anchored at point 1 — twin of
    sqlfns.equirect_dist_sql (bit-identical: poly cos, exact-rounded ops)."""
    lat1 = np.asarray(lat1, dtype=np.float64); lng1 = np.asarray(lng1, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64); lng2 = np.asarray(lng2, dtype=np.float64)
    dx = (lng2 - lng1) * coslat(lat1) * M_PER_DEG
    dy = (lat2 - lat1) * M_PER_DEG
    return np.sqrt(dx * dx + dy * dy)
