"""Deterministic H3-API-shaped cell index over a lat/lng square lattice.

The reference pipeline (tongning/ToSidewalk) has no cell index at all — it
is a single-process geometry pipeline.  The graft (BASELINE.json:6,14)
mandates H3/S2 res-9 cell encoding for the spatial join / kNN / tiling
stages.  No ``h3`` package is installed or fetchable in this sandbox
(SURVEY.md §1.2), so this module implements a pure-numpy lattice with the
H3 API *shape* (cell / ring / disk / polyfill / parent) whose res-9 cell
size (~153 m of latitude) matches the H3 res-9 mean edge length (~174 m).

Layout (64-bit cell id, all integer arithmetic — reproducible bit-for-bit
in Spark SQL and DuckDB SQL):

    cell = res * 2**56 + j * 2**28 + i
    s(res) = 360 / 2**(res + 9)          # cell size in degrees
    j = floor((lat +  90) / s)           # row    (0 .. 180/s - 1)
    i = floor((lng + 180) / s)           # column (0 .. 360/s - 1)

``j < 2**(res+8)`` and ``i < 2**(res+9)``, so res <= 19 fits the 28-bit
fields.  ``pack_ij`` adds, as the SQL pack does, so a neighbor offset past
a lattice edge aliases to the same id in every engine.  ``parent`` is a
right-shift of (i, j); a ``ring`` at distance k is the Chebyshev ring, a
``disk`` the Chebyshev disk.  These definitions ARE the engine's semantics:
join rows and tile assignments are defined by this index and frozen by
golden tests (SURVEY.md §1.2).
"""

from __future__ import annotations

import numpy as np

RES_SHIFT = 56
J_SHIFT = 28
J_MASK = (1 << 28) - 1
DEFAULT_RES = 9


def cell_size_deg(res: int) -> float:
    """Cell edge in degrees at resolution ``res``."""
    return 360.0 / float(2 ** (res + 9))


def cell(lat, lng, res: int = DEFAULT_RES):
    """Encode lat/lng (scalars or numpy arrays) to a cell id (int64)."""
    s = cell_size_deg(res)
    j = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / s).astype(np.int64)
    i = np.floor((np.asarray(lng, dtype=np.float64) + 180.0) / s).astype(np.int64)
    return pack_ij(i, j, res)


def cell_res(c):
    return np.asarray(c, dtype=np.int64) >> RES_SHIFT


def cell_ij(c):
    """Decode cell id -> (i, j) integer lattice coordinates."""
    c = np.asarray(c, dtype=np.int64)
    j = (c >> J_SHIFT) & J_MASK
    i = c & J_MASK
    return i, j


def cell_center(c):
    """Cell id -> (lat, lng) of the cell center."""
    c = np.asarray(c, dtype=np.int64)
    res = c >> RES_SHIFT
    s = 360.0 / np.power(2.0, (res + 9).astype(np.float64))
    i, j = cell_ij(c)
    lat = (j.astype(np.float64) + 0.5) * s - 90.0
    lng = (i.astype(np.float64) + 0.5) * s - 180.0
    return lat, lng


def pack_ij(i, j, res: int):
    """Cell id from its (res, j, i) fields — mirror of sqlfns.cell_pack_sql."""
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    out = (np.int64(res) << RES_SHIFT) + (j << J_SHIFT) + i
    return out if out.ndim else int(out)


def parent(c, parent_res: int):
    """Coarsen cell id(s) to ``parent_res`` (right-shift of i and j)."""
    c = np.asarray(c, dtype=np.int64)
    d = cell_res(c) - np.int64(parent_res)
    i, j = cell_ij(c)
    return pack_ij(i >> d, j >> d, parent_res)


def disk(c: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance <= k of ``c`` (H3 kRing analog)."""
    c = int(c)
    res = c >> RES_SHIFT
    i, j = cell_ij(c)
    di, dj = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
    return pack_ij((i + di).ravel(), (j + dj).ravel(), int(res))


def ring(c: int, k: int) -> np.ndarray:
    """Cells at Chebyshev distance exactly k of ``c`` (H3 hexRing analog)."""
    if k == 0:
        return np.array([int(c)], dtype=np.int64)
    c = int(c)
    res = c >> RES_SHIFT
    i, j = cell_ij(c)
    di, dj = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
    keep = np.maximum(np.abs(di), np.abs(dj)) == k
    return pack_ij((i + di[keep]).ravel(), (j + dj[keep]).ravel(), int(res))


def polyfill_bbox(lat_min, lat_max, lng_min, lng_max, res: int = DEFAULT_RES) -> np.ndarray:
    """All cells whose square intersects the given bbox (conservative
    cover; exact point-in-polygon refinement happens downstream, G4)."""
    s = cell_size_deg(res)
    j0 = int(np.floor((lat_min + 90.0) / s))
    j1 = int(np.floor((lat_max + 90.0) / s))
    i0 = int(np.floor((lng_min + 180.0) / s))
    i1 = int(np.floor((lng_max + 180.0) / s))
    ii, jj = np.meshgrid(np.arange(i0, i1 + 1), np.arange(j0, j1 + 1))
    return pack_ij(ii.ravel(), jj.ravel(), res)


def polyfill(poly_lats, poly_lngs, res: int = DEFAULT_RES) -> np.ndarray:
    """Cell cover of a polygon = bbox cover (conservative superset)."""
    lats = np.asarray(poly_lats, dtype=np.float64)
    lngs = np.asarray(poly_lngs, dtype=np.float64)
    return polyfill_bbox(lats.min(), lats.max(), lngs.min(), lngs.max(), res)


def zorder(i, j, bits: int = 16):
    """Bit-interleave two non-negative lattice coordinates into a Z-order
    (Morton) key: bit b of ``i`` lands at position 2b, bit b of ``j`` at
    2b+1.  Rows sorted by this key are laid out along a space-filling
    curve, so a file holding a contiguous z-range covers a compact 2-D
    block — which is what makes per-file (i, j) min/max stats selective
    for rectangle queries (Catalog.write(zorder_by=...) + Catalog.scan).
    Mirror of functions.sqlfns.zorder_sql."""
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    out = np.zeros_like(i + j)
    for b in range(bits):
        out = out | (((i >> b) & 1) << (2 * b)) | (((j >> b) & 1) << (2 * b + 1))
    return out if out.ndim else int(out)


# --- deterministic string hash (shared with the SQL twins) ---------------
# NOTE: the value space is 31-bit (mod 2^31-1) even though it is carried in
# an int64 — "hash63" names the carrier width, not the entropy.  Collision-
# sensitive consumers (incremental_dedup, build_corpus) combine TWO
# independent bases into a genuine 62-bit fingerprint.
HASH_P = 2147483647  # 2^31 - 1; keeps a*31+b well inside int64


def hash63(s: str) -> int:
    """Polynomial rolling hash: fold (a*31 + codepoint) % (2^31-1).

    Mirrors exactly the Spark `aggregate()` / DuckDB `list_reduce()`
    expression in functions/sqlfns.py so engine and oracle agree."""
    a = 0
    for ch in s:
        a = (a * 31 + ord(ch)) % HASH_P
    return a
