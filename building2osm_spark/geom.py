"""Vectorized numpy geometry kernels.

Pure-numpy re-implementations of the reference's scalar geometry functions
(SURVEY.md §2.8 F1-F10), written batch-first: every kernel takes numpy arrays
of coordinates and computes whole rings / point sets at once, so they can be
called from Arrow-batched pandas UDFs without per-row Python math.

Numeric contracts (values must match the reference bit-for-bit on floats
where the evaluation order allows, and to <1e-9 relative otherwise):
  * distance:        building2osm.py:105-110  (equirectangular, R=6371000.0)
  * polygon_area:    building2osm.py:120-137  (shoelace on lat-scaled planar
                     projection, truncated to int; R=6371000.0) and
                     building_merge.py:134-151 (same formula, R=6371009.0)
  * polygon_centre:  building2osm.py:143-154  (vertex mean, closing dup dropped)
  * polygon_centroid: building_merge.py:185-204 (det-weighted)
  * centroid (hole-aware, offset-stabilised): municipality_split.py:141-182
  * bearing / bearing_difference / bearing_turn: building2osm.py:160-193
  * rotate_node:     building2osm.py:200-213
  * line_distance:   building2osm.py:220-267 (point→segment, cos-lat reprojection)
  * simplify (RDP):  building2osm.py:274-289
  * hausdorff:       building_merge.py:226-274 (vertex→segment, both directions)
  * PIP ray cast:    municipality_split.py:204-243
  * coordinate_offset: building_merge.py:211-218 (R=6378137)

Rings are (N, 2) float64 arrays of (lon, lat), closed (first == last) unless
stated otherwise. A polygon is a list of rings (ring 0 outer, rest holes);
a multipolygon is a list of polygons.
"""

from __future__ import annotations

import numpy as np

from .constants import EARTH_RADIUS, EARTH_RADIUS_MERGE_AREA, EARTH_RADIUS_OFFSET

RAD = np.pi / 180.0


# ---------------------------------------------------------------------------
# distances & bearings
# ---------------------------------------------------------------------------

def distance(p1: np.ndarray, p2: np.ndarray) -> np.ndarray:
    """Equirectangular metre distance between paired points.

    p1, p2: (..., 2) arrays of (lon, lat) degrees. Matches
    building2osm.py:105-110 exactly (mid-latitude cosine, R=6371000.0).
    """
    p1 = np.asarray(p1, dtype=np.float64)
    p2 = np.asarray(p2, dtype=np.float64)
    lon1, lat1 = p1[..., 0] * RAD, p1[..., 1] * RAD
    lon2, lat2 = p2[..., 0] * RAD, p2[..., 1] * RAD
    x = (lon2 - lon1) * np.cos(0.5 * (lat2 + lat1))
    y = lat2 - lat1
    return EARTH_RADIUS * np.sqrt(x * x + y * y)


def bearing(p1: np.ndarray, p2: np.ndarray) -> np.ndarray:
    """Forward azimuth in degrees [0, 360). building2osm.py:160-167."""
    p1 = np.asarray(p1, dtype=np.float64)
    p2 = np.asarray(p2, dtype=np.float64)
    lon1, lat1 = p1[..., 0] * RAD, p1[..., 1] * RAD
    lon2, lat2 = p2[..., 0] * RAD, p2[..., 1] * RAD
    dlon = lon2 - lon1
    y = np.sin(dlon) * np.cos(lat2)
    x = np.cos(lat1) * np.sin(lat2) - np.sin(lat1) * np.cos(lat2) * np.cos(dlon)
    return (np.degrees(np.arctan2(y, x)) + 360.0) % 360.0


def bearing_difference(b1: np.ndarray, b2: np.ndarray) -> np.ndarray:
    """Signed bearing delta in (-180, 180]. building2osm.py:174-181."""
    delta = (np.asarray(b2, dtype=np.float64) - np.asarray(b1, dtype=np.float64) + 360.0) % 360.0
    return np.where(delta > 180.0, delta - 360.0, delta)


def bearing_turn(p1: np.ndarray, p2: np.ndarray, p3: np.ndarray) -> np.ndarray:
    """Turn angle at p2 travelling p1→p2→p3. building2osm.py:188-193."""
    return bearing_difference(bearing(p1, p2), bearing(p2, p3))


def coordinate_offset(points: np.ndarray, dist_m: float) -> np.ndarray:
    """Shift (lon, lat) by dist_m metres in both axes. building_merge.py:211-218."""
    points = np.asarray(points, dtype=np.float64)
    m = 1.0 / (RAD * EARTH_RADIUS_OFFSET)  # degrees per metre
    lat = points[..., 1] + dist_m * m
    lon = points[..., 0] + (dist_m * m) / np.cos(points[..., 1] * RAD)
    return np.stack([lon, lat], axis=-1)


# ---------------------------------------------------------------------------
# areas, centres, centroids
# ---------------------------------------------------------------------------

def polygon_area(ring: np.ndarray, radius: float = EARTH_RADIUS) -> int:
    """Signed shoelace area in m² truncated to int (<0 clockwise).

    building2osm.py:120-137 (radius 6371000.0); pass
    EARTH_RADIUS_MERGE_AREA for the building_merge.py:134-151 variant
    (6371009.0). Returns 0 for an unclosed ring, like the reference.
    """
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) == 0 or not np.array_equal(ring[0], ring[-1]):
        return 0
    lat_dist = np.pi * radius / 180.0
    y = ring[:, 1] * lat_dist
    x = ring[:, 0] * lat_dist * np.cos(ring[:, 1] * RAD)
    # sequential left fold over the edge terms, NOT np.sum: numpy's
    # pairwise/unrolled accumulation orders additions differently from the
    # reference's `area += ...` loop (building2osm.py:131-133); the int
    # truncation amplifies a last-ulp difference to an off-by-one m² that
    # would also disagree with columns.polygon_area_col's sequential
    # Catalyst fold. The term array stays vectorized; only the reduction
    # is ordered.
    terms = (x[1:] - x[:-1]) * (y[1:] + y[:-1])
    area = 0.0
    for t in terms.tolist():
        area += t
    return int(area / 2.0)


def polygon_area_merge(ring: np.ndarray) -> int:
    """Merge-pipeline area variant (R=6371009.0, building_merge.py:137)."""
    return polygon_area(ring, radius=EARTH_RADIUS_MERGE_AREA)


def polygon_centre(ring: np.ndarray) -> tuple[float, float]:
    """Vertex-average centre, closing duplicate excluded. building2osm.py:143-154."""
    ring = np.asarray(ring, dtype=np.float64)
    n = len(ring)
    if n == 0:
        raise ValueError("empty ring")
    if n == 1:
        return float(ring[0, 0]), float(ring[0, 1])
    if np.array_equal(ring[0], ring[-1]):
        n -= 1
    body = ring[:n]
    return float(body[:, 0].sum() / n), float(body[:, 1].sum() / n)


def polygon_centroid(ring: np.ndarray) -> tuple[float, float] | None:
    """Determinant-weighted centroid. building_merge.py:185-204.

    Returns None for an unclosed ring, like the reference.
    """
    ring = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(ring[0], ring[-1]):
        return None
    xi, yi = ring[:-1, 0], ring[:-1, 1]
    xj, yj = ring[1:, 0], ring[1:, 1]
    d = xi * yj - xj * yi
    det = float(d.sum())
    cx = float(((xi + xj) * d).sum()) / (3.0 * det)
    cy = float(((yi + yj) * d).sum()) / (3.0 * det)
    return cx, cy


def centroid_area_ring(ring: np.ndarray) -> tuple[tuple[float, float], float]:
    """(centroid, |area|) of one ring with first-vertex offset stabilisation.

    municipality_split.py:141-166 — the offset subtraction matters for
    numerical agreement at 7-decimal coordinates.
    """
    ring = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(ring[0], ring[-1]):
        raise ValueError("linear ring not closed")
    dx, dy = float(ring[0, 0]), float(ring[0, 1])
    x = ring[:, 0] - dx
    y = ring[:, 1] - dy
    xi, yi, xj, yj = x[:-1], y[:-1], x[1:], y[1:]
    d = xi * yj - xj * yi
    det = float(d.sum())
    area = det / 2.0
    f = 6.0 * area
    cx = float(((xi + xj) * d).sum()) / f + dx
    cy = float(((yi + yj) * d).sum()) / f + dy
    return (cx, cy), abs(area)


def centroid_polygon(polygon: list[np.ndarray]) -> tuple[float, float]:
    """Hole-aware mass centroid of a polygon. municipality_split.py:169-182.

    NOTE the reference subtracts the *outer* centroid weighted by each hole's
    area (municipality_split.py:176-180) — a quirk preserved verbatim.
    """
    (cx0, cy0), outer_area = centroid_area_ring(polygon[0])
    if len(polygon) > 1:
        cx = cx0 * outer_area
        cy = cy0 * outer_area
        area_sum = outer_area
        for inner in polygon[1:]:
            _, inner_area = centroid_area_ring(inner)
            cx -= cx0 * inner_area
            cy -= cy0 * inner_area
            area_sum -= inner_area
        return cx / area_sum, cy / area_sum
    return cx0, cy0


# ---------------------------------------------------------------------------
# point ↔ segment distances, Hausdorff
# ---------------------------------------------------------------------------

def _project_cos(points: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """radians + per-point cos(lat) x-scaling used by line_distance
    (building2osm.py:222-227): x_scaled = radians(lon) * cos(radians(lat))."""
    p = np.asarray(points, dtype=np.float64) * RAD
    y = p[..., 1]
    x = p[..., 0] * np.cos(y)
    return x, y


def line_distance_matrix(points: np.ndarray, seg_a: np.ndarray, seg_b: np.ndarray) -> np.ndarray:
    """Metre distances from each point to each segment: (N, M) matrix.

    Vectorized form of building2osm.py:220-267 / building_merge.py:78-125.
    points: (N,2); seg_a, seg_b: (M,2) segment endpoints.
    """
    x3, y3 = _project_cos(points)          # (N,)
    x1, y1 = _project_cos(seg_a)           # (M,)
    x2, y2 = _project_cos(seg_b)
    dx = x2 - x1                           # (M,)
    dy = y2 - y1
    len_sq = dx * dx + dy * dy
    # dot[(n,m)] = (p_n - a_m) · d_m
    ax = x3[:, None] - x1[None, :]
    ay = y3[:, None] - y1[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        param = (ax * dx[None, :] + ay * dy[None, :]) / len_sq[None, :]
    param = np.where(len_sq[None, :] == 0.0, -1.0, param)
    t = np.clip(param, 0.0, 1.0)
    x4 = x1[None, :] + t * dx[None, :]
    y4 = y1[None, :] + t * dy[None, :]
    ddx = x4 - x3[:, None]
    ddy = y4 - y3[:, None]
    return EARTH_RADIUS * np.sqrt(ddx * ddx + ddy * ddy)


def hausdorff_distance_batch(
    xy1: np.ndarray,
    n1: np.ndarray,
    xy2: np.ndarray,
    n2: np.ndarray,
    target_bytes: int = 1 << 20,
) -> np.ndarray:
    """Symmetric Hausdorff for B ring PAIRS at once — the batched form of
    hausdorff_distance, value-identical per pair (same elementwise
    projection/segment formulas; padding only adds +inf/-inf entries that
    the min/max reductions ignore).

    xy1/xy2: concatenated ring vertices ((Σn, 2) float64, lon/lat);
    n1/n2: per-ring vertex counts (B,). Returns (B,) float64.

    Round-6 motivation: the per-row pandas UDF paid a Python loop + two
    numpy matrix-kernel launches per PAIR (~2M pairs in conflate_city_1m
    — the stage wall); this pads each chunk of pairs into (C, Vmax, 2)
    tensors and runs both directed max-mins as a handful of vectorized
    passes per chunk. Chunks are sized so the (C, V1, V2) distance
    tensors stay under target_bytes."""
    n1 = np.asarray(n1, dtype=np.int64)
    n2 = np.asarray(n2, dtype=np.int64)
    B = n1.size
    out = np.zeros(B, dtype=np.float64)
    if B == 0:
        return out
    starts1 = np.zeros(B, dtype=np.int64)
    np.cumsum(n1[:-1], out=starts1[1:])
    starts2 = np.zeros(B, dtype=np.int64)
    np.cumsum(n2[:-1], out=starts2[1:])
    live = np.flatnonzero((n1 >= 2) & (n2 >= 2))  # degenerate rings -> 0.0
    # size-sorted chunks: near-uniform (n1, n2) per chunk keeps the padded
    # tensors tight (mixed sizes would pad every pair to the batch max)
    live = live[np.argsort(n1[live] * n2[live], kind="stable")]
    pos = 0
    while pos < live.size:
        v_prod = int(n1[live[pos]]) * int(n2[live[pos]])
        # ~5 live (C, V1, V2) temporaries in the directed pass
        c_max = max(1, target_bytes // (5 * 8 * max(v_prod, 1)))
        idx = live[pos:pos + c_max]
        pos += idx.size
        C = idx.size
        v1m = int(n1[idx].max())
        v2m = int(n2[idx].max())

        def pad_rings(xy, n, starts, vmax):
            cn = n[idx]
            total = int(cn.sum())
            cum = np.zeros(C, dtype=np.int64)
            np.cumsum(cn[:-1], out=cum[1:])
            rows = np.repeat(np.arange(C, dtype=np.int64), cn)
            ar = np.arange(total, dtype=np.int64)
            poss = ar - np.repeat(cum, cn)
            src = np.repeat(starts[idx] - cum, cn) + ar
            pad = np.zeros((C, vmax, 2), dtype=np.float64)
            pad[rows, poss] = xy[src]
            return pad

        pad1 = pad_rings(xy1, n1, starts1, v1m)
        pad2 = pad_rings(xy2, n2, starts2, v2m)
        x1, y1 = _project_cos(pad1)  # (C, V1)
        x2, y2 = _project_cos(pad2)  # (C, V2)
        h12 = _directed_hausdorff_padded(x1, y1, n1[idx], x2, y2, n2[idx])
        h21 = _directed_hausdorff_padded(x2, y2, n2[idx], x1, y1, n1[idx])
        out[idx] = np.maximum(h12, h21)
    return out


def _directed_hausdorff_padded(px, py, np_, sx, sy, ns):
    """max over valid points of min over valid segments of point→segment
    metre distance; padded inputs, (C,) result. Binary-op sequence kept
    IDENTICAL to line_distance_matrix (a*b then +, +x1 then -x3, sqrt
    then ×R) so values are bit-equal to the scalar kernel; in-place ops
    only bound the number of live (C, V1, V2) temporaries."""
    ax1, ay1 = sx[:, :-1], sy[:, :-1]
    dx = sx[:, 1:] - ax1
    dy = sy[:, 1:] - ay1
    len_sq = dx * dx + dy * dy
    axp = px[:, :, None] - ax1[:, None, :]          # T1
    ayp = py[:, :, None] - ay1[:, None, :]          # T2
    t = axp * dx[:, None, :]                        # T3
    tmp = ayp * dy[:, None, :]                      # T4
    t += tmp
    with np.errstate(divide="ignore", invalid="ignore"):
        t /= len_sq[:, None, :]
    np.copyto(t, -1.0, where=(len_sq == 0.0)[:, None, :])
    np.clip(t, 0.0, 1.0, out=t)
    # ddx = (ax1 + t*dx) - px, same order as x4 = x1 + t*dx; x4 - x3
    np.multiply(t, dx[:, None, :], out=tmp)
    tmp += ax1[:, None, :]
    tmp -= px[:, :, None]
    np.square(tmp, out=tmp)                         # ddx²
    np.multiply(t, dy[:, None, :], out=t)
    t += ay1[:, None, :]
    t -= py[:, :, None]
    np.square(t, out=t)                             # ddy²
    tmp += t
    np.sqrt(tmp, out=tmp)
    d = np.multiply(tmp, EARTH_RADIUS, out=tmp)
    # invalid segments (index >= n-1) can never win the min; invalid
    # points (index >= n-1) can never win the max
    seg_valid = np.arange(d.shape[2])[None, :] < (ns - 1)[:, None]
    np.copyto(d, np.inf, where=~seg_valid[:, None, :])
    dmin = d.min(axis=2)
    pt_valid = np.arange(d.shape[1])[None, :] < (np_ - 1)[:, None]
    np.copyto(dmin, -np.inf, where=~pt_valid)
    return dmin.max(axis=1)


def line_distance(s1, s2, p3) -> float:
    """Scalar point→segment distance (reference signature)."""
    return float(
        line_distance_matrix(
            np.asarray(p3, dtype=np.float64)[None, :],
            np.asarray(s1, dtype=np.float64)[None, :],
            np.asarray(s2, dtype=np.float64)[None, :],
        )[0, 0]
    )


def hausdorff_distance(p1: np.ndarray, p2: np.ndarray) -> float:
    """Symmetric Hausdorff between closed rings, vertex→segment metric.

    Equals building_merge.py:226-274: directed max-min over the first N-1
    vertices of each ring against all segments of the other; the reference's
    early-break (Taha–Hanbury) is a CPU shortcut that returns the same value
    as the full matrix max-min computed here.
    """
    p1 = np.asarray(p1, dtype=np.float64)
    p2 = np.asarray(p2, dtype=np.float64)
    if len(p1) < 2 or len(p2) < 2:
        return 0.0
    d12 = line_distance_matrix(p1[:-1], p2[:-1], p2[1:])  # p1 verts × p2 segs
    d21 = line_distance_matrix(p2[:-1], p1[:-1], p1[1:])
    return float(max(d12.min(axis=1).max(), d21.min(axis=1).max()))


# ---------------------------------------------------------------------------
# point-in-polygon (ray cast)
# ---------------------------------------------------------------------------

def points_in_ring(points: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray cast: (N,) bool for points against one closed ring.

    Matches municipality_split.py:204-221 — strict '>' on lat straddle and
    strict '<' on the crossing abscissa, no epsilon.
    """
    points = np.asarray(points, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    n_pts, n_edges = len(points), len(ring) - 1
    px = points[:, 0][:, None]             # (N,1)
    py = points[:, 1][:, None]

    def crossings(lo: int, hi: int) -> np.ndarray:
        xi, yi = ring[lo:hi, 0][None, :], ring[lo:hi, 1][None, :]   # (1,m)
        xj, yj = ring[lo + 1 : hi + 1, 0][None, :], ring[lo + 1 : hi + 1, 1][None, :]
        straddle = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_cross = (xj - xi) * (py - yi) / (yj - yi) + xi
        return (straddle & (px < x_cross)).sum(axis=1)

    # bound the (N × M) intermediates: the ray-cast count decomposes
    # exactly over edge chunks (sum of per-chunk crossing counts), so a
    # 100k-vertex county boundary against thousands of cell corners stays
    # tens of MB instead of a single multi-GB matrix
    _MAX_ELEMS = 8_000_000
    if n_pts * n_edges <= _MAX_ELEMS:
        return (crossings(0, n_edges) % 2).astype(bool)
    step = max(1, _MAX_ELEMS // max(n_pts, 1))
    total = np.zeros(n_pts, dtype=np.int64)
    for lo in range(0, n_edges, step):
        total += crossings(lo, min(lo + step, n_edges))
    return (total % 2).astype(bool)


def points_in_polygon(points: np.ndarray, polygon: list[np.ndarray]) -> np.ndarray:
    """Hole-aware PIP for many points vs one polygon. municipality_split.py:224-234.

    The bbox prefilter of the reference is subsumed: callers prefilter via
    the cell index; this kernel is exact. Reference semantics: inside outer
    ring AND not inside any hole.
    """
    inside = points_in_ring(points, polygon[0])
    for hole in polygon[1:]:
        if inside.any():
            inside &= ~points_in_ring(points, hole)
    return inside


def points_in_multipolygon(points: np.ndarray, multipolygon: list[list[np.ndarray]]) -> np.ndarray:
    """Any-polygon PIP. municipality_split.py:237-243."""
    points = np.asarray(points, dtype=np.float64)
    inside = np.zeros(len(points), dtype=bool)
    for polygon in multipolygon:
        todo = ~inside
        if not todo.any():
            break
        inside[todo] = points_in_polygon(points[todo], polygon)
    return inside


# ---------------------------------------------------------------------------
# bbox predicates — THREE distinct inequality conventions (SURVEY.md P5)
# ---------------------------------------------------------------------------

def in_bbox_closed(points: np.ndarray, bbox) -> np.ndarray:
    """min <= p <= max — municipality_split.py:185-187."""
    p = np.asarray(points, dtype=np.float64)
    minlon, minlat, maxlon, maxlat = bbox
    return (
        (minlat <= p[:, 1]) & (p[:, 1] <= maxlat)
        & (minlon <= p[:, 0]) & (p[:, 0] <= maxlon)
    )


def in_bbox_strict(points: np.ndarray, bbox) -> np.ndarray:
    """min < p < max — building_merge.py:630-632,699-701."""
    p = np.asarray(points, dtype=np.float64)
    minlon, minlat, maxlon, maxlat = bbox
    return (
        (minlat < p[:, 1]) & (p[:, 1] < maxlat)
        & (minlon < p[:, 0]) & (p[:, 0] < maxlon)
    )


def in_bbox_half_open(points: np.ndarray, bbox) -> np.ndarray:
    """min <= p < max — building2osm.py:476-485."""
    p = np.asarray(points, dtype=np.float64)
    minlon, minlat, maxlon, maxlat = bbox
    return (
        (minlat <= p[:, 1]) & (p[:, 1] < maxlat)
        & (minlon <= p[:, 0]) & (p[:, 0] < maxlon)
    )


# ---------------------------------------------------------------------------
# Ramer-Douglas-Peucker simplification
# ---------------------------------------------------------------------------

def simplify_ring(ring: np.ndarray, epsilon: float) -> np.ndarray:
    """RDP node reduction, stack form of building2osm.py:274-289.

    Identical split choice: farthest vertex strictly greater than running
    max ('>' with dmax starting 0.0), recurse when dmax >= epsilon; keeps
    the same vertex set as the reference's recursive version.
    """
    ring = np.asarray(ring, dtype=np.float64)
    n = len(ring)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            continue
        interior = ring[lo + 1 : hi]
        d = line_distance_matrix(interior, ring[lo][None, :], ring[hi][None, :])[:, 0]
        idx = int(np.argmax(d))            # first max, matching '>' scan
        dmax = float(d[idx])
        if dmax >= epsilon:
            mid = lo + 1 + idx
            keep[mid] = True
            stack.append((lo, mid))
            stack.append((mid, hi))
    return ring[keep]


# ---------------------------------------------------------------------------
# misc parse helpers (F12)
# ---------------------------------------------------------------------------

def dedupe_consecutive(coords: np.ndarray) -> np.ndarray:
    """Drop consecutive duplicates and A,B,A backtracks. building2osm.py:296-315.

    Sequential semantics (the backtrack pop can cascade), so implemented as
    a tight loop over the (already small) vertex array.
    """
    out: list[tuple[float, float]] = []
    last1: tuple[float, float] | None = None
    last2: tuple[float, float] | None = None
    for lon, lat in np.asarray(coords, dtype=np.float64):
        node = (float(lon), float(lat))
        if node != last1:
            if node == last2:
                out.pop()
                last1 = last2
            else:
                out.append(node)
        last2 = last1
        last1 = node
    return np.asarray(out, dtype=np.float64).reshape(-1, 2)
