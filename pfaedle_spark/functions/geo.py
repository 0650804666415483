"""Vectorized numpy geometry kernels.

Re-implementations (from the public formulas, not ports) of the
reference's geometry library semantics — ``util/geo/Geo.h`` — used
inside Arrow-batched pandas UDFs / applyInPandas groups. Everything is
float64 and fully vectorized; no per-row Python in hot paths.
"""

from __future__ import annotations

import numpy as np

# Reference constants (Geo.h:1630-1658; public web-mercator math)
EARTH_R = 6378137.0
MERC_K = 3189068.5  # EARTH_R / 2


def latlng_to_webmerc(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """WGS84 degrees -> web-mercator meters (Geo.h:1630-1637)."""
    x = np.asarray(lon, dtype=np.float64) * 111319.4907932735677
    y = np.log(np.tan(np.pi / 4.0 + np.deg2rad(np.asarray(lat, np.float64)) / 2.0)) * EARTH_R
    return x, y


def webmerc_to_latlng(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`latlng_to_webmerc` (Geo.h:1640-1646)."""
    lon = np.asarray(x, dtype=np.float64) / 111319.4907932735677
    lat = np.rad2deg(2.0 * np.arctan(np.exp(np.asarray(y) / EARTH_R)) - np.pi / 2.0)
    return lon, lat


def webmerc_dist_factor(y: np.ndarray) -> np.ndarray:
    """cos(lat) correction factor for metric distances on the mercator
    plane (Geo.h:1669-1676)."""
    lat = 2.0 * np.arctan(np.exp(np.asarray(y, dtype=np.float64) / EARTH_R)) - np.pi / 2.0
    return np.cos(lat)


def dist(ax, ay, bx, by) -> np.ndarray:
    return np.hypot(np.asarray(bx) - ax, np.asarray(by) - ay)


def dist_to_segment(px, py, x1, y1, x2, y2) -> np.ndarray:
    """Point -> segment distance, clamped projection (Geo.h:1077-1110)."""
    px, py = np.asarray(px, np.float64), np.asarray(py, np.float64)
    dx, dy = np.asarray(x2) - x1, np.asarray(y2) - y1
    len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - x1) * dx + (py - y1) * dy) / len2
    t = np.clip(np.where(len2 > 0, t, 0.0), 0.0, 1.0)
    qx, qy = x1 + t * dx, y1 + t * dy
    return np.hypot(px - qx, py - qy)


def project_on(px, py, x1, y1, x2, y2) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Clamped projection of point onto segment: (qx, qy, t)
    (Geo.h:1113-1146)."""
    px, py = np.asarray(px, np.float64), np.asarray(py, np.float64)
    dx, dy = np.asarray(x2) - x1, np.asarray(y2) - y1
    len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - x1) * dx + (py - y1) * dy) / len2
    t = np.clip(np.where(len2 > 0, t, 0.0), 0.0, 1.0)
    return x1 + t * dx, y1 + t * dy, t


def point_in_polygon(px, py, poly_x: np.ndarray, poly_y: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast point-in-polygon over many points, one polygon
    (the PIP operator; reference winding test Geo.h:303-347)."""
    px, py = np.asarray(px, np.float64), np.asarray(py, np.float64)
    x1, y1 = poly_x, poly_y
    x2, y2 = np.roll(poly_x, -1), np.roll(poly_y, -1)
    # for each point, count crossings over all polygon edges
    pxe = px[:, None]
    pye = py[:, None]
    cond = ((y1 <= pye) & (y2 > pye)) | ((y2 <= pye) & (y1 > pye))
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = x1 + (pye - y1) / (y2 - y1) * (x2 - x1)
    crossings = np.sum(cond & (xs > pxe), axis=1)
    return (crossings % 2) == 1


def inner_prod_deg(ax, ay, bx, by, cx, cy) -> np.ndarray:
    """Angle at vertex a between rays a->b and a->c, in degrees
    (Geo.h:797-817 semantics; same min-clamp before acos)."""
    ax, ay = np.asarray(ax, np.float64), np.asarray(ay, np.float64)
    d21x, d21y = np.asarray(bx) - ax, np.asarray(by) - ay
    d31x, d31y = np.asarray(cx) - ax, np.asarray(cy) - ay
    m12 = np.sqrt(d21x * d21x + d21y * d21y)
    m13 = np.sqrt(d31x * d31x + d31y * d31y)
    with np.errstate(divide="ignore", invalid="ignore"):
        cosv = (d21x * d31x + d21y * d31y) / (m12 * m13)
    return np.degrees(np.arccos(np.minimum(cosv, 1.0)))


def seg_intersect(x1, y1, x2, y2, x3, y3, x4, y4):
    """Proper segment x segment intersection test (Geo.h:458-474
    semantics for the crossing case; collinear overlap reports False).
    Vectorized; returns (hits: bool[], t: float[], u: float[])."""
    x1, y1 = np.asarray(x1, np.float64), np.asarray(y1, np.float64)
    d = (x2 - x1) * (np.asarray(y4) - y3) - (y2 - y1) * (np.asarray(x4) - x3)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((np.asarray(x3) - x1) * (np.asarray(y4) - y3)
             - (np.asarray(y3) - y1) * (np.asarray(x4) - x3)) / d
        u = ((np.asarray(x3) - x1) * (np.asarray(y2) - y1)
             - (np.asarray(y3) - y1) * (np.asarray(x2) - x1)) / d
    hits = (d != 0) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
    return hits, t, u


def seg_intersection(x1, y1, x2, y2, x3, y3, x4, y4):
    """Intersection points of properly crossing segments (Geo.h:645-681);
    NaN where no crossing."""
    hits, t, _ = seg_intersect(x1, y1, x2, y2, x3, y3, x4, y4)
    ix = np.where(hits, np.asarray(x1) + t * (np.asarray(x2) - x1), np.nan)
    iy = np.where(hits, np.asarray(y1) + t * (np.asarray(y2) - y1), np.nan)
    return ix, iy


def convex_hull(xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Indices of the convex hull in counter-clockwise order (Andrew
    monotone chain — public algorithm; reference Geo.h:1219-1455)."""
    pts = np.column_stack([np.asarray(xs, np.float64), np.asarray(ys, np.float64)])
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    if len(order) <= 2:
        return order

    def half(indices):
        out: list[int] = []
        for i in indices:
            while len(out) >= 2:
                o, a = pts[out[-2]], pts[out[-1]]
                if (a[0] - o[0]) * (pts[i][1] - o[1]) - (a[1] - o[1]) * (pts[i][0] - o[0]) <= 0:
                    out.pop()
                else:
                    break
            out.append(i)
        return out

    lower = half(order)
    upper = half(order[::-1])
    return np.array(lower[:-1] + upper[:-1], dtype=np.int64)


def polygon_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Shoelace area of a closed ring (vertices in order; Geo.h `area`)."""
    xs = np.asarray(xs, np.float64)
    ys = np.asarray(ys, np.float64)
    return 0.5 * abs(float(np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1))))


def centroid(xs: np.ndarray, ys: np.ndarray) -> tuple[float, float]:
    """Point-set centroid (Geo.h `centroid` over point collections)."""
    return float(np.mean(np.asarray(xs, np.float64))), float(np.mean(np.asarray(ys, np.float64)))


def extend_box(boxes: np.ndarray) -> tuple[float, float, float, float]:
    """Union of (xmin, ymin, xmax, ymax) boxes (Geo.h `extendBox`)."""
    b = np.asarray(boxes, np.float64).reshape(-1, 4)
    return (
        float(b[:, 0].min()), float(b[:, 1].min()),
        float(b[:, 2].max()), float(b[:, 3].max()),
    )


def _dp_dist_to_chord(px, py, x1, y1, x2, y2):
    """dist_to_segment with the final distance in ``sqrt(dx*dx+dy*dy)``
    form — the exact expression tree the simplify SQL oracle evaluates
    (np.hypot rounds differently from SQRT on ~0.6% of inputs, which
    would flip ``> eps`` splits)."""
    px, py = np.asarray(px, np.float64), np.asarray(py, np.float64)
    dx, dy = np.asarray(x2) - x1, np.asarray(y2) - y1
    len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - x1) * dx + (py - y1) * dy) / len2
    t = np.clip(np.where(len2 > 0, t, 0.0), 0.0, 1.0)
    rx, ry = px - (x1 + t * dx), py - (y1 + t * dy)
    return np.sqrt(rx * rx + ry * ry)


def douglas_peucker(xs: np.ndarray, ys: np.ndarray, eps: float) -> np.ndarray:
    """Polyline simplification; returns boolean keep-mask
    (reference ``simplify`` Geo.h:1041-1075, applied with 0.5 m).

    Tie-break: np.argmax keeps the FIRST maximum, so the split vertex
    is the lexicographic (deviation DESC, index ASC) winner — the SQL
    oracle's NOT-EXISTS predicate replays exactly that."""
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = _dp_dist_to_chord(
            xs[i + 1 : j], ys[i + 1 : j], xs[i], ys[i], xs[j], ys[j]
        )
        k = int(np.argmax(seg))
        if seg[k] > eps:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return keep


def densify(xs: np.ndarray, ys: np.ndarray, d: float) -> tuple[np.ndarray, np.ndarray]:
    """Insert points so no segment exceeds length d (Geo.h:1533-1558).

    Mirrors the reference exactly: intermediate points sit at exact
    multiples of ``d`` along each segment (unit direction × curd) and
    every ORIGINAL vertex is pushed verbatim — an even-spread
    ``linspace`` variant drifted the endpoints by ~1 ulp
    (x1 + 1.0*(x2-x1) != x2 in floats), caught by the hypothesis
    endpoint-preservation law in tests/test_properties.py."""
    out_x, out_y = [xs[0]], [ys[0]]
    for i in range(1, len(xs)):
        ddx = float(xs[i] - xs[i - 1])
        ddy = float(ys[i] - ys[i - 1])
        # sqrt(dx^2+dy^2) like the reference's dist (Geo.h:362-370), NOT
        # np.hypot — correctly-rounded ops keep the inserted points
        # bit-identical to the SQL oracle's SQRT arithmetic
        seg = float(np.sqrt(ddx * ddx + ddy * ddy))
        if seg > 0:
            dx = ddx / seg
            dy = ddy / seg
            curd = d
            while curd < seg:
                out_x.append(xs[i - 1] + dx * curd)
                out_y.append(ys[i - 1] + dy * curd)
                curd += d
        out_x.append(xs[i])
        out_y.append(ys[i])
    return np.asarray(out_x), np.asarray(out_y)


MAX_DENSIFY_PTS = 256  # cap the O(n^2) DP: seg grows with path length
                       # (the reference's fixed 50 m grid assumes city-
                       # scale hops; the cap keeps the DP bounded on
                       # arbitrarily long inputs without changing the
                       # metric's resolution below the cap)


def _eff_seg(xs, ys, seg: float) -> float:
    # LEFT-TO-RIGHT sqrt-form accumulation (not np.hypot(...).sum(),
    # whose pairwise order rounds differently): the SQL oracle replays
    # this exact chain, and a 1-ulp drift in the total would flip
    # densify insertion counts (curd < seg_len comparisons downstream).
    dx = np.diff(np.asarray(xs, np.float64))
    dy = np.diff(np.asarray(ys, np.float64))
    sl = np.sqrt(dx * dx + dy * dy)
    total = 0.0
    for v in sl:
        total += float(v)
    return max(seg, total / MAX_DENSIFY_PTS)


def frechet_dist(ax, ay, bx, by, seg: float = 50.0) -> float:
    """Discrete Fréchet distance after densification
    (Eiter/Mannila DP; reference Geo.h:1560-1600)."""
    ax = np.asarray(ax, np.float64); ay = np.asarray(ay, np.float64)
    bx = np.asarray(bx, np.float64); by = np.asarray(by, np.float64)
    seg = max(_eff_seg(ax, ay, seg), _eff_seg(bx, by, seg))
    ax, ay = densify(ax, ay, seg)
    bx, by = densify(bx, by, seg)
    p, q = len(ax), len(bx)
    # sqrt(dx^2+dy^2) like the reference's dist (Geo.h:362-370), NOT
    # np.hypot: every op here is IEEE correctly rounded, so on integer
    # inputs the matrix is bit-identical to the SQL oracle's
    # SQRT(dx*dx+dy*dy) and the DP (a pure selection) inherits parity.
    dx = ax[:, None] - bx[None, :]
    dy = ay[:, None] - by[None, :]
    d = np.sqrt(dx * dx + dy * dy)
    ca = np.empty((p, q))
    ca[0, 0] = d[0, 0]
    for j in range(1, q):
        ca[0, j] = max(ca[0, j - 1], d[0, j])
    for i in range(1, p):
        ca[i, 0] = max(ca[i - 1, 0], d[i, 0])
        # row-wise DP (inner loop unavoidable; rows are short post-densify)
        for j in range(1, q):
            ca[i, j] = max(min(ca[i - 1, j], ca[i - 1, j - 1], ca[i, j - 1]), d[i, j])
    return float(ca[p - 1, q - 1])


def acc_frechet_dist(ax, ay, bx, by, seg: float = 25.0) -> float:
    """Accumulated Fréchet variant (reference Geo.h:1602-1627) — sum of
    per-step distances along the optimal coupling, normalized by steps."""
    ax = np.asarray(ax, np.float64); ay = np.asarray(ay, np.float64)
    bx = np.asarray(bx, np.float64); by = np.asarray(by, np.float64)
    seg = max(_eff_seg(ax, ay, seg), _eff_seg(bx, by, seg))
    ax, ay = densify(ax, ay, seg)
    bx, by = densify(bx, by, seg)
    p, q = len(ax), len(bx)
    dxm = ax[:, None] - bx[None, :]
    dym = ay[:, None] - by[None, :]
    d = np.sqrt(dxm * dxm + dym * dym)  # reference dist (Geo.h:362-370)
    ca = np.empty((p, q))
    ca[0, 0] = d[0, 0]
    for j in range(1, q):
        ca[0, j] = ca[0, j - 1] + d[0, j]
    for i in range(1, p):
        ca[i, 0] = ca[i - 1, 0] + d[i, 0]
        for j in range(1, q):
            ca[i, j] = min(ca[i - 1, j], ca[i - 1, j - 1], ca[i, j - 1]) + d[i, j]
    return float(ca[p - 1, q - 1] / max(p, q))


# bound on the padded wavefront cubes per batch (2 float64 cubes of
# batch x p_max x q_max): 32 pairs at the 256-point densify cap ~ 34 MB
_DP_BUDGET_BYTES = 2 * 8 * 32 * 256 * 256


def frechet_dists_batch(paths) -> tuple[np.ndarray, np.ndarray]:
    """Both Fréchet metrics for MANY polyline pairs in one call —
    bit-identical per element to ``frechet_dist`` / ``acc_frechet_dist``.

    The scalar DPs are ~65k interpreted python iterations per pair once
    densify hits MAX_DENSIFY_PTS; over a corpus of short trips that per
    -pair constant dominates the whole eval stage (measured ~4.6 s for
    625 trips at sf0.1). Here the DP runs as an anti-diagonal wavefront
    over a padded (batch, P, Q) cube: cells on diagonal k depend only
    on diagonals k-1/k-2, so each step is a handful of vectorized
    selections across every pair at once. Selections (min/max) and the
    single per-cell add keep the exact scalar operand order, boundary
    rows use ``np.{maximum,add}.accumulate`` (strictly sequential, the
    scalar loop's order), and padded cells only ever CONSUME real
    cells — each pair's answer cell never reads padding. Consecutive
    pairs are batched while the padded cubes stay within
    ``_DP_BUDGET_BYTES``, so memory stays bounded however many pairs a
    caller groups together, and one long path (densify keeps every raw
    vertex) does not pad its neighbours to its size.

    ``paths``: iterable of raw (ax, ay, bx, by) float64 arrays
    (pre-densify). Returns (d_f, acc_d_f) arrays aligned with input.
    """
    paths = [tuple(np.asarray(a, np.float64) for a in p) for p in paths]
    outs = []
    for acc, seg0 in ((False, 50.0), (True, 25.0)):
        dens = []
        for ax, ay, bx, by in paths:
            seg = max(_eff_seg(ax, ay, seg0), _eff_seg(bx, by, seg0))
            dens.append(densify(ax, ay, seg) + densify(bx, by, seg))
        out = np.empty(len(dens))
        lo = 0
        while lo < len(dens):
            hi, p_max, q_max = lo + 1, len(dens[lo][0]), len(dens[lo][2])
            while hi < len(dens):
                p2, q2 = max(p_max, len(dens[hi][0])), max(q_max, len(dens[hi][2]))
                if 2 * 8 * (hi - lo + 1) * p2 * q2 > _DP_BUDGET_BYTES:
                    break
                hi, p_max, q_max = hi + 1, p2, q2
            out[lo:hi] = _frechet_dp_wavefront(dens[lo:hi], acc)
            lo = hi
        outs.append(out)
    return outs[0], outs[1]


def _frechet_dp_wavefront(dens, acc: bool) -> np.ndarray:
    """Run the (max|acc) Fréchet DP for a batch of DENSIFIED pairs."""
    nb = len(dens)
    p_max = max(len(t[0]) for t in dens)
    q_max = max(len(t[2]) for t in dens)
    d = np.zeros((nb, p_max, q_max))
    for n, (ax, ay, bx, by) in enumerate(dens):
        dx = ax[:, None] - bx[None, :]
        dy = ay[:, None] - by[None, :]
        # the scalar kernels' exact expression (Geo.h:362-370 dist)
        d[n, : len(ax), : len(bx)] = np.sqrt(dx * dx + dy * dy)
    ca = np.zeros((nb, p_max, q_max))
    edge = np.add if acc else np.maximum
    ca[:, 0, :] = edge.accumulate(d[:, 0, :], axis=1)
    ca[:, :, 0] = edge.accumulate(d[:, :, 0], axis=1)
    for k in range(2, p_max + q_max - 1):
        i0 = max(1, k - (q_max - 1))
        i1 = min(p_max - 1, k - 1)
        if i0 > i1:
            continue
        ii = np.arange(i0, i1 + 1)
        jj = k - ii
        m3 = np.minimum(
            np.minimum(ca[:, ii - 1, jj], ca[:, ii - 1, jj - 1]), ca[:, ii, jj - 1]
        )
        if acc:
            ca[:, ii, jj] = m3 + d[:, ii, jj]
        else:
            ca[:, ii, jj] = np.maximum(m3, d[:, ii, jj])
    out = np.empty(nb)
    for n, (ax, ay, bx, by) in enumerate(dens):
        p, q = len(ax), len(bx)
        v = ca[n, p - 1, q - 1]
        out[n] = v / max(p, q) if acc else v
    return out
