"""Hypothesis property tests for the pure geometry/metric kernels
(functions/geo.py) — the reference's invariants as generated-input laws
rather than fixed fixtures (SURVEY §5: the reference ships exact-value
unit tests for these kernels; properties cover the input space those
points sample).

No SparkSession needed: these kernels are the numpy layer the
column-expression SQL mirrors, and they run in milliseconds.
"""

import math

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pfaedle_spark.functions import geo

# realistic meter-scale coordinates on a cm lattice: the kernels use
# float cross-product tolerances (as the reference does), so denormal
# -scale coordinates (1e-300) degenerate into "collinear within
# tolerance" — legitimate kernel behaviour, but not the laws under
# test here
coord = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
).map(lambda v: round(v, 2))
fin = st.floats(
    min_value=-1e5, max_value=1e5, allow_nan=False, allow_infinity=False
).map(lambda v: round(v, 2))


def _arr(*vals):
    return [np.asarray([v], dtype=np.float64) for v in vals]


@given(coord, coord, coord, coord, coord, coord)
def test_dist_to_segment_bounds(px, py, x1, y1, x2, y2):
    """distToSegment (Geo.h:1077-1110) is bounded by the endpoint
    distances and is never negative; a point ON an endpoint is at 0."""
    (d,) = geo.dist_to_segment(*_arr(px, py, x1, y1, x2, y2))
    da = math.hypot(px - x1, py - y1)
    db = math.hypot(px - x2, py - y2)
    assert d >= -1e-9
    assert d <= min(da, db) + 1e-6 * (1 + min(da, db))


@given(coord, coord, coord, coord)
def test_dist_to_segment_endpoint_zero(x1, y1, x2, y2):
    (d,) = geo.dist_to_segment(*_arr(x1, y1, x1, y1, x2, y2))
    assert d <= 1e-6


@given(coord, coord, coord, coord, coord, coord)
def test_project_on_clamped_and_on_segment(px, py, x1, y1, x2, y2):
    """projectOn (Geo.h:1113-1146): t in [0,1], the projection lies on
    the segment, and |p - proj| == distToSegment."""
    qx, qy, t = geo.project_on(*_arr(px, py, x1, y1, x2, y2))
    (d,) = geo.dist_to_segment(*_arr(px, py, x1, y1, x2, y2))
    assert 0.0 <= t[0] <= 1.0
    got = math.hypot(px - qx[0], py - qy[0])
    assert math.isclose(got, d, rel_tol=1e-9, abs_tol=1e-6)


# a point collinear with a hull edge (here (1, 1) on (0, 0)-(2, 2))
@example([(0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (-1.0, 0.0)])
@given(st.lists(st.tuples(fin, fin), min_size=3, max_size=40, unique=True))
def test_convex_hull_contains_all_points(pts):
    """Every input point is inside (or on) its convex hull; hull area
    >= polygon area of any simple subchain (monotonicity via extent)."""
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    idx = geo.convex_hull(xs, ys)
    hx, hy = xs[idx], ys[idx]
    if len(idx) < 3:
        return
    # hull must cover the bounding extremes of the input
    assert hx.min() == xs.min() and hx.max() == xs.max()
    assert hy.min() == ys.min() and hy.max() == ys.max()
    inside = geo.point_in_polygon(xs, ys, hx, hy)
    # points ON the hull boundary may report either side under the
    # winding rule; interior points must be inside
    strict = (
        (xs > xs.min()) & (xs < xs.max()) & (ys > ys.min()) & (ys < ys.max())
    )
    # the boundary is every hull edge, not only its vertices: a point
    # collinear with an edge is dropped from the hull yet lies on it.
    # `fin` is a cm lattice, so the collinearity test is exact in int64
    ix, iy = np.rint(xs * 100).astype(np.int64), np.rint(ys * 100).astype(np.int64)
    on_hull = np.zeros(len(xs), dtype=bool)
    for a, b in zip(idx, np.roll(idx, -1)):
        cross = (ix[b] - ix[a]) * (iy - iy[a]) - (iy[b] - iy[a]) * (ix - ix[a])
        on_hull |= (
            (cross == 0)
            & (np.minimum(ix[a], ix[b]) <= ix) & (ix <= np.maximum(ix[a], ix[b]))
            & (np.minimum(iy[a], iy[b]) <= iy) & (iy <= np.maximum(iy[a], iy[b]))
        )
    assert inside[strict & ~on_hull].all() or not (strict & ~on_hull).any()


@given(st.lists(st.tuples(fin, fin), min_size=3, max_size=30, unique=True),
       st.floats(min_value=1e-3, max_value=1e4))
@settings(max_examples=60, deadline=None)
def test_douglas_peucker_laws(pts, eps):
    """simplify (Geo.h DP): keeps endpoints, output indices are a
    strictly increasing subset, and every dropped point lies within eps
    of the simplified chain."""
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    keep = np.flatnonzero(geo.douglas_peucker(xs, ys, eps))  # mask -> indices
    assert keep[0] == 0 and keep[-1] == len(xs) - 1
    assert (np.diff(keep) > 0).all()
    kept = set(int(k) for k in keep)
    for i in range(len(xs)):
        if i in kept:
            continue
        # the dropped point must be within eps of SOME kept segment
        # spanning it
        lo = max(k for k in kept if k < i)
        hi = min(k for k in kept if k > i)
        (d,) = geo.dist_to_segment(
            *_arr(xs[i], ys[i], xs[lo], ys[lo], xs[hi], ys[hi])
        )
        assert d <= eps + 1e-6


@given(st.lists(st.tuples(fin, fin), min_size=2, max_size=20),
       st.floats(min_value=100.0, max_value=1e4))
@settings(max_examples=60, deadline=None)
def test_densify_preserves_shape(pts, d):
    """densify inserts points ON the polyline: total length unchanged,
    every output segment <= d (+fp slack), endpoints preserved."""
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    ox, oy = geo.densify(xs, ys, d)
    ln_in = float(np.hypot(np.diff(xs), np.diff(ys)).sum())
    ln_out = float(np.hypot(np.diff(ox), np.diff(oy)).sum())
    assert math.isclose(ln_in, ln_out, rel_tol=1e-9, abs_tol=1e-6)
    assert ox[0] == xs[0] and oy[0] == ys[0]
    assert ox[-1] == xs[-1] and oy[-1] == ys[-1]
    segs = np.hypot(np.diff(ox), np.diff(oy))
    assert (segs <= d * (1 + 1e-9) + 1e-9).all()


@given(st.lists(st.tuples(fin, fin), min_size=2, max_size=12, unique=True),
       st.lists(st.tuples(fin, fin), min_size=2, max_size=12, unique=True))
@settings(max_examples=40, deadline=None)
def test_frechet_laws(a, b):
    """d_F(A, A) == 0; symmetry; lower-bounded by the endpoint gaps
    (every coupling matches first-with-first, last-with-last)."""
    ax = np.array([p[0] for p in a]); ay = np.array([p[1] for p in a])
    bx = np.array([p[0] for p in b]); by = np.array([p[1] for p in b])
    assert geo.frechet_dist(ax, ay, ax, ay) <= 1e-9
    d_ab = geo.frechet_dist(ax, ay, bx, by)
    d_ba = geo.frechet_dist(bx, by, ax, ay)
    assert math.isclose(d_ab, d_ba, rel_tol=1e-9, abs_tol=1e-6)
    lb = max(
        math.hypot(ax[0] - bx[0], ay[0] - by[0]),
        math.hypot(ax[-1] - bx[-1], ay[-1] - by[-1]),
    )
    assert d_ab >= lb - 1e-6


@given(st.floats(min_value=-85.0, max_value=85.0),
       st.floats(min_value=-179.9, max_value=179.9))
def test_webmerc_roundtrip(lat, lon):
    """latLng -> webMerc -> latLng is the identity (reference exact
    constants, Geo.h webMercToLatLng)."""
    x, y = geo.latlng_to_webmerc(np.asarray([lon]), np.asarray([lat]))
    lon2, lat2 = geo.webmerc_to_latlng(x, y)
    assert math.isclose(lon2[0], lon, rel_tol=0, abs_tol=1e-9)
    assert math.isclose(lat2[0], lat, rel_tol=0, abs_tol=1e-9)


@given(st.lists(st.tuples(fin, fin), min_size=3, max_size=25, unique=True))
def test_centroid_inside_bbox_and_area_nonneg(pts):
    xs = np.array([p[0] for p in pts]); ys = np.array([p[1] for p in pts])
    idx = geo.convex_hull(xs, ys)
    if len(idx) < 3:
        return
    hx, hy = xs[idx], ys[idx]
    area = abs(geo.polygon_area(hx, hy))
    cx, cy = geo.centroid(hx, hy)
    assert xs.min() - 1e-6 <= cx <= xs.max() + 1e-6
    assert ys.min() - 1e-6 <= cy <= ys.max() + 1e-6
    assert area >= 0.0


@given(
    st.lists(
        st.lists(
            st.integers(min_value=-(1 << 15), max_value=1 << 15),
            min_size=64, max_size=64,
        ),
        min_size=1, max_size=8,
    )
)
@settings(max_examples=60, deadline=None)
def test_srp_key_matmul_matches_scalar_reference(vecs):
    """The batched numpy SRP kernel (sign projections -> band keys,
    simsearch._srp_keys_np's math) must equal a naive per-component
    python loop for any in-range int64 vectors — pins the matmul,
    reshape and bit-packing order against the written-out definition
    (hyperplane (j,d) = LCG(j*D+d), key_b = sum_i bit[b*W+i] << i)."""
    from pfaedle_spark.operators import simsearch as ss

    m = np.array(vecs, dtype=np.int64)
    w = ss._srp_weights()
    bits = (m @ w.T >= 0).astype(np.int64)
    pw = np.int64(1) << np.arange(ss.BAND_W, dtype=np.int64)
    keys = bits.reshape(-1, ss.SRP_BANDS, ss.BAND_W) @ pw

    for n, qv in enumerate(vecs):
        for b in range(ss.SRP_BANDS):
            want = 0
            for i in range(ss.BAND_W):
                j = b * ss.BAND_W + i
                dot = sum(
                    qv[d]
                    * ((ss._LCG_MUL * (j * ss.EMB_DIM + d) + ss._LCG_ADD)
                       % ss._LCG_MOD - ss._LCG_HALF)
                    for d in range(ss.EMB_DIM)
                )
                want += (1 if dot >= 0 else 0) << i
            assert keys[n, b] == want, (n, b)


@given(
    st.lists(
        st.tuples(
            st.lists(st.tuples(fin, fin), min_size=2, max_size=10),
            st.lists(st.tuples(fin, fin), min_size=2, max_size=10),
        ),
        min_size=1, max_size=6,
    )
)
@settings(max_examples=40, deadline=None)
def test_frechet_batch_wavefront_matches_scalar_dps(pairs):
    """The anti-diagonal wavefront batch DP must be BIT-identical to
    the scalar per-pair kernels for both metrics — selections and the
    single per-cell add keep the scalar operand order, so == not
    allclose."""
    paths = [
        (
            np.array([p[0] for p in a]), np.array([p[1] for p in a]),
            np.array([p[0] for p in b]), np.array([p[1] for p in b]),
        )
        for a, b in pairs
    ]
    dfs, adfs = geo.frechet_dists_batch(paths)
    for i, (ax, ay, bx, by) in enumerate(paths):
        assert dfs[i] == geo.frechet_dist(ax, ay, bx, by)
        assert adfs[i] == geo.acc_frechet_dist(ax, ay, bx, by)


def test_frechet_batch_long_path_does_not_pad_its_neighbours(monkeypatch):
    """One path with thousands of raw vertices (densify keeps every raw
    vertex) batched with 31 short ones: no wavefront batch of several
    pairs exceeds the padded-cube byte budget, and every result stays
    bit-identical to the scalar kernels."""
    batches = []
    wavefront = geo._frechet_dp_wavefront

    def spy(dens, acc):
        batches.append((len(dens), max(len(t[0]) for t in dens), max(len(t[2]) for t in dens)))
        return wavefront(dens, acc)

    monkeypatch.setattr(geo, "_frechet_dp_wavefront", spy)
    t = np.linspace(0.0, 1.0, 3000)
    long = (t * 5000.0, np.sin(t * 40.0) * 300.0, np.array([0.0, 5000.0]), np.zeros(2))
    short = [
        (np.array([0.0, 100.0 + i]), np.array([0.0, 10.0]),
         np.array([0.0, 90.0]), np.array([5.0, 0.0]))
        for i in range(31)
    ]
    paths = [long] + short
    dfs, adfs = geo.frechet_dists_batch(paths)
    assert all(n < len(paths) for n, p, _ in batches if p >= 3000)
    for n, p, q in batches:
        assert n == 1 or 2 * 8 * n * p * q <= geo._DP_BUDGET_BYTES, (n, p, q)
    for i, (ax, ay, bx, by) in enumerate(paths):
        assert dfs[i] == geo.frechet_dist(ax, ay, bx, by)
        assert adfs[i] == geo.acc_frechet_dist(ax, ay, bx, by)
