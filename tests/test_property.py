"""Property-based tests (hypothesis) for the pure-math core."""

import numpy as np
from hypothesis import given, settings, strategies as st

# timing-based flake guard: cover computations on large random polygons can
# exceed hypothesis's default 200ms deadline under machine load
settings.register_profile("nodl", deadline=None)
settings.load_profile("nodl")

from xagg_spark.codecs import decode_tile, encode_tile, psnr
from xagg_spark.geo import (cea_band_area, clip_area, forward,
                            rect_rect_overlap_area_cea, synth_bounds,
                            wrap_lon)
from xagg_spark.geo.cells import cell_of, cover_polygon_classified

lat_st = st.floats(-89.0, 89.0)
lon_st = st.floats(-179.0, 179.0)


@given(st.lists(st.floats(-1000.0, 1000.0), min_size=1, max_size=50))
def test_wrap_lon_range_and_idempotence(lons):
    w = wrap_lon(np.array(lons))
    assert ((w >= -180.0) & (w < 180.0 + 1e-9)).all()
    assert np.allclose(wrap_lon(w), w)


@given(st.integers(2, 40), st.floats(0.05, 5.0), st.floats(-60.0, 55.0))
def test_synth_bounds_regular_grid(n, step, start):
    lats = start + np.arange(n) * step
    lats = lats[lats <= 89.9]
    if len(lats) < 2:
        return
    b = synth_bounds(lats, is_lon=False)
    # bounds bracket their coordinate and are clamped
    assert (b[:, 0] <= lats + 1e-9).all() and (b[:, 1] >= lats - 1e-9).all()
    assert (b >= -90.0).all() and (b <= 90.0).all()
    # adjacent pixels share an edge on a regular grid (away from clamps)
    inner = (b[1:, 0] > -90.0) & (b[:-1, 1] < 90.0)
    assert np.allclose(b[1:, 0][inner], b[:-1, 1][inner])


@settings(max_examples=60)
@given(lon_st, lat_st, st.floats(0.1, 20.0), st.floats(0.1, 20.0),
       lon_st, lat_st, st.floats(0.1, 20.0), st.floats(0.1, 20.0))
def test_clip_matches_analytic_for_rects(ax, ay, aw, ah, bx, by, bw, bh):
    a = (ax, ay, min(ax + aw, 179.9), min(ay + ah, 89.9))
    b = (bx, by, min(bx + bw, 179.9), min(by + bh, 89.9))
    if a[2] <= a[0] or a[3] <= a[1] or b[2] <= b[0] or b[3] <= b[1]:
        return
    want = float(rect_rect_overlap_area_cea(a[0], a[1], a[2], a[3],
                                            b[0], b[1], b[2], b[3]))
    pa = np.array([[a[0], a[1]], [a[2], a[1]], [a[2], a[3]], [a[0], a[3]]])
    pb = np.array([[b[0], b[1]], [b[2], b[1]], [b[2], b[3]], [b[0], b[3]]])
    ax_, ay_ = forward(pa[:, 0], pa[:, 1], 6933)
    bx_, by_ = forward(pb[:, 0], pb[:, 1], 6933)
    got = clip_area(np.stack([ax_, ay_], 1), np.stack([bx_, by_], 1))
    assert np.isclose(got, want, rtol=1e-9, atol=1.0)  # 1 m^2 abs slop


@settings(max_examples=40)
@given(st.lists(st.tuples(lon_st, lat_st), min_size=3, max_size=8, unique=True),
       st.integers(4, 9))
def test_cover_contains_vertex_cells(pts, res):
    ring = np.array(pts, dtype=np.float64)
    # make the ring SIMPLE (engine contract, same as GEOS validity):
    # star-shaped ordering by angle around the centroid
    c = ring.mean(axis=0)
    ang = np.arctan2(ring[:, 1] - c[1], ring[:, 0] - c[0])
    ring = ring[np.argsort(ang)]
    x, y = ring[:, 0], ring[:, 1]
    area2 = abs(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))
    if area2 < 1e-6:
        return
    # the engine's cover is 1-ring dilated (center-cell pixel assignment);
    # a vertex exactly on a cell boundary floors into the neighbor cell,
    # which the dilation covers
    cover, _ = cover_polygon_classified([ring], res)
    vcells = cell_of(x, y, res)
    assert set(vcells.tolist()) <= set(cover.tolist())


@settings(max_examples=30)
@given(st.integers(0, 2**31 - 1), st.sampled_from(["raw32", "png", "q8"]))
def test_codec_roundtrip_psnr(seed, fmt):
    rng = np.random.default_rng(seed)
    arr = (rng.random((9, 13)) * rng.uniform(0.1, 1e4)).astype(np.float32)
    out = decode_tile(encode_tile(arr, fmt), fmt, 13, 9)
    if fmt == "raw32":
        assert np.array_equal(arr, out)
    else:
        assert psnr(arr, out) >= 40.0


@settings(max_examples=40)
@given(st.floats(-89.0, 88.0), st.floats(0.01, 1.0),
       st.floats(-179.0, 178.0), st.floats(0.01, 1.0))
def test_cea_band_area_positive_and_additive(lat0, dlat, lon0, dlon):
    lat1, lon1 = lat0 + dlat, lon0 + dlon
    whole = float(cea_band_area(lat0, lat1, lon0, lon1))
    mid = lat0 + dlat / 2
    parts = float(cea_band_area(lat0, mid, lon0, lon1)) \
        + float(cea_band_area(mid, lat1, lon0, lon1))
    assert whole > 0
    assert np.isclose(whole, parts, rtol=1e-12)


@settings(deadline=None, max_examples=30)
@given(
    n=st.integers(1, 40),
    m=st.integers(1, 5),
    kind=st.sampled_from(["f8", "f4", "i4", "i8big"]),
)
def test_netcdf3_roundtrip_property(n, m, kind):
    """Any rectangular numeric array round-trips through the from-scratch
    NetCDF3 classic codec (int64 narrowing included)."""
    import tempfile

    from xagg_spark.io.netcdf3 import read_netcdf3, write_netcdf3

    rng = np.random.default_rng(n * 100 + m)
    if kind == "f8":
        arr = rng.normal(size=(n, m))
    elif kind == "f4":
        arr = rng.normal(size=(n, m)).astype(np.float32)
    elif kind == "i4":
        arr = rng.integers(-2**31, 2**31 - 1, size=(n, m), dtype=np.int64)
    else:
        arr = rng.integers(2**40, 2**50, size=(n, m), dtype=np.int64)
    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/t.nc"
        write_netcdf3(p, {"a": n, "b": m}, {"v": (["a", "b"], arr)})
        dims, variables, _ = read_netcdf3(p)
        assert dims == {"a": n, "b": m}
        got = np.asarray(variables["v"][1], dtype=np.float64)
        np.testing.assert_allclose(got, arr.astype(np.float64), rtol=0,
                                   atol=0)


@settings(deadline=None, max_examples=15)
@given(
    h=st.integers(4, 40),
    w=st.integers(4, 40),
    smooth=st.booleans(),
    seed=st.integers(0, 10**6),
)
def test_jpeg_roundtrip_property(h, w, smooth, seed):
    """Arbitrary shapes/values survive the from-scratch JPEG codec with
    bounded error (value range scaled to 8 bits + DCT quantization)."""
    from xagg_spark.codecs.jpeg import decode_jpeg_gray, encode_jpeg_gray

    rng = np.random.default_rng(seed)
    if smooth:
        yy, xx = np.mgrid[0:h, 0:w]
        arr = (np.sin(yy / 7.0) * 40 + np.cos(xx / 5.0) * 25
               + rng.normal(scale=0.5, size=(h, w))).astype(np.float32)
    else:
        arr = rng.uniform(-50, 150, size=(h, w)).astype(np.float32)
    dec = decode_jpeg_gray(encode_jpeg_gray(arr, quality=96))
    assert dec.shape == (h, w)
    rng_span = float(arr.max() - arr.min()) or 1.0
    err = float(np.abs(dec - arr).max())
    # worst case (white noise) stays within ~15% of the dynamic range;
    # smooth rasters are far tighter
    assert err <= (0.04 if smooth else 0.16) * rng_span


@given(st.integers(0, 10_000), st.integers(2, 30), st.integers(2, 25),
       st.integers(2, 20), st.integers(2, 18))
def test_regrid_vectorized_equals_scalar_property(seed, nd_lat, nd_lon,
                                                  ns_lat, ns_lon):
    """Separable-BLAS conservative regrid == per-pixel scalar definition on
    arbitrary irregular, offset, partially-covering grid pairs."""
    from xagg_spark.grid import AxesGrid
    from xagg_spark.operators.regrid import (_conservative,
                                             _conservative_scalar)
    rng = np.random.default_rng(seed)
    d = AxesGrid(lat=np.sort(rng.uniform(-70, 70, nd_lat)),
                 lon=np.sort(rng.uniform(-170, 170, nd_lon))).with_bounds()
    s = AxesGrid(lat=np.sort(rng.uniform(-80, 80, ns_lat)),
                 lon=np.sort(rng.uniform(-175, 175, ns_lon))).with_bounds()
    w = rng.normal(size=(ns_lat, ns_lon))
    np.testing.assert_allclose(_conservative(d, s, w),
                               _conservative_scalar(d, s, w),
                               rtol=1e-10, atol=1e-10)


@given(st.integers(0, 10_000), st.integers(1, 6), st.integers(5, 60))
def test_bloom_dedup_no_false_negatives_property(seed, n_batches, per_batch):
    """The streaming-dedup Bloom state NEVER re-emits a digest it has seen
    (no false negatives), across arbitrary batch splits, with state size
    constant throughout."""
    import hashlib

    import pandas as pd

    from xagg_spark.streaming.dedup import _make_dedup_fn

    class _S:
        exists, _v = False, None
        @property
        def get(self):
            return self._v
        def update(self, v):
            self.exists, self._v = True, v

    rng = np.random.default_rng(seed)
    m_bits, k = 1 << 14, 4
    fn, state = _make_dedup_fn(m_bits, k), _S()
    emitted = []
    for b in range(n_batches):
        # duplicates drawn from a small id pool force cross-batch repeats
        ids = rng.integers(0, 40, size=per_batch)
        pdf = pd.DataFrame({
            "doc_id": np.arange(per_batch),
            "digest": [hashlib.md5(f"d{int(i)}".encode()).hexdigest()
                       for i in ids],
            "grp": 0})
        for out in fn(0, [pdf], state):
            emitted.extend(out["digest"].tolist())
        assert len(state.get[0]) == m_bits // 8
    assert len(emitted) == len(set(emitted))      # never emits a dup


@settings(max_examples=25)   # each example runs real Spark jobs
@given(st.integers(0, 10_000), st.integers(10, 300), st.integers(1, 4),
       st.integers(1, 8))
def test_topk_skew_safe_equals_plain_window(spark, seed, n_rows, n_groups, k):
    """Two-phase skew-safe top-k == single-window top-k under the same
    deterministic total order, for arbitrary data and partitioning."""
    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from xagg_spark.operators.similarity import _topk_skew_safe

    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "g": rng.integers(0, n_groups, n_rows),
        "id": np.arange(n_rows),
        "score": rng.integers(0, 10, n_rows).astype(float),  # forces ties
    })
    df = spark.createDataFrame(pdf).repartition(5)
    order = [F.desc("score"), F.asc("id")]
    a = _topk_skew_safe(df, "g", order, k).select("g", "rank", "id")
    w = Window.partitionBy("g").orderBy(*order)
    b = (df.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k).select("g", "rank", "id"))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
