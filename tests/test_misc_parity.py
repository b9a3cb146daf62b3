"""Small parity pieces: rename cipher, options API, salt path, centroid."""

import numpy as np
import pandas as pd
import pytest

from xagg_spark.grid import GridSpec
from xagg_spark.operators import pixel_overlaps
from xagg_spark.operators.rename import rename_latlon
from xagg_spark.options import get_options, option_context, set_options
from xagg_spark.polygons import PolygonSet, rect_ring

GRID = GridSpec(lat_edge=-2.0, lon_edge=-2.0, dlat=1.0, dlon=1.0,
                nlat=4, nlon=4, tile_h=4, tile_w=4)


def test_rename_cipher(spark):
    # /root/reference/tests/test_auxfuncs.py:48-66 analog
    df = spark.createDataFrame(pd.DataFrame(
        {"Latitude": [0.0], "Longitude": [1.0], "v": [2.0]}))
    out = rename_latlon(df)
    assert {"lat", "lon", "v"} <= set(out.columns)
    df2 = spark.createDataFrame(pd.DataFrame(
        {"y": [0.0], "x": [1.0]}))
    assert {"lat", "lon"} <= set(rename_latlon(df2).columns)
    with pytest.raises(NameError):
        rename_latlon(spark.createDataFrame(pd.DataFrame({"a": [1]})))


def test_rename_bnds_heuristic(spark):
    df = spark.createDataFrame(pd.DataFrame(
        {"latitude": [0.0], "longitude": [1.0],
         "lo_bnds": [0.0], "la_bnds": [0.0]}))
    with pytest.warns(UserWarning, match="longitude bounds"):
        out = rename_latlon(df)
    assert {"lon_bnds", "lat_bnds"} <= set(out.columns)


def test_options_api():
    # reference options.py:46-118 semantics
    base = get_options()
    assert base["impl"] == "for_loop"
    with pytest.raises(ValueError):
        set_options(impl="bogus")
    with pytest.raises(ValueError):
        set_options(not_an_option=1)
    with option_context(silent=True, impl="dot_product"):
        assert get_options()["silent"] is True
        assert get_options()["impl"] == "dot_product"
    assert get_options() == base


def test_salt_path_identical_results(spark):
    polys = PolygonSet([rect_ring(-1.3, -1.2, 1.4, 1.1)])
    a = pixel_overlaps(spark, GRID, polys).overlaps \
        .orderBy("pix_idx").toPandas()
    b = pixel_overlaps(spark, GRID, polys, salt=2).overlaps \
        .orderBy("pix_idx").toPandas()
    pd.testing.assert_frame_equal(a.reset_index(drop=True),
                                  b.reset_index(drop=True))


def test_centroids():
    # G6: polygon centroid (driver-side; used by kNN queries)
    from xagg_spark.polygons import centroids
    polys = PolygonSet([rect_ring(0.0, 0.0, 2.0, 4.0),
                        np.array([[0.0, 0.0], [3.0, 0.0], [0.0, 3.0]])])
    c = centroids(polys)
    assert np.allclose(c[0], [1.0, 2.0])
    assert np.allclose(c[1], [1.0, 1.0])


def test_silent_status_prints_and_promotion(spark, capsys):
    """C5/cosmetic parity: status prints appear by default and vanish under
    set_options(silent=True) (reference wrappers.py:87-103); a fact table
    without a 'var' column is promoted to variable 'var' with a warning
    (unnamed-DataArray analog, reference core.py:686-692)."""
    import warnings

    import pyspark.sql.functions as F

    from xagg_spark import GridSpec, PolygonSet, rect_ring
    from xagg_spark.operators import aggregate, pixel_overlaps, tiles_to_pixels
    from xagg_spark.options import option_context
    from xagg_spark.synth import generate_spark

    grid = GridSpec(lat_edge=0.0, lon_edge=0.0, dlat=0.5, dlon=0.5,
                    nlat=8, nlon=8, tile_h=8, tile_w=8)
    polys = PolygonSet([rect_ring(0.6, 0.6, 3.2, 3.2)])
    wm = pixel_overlaps(spark, grid, polys)
    out = capsys.readouterr().out
    assert "creating polygons for each pixel..." in out
    assert "calculating overlaps between pixels and output polygons..." in out
    assert "success!" in out

    with option_context(silent=True):
        pixel_overlaps(spark, grid, polys)
        assert capsys.readouterr().out == ""

    imgs = generate_spark(spark, grid, ntime=1, fmt="raw32")
    pix_novar = tiles_to_pixels(imgs, grid).drop("var")
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        res = aggregate(pix_novar, wm).toPandas()
    assert any("unnamed" in str(w.message) for w in rec)
    assert set(res["var"]) == {"var"} and len(res) == 1


def test_options_impl_selects_aggregation(spark):
    """set_options(impl='dot_product') changes the default aggregate impl
    (reference options surface); 'numba' aliases for_loop semantics."""
    import numpy as np

    from xagg_spark import GridSpec, PolygonSet, rect_ring
    from xagg_spark.codecs import encode_tile
    from xagg_spark.operators import aggregate, pixel_overlaps, tiles_to_pixels
    from xagg_spark.options import option_context
    import pandas as pd

    grid = GridSpec(lat_edge=-1.0, lon_edge=-1.0, dlat=1.0, dlon=1.0,
                    nlat=2, nlon=2, tile_h=2, tile_w=2)
    polys = PolygonSet([rect_ring(-0.5, -0.5, 1.49, 1.49)])
    wm = pixel_overlaps(spark, grid, polys)
    vals = np.arange(1.0, 13.0).reshape(3, 2, 2)
    vals[0, 1, 1] = np.nan
    rows = [{"image_id": f"tile_test_{t:04d}_00000_00000",
             "bytes": encode_tile(vals[t].astype(np.float32), "raw32"),
             "w": 2, "h": 2, "fmt": "raw32", "caption": "c", "phash": 0}
            for t in range(3)]
    pix = tiles_to_pixels(spark.createDataFrame(pd.DataFrame(rows)), grid)
    base = aggregate(pix, wm).orderBy("t").toPandas()          # for_loop
    with option_context(impl="dot_product"):
        dot = aggregate(pix, wm).orderBy("t").toPandas()
    with option_context(impl="numba"):
        num = aggregate(pix, wm).orderBy("t").toPandas()
    assert abs(base["value"][0] - dot["value"][0]) > 1e-3      # diverge at t=0
    np.testing.assert_allclose(base["value"], num["value"], atol=1e-12)


def test_diag_fig_png(spark, tmp_path):
    """C3 analog: diag_fig renders a polygon's overlap raster as a real PNG
    through the engine's own codec — decoded intensities reproduce the
    normalized rel_area values."""
    import numpy as np

    from xagg_spark import GridSpec, PolygonSet, rect_ring
    from xagg_spark.codecs.image import _decode_png16
    from xagg_spark.diag import diag_fig
    from xagg_spark.operators import pixel_overlaps

    grid = GridSpec(lat_edge=-4.0, lon_edge=-4.0, dlat=0.5, dlon=0.5,
                    nlat=16, nlon=16, tile_h=8, tile_w=8)
    polys = PolygonSet([rect_ring(-2.3, -2.1, 2.2, 2.4)])
    wm = pixel_overlaps(spark, grid, polys)
    fn = str(tmp_path / "diag.png")
    png = diag_fig(wm, 0, fn=fn)
    assert png[:8] == b"\x89PNG\r\n\x1a\n" and open(fn, "rb").read() == png
    img = _decode_png16(png)
    n_overlap = wm.overlaps.count()
    finite = np.isfinite(img)
    assert finite.sum() >= n_overlap          # all overlap pixels drawn
    assert np.nanmax(img) <= 1.0 + 1e-6 and np.nanmin(img[finite]) >= 0.0


def test_diag_fig_selection_parity(spark):
    """Reference diag_fig selection semantics: list of ints, attribute
    dict, and the TypeError for a non-int list (xagg/diag.py:55-63)."""
    import pandas as pd
    import pytest

    from xagg_spark import GridSpec, PolygonSet, rect_ring
    from xagg_spark.codecs.image import _decode_png16
    from xagg_spark.diag import diag_fig
    from xagg_spark.operators import pixel_overlaps

    grid = GridSpec(lat_edge=-4.0, lon_edge=-4.0, dlat=0.5, dlon=0.5,
                    nlat=16, nlon=16, tile_h=8, tile_w=8)
    polys = PolygonSet([rect_ring(-3.3, -3.1, -0.8, -0.6),
                        rect_ring(0.7, 0.9, 3.2, 3.4)],
                       pd.DataFrame({"name": ["west", "east"],
                                     "kind": ["a", "a"]}))
    wm = pixel_overlaps(spark, grid, polys)
    one = np.isfinite(_decode_png16(diag_fig(wm, 0))).sum()
    both = np.isfinite(_decode_png16(diag_fig(wm, [0, 1]))).sum()
    assert both > one                       # second polygon's pixels added
    by_attr = np.isfinite(_decode_png16(diag_fig(wm, {"kind": "a"}))).sum()
    assert by_attr == both                  # dict matched both polygons
    assert np.isfinite(
        _decode_png16(diag_fig(wm, {"name": "east"}))).sum() < both
    with pytest.raises(TypeError, match="integers"):
        diag_fig(wm, [0, "east"])
    with pytest.raises(ValueError, match="no polygon matches"):
        diag_fig(wm, {"name": "nope"})
