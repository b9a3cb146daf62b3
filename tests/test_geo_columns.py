"""The Spark-column twins of the geo kernels against their numpy forms:
``cells.cell_id_col`` must equal ``cells.cell_of`` exactly (pixel ids and
cover ids meet on an equi-join key), and ``ellipsoid.forward_cols`` must
match ``ellipsoid.forward`` to well under a millimetre."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from xagg_spark.geo import cells, ellipsoid


def _points(res):
    rng = np.random.default_rng(7)
    lon = list(rng.uniform(-180.0, 180.0, 300))
    lat = list(rng.uniform(-90.0, 90.0, 300))
    # the lon seam and its neighbours, and both poles
    lon += [-180.0, 180.0, 179.999999, 0.0, 0.0]
    lat += [0.0, 0.0, 0.0, 90.0, -90.0]
    # exact cell edges at this resolution (a slice of them at fine res)
    n = 1 << res
    ix = np.unique(np.linspace(0, n, 17).astype(np.int64))
    iy = np.unique(np.linspace(0, n, 17).astype(np.int64))
    ex, ey = np.meshgrid(-180.0 + ix * (360.0 / n), -90.0 + iy * (180.0 / n))
    lon += list(ex.ravel())
    lat += list(ey.ravel())
    return np.array(lon), np.array(lat)


def test_cell_id_col_equals_cell_of_and_forward_cols_match(spark):
    for res in (0, 9, 24):
        lon, lat = _points(res)
        df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(lon)),
                                                 "lon": lon, "lat": lat}))
        got = (df.select("i", cells.cell_id_col(F.col("lon"), F.col("lat"),
                                                res).alias("c"))
                 .toPandas().sort_values("i")["c"].to_numpy())
        np.testing.assert_array_equal(got, cells.cell_of(lon, lat, res))

    lon, lat = _points(9)
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(lon)),
                                             "lon": lon, "lat": lat}))
    for epsg in (ellipsoid.EPSG_NORTH, ellipsoid.EPSG_SOUTH,
                 ellipsoid.EPSG_GLOBAL):
        x, y = ellipsoid.forward_cols(F.col("lon"), F.col("lat"), epsg)
        pdf = df.select("i", x.alias("x"), y.alias("y")).toPandas() \
                .sort_values("i")
        ex, ey = ellipsoid.forward(lon, lat, epsg)
        assert np.abs(pdf["x"].to_numpy() - ex).max() < 1e-6
        assert np.abs(pdf["y"].to_numpy() - ey).max() < 1e-6
