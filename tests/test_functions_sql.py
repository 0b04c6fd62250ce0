"""SQL Column expressions must match the numpy kernels bit-for-bit."""

import numpy as np
from pyspark.sql import functions as F

from geo_spark.functions import (
    cell_encode_col,
    cell_parent_col,
    cell_xy_cols,
    haversine_meters,
    neighbor_cells,
    rhumb_meters,
)
from geo_spark.index.cells import cell_decode, cell_encode, cell_parent, disk_cells
from geo_spark.kernels import haversine_distance, rhumb_distance


def _coords_df(spark, n=500):
    return spark.range(n).select(
        (F.pmod(F.col("id") * 2654435761, F.lit(360000000)) / 1e6 - 180.0).alias("lon"),
        (F.pmod(F.col("id") * 2246822519, F.lit(178000000)) / 1e6 - 89.0).alias("lat"),
        (F.pmod(F.col("id") * 40503, F.lit(360000000)) / 1e6 - 180.0).alias("lon2"),
        (F.pmod(F.col("id") * 65537, F.lit(178000000)) / 1e6 - 89.0).alias("lat2"),
    )


def test_cell_encode_sql_matches_numpy(spark):
    for res in (4, 8, 12, 16):
        pdf = (
            _coords_df(spark)
            .withColumn("cell", cell_encode_col("lon", "lat", res))
            .toPandas()
        )
        expected = cell_encode(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), res)
        assert (pdf["cell"].to_numpy() == expected).all()


def test_cell_parent_sql_matches_numpy(spark):
    pdf = (
        _coords_df(spark)
        .withColumn("cell", cell_encode_col("lon", "lat", 12))
        .withColumn("parent", cell_parent_col("cell", 4))
        .toPandas()
    )
    expected = cell_parent(pdf["cell"].to_numpy(), 4)
    assert (pdf["parent"].to_numpy() == expected).all()
    # parent of the encode == encode at coarser res
    coarser = cell_encode(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 8)
    assert (pdf["parent"].to_numpy() == coarser).all()


def test_cell_xy_sql_matches_numpy_decode(spark):
    for res in (1, 7, 20, 26):
        pdf = _coords_df(spark).withColumn("cell", cell_encode_col("lon", "lat", res))
        ix, iy = cell_xy_cols("cell")
        pdf = pdf.select("cell", ix.alias("ix"), iy.alias("iy")).toPandas()
        _, exp_x, exp_y = cell_decode(pdf["cell"].to_numpy())
        assert (pdf["ix"].to_numpy() == exp_x).all()
        assert (pdf["iy"].to_numpy() == exp_y).all()


def test_neighbor_cells_sql_matches_numpy_disk(spark):
    # rows on the antimeridian (both signs) and at both poles: longitude
    # wraps, rows past a pole are dropped, and at res 1 the wrap visits the
    # other column twice — compared as per-row multisets
    from collections import Counter

    lonlat = _coords_df(spark, 200).select("lon", "lat").toPandas()
    rows = list(lonlat.itertuples(index=False, name=None)) + [
        (-180.0, 0.0), (180.0, 0.0), (179.999, 45.0), (-179.999, -45.0),
        (0.0, 90.0), (0.0, -90.0), (-180.0, 90.0), (180.0, -90.0),
    ]
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(rows)],
        "rid long, lon double, lat double",
    )
    for res in (1, 2, 3, 4):
        pts = df.withColumn("home", cell_encode_col("lon", "lat", res)).toPandas()
        got = neighbor_cells(df, "lon", "lat", res).select("rid", "_cell").toPandas()
        src, nb = disk_cells(pts["home"].to_numpy(), 1)
        rids = pts["rid"].to_numpy()
        expected = Counter(zip(rids[src].tolist(), nb.tolist()))
        assert Counter(zip(got["rid"].tolist(), got["_cell"].tolist())) == expected, res


def test_haversine_sql_matches_numpy(spark):
    pdf = (
        _coords_df(spark)
        .withColumn("d", haversine_meters("lon", "lat", "lon2", "lat2"))
        .toPandas()
    )
    expected = haversine_distance(
        pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), pdf["lon2"].to_numpy(), pdf["lat2"].to_numpy()
    )
    # JVM and numpy trig differ in the final ulp; the integer cell path is
    # exact (above), the float distance path is ulp-equal
    assert np.allclose(pdf["d"].to_numpy(), expected, rtol=1e-12, atol=1e-6)


def test_rhumb_sql_matches_numpy(spark):
    pdf = (
        _coords_df(spark)
        .withColumn("d", rhumb_meters("lon", "lat", "lon2", "lat2"))
        .toPandas()
    )
    expected = rhumb_distance(
        pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), pdf["lon2"].to_numpy(), pdf["lat2"].to_numpy()
    )
    assert np.allclose(pdf["d"].to_numpy(), expected, rtol=1e-12, atol=1e-9, equal_nan=True)
