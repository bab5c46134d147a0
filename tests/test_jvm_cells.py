"""JVM-native Morton cell path (grid.cell_col / parent_col) must be
bit-identical to the numpy path at every zoom."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from xarray_spatial_spark import grid


def test_cell_col_matches_numpy(spark):
    rng = np.random.default_rng(123)
    pdf = pd.DataFrame(
        {"lon": rng.uniform(-180, 180, 2000), "lat": rng.uniform(-88, 88, 2000)}
    )
    df = spark.createDataFrame(pdf)
    for zoom in (0, 3, 12, 28):
        got = (
            df.select(grid.cell_col(F.col("lon"), F.col("lat"), zoom).alias("c"))
            .toPandas()["c"]
            .to_numpy()
        )
        want = grid.cell_of(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), zoom)
        np.testing.assert_array_equal(got, want, err_msg=f"zoom={zoom}")


def test_parent_col_matches_numpy(spark):
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {"lon": rng.uniform(-180, 180, 500), "lat": rng.uniform(-85, 85, 500)}
    )
    df = spark.createDataFrame(pdf)
    cells = df.select(grid.cell_col(F.col("lon"), F.col("lat"), 15).alias("c"))
    got = (
        cells.select(grid.parent_col(F.col("c"), 15, 6).alias("p"))
        .toPandas()["p"]
        .to_numpy()
    )
    want = grid.parent(
        grid.cell_of(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 15), 6
    )
    np.testing.assert_array_equal(got, want)


def test_assign_cells_jvm_equals_udf(spark):
    from xarray_spatial_spark.operators.tiling import assign_cells
    from xarray_spatial_spark.sources.documents import documents

    docs = documents(spark, 500)
    got = assign_cells(docs, 12, 5).select(
        "doc_id", "lon", "lat", "cell_id", "tile_id").toPandas()
    cells = grid.cell_of(got["lon"].to_numpy(), got["lat"].to_numpy(), 12)
    np.testing.assert_array_equal(got["cell_id"].to_numpy(), cells)
    np.testing.assert_array_equal(got["tile_id"].to_numpy(), grid.parent(cells, 5))
