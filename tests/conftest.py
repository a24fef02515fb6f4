import pytest

from zen3geo_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="zen3geo_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def grid_edge_rows():
    """(lat_us, lon_us) rows on the cell grid's edges and past them: both
    pole/antimeridian corners, one micro-degree past the south pole, and
    points off the grid (the geotag grammar accepts any -?\\d+\\.\\d{6})."""
    return [(-90_000_000, -180_000_000), (90_000_000, 180_000_000),
            (-90_000_001, 0), (-100_000_000, 0), (0, -190_000_000),
            (95_000_000, 185_000_000)]
