import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmpbf_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("osmpbf-spark-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def pip_brute_force():
    """Cover-free PIP reference: every point × every antimeridian-split
    ring copy, filtered by the exact ray cast → point columns + poly_id
    (split copies are disjoint in range, so no row repeats)."""
    from pyspark.sql import functions as F

    from osmpbf_spark.operators.pip import (
        point_in_ring_expr,
        split_antimeridian,
    )

    def run(points, polygons):
        return (points.crossJoin(F.broadcast(split_antimeridian(polygons)))
                .filter(point_in_ring_expr("lon_nano", "lat_nano"))
                .drop("ring"))
    return run
