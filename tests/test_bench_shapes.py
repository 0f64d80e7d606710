"""The bench-shape registry in bench.py: the names the bench keys use, and
every builder resolving to an analyzable DataFrame (bench.py and the
tools that read the registry are not run anywhere else in CI)."""

import pytest

import bench
from __spark_entry__ import SF0001


def test_registry_names_match_bench_keys():
    # the key sets of the BENCH_r*.json "queries" and "spatial_ops_sec"
    assert bench.HEADLINE == ("spatial_join", "knn", "tile_pyramid",
                              "pricing_summary", "minhash_neardup",
                              "embedding_topk")
    assert bench.SPATIAL_OPS == ("zonal_stats", "within_distance",
                                 "polygon_join", "measures", "dbscan",
                                 "trajectory_stats")
    assert set(bench.HEADLINE + bench.SPATIAL_OPS + ("image_neardup",)) \
        <= set(bench.SHAPES)


@pytest.mark.parametrize("name", sorted(bench.SHAPES))
def test_shape_builds(spark, name):
    df = bench.SHAPES[name](spark, SF0001)
    assert df.schema.fields, name
