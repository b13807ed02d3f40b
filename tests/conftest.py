import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from tile_gen_spark.plans.session import get_spark
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages(spark):
    """Small deterministic corpus shared across the integration tests."""
    from tile_gen_spark.sources.synth import gen_pages
    return gen_pages(spark, 600, seed=42).cache()


@pytest.fixture(scope="session")
def features(spark, pages):
    from tile_gen_spark.operators.extract import (extract_text, latest_per_url,
                                                  parse_geo_features, validity_filter)
    latest = latest_per_url(pages)
    ex = latest.withColumn("etext", extract_text("html"))
    return validity_filter(parse_geo_features(ex, "etext")).cache()


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running protocol smoke tests")
