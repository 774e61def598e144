from __future__ import annotations

import pytest

from nerzo_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "session_end: run after every other test of the session"
    )


def pytest_collection_modifyitems(items):
    # stable: the session_end tests keep their order, after all the others
    items.sort(key=lambda item: item.get_closest_marker("session_end") is not None)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("nerzo-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture_small():
    from nerzo_spark.fixtures.corpus import generate

    return generate(n_files=120)


@pytest.fixture(scope="session")
def kg_result(spark, fixture_small):
    from nerzo_spark.fixtures.spark_io import anchors_df, corpus_df
    from nerzo_spark.pipeline.kg import run_kg_pipeline

    return run_kg_pipeline(
        spark,
        corpus_df(spark, fixture_small),
        anchors_df(spark, fixture_small),
        repartition_to=8,
    )
