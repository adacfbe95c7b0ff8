import pytest


@pytest.fixture(scope="session")
def spark():
    from goose_spark.job import local_session

    spark = local_session(4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf0001_fixtures():
    """(pages_path, expected_path) for the sf0.001 corpus (cached in /tmp)."""
    from goose_spark.fixtures import ensure_pages

    return ensure_pages("/root/testdata/sf0.001")
