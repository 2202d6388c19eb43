from __future__ import annotations

import functools

import pytest

from velib_lakehouse_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="velib-lakehouse-tests", cpus=4)
    yield spark
    spark.stop()


@pytest.hookimpl(trylast=True)
def pytest_collection_modifyitems(items):
    """Run each registry query's dtype check straight after its oracle
    check, so the two share one build of the query (``registry_query``).
    The two sweeps pair by the test names below and the query name."""

    def query(item, test):
        if getattr(item, "originalname", None) == test:
            return item.callspec.params["name"]
        return None

    followers = {query(it, "test_dtypes_match"): it for it in items}
    followers.pop(None, None)
    ordered = []
    for it in items:
        if query(it, "test_dtypes_match") is None:
            ordered.append(it)
            follower = followers.pop(query(it, "test_query_matches_oracle"), None)
            if follower is not None:
                ordered.append(follower)
    items[:] = ordered + list(followers.values())


@pytest.fixture(scope="session")
def registry_query(spark):
    """``registry_query(name)``: the registry's DataFrame for ``name`` on
    ``SF_DIR``.  Many queries write a table or drain a stream when built,
    so the oracle and dtype checks of one query (adjacent, see above)
    share one build.  Only the last build is kept: holding all of them
    for the whole session ran the driver JVM out of heap."""
    from velib_lakehouse_spark import registry

    return functools.lru_cache(maxsize=1)(
        lambda name: registry.QUERIES[name](spark, SF_DIR)
    )
