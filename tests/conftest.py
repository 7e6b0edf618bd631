import pytest

from webloghunter_spark.session import get_spark, release_materialized


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wlh-tests", master="local[4]", shuffle_partitions=4)
    yield s


def _cache_state(spark) -> tuple[int, int]:
    """(cached plans, persisted RDDs) of the shared session."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    return (cache.numCachedEntries(),
            spark.sparkContext._jsc.getPersistentRDDs().size())


@pytest.fixture(autouse=True)
def _no_leaked_cache(request):
    """A test that uses `spark` must leave no more cached plans, and no
    more persisted RDDs, than it found: the session is shared, so a
    leak would change the block store, and the plans, of every later
    test. The harness owns the root run, as any session owner does, so
    what the test materialize()d or settle()d outside a scope is
    released first; anything cached outside a run (a bare persist(), a
    stream twin's frozen side) the test must release itself."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    before = _cache_state(spark)
    yield
    release_materialized()
    after = _cache_state(spark)
    if after[0] > before[0] or after[1] > before[1]:
        pytest.fail(
            f"{request.node.nodeid} leaves cached data: (cached plans, "
            f"persisted RDDs) {before} -> {after}",
            pytrace=False,
        )
