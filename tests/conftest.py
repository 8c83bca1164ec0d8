import pytest

SF0001 = "/root/testdata/sf0.001"


def pytest_sessionstart(session):
    """Testdata-drift tripwire: the driver regenerates /root/testdata
    between rounds and has changed schemas before (events.ts
    nanos->micros, rounds 1->2), which then surfaces as scattered
    oracle mismatches.  Assert the full schema contract up front so
    drift fails as ONE obvious diff-style error before any test runs."""
    from hbase_gis_spark.sources.tables import assert_testdata_schemas

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        assert_testdata_schemas(f"/root/testdata/{sf}")


@pytest.fixture(scope="session")
def spark():
    from hbase_gis_spark.session import make_session

    s = make_session(app="hbase_gis_spark-tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
