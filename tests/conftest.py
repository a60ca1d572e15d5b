import pytest
from py4j.protocol import Py4JNetworkError

from kgw_spark.session import get_spark

GATEWAY_DIED = "Spark gateway died — likely OOM-killed, see dmesg"


def _gateway_died(exc: BaseException | None) -> bool:
    seen = set()
    while exc is not None and id(exc) not in seen:
        if isinstance(exc, (Py4JNetworkError, ConnectionRefusedError)):
            return True
        seen.add(id(exc))
        exc = exc.__cause__ or exc.__context__
    return False


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_makereport(item, call):
    """Once the JVM is gone every later test fails against the dead py4j
    gateway; stop the run at the first such error instead."""
    yield
    if call.excinfo is not None and _gateway_died(call.excinfo.value):
        pytest.exit(GATEWAY_DIED, returncode=3)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, app_name="kgw_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def small_corpus():
    from kgw_spark.sources.corpus import generate_corpus

    return generate_corpus(n_repos=8, files_per_repo=12, seed=42)


def alias_df_from_truth(spark, truth):
    rows = [
        {"alias_id": a, "canonical_id": c, "score": float(s)}
        for a, (c, s) in truth.alias_dict.items()
    ]
    return spark.createDataFrame(rows, schema="alias_id string, canonical_id string, score double")
