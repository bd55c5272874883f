import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from systematic_review_classification_spark.session import get_session

    yield get_session()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def surfaces(spark, sf_dir):
    """key -> (schema, formatted physical plan) for every registered
    query, built once per test session and shared by the registry-wide
    sweeps (tests/test_driver_contract.py, tests/test_plan_lint.py)."""
    from systematic_review_classification_spark import all_queries
    from tests.harness import plan_of

    out = {}
    for key, fn in all_queries().items():
        df = fn(spark, sf_dir)
        out[key] = (df.schema, plan_of(df))
    return out


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests.harness import duck_con

    con = duck_con(sf_dir)
    yield con
    con.close()
