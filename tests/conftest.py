from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from executor_u1mindexer_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct_dir() -> str:
    return SF_CORRECT


@pytest.fixture(scope="session")
def registry_builds(spark, sf_dir) -> dict[str, tuple[list, list[str]]]:
    """Build every registered query's DataFrame ONCE at sf0.001 and keep
    what the registry-wide lints check: ``{name: (plans.nodes,
    driver-unsafe output columns)}``. The plan-shape lint in
    ``test_plans.py`` and the output-schema lint in
    ``test_registry_lint.py`` both read this, so the 216 builds are paid
    once per session instead of once per lint."""
    import __spark_entry__ as entrymod
    from executor_u1mindexer_spark import plans
    from tools.oracle_check import _driver_unsafe_output_cols

    builds: dict[str, tuple[list, list[str]]] = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        builds[name] = (plans.nodes(df), _driver_unsafe_output_cols(df))
    return builds


@pytest.fixture(scope="session")
def group_job_ids(spark):
    """``fn(group) -> [job id]`` for the jobs run under a job group, read
    after the listener bus has delivered every event posted so far (the
    status tracker learns of a job from that bus)."""
    sc = spark.sparkContext

    def job_ids(group: str) -> list[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return job_ids
