import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    from libosmtools_spark.session import get_spark

    s = get_spark(app="tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_smoke():
    from libosmtools_spark.data.synth import ensure_fixtures

    return ensure_fixtures("0.001")


@pytest.fixture
def spy(monkeypatch):
    """spy(module, name) → list recording each call of ``module.name``
    (the call still goes through); shows which side of a gate ran."""

    def install(module, name):
        calls = []
        real = getattr(module, name)

        def wrapper(*args, **kwargs):
            calls.append(args)
            return real(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapper)
        return calls

    return install
