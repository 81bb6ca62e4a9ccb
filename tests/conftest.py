from __future__ import annotations

from pathlib import Path

import pytest

from clickhouse_metrics_pipeline_spark.session import get_spark

_TESTS_DIR = Path(__file__).resolve().parent
_SLOW_DESELECTED = pytest.StashKey[int]()


def pytest_collection_modifyitems(config, items):
    """Deselect ``slow`` tests when the whole ``tests/`` directory (or a
    directory above it) is collected, so a plain ``pytest tests/`` runs
    the fast tier. A run that names files or tests keeps their slow
    tests, and an explicit ``-m`` decides on its own."""
    if config.option.markexpr:
        return
    named = [
        (config.invocation_params.dir / a.split("::")[0]).resolve()
        for a in config.args
    ]
    if not any(p == _TESTS_DIR or p in _TESTS_DIR.parents for p in named):
        return
    slow = [it for it in items if it.get_closest_marker("slow")]
    if slow:
        config.hook.pytest_deselected(items=slow)
        items[:] = [it for it in items if not it.get_closest_marker("slow")]
    config.stash[_SLOW_DESELECTED] = len(slow)


def pytest_terminal_summary(terminalreporter, config):
    n = config.stash.get(_SLOW_DESELECTED, 0)
    if n:
        terminalreporter.write_line(
            f"{n} slow tests deselected (whole tests/ run); run them with "
            '-m "slow or not slow" (make test-full) or by naming their file'
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="cmp-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
