import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pg_auto_dw_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# -- two-tier suite (r16) ---------------------------------------------------
# The full suite outgrew the CI verification window (~590 tests, >1h of
# Spark-job wall clock), so the expensive probe/e2e batteries are tiered
# out of the DEFAULT run: tests listed in tests/slow_tests.txt (generated
# from a full --durations=0 run: >= 10s call time, plus whole modules
# whose shared module-scoped fixture is itself the cost) are skipped
# unless RUN_SLOW=1 is set. The slow tier is still part of "green":
# run `RUN_SLOW=1 python -m pytest tests/ -q` before shipping work that
# touches pipeline composition, streaming zones, or training loops.
_SLOW_LIST_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slow_tests.txt")


def _slow_tests() -> set:
    try:
        with open(_SLOW_LIST_PATH) as f:
            return {
                ln.strip() for ln in f if ln.strip() and not ln.startswith("#")
            }
    except OSError:
        return set()


def _stale_slow_entries(config, items, slow: set) -> list[str]:
    """slow_tests.txt entries naming no collected test or parametrized
    case. Only modules collected whole are checked, so single-file and
    single-test runs still work."""
    collected = {n for item in items for n in (item.nodeid, item.nodeid.split("[")[0])}
    modules = {nodeid.split("::")[0] for nodeid in collected}
    partial = {
        os.path.relpath(os.path.abspath(arg.split("::")[0]), config.rootpath)
        for arg in config.args
        if "::" in arg
    }
    return sorted(
        e for e in slow
        if e.split("::")[0] in modules - partial and e not in collected
    )


# tryfirst: judge staleness on the full collection, before -k/-m deselect
@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    slow = _slow_tests()
    stale = _stale_slow_entries(config, items, slow)
    if stale:
        raise pytest.UsageError(
            "tests/slow_tests.txt names tests that no longer exist: " + ", ".join(stale)
        )
    if os.environ.get("RUN_SLOW") or not slow:
        return
    marker = pytest.mark.skip(
        reason="slow tier (tests/slow_tests.txt); set RUN_SLOW=1 to run"
    )
    for item in items:
        if item.nodeid in slow or item.nodeid.split("[")[0] in slow:
            item.add_marker(marker)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("pg_auto_dw_spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def warehouse_dir(tmp_path):
    d = str(tmp_path / "wh")
    yield d
    shutil.rmtree(d, ignore_errors=True)
