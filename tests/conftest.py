import glob

import pytest

from ferenda_spark.session import get_spark

# Reference gates compare against fixtures committed in the reference
# implementation's checkout.  Where that checkout is absent they skip
# with this reason prefix, and the run summary counts them, so a green
# run is never read as "reference parity verified".
REFERENCE_SKIP = "requires_reference"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "requires_reference(*paths): needs these files, directories or "
        "glob patterns of the reference checkout; skips when one of "
        "them matches nothing")


@pytest.hookimpl(tryfirst=True)
def pytest_runtest_setup(item):
    # tryfirst: an empty parametrization (a fixture directory listed at
    # collection) must skip for the missing path, not as "empty set"
    for mark in item.iter_markers("requires_reference"):
        for path in mark.args:
            if not glob.glob(path):
                pytest.skip(f"{REFERENCE_SKIP}: {path} is absent")


def pytest_terminal_summary(terminalreporter):
    skipped = terminalreporter.stats.get("skipped", [])
    n = sum(REFERENCE_SKIP in str(getattr(r, "longrepr", ""))
            for r in skipped)
    if n:
        terminalreporter.write_line(
            f"{n} reference gates skipped: reference parity is NOT "
            "verified by this run")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ferenda_spark_tests", cores=8, shuffle_partitions=8)
    yield s
