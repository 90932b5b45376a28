from __future__ import annotations

import os

import pytest

from airflow_postgres_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

#: Two-tier suite (r12, VERDICT r11 task 2): the FULL suite (1027 tests,
#: ~78 min measured) overruns the round driver's verify window — its
#: r11 run truncated mid-suite with zero failures and came back
#: `tests_ok: false`.  The driver-facing DEFAULT tier skips the tests
#: listed in fulltier_ids.txt (every test that measured >= ~10 s in the
#: full-suite baseline — long equivalence sweeps, crash matrices, the
#: README journey); the builder runs the FULL tier
#: (`SPARK_GRAFT_FULL_TESTS=1 pytest tests/`) before committing.  A
#: full-tier test named by nodeid on the command line runs in either
#: tier (`pytest tests/test_x.py::test_y`).
#: Coverage note: every operator keeps its fast oracle/unit pins in the
#: default tier, and the driver's own 50-query sf0.01 differential runs
#: independently of pytest.
_FULLTIER_PATH = os.path.join(os.path.dirname(__file__), "fulltier_ids.txt")


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    try:
        with open(_FULLTIER_PATH) as fh:
            lines = [
                ln.strip()
                for ln in fh
                if ln.strip() and not ln.startswith("#")
            ]
    except OSError:
        return
    # a line ending in "::*" gates a whole file/class by prefix
    prefixes = tuple(ln[:-1] for ln in lines if ln.endswith("::*"))
    ids = {ln for ln in lines if not ln.endswith("::*")}
    skip = pytest.mark.skip(
        reason="full tier: run with SPARK_GRAFT_FULL_TESTS=1"
    )
    named = _named_nodeids(config)
    inside_named = tuple(n + sep for n in named for sep in ("[", "::"))
    for item in items:
        if item.nodeid in named or item.nodeid.startswith(inside_named):
            continue  # asked for by nodeid on the command line: run it
        if item.nodeid in ids or (
            prefixes and item.nodeid.startswith(prefixes)
        ):
            item.add_marker(skip)


def _named_nodeids(config) -> set[str]:
    """Node ids named on the command line (``path::name`` arguments),
    made rootdir-relative like ``item.nodeid``.  A named node runs with
    what it contains (parametrized cases, a class's tests); a file or
    directory argument names no test."""
    out = set()
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if sep:
            rel = os.path.relpath(os.path.abspath(path), str(config.rootpath))
            out.add(f"{rel.replace(os.sep, '/')}::{rest}")
    return out


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
