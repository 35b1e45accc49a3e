from __future__ import annotations

import ctypes
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from japanstockdatapipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"

try:
    _malloc_trim = ctypes.CDLL("libc.so.6").malloc_trim
except (OSError, AttributeError):  # not glibc: nothing to trim
    _malloc_trim = None


@pytest.fixture(scope="session")
def spark():
    return get_spark("jsdp-tests")


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)


@pytest.fixture(autouse=True)
def _return_freed_heap():
    """Hand the heap a test freed back to the OS once it ends.

    The in-process DuckDB oracles over window-heavy SQL (e.g.
    event_indicator_fused) peak at ~4.5 GB even at sf0.001, and glibc
    keeps those freed pages: without a trim the test process holds ~7 GB
    beside the 8 GB Spark JVM for the rest of the run, and the machine
    runs out of memory a few files later. Trimming makes each oracle's
    peak transient (4.4 GB -> 0.15 GB after event_indicator_fused)."""
    yield
    if _malloc_trim is not None:
        _malloc_trim(0)
