from __future__ import annotations

import contextlib

import pytest

from magicxml_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


# Session- or module-scoped fixtures must not hold persisted or
# localCheckpoint-ed DataFrames: tests/test_oracle_parity.py's autouse
# sweep (session.release_persisted_rdds) unpersists EVERY persistent RDD
# in the shared session after each case. A later test reading such a
# fixture then fails (localCheckpoint blocks cannot be recomputed) or
# silently recomputes it (persist).
@pytest.fixture(scope="session")
def spark():
    s = get_spark("magicxml-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def keep():
    """The stack ``read_xml_records`` enters a repaired copy into: it
    outlives every frame a test reads from a feed."""
    with contextlib.ExitStack() as stack:
        yield stack
