from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from retailfeaturestore_spark.session import get_spark  # noqa: E402

# Driver-generated testdata (TESTDATA.md).  Tests that read it carry this
# marker so the suite stays green on machines without it (e.g. CI, which
# generates its own micro-data via tools/gen_testdata.py for the oracle
# smoke instead).
TESTDATA_SF = "/root/testdata/sf0.001"
requires_testdata = pytest.mark.skipif(
    not os.path.isdir(TESTDATA_SF), reason="driver testdata absent"
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rfs-tests", shuffle_partitions=8)
    yield s

