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


def stage_microbatches(spark, tmp_path, schema: str, batches):
    """Stage one parquet file per micro-batch, written in batch order (the
    file source with maxFilesPerTrigger=1 takes the oldest modification
    time first, ties in listing order; one Spark write per file keeps the
    times apart), and return the readStream over them.  Used by the
    mtable streaming-sink tests."""
    import glob as _glob
    import shutil as _shutil

    stage = tmp_path / "stream"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage / f"b{i}")
        )
        (part,) = _glob.glob(str(stage / f"b{i}" / "*.parquet"))
        _shutil.move(part, str(stage / f"part-{i}.parquet"))
        _shutil.rmtree(str(stage / f"b{i}"))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
