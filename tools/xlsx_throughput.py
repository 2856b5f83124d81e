"""Measure the xlsx parser on a UCI-Online-Retail-II-SHAPED workbook.

The reference ingests a real 1.07M-row two-sheet workbook
(`/root/reference/jobs/ingest_xlsx_to_parquet.py`); that file is not in the
sandbox, so the repo's ingest is verified on a small fixture.  This tool
closes the remaining question — does the executor-side stdlib parser hold up
at the real row count? — by generating a synthetic workbook with the same
two-sheet split, column mix (string ids through sharedStrings, float
quantities/prices, serial datetimes, sparse nulls), and row count, then
timing `read_xlsx` (row shards of each sheet, parsed in parallel)
end-to-end through the same Spark path the ingest job uses.

Usage::

    python tools/xlsx_throughput.py [n_rows_total] [out.xlsx]

Prints one JSON line: write/read seconds, rows/sec, and the parsed row
count (which must equal n_rows_total).
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from retailfeaturestore_spark.schemas import XLSX_RAW  # noqa: E402
from retailfeaturestore_spark.session import get_spark  # noqa: E402
from retailfeaturestore_spark.sources.xlsx import read_xlsx, write_minimal_xlsx  # noqa: E402


def synth_rows(n: int, seed: int = 42) -> list[list]:
    rng = random.Random(seed)
    header = [
        "Invoice", "StockCode", "Description", "Quantity",
        "InvoiceDate", "Price", "Customer ID", "Country",
    ]
    rows: list[list] = [header]
    countries = ["United Kingdom", "France", "Germany", "Spain", "Norway"]
    for i in range(n):
        rows.append([
            f"5{36365 + i % 40000}",
            f"8{5123 + i % 3000}{chr(65 + i % 3)}",
            f"PRODUCT DESCRIPTION {i % 2500}",
            rng.randint(1, 48),
            44200.0 + (i % 700) + rng.random(),  # serial datetime
            round(rng.uniform(0.2, 30.0), 2),
            float(12346 + i % 5000) if i % 9 else None,  # sparse float ids
            countries[i % len(countries)],
        ])
    return rows


def main() -> None:
    n_total = int(sys.argv[1]) if len(sys.argv) > 1 else 1_067_371
    path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        tempfile.gettempdir(), "retail_ii_synth.xlsx"
    )
    half = n_total // 2
    t0 = time.time()
    write_minimal_xlsx(path, {
        "Year 2009-2010": synth_rows(half, seed=42),
        "Year 2010-2011": synth_rows(n_total - half, seed=43),
    })
    t_write = time.time() - t0
    size_mb = os.path.getsize(path) / 1e6

    spark = get_spark("xlsx-throughput")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    n_read = read_xlsx(spark, path, XLSX_RAW).count()  # all sheets, header per sheet
    t_read = time.time() - t0
    print(json.dumps({
        "metric": "xlsx_parse_throughput",
        "rows": n_read,
        "expected_rows": n_total,
        "file_mb": round(size_mb, 1),
        "write_sec": round(t_write, 2),
        "read_sec": round(t_read, 2),
        "rows_per_sec": round(n_read / t_read),
    }))
    assert n_read == n_total, (n_read, n_total)


if __name__ == "__main__":
    main()
