"""Regenerate ``digests.json``: the row count and order-insensitive
digest of each batch query's DuckDB oracle over the generated tables.

    python3 perfbench/make_digests.py

Run it after changing the table generator, its fixed seed or size, or
the batch query list; the benchmark compares every collected result
against these digests.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import duckdb  # noqa: E402

import datagen  # noqa: E402
from batch import DIGESTS, QUERIES, digest  # noqa: E402
from run import DATA_SCALE, DATA_SEED  # noqa: E402
from ons_utils_spark.plans.queries import QUERIES as REGISTRY  # noqa: E402


def main() -> None:
    with tempfile.TemporaryDirectory(dir=HERE) as data:
        datagen.generate(data, DATA_SEED, DATA_SCALE)
        con = duckdb.connect()
        for table in os.listdir(data):
            name = table.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{table}'")
        out = {q: digest(con.execute(REGISTRY[q].oracle).df()) for q in QUERIES}
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for q, d in out.items():
        print(f"{q:<32} rows={d['rows']}")


if __name__ == "__main__":
    main()
