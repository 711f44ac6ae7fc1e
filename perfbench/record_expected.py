"""Record the expected output digests of the benchmark's queries.

Runs each query's DuckDB oracle SQL (the registry's ``oracle_sql`` twin)
over the tables in ``data/sf0.01`` and writes ``expected.json``, which
the benchmark compares Spark's outputs against on every run.

Usage, from the repository root: python3 perfbench/record_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import duckdb  # noqa: E402

from data_integration_openfoodfacts_spark.plans.registry import ORACLES  # noqa: E402
from workloads import TRACED, QueryWorkload, output_digest  # noqa: E402


def main() -> None:
    con = duckdb.connect()
    data = QueryWorkload.data_dir
    for fname in sorted(os.listdir(data)):
        table = fname.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data}/{fname}'")
    expected = {}
    names = [q for w in TRACED if issubclass(w, QueryWorkload) for q in w.trace_queries]
    for name in names:
        rows, digest = output_digest(con.execute(ORACLES[name]).df())
        expected[name] = {"rows": rows, "sha256": digest}
        print(name, rows, digest)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
