"""Regenerate ``expected_query_suite.json``: the DuckDB oracle results
(``queries.all_oracles()``) of the 16 suite queries over ``data/sf0.01``.

The oracle SQL is independent of the Spark engine. Its all-pairs
MinHash statement alone takes about 10 s on 4 cores, a fifth of a
benchmark run, so the results are computed once and stored as row
counts plus a digest of the value multiset (the normalization of
``tools/check_oracle.py``).
The data is a byte-identical copy of the read-only sf0.01 tables, so the
file only changes when an oracle statement changes.

Usage, from the repository root:  python3 crawlbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from common import QUERY_SUITE, SF_DIR, SF_TABLES, multiset_digest  # noqa: E402


def main() -> None:
    import duckdb

    from sitemapper_spark.queries import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    for t in SF_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    out = {}
    for name in QUERY_SUITE:
        t0 = time.perf_counter()
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = {
            "columns": sorted(cols),
            "rows": len(rows),
            "multiset_sha256": multiset_digest(cols, rows),
        }
        print(f"{name:24s} {len(rows):8d} rows {time.perf_counter() - t0:8.1f}s",
              flush=True)
    doc = {
        "source": f"duckdb {duckdb.__version__}, queries.all_oracles(), data/sf0.01",
        "queries": out,
    }
    with open(os.path.join(HERE, "expected_query_suite.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
