"""Recompute ``digests.json`` from the registry's DuckDB oracle.

The benchmark checks the queries in ``registry.DIGESTED`` against these
digests instead of running their oracle on every run (each takes
seconds in DuckDB). A digest is the sha256 of the oracle output's
canonical form (``checks.canon``) over the tables in ``perfbench/data``.

Usage, from the root of the repository:
    python3 perfbench/make_digests.py          # rewrite digests.json
    python3 perfbench/make_digests.py --check  # exit 1 if it would change
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from checks import digest  # noqa: E402
from registry import DIGESTED, DIGESTS, duckdb_connection, oracle_canon  # noqa: E402


def main() -> int:
    from dataframe_kotlin_spark.queries import oracle_queries

    sqls = oracle_queries()
    con = duckdb_connection()
    out = {}
    for name in DIGESTED:
        t0 = time.perf_counter()
        cols, rows = oracle_canon(con, sqls[name])
        out[name] = {"rows": len(rows), "sha256": digest(cols, rows)}
        print(f"{name}: {len(rows)} rows, {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    text = json.dumps(out, indent=1, sort_keys=True) + "\n"
    if "--check" in sys.argv[1:]:
        with open(DIGESTS) as fh:
            same = fh.read() == text
        print("digests current" if same else "digests differ", file=sys.stderr)
        return 0 if same else 1
    with open(DIGESTS, "w") as fh:
        fh.write(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
