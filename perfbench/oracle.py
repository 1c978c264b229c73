"""DuckDB oracle results for the ``catalog_mix`` checks, in a child process.

``run.py`` starts this module with the data directory as its argument,
writes the oracle SQL strings to its stdin as a JSON list, and reads a
pickled ``{sql: (rows, columns)}`` from its stdout.  The oracles need no
Spark, so they run while the JVM launches, and their memory stays out of
the benchmark process's peak RSS.
"""

from __future__ import annotations

import json
import os
import pickle
import sys


def rows(data_dir: str, sqls: list[str]) -> dict:
    import oracle_compare

    con = oracle_compare.duckdb_con(data_dir)
    out = {}
    for sql in sqls:
        rel = con.sql(sql)
        out[sql] = (rel.fetchall(), list(rel.columns))
    return out


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tests"))
    result = rows(sys.argv[1], json.load(sys.stdin))
    pickle.dump(result, sys.stdout.buffer)
