"""Compare batch query results with their DuckDB oracle SQL.

Canonicalization follows the engine's correctness gate (tools/check.py):
columns sorted by name, DuckDB-reported column types compared, and rows
compared as a multiset of type-tagged values (so 5 and Decimal(5) stay
different). It is restated here so that a change to the repository's tools
cannot change the benchmark's verdicts.
"""
import glob
import json
import math
import os
from collections import Counter

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _norm(v):
    if isinstance(v, float):
        return ("float", "NaN") if math.isnan(v) else ("float", v)
    return (type(v).__name__, v)


def _canon(rel):
    cols = sorted(rel.columns)
    sel = rel.project(", ".join(f'"{c}"' for c in cols))
    types = list(zip(sel.columns, [str(t) for t in sel.types]))
    rows = Counter(tuple(_norm(v) for v in r) for r in sel.fetchall())
    return cols, types, rows


def check(data_dir, out_dir):
    """Returns (names checked, failure messages) for every result directory
    under `out_dir` named in its oracle_sql.json."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    failures = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        try:
            if not files:
                raise RuntimeError("no result written")
            got = _canon(con.sql(f"SELECT * FROM read_parquet({files!r})"))
            exp = _canon(con.sql(sql))
        except Exception as e:  # a query that cannot be compared has failed
            failures.append(f"{name}: {e}")
            continue
        if got[0] != exp[0]:
            failures.append(f"{name}: columns {got[0]} != oracle {exp[0]}")
        elif got[1] != exp[1]:
            failures.append(f"{name}: types {got[1]} != oracle {exp[1]}")
        elif got[2] != exp[2]:
            failures.append(f"{name}: {sum(got[2].values())} rows differ from "
                            f"the oracle's {sum(exp[2].values())}")
    return sorted(oracle), failures
