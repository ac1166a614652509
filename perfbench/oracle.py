"""DuckDB oracle check for query_mix.

The benchmark JVM writes each query's set-up result as parquet under
<ref>/<query>/ and the oracle SQL of every query to <ref>/oracle_sql.json.
This module runs each oracle over the same sf parquet tables and compares
the two results with the repository's correctness gate, tools/check.py:
its canonical form (columns sorted by name, rows by value) and its cell
rule (floats by their IEEE-754 bits; any NaN pair is equal, -0.0 and +0.0
are not), plus its dtype rules: equal pandas dtypes, and an object-dtype
oracle column of non-string cells (HUGEINT/DECIMAL) fails.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check import TABLES, canon, cells_equal  # noqa: E402


def compare(name, exp, got):
    """Returns None when equal, else a one-line reason."""
    if list(exp.columns) != list(got.columns):
        return f"{name}: columns {list(got.columns)} != oracle {list(exp.columns)}"
    wide = [c for c in exp.columns if str(exp[c].dtype) == "object"
            and not all(isinstance(v, (str, bytes, list, dict, type(None)))
                        for v in exp[c].head(50))]
    if wide:
        return f"{name}: oracle columns {wide} are object-dtype (HUGEINT/DECIMAL?)"
    bad = [c for c in exp.columns if str(exp[c].dtype) != str(got[c].dtype)]
    if bad:
        return (f"{name}: dtype mismatch "
                f"{[(c, str(got[c].dtype), str(exp[c].dtype)) for c in bad]}")
    if len(exp) != len(got):
        return f"{name}: rows {len(got)} != oracle {len(exp)}"
    ev, gv = exp.values, got.values
    for i in range(len(exp)):
        for j, c in enumerate(exp.columns):
            if not cells_equal(ev[i][j], gv[i][j]):
                return f"{name}: row {i} col {c}: oracle={ev[i][j]!r} got={gv[i][j]!r}"
    return None


def check(ref_dir, sf_dir):
    """Returns (queries checked, failure messages)."""
    with open(os.path.join(ref_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures = []
    for name in sorted(oracle):
        try:
            exp = canon(con.execute(oracle[name]).df())
            got = canon(duckdb.connect().execute(
                f"SELECT * FROM '{ref_dir}/{name}/*.parquet'").df())
            msg = compare(name, exp, got)
        except Exception as e:  # an oracle or parquet error is a failure
            msg = f"{name}: oracle check error: {e}"
        if msg:
            failures.append(f"oracle {msg}")
    return len(oracle), failures
