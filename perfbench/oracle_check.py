"""Compare dumped gate results with their DuckDB twins.

Each gate's Spark result sits as Parquet under <dump_dir>/<gate>/; its
twin SQL is in <dump_dir>/oracle_sql.json. The twin runs in DuckDB over
views of the same input tables. The rules are those of the repository's
oracle gate: columns compared by sorted name, the same row count, rows
compared in order, values exactly equal (NaN equals NaN), and a
decimal-versus-integer column type is a failure.

Usage: python3 perfbench/oracle_check.py <tables_dir> <dump_dir>
"""
import json
import math
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _family(t):
    t = str(t)
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith(("int", "uint")):
        return "int"
    return t


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def check(tables_dir, dump_dir):
    """Return (gates passed, list of failure messages)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(f"{dump_dir}/oracle_sql.json") as f:
        twins = json.load(f)
    passed, fails = 0, []
    for name, sql in sorted(twins.items()):
        try:
            want = con.execute(sql).fetch_arrow_table()
            got = con.execute(f"SELECT * FROM '{dump_dir}/{name}/*.parquet'").fetch_arrow_table()
        except Exception as e:  # a missing dump or a twin error is a failure
            fails.append(f"{name}: {e}")
            continue
        cols = sorted(want.column_names)
        if cols != sorted(got.column_names):
            fails.append(f"{name}: columns differ: twin={cols} spark={sorted(got.column_names)}")
            continue
        bad_types = [c for c in cols
                     if {_family(want.schema.field(c).type), _family(got.schema.field(c).type)}
                     == {"decimal", "int"}]
        if bad_types:
            fails.append(f"{name}: decimal-vs-integer columns {bad_types}")
            continue
        if want.num_rows != got.num_rows:
            fails.append(f"{name}: rows differ: twin={want.num_rows} spark={got.num_rows}")
            continue
        diff = next(((c, i, a, b) for c in cols
                     for i, (a, b) in enumerate(zip(want.column(c).to_pylist(),
                                                    got.column(c).to_pylist()))
                     if not _same(a, b)), None)
        if diff:
            fails.append(f"{name}: first value mismatch {diff}")
        else:
            passed += 1
    return passed, fails


if __name__ == "__main__":
    n, fails = check(sys.argv[1], sys.argv[2])
    for f in fails:
        print("FAIL", f)
    print(f"{n} pass, {len(fails)} fail")
    sys.exit(1 if fails else 0)
