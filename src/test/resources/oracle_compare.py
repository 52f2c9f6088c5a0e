#!/usr/bin/env python3
"""Compare a graft.Verify dump with DuckDB running each query's oracle SQL.

    python3 oracle_compare.py <sfDir> <outDir>

<outDir> holds what `graft.Verify <sfDir> <outDir>` wrote: one parquet
directory per query and oracle_sql.json. For each query both results get
their columns sorted by name, every float rounded to 6 places, every DATE read
as the TIMESTAMP at its midnight (DuckDB's date_trunc('day', ts) returns a
DATE where Spark keeps a TIMESTAMP) and their rows sorted; the query matches
when the column names and the rows are equal.
Prints one line per query, `ok <name> rows=<n>`, `MISMATCH <name>: ...` or
`ERROR <name>: ...`, and exits 1 unless every query matches.
"""
import json
import os
import sys
from collections import Counter
from datetime import date, datetime

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalized(cursor):
    """(sorted column names, sorted rows) of an executed DuckDB cursor."""
    names = [d[0] for d in cursor.description]
    order = sorted(range(len(names)), key=lambda i: names[i])

    def value(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, date) and not isinstance(v, datetime):
            return datetime(v.year, v.month, v.day)
        return v

    rows = [tuple(value(r[i]) for i in order) for r in cursor.fetchall()]
    # None sorts first in its column; other values compare within the column
    rows.sort(key=lambda r: tuple((False, 0) if v is None else (True, v) for v in r))
    return [names[i] for i in order], rows


def compare(con, out_dir, name, sql):
    path = os.path.join(out_dir, name)
    if not os.path.isdir(path):
        return f"ERROR {name}: no output directory (the query failed in Verify)"
    mine_cols, mine = normalized(con.execute(f"SELECT * FROM '{path}/*.parquet'"))
    ref_cols, ref = normalized(con.execute(sql))
    if mine_cols != ref_cols:
        return f"MISMATCH {name}: columns {mine_cols} vs oracle {ref_cols}"
    if mine != ref:
        extra = Counter(map(repr, mine)) - Counter(map(repr, ref))
        missing = Counter(map(repr, ref)) - Counter(map(repr, mine))
        return (f"MISMATCH {name}: {len(mine)} rows vs oracle {len(ref)}; "
                f"{sum(extra.values())} extra, e.g. {next(iter(extra), None)}; "
                f"{sum(missing.values())} missing, e.g. {next(iter(missing), None)}")
    return f"ok {name} rows={len(mine)}"


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: oracle_compare.py <sfDir> <outDir>")
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failed = 0
    for name in sorted(oracle):
        try:
            line = compare(con, out_dir, name, oracle[name])
        except duckdb.Error as e:
            line = f"ERROR {name}: {str(e).splitlines()[0]}"
        failed += not line.startswith("ok ")
        print(line, flush=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
