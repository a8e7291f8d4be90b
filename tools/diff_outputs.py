#!/usr/bin/env python3
"""Compare two `graft.Verify` output dirs query by query.

    python3 tools/diff_outputs.py <base_dir> <new_dir> [query...]
    python3 tools/diff_outputs.py --oracle-sql <base.json> <new.json>

For each query (default: every q* dir in either output dir) the two
parquet outputs are read with DuckDB and compared: first the column
names and types in order, then the rows as multisets (row order is
ignored; duplicate rows must occur equally often). Prints one line per
query and exits 1 if any query differs or is missing from either dir.

Use it where the DuckDB oracle cannot judge (q503's oracle runs out of
memory on a 15 GB box: compare against a parent-commit Verify instead)
and to show a refactor leaves outputs row-identical.

With --oracle-sql the two arguments are `oracle_sql.json` dumps (as
written by `graft.Verify`; `runMain graft.Verify <sf> <out> __none__`
writes only that file). Every key whose SQL differs once runs of
whitespace are collapsed to one space is listed, as is every key missing
from either side; the exit status is 1 on any difference. A refactor of
how the oracle SQL is assembled should report every key identical.
"""
import glob
import json
import os
import re
import sys


def parquet_glob(out_dir, query):
    files = glob.glob(os.path.join(out_dir, query, "*.parquet"))
    return os.path.join(out_dir, query, "*.parquet") if files else None


def collapse(sql):
    return re.sub(r"\s+", " ", sql).strip()


def diff_oracle_sql(base_json, new_json):
    with open(base_json) as f:
        base = json.load(f)
    with open(new_json) as f:
        new = json.load(f)
    keys = sorted(set(base) | set(new))
    bad = 0
    for k in keys:
        if k not in base or k not in new:
            side = base_json if k not in base else new_json
            print(f"{k:36s} MISSING in {side}")
        elif collapse(base[k]) != collapse(new[k]):
            print(f"{k:36s} SQL differs")
        else:
            continue
        bad += 1
    print(f"\n{len(keys) - bad}/{len(keys)} identical")
    return 1 if bad or not keys else 0


def compare(con, base, new):
    scan = "read_parquet('{}')"
    a, b = scan.format(base), scan.format(new)
    cols_a = con.execute(f"DESCRIBE SELECT * FROM {a}").fetchall()
    cols_b = con.execute(f"DESCRIBE SELECT * FROM {b}").fetchall()
    sig_a = [(c[0], c[1]) for c in cols_a]
    sig_b = [(c[0], c[1]) for c in cols_b]
    if sig_a != sig_b:
        return f"SCHEMA base={sig_a} new={sig_b}"
    n_a = con.execute(f"SELECT count(*) FROM {a}").fetchone()[0]
    n_b = con.execute(f"SELECT count(*) FROM {b}").fetchone()[0]
    if n_a != n_b:
        return f"ROWCOUNT base={n_a} new={n_b}"
    only_a = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL "
        f"SELECT * FROM {b})").fetchone()[0]
    only_b = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL "
        f"SELECT * FROM {a})").fetchone()[0]
    if only_a or only_b:
        return f"ROWS {only_a} only in base, {only_b} only in new"
    return f"IDENTICAL ({n_a} rows)"


def main(argv):
    if len(argv) == 4 and argv[1] == "--oracle-sql":
        return diff_oracle_sql(argv[2], argv[3])
    if len(argv) < 3 or argv[1].startswith("--"):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    import duckdb
    base_dir, new_dir, queries = argv[1], argv[2], argv[3:]
    if not queries:
        names = {os.path.basename(d)
                 for out in (base_dir, new_dir)
                 for d in glob.glob(os.path.join(out, "q*"))
                 if os.path.isdir(d)}
        queries = sorted(names)
    con = duckdb.connect()
    bad = 0
    for q in queries:
        base, new = parquet_glob(base_dir, q), parquet_glob(new_dir, q)
        if base is None or new is None:
            where = " and ".join(d for d, g in ((base_dir, base), (new_dir, new))
                                 if g is None)
            status = f"MISSING in {where}"
        else:
            try:
                status = compare(con, base, new)
            except duckdb.Error as e:
                status = f"DUCKDB-FAIL {str(e)[:200]}"
        if not status.startswith("IDENTICAL"):
            bad += 1
        print(f"{q:36s} {status}")
    print(f"\n{len(queries) - bad}/{len(queries)} identical")
    return 1 if bad or not queries else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
