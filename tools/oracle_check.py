#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate (dev tooling only; the
engine itself is pure Scala/Spark). Reads Verify.scala's parquet dumps and
oracle_sql.json, runs each oracle in DuckDB against the sf tables, sorts
columns by name + rows by value, and compares cell-by-cell.

Cells are compared as EXACT STRINGS from fetchall() — never through pandas,
whose .df() coerces DECIMAL/HUGEINT to float64 and would silently pass a
low-digit difference beyond 53 bits of mantissa (the round-12 judge's blind
spot finding). A float cell still renders via repr() so shortest-round-trip
doubles compare stably; ints/decimals/strings compare digit-exact."""
import json, sys, glob, os
import duckdb


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:  # NaN
            return "NULL"
        return repr(v)
    return str(v)


def fetch(con, sql):
    """Run sql, return (sorted column names, row tuples of exact cell strings
    reordered to the sorted columns and sorted as tuples)."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(cell(r[i]) for i in order) for r in cur.fetchall())
    return [cols[i] for i in order], rows


def main(out_dir: str, sf_dir: str):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_ok = n_bad = 0
    for name, sql in sorted(oracles.items()):
        spark_path = os.path.join(out_dir, name)
        if not os.path.isdir(spark_path):
            print(f"MISSING  {name} (no spark output)")
            n_bad += 1
            continue
        try:
            got_cols, got = fetch(
                con, f"SELECT * FROM read_parquet('{spark_path}/*.parquet')")
            want_cols, want = fetch(con, sql)
        except Exception as e:
            print(f"ERROR    {name}: {e}")
            n_bad += 1
            continue
        if got_cols != want_cols:
            print(f"SCHEMA   {name}: spark={got_cols} oracle={want_cols}")
            n_bad += 1
        elif len(got) != len(want):
            print(f"ROWS     {name}: spark={len(got)} oracle={len(want)}")
            n_bad += 1
        elif got != want:
            diffs = [i for i, (g, w) in enumerate(zip(got, want)) if g != w][:3]
            print(f"VALUES   {name}: first diffs:")
            for i in diffs:
                print(f"  spark : {dict(zip(got_cols, got[i]))}")
                print(f"  oracle: {dict(zip(want_cols, want[i]))}")
            n_bad += 1
        else:
            print(f"OK       {name} ({len(got)} rows)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print("usage: oracle_check.py <verify_out_dir> <sf_dir>", file=sys.stderr)
        sys.exit(2)
    main(sys.argv[1], sys.argv[2])
