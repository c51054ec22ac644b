#!/usr/bin/env python3
"""Local mimic of the driver's t2 gate: run Verify output vs DuckDB oracle.

Usage: python3 tools/check.py <sfDir> <outDir> [name ...]

For each query name in <outDir>/oracle_sql.json (or just the names given;
a given name without oracle SQL, a typo included, is a FAIL),
executes the oracle SQL in DuckDB over the sfDir parquet tables, reads the
Spark result parquet from <outDir>/<name>/, sorts columns by name on both
sides, and compares values exactly (the driver hash-compares, so any
difference = fail). Prints per-query PASS/FAIL with first diffs.
"""
import duckdb, json, sys, glob, os

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(only or oracle):
        sql = oracle.get(name)
        if sql is None:
            print(f"FAIL {name}: no oracle SQL")
            n_fail += 1
            continue
        try:
            exp = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
            ).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_fail += 1
            continue
        ecols, gcols = sorted(exp.column_names), sorted(got.column_names)
        if ecols != gcols:
            print(f"FAIL {name}: columns differ\n  oracle: {ecols}\n  spark:  {gcols}")
            n_fail += 1
            continue
        exp, got = exp.select(ecols), got.select(ecols)
        if exp.num_rows != got.num_rows:
            print(f"FAIL {name}: rows oracle={exp.num_rows} spark={got.num_rows}")
            n_fail += 1
            continue
        # dtype mismatch is a FAIL: the driver hash is type-sensitive, so a
        # DECIMAL(38,0)-vs-BIGINT column hash-fails even when values match
        # (round-8 lesson: five queries slipped through a WARN-only gate).
        dtype_bad = []
        for c in ecols:
            et, gt = str(exp.schema.field(c).type), str(got.schema.field(c).type)
            if et != gt:
                dtype_bad.append((c, et, gt))
        if dtype_bad:
            for c, et, gt in dtype_bad:
                print(f"FAIL {name}.{c}: dtype oracle={et} spark={gt}")
            n_fail += 1
            continue
        ed = exp.to_pylist()
        gd = got.to_pylist()
        bad = None
        for i, (er, gr) in enumerate(zip(ed, gd)):
            for c in ecols:
                ev, gv = er[c], gr[c]
                if isinstance(ev, float) and isinstance(gv, float):
                    eq = (ev == gv) or (ev != ev and gv != gv)  # NaN==NaN
                else:
                    eq = ev == gv
                if not eq:
                    bad = (i, c, ev, gv)
                    break
            if bad:
                break
        if bad:
            i, c, ev, gv = bad
            print(f"FAIL {name}: first diff row {i} col {c}: oracle={ev!r} spark={gv!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({exp.num_rows} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

main()
