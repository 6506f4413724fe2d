#!/usr/bin/env python3
"""Local pre-check mimicking the driver's correctness gate:
run Verify output (parquet per query) against the DuckDB oracle SQL.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [query ...]
       [--json=PATH] [--baseline=<verifyOutDir of another commit>]

--baseline additionally compares every key's normalized sorted rows (the
gate's table_hash) with a graft.Verify dump of another commit, printing
SAME/DIFF per key after the gate summary; a DIFF fails the exit status.
Rows-only keys, which the gate checks only for rows > 0, are covered too.
"""
import glob
import json
import math
import os
import sys

import duckdb


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return data


def read_rows(con, out_dir, name):
    """(columns, rows) of one key's Verify output, or None if absent."""
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return None
    rel = con.execute(
        "SELECT * FROM read_parquet([" + ",".join(f"'{f}'" for f in files) + "])"
    )
    return [d[0] for d in rel.description], rel.fetchall()


def compare_baseline(con, out_dir, base_dir, only):
    """Print SAME/DIFF per key against another commit's Verify dump;
    returns the number of DIFF keys."""
    keys = {
        os.path.basename(d)
        for o in (out_dir, base_dir)
        for d in glob.glob(f"{o}/*")
        if os.path.isdir(d)
    }
    print(f"== baseline {base_dir} ==")
    n_same = n_diff = 0
    for name in sorted(keys):
        if only and name not in only:
            continue
        got, base = read_rows(con, out_dir, name), read_rows(con, base_dir, name)
        if got is None or base is None:
            why = f"no output {'here' if got is None else 'in baseline'}"
        elif sorted(got[0]) != sorted(base[0]):
            why = f"columns {sorted(got[0])} != {sorted(base[0])}"
        else:
            g, b = table_hash(got[1], got[0]), table_hash(base[1], base[0])
            if g == b:
                print(f"SAME {name} ({len(g)} rows)")
                n_same += 1
                continue
            diffs = [(x, y) for x, y in zip(g, b) if x != y][:3]
            why = f"rows {len(g)} vs {len(b)}, first diffs: {diffs}"
        print(f"DIFF {name}: {why}")
        n_diff += 1
    print(f"== baseline: {n_same} same, {n_diff} diff ==")
    return n_diff


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    json_out = next((a.split("=", 1)[1] for a in sys.argv[1:]
                     if a.startswith("--json=")), None)
    base_dir = next((a.split("=", 1)[1] for a in sys.argv[1:]
                     if a.startswith("--baseline=")), None)
    sf_dir, out_dir = args[0], args[1]
    only = set(args[2:])
    results = {}
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # Every key Verify could not produce is RED here, whether or not it
    # has an oracle: r8's q_sessionize broke at analysis time, vanished
    # from the correctness file, and read as "123 keys, all green"
    # instead of a failure. verify_errors.json is written by Verify for
    # exactly this purpose.
    try:
        verify_errors = json.load(open(f"{out_dir}/verify_errors.json"))
    except FileNotFoundError:
        verify_errors = {}
    for name, err in sorted(verify_errors.items()):
        if only and name not in only:
            continue
        print(f"FAIL {name}: verify error: {err[:200]}")
        results[name] = dict(rows_match=None, schema_match=None, hash_match=None,
                             spark_rows=None, oracle_rows=None, err=err[:500])
        n_fail += 1
    # Rows-only keys (output dir, no oracle — declared non-SQL ops)
    # still gate on rows > 0, mirroring the driver's weaker check.
    produced = {
        os.path.basename(d)
        for d in glob.glob(f"{out_dir}/*")
        if os.path.isdir(d)
    }
    for name in sorted(produced - set(oracle) - set(verify_errors)):
        if only and name not in only:
            continue
        got = read_rows(con, out_dir, name)
        n = len(got[1]) if got else 0
        if n > 0:
            print(f"PASS {name} (rows-only, {n} rows)")
            results[name] = dict(rows_match=None, schema_match=None, hash_match=None,
                                 spark_rows=n, oracle_rows=None, err="no_oracle")
            n_pass += 1
        else:
            print(f"FAIL {name}: rows-only key produced 0 rows")
            results[name] = dict(rows_match=False, schema_match=None, hash_match=None,
                                 spark_rows=0, oracle_rows=None, err="empty")
            n_fail += 1
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        if not glob.glob(f"{out_dir}/{name}/*.parquet"):
            print(f"FAIL {name}: no spark output")
            results[name] = dict(rows_match=None, schema_match=None, hash_match=None,
                                 spark_rows=None, oracle_rows=None, err="no spark output")
            n_fail += 1
            continue
        try:
            got_cols, got = read_rows(con, out_dir, name)
            # the driver materializes via pandas, where HUGEINT/DECIMAL
            # become float64/object and stringify differently than
            # Spark's BIGINT/DOUBLE — an uncasted SUM(int) is a latent
            # hash mismatch even when fetchall() compares equal (r1:
            # profile_outliers, q_sessionize, multimodal_frame_sample).
            rel = con.sql(sql)
            bad = [
                (c, str(t))
                for c, t in zip(rel.columns, rel.types)
                if str(t).upper().startswith(("HUGEINT", "UHUGEINT", "DECIMAL"))
            ]
            if bad:
                print(f"FAIL {name}: oracle emits pandas-unstable types {bad}; CAST them")
                n_fail += 1
                continue
            exp_rel = con.execute(sql)
            exp_cols = [d[0] for d in exp_rel.description]
            exp = exp_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            results[name] = dict(rows_match=None, schema_match=None, hash_match=None,
                                 spark_rows=None, oracle_rows=None, err=str(e)[:500])
            n_fail += 1
            continue
        schema_ok = sorted(got_cols) == sorted(exp_cols)
        if not schema_ok:
            print(f"FAIL {name}: columns {sorted(got_cols)} != {sorted(exp_cols)}")
            results[name] = dict(rows_match=len(got) == len(exp), schema_match=False,
                                 hash_match=False, spark_rows=len(got),
                                 oracle_rows=len(exp), err=None)
            n_fail += 1
            continue
        g, e = table_hash(got, got_cols), table_hash(exp, exp_cols)
        rows_ok, hash_ok = len(g) == len(e), g == e
        results[name] = dict(rows_match=rows_ok, schema_match=True, hash_match=hash_ok,
                             spark_rows=len(g), oracle_rows=len(e), err=None)
        if not rows_ok:
            print(f"FAIL {name}: rows {len(g)} != {len(e)}")
            n_fail += 1
        elif not hash_ok:
            diffs = [(a, b) for a, b in zip(g, e) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    if json_out:
        json.dump(dict(sorted(results.items())), open(json_out, "w"), indent=2)
        print(f"wrote {json_out}")
    n_diff = compare_baseline(con, out_dir, base_dir, only) if base_dir else 0
    sys.exit(1 if n_fail or n_diff else 0)


if __name__ == "__main__":
    main()
