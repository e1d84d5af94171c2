#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: oracle_check.py <sfDir> <verifyOutDir>
       oracle_check.py --selftest

For each query dir under verifyOutDir: read the Spark parquet result, run the
corresponding oracle SQL from oracle_sql.json in DuckDB (tables = parquet
files in sfDir), sort columns by name, compare row counts, schemas (loosely)
and values. An oracle_sql.json key with no query dir is a fail: Verify writes
no dir for a query that failed.

The driver's hash compare is dtype-sensitive: an int64 Spark column vs a
float64 oracle column hash-fails even when every value is numerically equal
(DuckDB 1.0 renders uncast sum() as HUGEINT -> pandas float64). So before any
value compare we fail on a dtype-KIND mismatch — that is exactly the class
that astype(float) coercion used to hide. --selftest proves the checker
catches an uncast-sum oracle.
"""
import sys, os, json, glob, tempfile
import duckdb
import pandas as pd


def compare_frames(name, got, exp):
    """Returns a list of failure strings (empty = pass). Both frames must
    already be column-sorted and index-reset."""
    fails = []
    if list(got.columns) != list(exp.columns):
        return [f"columns {list(got.columns)} != {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"rows {len(got)} != {len(exp)}"]
    for c in got.columns:
        g, e = got[c], exp[c]
        # dtype-kind strictness FIRST: the driver hashes dtype-sensitively,
        # so int64 vs float64 is a failure even with identical values.
        if g.dtype.kind != e.dtype.kind:
            fails.append(
                f"col {c} dtype-kind mismatch: spark {g.dtype} (kind "
                f"{g.dtype.kind!r}) vs oracle {e.dtype} (kind "
                f"{e.dtype.kind!r}) — likely an uncast aggregate in the "
                f"oracle SQL (wrap in CAST(... AS BIGINT))")
            continue
        try:
            if g.dtype.kind == 'f':
                exact = (g.fillna(0) == e.fillna(0)).all()
                if not exact:
                    fails.append(f"col {c} float mismatch")
            else:
                if not (g.astype(str) == e.astype(str)).all():
                    bad = (g.astype(str) != e.astype(str))
                    i = bad[bad].index[0]
                    fails.append(f"col {c} row {i}: {g[i]!r} != {e[i]!r}")
        except Exception as ex:
            fails.append(f"col {c} compare error: {ex}")
    return fails


def selftest():
    """Prove the checker flags the int64-vs-float64 class that cost round 5:
    an uncast DuckDB sum() comes back HUGEINT -> pandas float64, while Spark
    writes int64."""
    con = duckdb.connect()
    uncast = con.execute(
        "SELECT g AS k, sum(v) AS s FROM (SELECT range % 3 AS g, range AS v "
        "FROM range(10)) GROUP BY 1 ORDER BY 1").df()
    cast = con.execute(
        "SELECT g AS k, CAST(sum(v) AS BIGINT) AS s FROM (SELECT range % 3 "
        "AS g, range AS v FROM range(10)) GROUP BY 1 ORDER BY 1").df()
    spark_like = cast.copy()  # Spark emits int64 for a long sum
    assert spark_like["s"].dtype.kind == 'i', spark_like.dtypes
    assert uncast["s"].dtype.kind == 'f', (
        "expected DuckDB uncast sum() to surface as float64; "
        f"got {uncast['s'].dtype} — DuckDB behavior changed?")
    fails = compare_frames("uncast_sum", spark_like, uncast)
    assert fails and "dtype-kind mismatch" in fails[0], fails
    assert not compare_frames("cast_sum", spark_like, cast)
    # window-sum variant of the same bug
    wuncast = con.execute(
        "SELECT range AS k, sum(range) OVER (ORDER BY range) AS s "
        "FROM range(5) ORDER BY 1").df()
    wcast = con.execute(
        "SELECT range AS k, CAST(sum(range) OVER (ORDER BY range) AS BIGINT) "
        "AS s FROM range(5) ORDER BY 1").df()
    fails = compare_frames("uncast_window_sum", wcast, wuncast)
    assert fails and "dtype-kind mismatch" in fails[0], fails
    # a query Verify could not write has an oracle but no result dir
    with tempfile.TemporaryDirectory() as out_dir:
        os.mkdir(os.path.join(out_dir, "q_ok"))
        con.execute("COPY (SELECT CAST(1 AS BIGINT) AS a) TO '"
                    + os.path.join(out_dir, "q_ok", "part-0.parquet")
                    + "' (FORMAT PARQUET)")
        with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
            json.dump({"q_ok": "SELECT CAST(1 AS BIGINT) AS a",
                       "q_failed": "SELECT CAST(1 AS BIGINT) AS a"}, f)
        assert check(con, out_dir) == (1, 1)
    print("selftest OK: dtype-kind check catches uncast agg + window sums; "
          "a missing result counts as a fail")
    return 0


def check(con, out_dir):
    """Compare every result dir under out_dir with its oracle; returns
    (n_pass, n_fail). An oracle key with no result dir is a fail: Verify
    writes no dir for a query that failed."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    n_pass = n_fail = 0
    for qdir in sorted(oracles):
        if not os.path.isdir(os.path.join(out_dir, qdir)):
            print(f"✗ {qdir}: no result (the query failed in Verify)")
            n_fail += 1
    for qdir in sorted(os.listdir(out_dir)):
        full = os.path.join(out_dir, qdir)
        if not os.path.isdir(full):
            continue
        got = pd.read_parquet(full)
        got = got[sorted(got.columns)].reset_index(drop=True)
        if qdir not in oracles:
            print(f"  [rows-only] {qdir}: rows={len(got)}")
            continue
        try:
            exp = con.execute(oracles[qdir]).df()
        except Exception as e:
            print(f"✗ {qdir}: oracle SQL failed: {e}")
            n_fail += 1
            continue
        exp = exp[sorted(exp.columns)].reset_index(drop=True)
        fails = compare_frames(qdir, got, exp)
        if not fails:
            n_pass += 1
            print(f"✓ {qdir} ({len(got)} rows)")
        else:
            n_fail += 1
            for f_ in fails:
                print(f"✗ {qdir}: {f_}")
    return n_pass, n_fail


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    n_pass, n_fail = check(con, out_dir)
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(sys.argv) == 2 and sys.argv[1] == "--selftest":
        sys.exit(selftest())
    sys.exit(main(sys.argv[1], sys.argv[2]))
