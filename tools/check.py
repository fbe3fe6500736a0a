#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs graft.Verify at a given SF dir, then executes each oracle SQL in
DuckDB over the same parquet tables and compares: schema (column names
sorted), row count, and values (columns sorted by name, rows sorted,
exact equality). Usage: python3 tools/check.py [sfdir] [outdir]
"""
import json, subprocess, sys, glob, os
import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
SKIP_RUN = os.environ.get("SKIP_RUN") == "1"

if not SKIP_RUN:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        cwd="/root/repo", capture_output=True, text=True, timeout=1800)
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-2000:]); sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)

con = duckdb.connect()
for p in glob.glob(f"{SF}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
# Verify records per-query exceptions here (a throwing query writes no
# parquet and would otherwise fail with an uninformative message).
verrs = {}
if os.path.exists(f"{OUT}/verify_errors.json"):
    verrs = json.load(open(f"{OUT}/verify_errors.json"))
n_pass = n_fail = 0
for name in sorted(oracle):
    # A query that threw in this run FAILS even if an older run's dump
    # is still on disk: comparing that stale dump could PASS it.
    if name in verrs:
        print(f"FAIL {name}: {verrs[name]}"); n_fail += 1; continue
    files = glob.glob(f"{OUT}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); n_fail += 1; continue
    try:
        grel = con.sql(f"SELECT * FROM '{OUT}/{name}/*.parquet'")
        erel = con.sql(oracle[name])
        gtypes = dict(zip(grel.columns, map(str, grel.types)))
        etypes = dict(zip(erel.columns, map(str, erel.types)))
        got, exp = grel.df(), erel.df()
    except Exception as ex:
        print(f"FAIL {name}: oracle error: {ex}"); n_fail += 1; continue
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        print(f"FAIL {name}: columns {gc} vs {ec}"); n_fail += 1; continue
    # Any HUGEINT/DECIMAL (or unsigned-int) oracle output is a latent
    # driver-hash failure: Spark has none of these, and the driver's
    # value hash is dtype-sensitive.
    bad_types = [f"{c}:{etypes[c]}" for c in ec
                 if etypes[c].endswith("HUGEINT")
                 or etypes[c] in ("UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT")
                 or etypes[c].startswith("DECIMAL")]
    if bad_types:
        print(f"FAIL {name}: oracle emits engine-mismatched type(s) "
              f"{bad_types} — cast to BIGINT/DOUBLE in the oracle SQL")
        n_fail += 1; continue
    # Type-strict at the level the driver hash enforces: the pandas VALUE
    # representation must agree. Integer widths are benign (INTEGER vs
    # BIGINT both hash as ints; driver passed q45/q49/q50), but a kind
    # flip is fatal (HUGEINT converts to float64 — exactly how q20 was
    # value-identical yet hash-red for two rounds).
    def null_note(c):
        # int-vs-float kind flips are usually NULLs on one side only
        # (pandas promotes a nullable int column to float64) — surface
        # the per-side null counts so the message points at the real
        # difference, not a type bug.
        kinds = {got[c].dtype.kind, exp[c].dtype.kind}
        if kinds == {"i", "f"}:
            return (f" [nulls: spark={int(got[c].isna().sum())}"
                    f" oracle={int(exp[c].isna().sum())} — a one-sided"
                    f" NULL promotes that side to float64]")
        return ""
    kmis = [f"{c}: spark={got[c].dtype}({gtypes[c]}) "
            f"oracle={exp[c].dtype}({etypes[c]})" + null_note(c)
            for c in ec if got[c].dtype.kind != exp[c].dtype.kind]
    if kmis:
        print(f"FAIL {name}: dtype-kind mismatch {kmis}")
        n_fail += 1; continue
    got, exp = got[gc], exp[gc]
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} vs {len(exp)}"); n_fail += 1
        continue
    g = got.sort_values(gc, kind="mergesort").reset_index(drop=True)
    e = exp.sort_values(gc, kind="mergesort").reset_index(drop=True)
    try:
        # check_dtype=False here is safe: dtype KIND was already enforced
        # above; only benign int/float widths remain.
        pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                      check_exact=True)
        print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
    except AssertionError as ex:
        print(f"FAIL {name}: {str(ex).splitlines()[-1][:200]}")
        # show first mismatching cells
        for c in gc:
            neq = (g[c] != e[c]) & ~(g[c].isna() & e[c].isna())
            if neq.any():
                i = neq.idxmax()
                print(f"   col {c} row {i}: got={g[c][i]!r} exp={e[c][i]!r}"
                      f" (n_diff={int(neq.sum())})")
        n_fail += 1
print(f"== {n_pass} pass / {n_fail} fail ==")
# Zero queries compared is a broken run (e.g. an empty oracle_sql.json),
# never a pass.
sys.exit(1 if n_fail or not n_pass else 0)
