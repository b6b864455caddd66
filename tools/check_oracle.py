#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness check.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each <name>.parquet under verifyOutDir (written by graft.Verify), run
the matching SQL from oracle_sql.json in DuckDB against the same sf tables,
sort columns by name, sort rows, and compare values. Reports per-query
match/mismatch with a diff sample. Dev tooling only — the engine itself
never depends on DuckDB.
"""
import json, math, os, sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 vs 0.0 and format stably
        if v == 0.0:
            v = 0.0
        # repr is the shortest ROUND-TRIP rendering: any two distinct
        # doubles normalize differently. The old %.10g silently truncated
        # the 11th+ significant digit, so a sub-dime engine error inside a
        # big money sum (272024831.86 vs .92) passed locally and would
        # fail the driver (VERDICT r14 #2).
        return repr(v)
    if v is None:
        return "NULL"
    # Decimal (should be rejected by the type gate), date, timestamp,
    # bool, int, str all normalize through str on BOTH sides — the two
    # channels fetch through the same DuckDB fetchall path.
    return str(v)


def main(sf_dir, out_dir):
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # Type gate: the verification driver hashes DuckDB int128-backed
    # numerics (HUGEINT/UHUGEINT) differently from BIGINT even at equal
    # values, and renders ANY DECIMAL-typed output through a canonical
    # decimal-string channel that keeps trailing zeros at scale — so a
    # value-identical DECIMAL column hash-mismatches the Spark side's
    # float shortest-repr whenever a value lands exactly on a coarser
    # scale (272923255.40; the r14 fuzz_q28013/28014 reds). Any oracle
    # producing either is a standing driver red — fail it here, before
    # the value check masks it.
    def _int128_backed(t):
        t = t.upper()
        return "HUGEINT" in t or t.startswith("DECIMAL")

    n_typed_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            desc = con.sql(f"DESCRIBE {sql}").fetchall()
        except Exception as e:
            print(f"[ERROR] {name}: DESCRIBE failed: {e}")
            n_typed_bad += 1
            continue
        bad = [(c, t) for c, t, *_ in desc if _int128_backed(t)]
        if bad:
            print(f"[TYPE ] {name}: driver-unhashable oracle columns {bad} — "
                  f"keep integer folds in BIGINT (e.g. % 1000000007, then "
                  f"CAST(SUM(...) AS BIGINT)) and render decimal results "
                  f"as CAST(... AS DOUBLE) on BOTH sides (keep the decimal "
                  f"arithmetic inside the query; only the hash-carrier "
                  f"type changes)")
            n_typed_bad += 1
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_ok = 0
    for name in names:
        if name not in oracle:
            print(f"[skip ] {name}: no oracle (rows-only check)")
            continue
        try:
            # exact fetch (fetchall, never .df()): pandas coerces DECIMAL
            # to float64, which erases exactly the trailing-zero
            # distinction the driver hash-fails on (VERDICT r14 #2)
            got_rel = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            exp_rel = con.sql(oracle[name])
            gcols, ecols = list(got_rel.columns), list(exp_rel.columns)
            grows, erows = got_rel.fetchall(), exp_rel.fetchall()
        except Exception as e:
            print(f"[ERROR] {name}: {e}")
            continue
        if sorted(gcols) != sorted(ecols):
            print(f"[FAIL ] {name}: columns {sorted(gcols)} != {sorted(ecols)}")
            continue
        gi = [gcols.index(c) for c in sorted(gcols)]
        ei = [ecols.index(c) for c in sorted(ecols)]
        g = sorted(tuple(norm(row[i]) for i in gi) for row in grows)
        e = sorted(tuple(norm(row[i]) for i in ei) for row in erows)
        if g == e:
            n_ok += 1
            print(f"[ok   ] {name}: {len(g)} rows")
        else:
            print(f"[FAIL ] {name}: {len(g)} spark rows vs {len(e)} oracle rows")
            only_g = [r for r in g if r not in set(e)][:3]
            only_e = [r for r in e if r not in set(g)][:3]
            if only_g:
                print(f"         spark-only: {only_g}")
            if only_e:
                print(f"         oracle-only: {only_e}")
    # an oracle name with no dump is a failure: a Verify run that died
    # halfway must not read as a pass over the queries it did write
    missing = sorted(set(oracle) - set(names))
    for name in missing:
        print(f"[MISS ] {name}: no dump under {out_dir}")
    n_checked = len([n for n in names if n in oracle]) + len(missing)
    print(f"== {n_ok}/{n_checked} oracle-checked queries match ==")
    if n_typed_bad:
        print(f"== {n_typed_bad} oracle(s) with int128-backed columns — driver would hash-fail ==")
        sys.exit(1)
    # gate semantics for tools/triscale.sh: any mismatch is a non-zero exit
    if n_ok < n_checked:
        sys.exit(1)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
