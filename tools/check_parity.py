#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB-oracle correctness gate.

Runs AFTER `sbt "runMain graft.Verify <sfDir> <outDir>"`:
  - registers each testdata parquet as a DuckDB view named like the table,
  - runs every oracle_sql.json entry,
  - loads the Spark-written result parquet,
  - compares columns (sorted by name), row counts, and cell values,
  - prints each oracle's wall time on its line and the slowest five last.

Dev-only tool (driver-side python deps); not part of the Scala library.
Usage: python3 tools/check_parity.py <sfDir> <outDir>
"""
import json
import math
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return v
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return float(v)
    except ImportError:
        pass
    return v


def cmp_cell(a, b):
    a, b = norm(a), norm(b)
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True, 0.0
        return a == b, abs(a - b)
    return a == b, None


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    n_pass = n_fail = 0
    oracle_s = {}
    for name in sorted(oracles):
        sql = oracles[name]
        t0 = time.perf_counter()
        try:
            want = con.sql(sql)
            want_cols = [c.lower() for c in want.columns]
            # HUGEINT oracle columns become float64 in pandas-based hash
            # canonicalization and mismatch Spark's INT64 even when every
            # cell is equal (the round-5 ext_seq_pack red row). A warning
            # was shippable-past; make it a hard parity failure so this
            # class can never reach the driver gate silently again.
            huge = [c for c, t in zip(want.columns, want.types)
                    if str(t) == "HUGEINT"]
            if huge:
                print(f"FAIL {name}: HUGEINT oracle columns {huge} — "
                      "CAST them to BIGINT or the driver hash will diverge")
                n_fail += 1
                continue
            want_rows = want.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        finally:
            oracle_s[name] = time.perf_counter() - t0
        took = f" [oracle {oracle_s[name]:.2f} s]"
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            got_cols = [c.lower() for c in got.columns]
            got_rows = got.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_fail += 1
            continue

        if sorted(want_cols) != sorted(got_cols):
            print(f"FAIL {name}: columns want={sorted(want_cols)} got={sorted(got_cols)}{took}")
            n_fail += 1
            continue
        if len(want_rows) != len(got_rows):
            print(f"FAIL {name}: rows want={len(want_rows)} got={len(got_rows)}{took}")
            n_fail += 1
            continue
        # align column order by name
        wperm = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
        gperm = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
        bad = None
        maxdiff = 0.0
        for ri, (wr, gr) in enumerate(zip(want_rows, got_rows)):
            for wi, gi in zip(wperm, gperm):
                ok, diff = cmp_cell(wr[wi], gr[gi])
                if diff:
                    maxdiff = max(maxdiff, diff)
                if not ok:
                    if bad is None:
                        bad = (ri, want_cols[wi], wr[wi], gr[gi])
        if bad:
            ri, c, w, g = bad
            print(f"FAIL {name}: first diff row={ri} col={c} want={w!r} got={g!r} "
                  f"(maxdiff={maxdiff}){took}")
            n_fail += 1
        else:
            extra = f" (maxfloatdiff={maxdiff})" if maxdiff else ""
            print(f"PASS {name}: {len(got_rows)} rows{extra}{took}")
            n_pass += 1

    # Declared-vs-emitted coverage: every query SparkEntry declares must
    # have a result dir. Round 7 shipped 6 erroring queries that simply
    # vanished from the correctness output — this makes that a hard fail.
    import os
    try:
        with open(f"{out_dir}/declared_queries.json") as f:
            declared = json.load(f)
    except FileNotFoundError:
        declared = []
        print("WARN: no declared_queries.json (old Verify?) — "
              "coverage check skipped")
    emitted = {d for d in os.listdir(out_dir)
               if os.path.isdir(os.path.join(out_dir, d))}
    missing = sorted(set(declared) - emitted)
    for name in missing:
        print(f"FAIL {name}: declared in SparkEntry.queries but no result emitted")
        n_fail += 1

    # rows-only queries (no oracle): report row counts
    for d in sorted(os.listdir(out_dir)):
        p = os.path.join(out_dir, d)
        if os.path.isdir(p) and d not in oracles:
            try:
                n = con.sql(f"SELECT count(*) FROM read_parquet('{p}/*.parquet')").fetchone()[0]
                print(f"ROWS-ONLY {d}: {n} rows")
            except Exception as e:
                print(f"ROWS-ONLY {d}: unreadable: {e}")

    slowest = sorted(oracle_s.items(), key=lambda kv: -kv[1])[:5]
    print("\nslowest oracles: " + ", ".join(f"{n} {s:.2f} s" for n, s in slowest))
    print(f"oracle time: {sum(oracle_s.values()):.1f} s")
    print(f"\n{n_pass} pass / {n_fail} fail / {len(oracles)} oracles")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
