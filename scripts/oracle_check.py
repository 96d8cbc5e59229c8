#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Usage: python3 scripts/oracle_check.py <sfDir> <verifyOutDir> [query ...]

Reads each Spark result parquet written by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB (tables registered as views over
the same sfDir parquet files), sorts columns by name, and compares
row-by-row values exactly. Prints per-query PASS/FAIL with first diffs,
and an `RSS <query> +<MB>` line after each query that raised this
process's peak resident set by 256 MB or more since the last such line.
Both results stream through their own cursor in fixed-size batches, so
neither is held whole as Python tuples.
"""
import sys, json, glob, math, resource

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Types the driver's hash can never see from a Spark parquet dump — any
# oracle column typed this way is the round-7 HUGEINT bug class (value
# compare passes, driver hash fails). Hard FAIL even when values match.
BAD_ORACLE_TYPES = {"HUGEINT", "UHUGEINT", "DECIMAL(38,0)"}


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


RSS_STEP_MB = 256
BATCH_ROWS = 10000
MAX_DIFFS = 5


def peak_rss_mb():
    # ru_maxrss is in kilobytes on Linux
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024


def reporting_rss(names):
    """Yield each name; once the loop body for it is done, print one RSS
    line if the peak resident set rose by RSS_STEP_MB since the last one."""
    last = peak_rss_mb()
    for name in names:
        yield name
        now = peak_rss_mb()
        if now - last >= RSS_STEP_MB:
            print(f"RSS {name} +{now - last}")
            last = now


def compare(con, spark_sql, oracle_sql, sidx, oidx, scols):
    """Stream both results in BATCH_ROWS batches through two cursors, in
    row order: (spark rows, oracle rows, first MAX_DIFFS cell diffs as
    (row, col, spark, oracle)). Rows are counted to the end of both."""
    scur, ocur = con.cursor(), con.cursor()
    scur.execute(spark_sql)
    ocur.execute(oracle_sql)
    n_spark = n_oracle = 0
    bad = []
    while True:
        sb, ob = scur.fetchmany(BATCH_ROWS), ocur.fetchmany(BATCH_ROWS)
        if not sb and not ob:
            break
        for rn, (sr, orr) in enumerate(zip(sb, ob), start=n_spark):
            if len(bad) >= MAX_DIFFS:
                break
            for si, oi in zip(sidx, oidx):
                a, b = norm(sr[si]), norm(orr[oi])
                if a != b:
                    bad.append((rn, scols[si], a, b))
                    if len(bad) >= MAX_DIFFS:
                        break
        n_spark += len(sb)
        n_oracle += len(ob)
    scur.close()
    ocur.close()
    return n_spark, n_oracle, bad


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    with open(f"{outdir}/oracle_sql.json") as f:
        oracle = json.load(f)
    n_pass = n_fail = 0
    for name in reporting_rss(sorted(oracle)):
        if only and name not in only:
            continue
        sql = oracle[name]
        files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        spark_sql = f"SELECT * FROM read_parquet({files!r})"
        try:
            srel = con.sql(spark_sql)
            scols, stypes = list(srel.columns), [str(t) for t in srel.types]
            orel = con.sql(sql)
            ocols, otypes = list(orel.columns), [str(t) for t in orel.types]
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_fail += 1
            continue
        badtypes = [(c, t) for c, t in zip(ocols, otypes)
                    if t in BAD_ORACLE_TYPES]
        if badtypes:
            print(f"FAIL {name}: oracle result type driver-hash-unsafe: {badtypes}")
            n_fail += 1
            continue
        sidx = sorted(range(len(scols)), key=lambda i: scols[i])
        oidx = sorted(range(len(ocols)), key=lambda i: ocols[i])
        # informational: spark-vs-oracle dtype drift that is NOT yet a
        # known hash-breaker (e.g. INTEGER vs BIGINT) — visible so a new
        # driver-hash-sensitive pairing can be spotted, without failing
        # pairings the driver demonstrably accepts
        tdiff = [(scols[si], stypes[si], otypes[oi])
                 for si, oi in zip(sidx, oidx) if stypes[si] != otypes[oi]]
        if tdiff:
            print(f"TYPEDIFF {name}: (col, spark, oracle) {tdiff}")
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            n_fail += 1
            continue
        try:
            n_spark, n_oracle, bad = compare(con, spark_sql, sql, sidx, oidx, scols)
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_fail += 1
            continue
        if n_spark != n_oracle:
            print(f"FAIL {name}: rows spark={n_spark} oracle={n_oracle}")
            n_fail += 1
            continue
        if bad:
            print(f"FAIL {name}: {len(bad)}+ cell diffs (row, col, spark, oracle):")
            for d in bad:
                print(f"   {d}")
            n_fail += 1
        else:
            print(f"PASS {name} ({n_spark} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {len(oracle)} oracle queries ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
