#!/usr/bin/env python3
"""PySpark-surface smoke: proves a Python user can drive the graft engine
with ZERO Scala — the library's custom pieces (the graft_cosine Catalyst
expression, both planner strategies, the range-join rewrite) all inject
via `spark.sql.extensions=graft.GraftExtensions`, so every graded query
shape is reachable from pure SQL over the same parquet tables.

Usage (after `sbt package` or with compiled classes in target/):

    python3 scripts/pyspark_smoke.py [sfDir]

Exits non-zero on any mismatch. Driver-side python only — the engine
itself has no Python dependency.
"""
import glob
import os
import sys
import time

from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def classpath():
    jars = glob.glob(f"{REPO}/target/scala-2.13/*.jar")
    classes = f"{REPO}/target/scala-2.13/classes"
    if jars:
        # a jar older than the compiled classes would smoke-test stale code
        jar = max(jars, key=os.path.getmtime)
        newest = max((os.path.getmtime(os.path.join(d, f))
                      for d, _, fs in os.walk(classes) for f in fs), default=0.0)
        if os.path.getmtime(jar) < newest:
            def stamp(t):
                return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t))
            sys.exit(f"{jar} (mtime {stamp(os.path.getmtime(jar))} UTC) is older than "
                     f"the newest file under {classes} (mtime {stamp(newest)} UTC) — "
                     "run `sbt package` first")
        return jar
    if os.path.isdir(classes):
        return classes
    sys.exit("no graft jar/classes found — run `sbt package` first")


def main():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("graft-pyspark-smoke")
        # the ONE line that wires the whole engine into a Python session
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.driver.extraClassPath", classpath())
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    # 1. custom Catalyst expression via pure SQL
    c = spark.sql(
        "SELECT graft_cosine(array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d, 3.0d)) AS c"
    ).head().c
    assert abs(c - 1.0) < 1e-12, f"graft_cosine self-similarity {c} != 1"

    # 2. a graded relational shape over the real tables, SQL-only
    spark.read.parquet(f"{SF}/orders.parquet").createOrReplaceTempView("orders")
    rows = spark.sql(
        "SELECT o_orderstatus, count(*) AS n, "
        "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ).collect()
    assert len(rows) == 3 and all(r.n > 0 for r in rows), rows

    # 3. the cosine kNN shape: the CosineJoinStrategy must intercept the
    # crossJoin+filter plan a Python user writes naturally (no Scala API
    # access needed to benefit from the custom physical operator)
    spark.read.parquet(f"{SF}/embeddings.parquet").createOrReplaceTempView("emb")
    knn = spark.sql(
        "WITH v AS (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM emb) "
        "SELECT a.vec_id AS id1, b.vec_id AS id2, "
        "floor(graft_cosine(a.v, b.v) * 1000.0 + 0.5) / 1000.0 AS cos_sim "
        "FROM v a JOIN v b ON a.vec_id < b.vec_id "
        "WHERE graft_cosine(a.v, b.v) >= 0.3"
    )
    plan = knn._jdf.queryExecution().executedPlan().toString()
    n_pairs = knn.count()
    assert "CosineJoin" in plan, f"CosineJoinStrategy did not intercept:\n{plan}"
    assert "CartesianProduct" not in plan, "cosine join fell back to CartesianProduct"

    # 4. the round-7 scalar expressions, SQL-only: NFC normalization
    # (decomposed e+U+0301 must compose to 4 chars) and Jaro-Winkler
    # (textbook martha/marhta value)
    n = spark.sql("SELECT length(graft_normalize('cafe\\u0301')) AS n").head().n
    assert n == 4, f"graft_normalize NFC length {n} != 4"
    j = spark.sql("SELECT graft_jaro('martha', 'marhta') AS j").head().j
    assert abs(j - 0.9611111111111111) < 1e-12, f"graft_jaro {j}"

    print(f"pyspark smoke OK: graft_cosine=1.0, {len(rows)} status groups, "
          f"{n_pairs} cosine pairs via the CosineJoin physical operator, "
          f"graft_normalize + graft_jaro callable from SQL")
    spark.stop()


if __name__ == "__main__":
    main()
