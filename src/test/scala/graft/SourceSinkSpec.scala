package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SURVEY §2.1 sinks/sources beyond parquet: CSV and JSON write+read
  * round-trips preserve schema and values (parquet writing itself is
  * exercised by Verify on every query). */
class SourceSinkSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_$name").toString + "/out"

  test("csv round-trip preserves values with explicit schema") {
    val dir = tmp("csv")
    val src = Tables.nation(spark, sf0001).orderBy("n_nationkey")
    src.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(src.schema).csv(dir)
      .orderBy("n_nationkey")
    assert(back.schema == src.schema)
    assert(back.collect().toSeq == src.collect().toSeq)
  }

  test("json round-trip preserves values") {
    val dir = tmp("json")
    val src = Tables.region(spark, sf0001).orderBy("r_regionkey")
    src.write.json(dir)
    val back = spark.read.schema(src.schema).json(dir).orderBy("r_regionkey")
    assert(back.collect().toSeq == src.collect().toSeq)
  }

  test("avro round-trip preserves values via the bundled provider class") {
    val dir = tmp("avro")
    val fmt = "org.apache.spark.sql.avro.AvroFileFormat"
    val src = Tables.nation(spark, sf0001).orderBy("n_nationkey")
    src.write.format(fmt).save(dir)
    val back = spark.read.format(fmt).load(dir).orderBy("n_nationkey")
    assert(back.collect().toSeq == src.collect().toSeq)
  }

  test("binaryFile ingest is byte-lossless against the original rows") {
    val got = graft.queries.RelationalQueries.queries("q_source_binaryfile")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expected = Tables.documents(spark, sf0001).filter(col("doc_id") < 20)
      .select(col("doc_id"),
        length(encode(concat(col("text"), lit("\n")), "UTF-8")).cast("long"),
        md5(encode(concat(col("text"), lit("\n")), "UTF-8")))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == expected.toSeq,
      s"binaryFile ingest not lossless: got ${got.take(3).toSeq} expected ${expected.take(3).toSeq}")
    assert(got.length == 20, s"expected 20 files, got ${got.length}")
  }

  test("xml round-trip preserves values with declared schema") {
    val dir = tmp("xml")
    val src = Tables.region(spark, sf0001)
      .select(col("r_regionkey"), col("r_name")).orderBy("r_regionkey")
    src.write.option("rowTag", "region").format("xml").save(dir)
    val back = spark.read.schema(src.schema).option("rowTag", "region")
      .format("xml").load(dir).orderBy("r_regionkey")
    assert(back.collect().toSeq == src.collect().toSeq)
  }

  test("jdbc round-trip to embedded Derby preserves values") {
    System.setProperty("derby.system.home", "/tmp")
    val url = "jdbc:derby:/tmp/graft_jdbc_spec;create=true"
    val props = new java.util.Properties()
    val src = Tables.nation(spark, sf0001)
      .select(col("n_nationkey"), col("n_name")).orderBy("n_nationkey")
    src.write.mode("overwrite").jdbc(url, "NATION_T", props)
    val back = spark.read.jdbc(url, "NATION_T", props).orderBy("n_nationkey")
    assert(back.collect().toSeq == src.collect().toSeq)
  }

  test("q_source_jdbc answers the same after the fixture sweep between queries") {
    // Bench and Verify sweep /tmp/graft_* between queries: the query's
    // database must not live there while its engine is still booted.
    // sf0.01, not sf0.001: with the smaller table a swept on-disk
    // database still answered, so the defect did not show
    def rows() = SparkEntry.queries("q_source_jdbc")(spark, sf001).collect().toSeq
    val first = rows()
    Hygiene.sweep(spark)
    assert(rows() == first)
  }

  test("merge upsert materialization equals read-side compaction over the full corpus") {
    // update-else-insert with a time-cutoff delta is EXACTLY latest-per-key
    // over the whole corpus: a user with any post-cutoff event gets the
    // delta's latest row (which IS their overall latest), anyone else
    // keeps the target's. So the written snapshot must match q_scd_latest
    // row for row — materialization proven lossless against the oracle-
    // verified read path.
    def rows(name: String) = SparkEntry.queries(name)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3))).toSeq
    assert(rows("q_merge_upsert") == rows("q_scd_latest"))
  }

  test("catalog table is resolvable after q_catalog_table and drops cleanly") {
    val db = s"graft_cat_${Integer.toHexString(sf001.hashCode)}"
    val viaCatalog = SparkEntry.queries("q_catalog_table")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(spark.catalog.tableExists(s"$db.orders_t"), "managed table missing from catalog")
    val direct = Tables.orders(spark, sf001)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("o_orderstatus")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaCatalog == direct, s"catalog round-trip diverged: $viaCatalog vs $direct")
    spark.sql(s"DROP TABLE $db.orders_t")
    assert(!spark.catalog.tableExists(s"$db.orders_t"))
  }

  test("shingle index round-trips through parquet and feeds the dedup queries") {
    val dir = tmp("shidx")
    val direct = graft.queries.DedupQueries.queries("q_dedup_ngram")(spark, sf0001)
      .collect().toSeq
    graft.queries.DedupQueries.saveShingleIndex(spark, sf0001, dir)
    graft.queries.DedupQueries.evict(spark)
    graft.queries.DedupQueries.loadShingleIndex(spark, sf0001, dir)
    val viaLoaded = graft.queries.DedupQueries.queries("q_dedup_ngram")(spark, sf0001)
      .collect().toSeq
    assert(viaLoaded == direct, "dedup over the persisted index diverged from the built index")
    graft.queries.DedupQueries.evict(spark) // leave no test-local artifact behind
  }

  test("postings index round-trips through parquet and feeds the incremental near-dup") {
    val dir = tmp("postidx")
    val direct = graft.queries.DedupQueries.queries("q_snapshot_neardup")(spark, sf0001)
      .collect().toSeq
    graft.queries.DedupQueries.savePostingsIndex(spark, sf0001, dir)
    graft.queries.DedupQueries.evict(spark)
    graft.queries.DedupQueries.loadPostingsIndex(spark, sf0001, dir)
    val viaLoaded = graft.queries.DedupQueries.queries("q_snapshot_neardup")(spark, sf0001)
      .collect().toSeq
    assert(viaLoaded == direct,
      "incremental near-dup over the persisted postings index diverged from the built one")
    // the loaded postings artifact must satisfy the consumer alone — no
    // shingle-array rebuild (no re-tokenization) behind its back. Two
    // postings entries are expected: the loaded index plus the #ondisk
    // alias q_snapshot_neardup's prior side round-trips through parquet.
    assert(graft.queries.DedupQueries.cachedShingleEntries(spark) == 0,
      "near-dup over a loaded postings index re-tokenized the corpus")
    assert(graft.queries.DedupQueries.cachedEntries(spark) == 2,
      "expected exactly the loaded postings + its on-disk prior alias")
    graft.queries.DedupQueries.evict(spark)
  }

  test("evict releases a session's memoized dedup artifacts") {
    graft.queries.DedupQueries.queries("q_dedup_clusters")(spark, sf0001).collect()
    assert(graft.queries.DedupQueries.cachedEntries(spark) >= 2,
      "expected shingle index + pair set to be memoized")
    graft.queries.DedupQueries.evict(spark)
    assert(graft.queries.DedupQueries.cachedEntries(spark) == 0)
    // queries still work after eviction (artifacts rebuild on demand)
    assert(graft.queries.DedupQueries.queries("q_dedup_ngram")(spark, sf0001).count() > 0)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = tmp("part")
    Tables.orders(spark, sf0001)
      .withColumn("yr", year(col("o_orderdate")))
      .write.partitionBy("yr").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("yr") === 1995)
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter must reach the scan, not a post-scan Filter
    assert(pruned.count() ==
      Tables.orders(spark, sf0001).filter(year(col("o_orderdate")) === 1995).count())
    assert(plan.contains("PartitionFilters: [isnotnull(yr"), s"no partition pruning:\n$plan")
  }

  test("predicate pushdown reaches the parquet scan") {
    val plan = Tables.orders(spark, sf0001)
      .filter(col("o_totalprice") > 400000.0)
      .select("o_orderkey", "o_totalprice")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,400000.0)]"),
      s"pushdown missing:\n$plan")
  }
}
