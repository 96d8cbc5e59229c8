package graft

/** The session factory every entry point builds through, and the
  * per-query job census Bench writes into `BENCH_OUT_c<cpus>_sf<sf>.json`. */
class HarnessSpec extends SparkSpec {

  test("the shared test session carries every factory conf and is bootstrapped") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") == "4000")
    // Bootstrap.init ran at session build: the native functions resolve
    // in plain SQL without any query loading a table first
    val c = spark.sql("SELECT graft_cosine(array(1.0d), array(1.0d))").head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("QueryCensus counts each tagged query's own jobs and skips untagged ones") {
    val census = new QueryCensus
    val sc = spark.sparkContext
    val names = Seq("q_agg_pricing", "q_delta_roundtrip")
    sc.addSparkListener(census)
    try {
      names.foreach { name =>
        sc.setLocalProperty(QueryCensus.Key, name)
        try SparkEntry.queries(name)(spark, sf0001).count()
        finally sc.setLocalProperty(QueryCensus.Key, null)
        Hygiene.sweep(spark)
      }
      spark.range(100).repartition(3).count()
      val counts = census.drained(spark)
      assert(counts.keySet == names.toSet, s"untagged job counted: $counts")
      names.foreach { name =>
        val (jobs, stages, tasks) = counts(name)
        assert(jobs > 0 && stages >= jobs && tasks >= stages, s"$name: $counts")
      }
      // the lake query commits twice and censuses both versions: it
      // schedules more jobs than the one-scan aggregate
      assert(counts("q_delta_roundtrip")._1 > counts("q_agg_pricing")._1, s"$counts")
    } finally sc.removeSparkListener(census)
  }
}
