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

  test("the stdout queries map fits its cap and keeps headline, then slowest, queries") {
    def names(map: String): Seq[String] =
      "\"([a-z0-9_]+)\":".r.findAllMatchIn(map).map(_.group(1)).toSeq
    // a lake-only selection: no headline query ran, and the full map
    // is far over the cap
    val lake = (1 to 94).map(i => f"q_lake_fixture_$i%03d" -> (i * 0.37 % 9.0))
    val qs = Bench.stdoutQueries(lake)
    assert(qs.length <= 1500 && names(qs).nonEmpty, qs)
    val kept = names(qs).toSet
    val slowest = lake.sortBy(-_._2).map(_._1)
    assert(slowest.take(kept.size).toSet == kept, qs)
    // the full suite's 391 entries: every headline query stays, first
    val all = Bench.headline.map(_ -> 0.01) ++
      (1 to 379).map(i => f"q_other_query_$i%03d" -> (i % 50 + 1.0))
    val full = Bench.stdoutQueries(all)
    assert(full.length <= 1500, full)
    assert(names(full).take(Bench.headline.size).toSet == Bench.headline.toSet, full)
    assert(names(full).size > Bench.headline.size, full)
    // a map that fits is printed whole
    assert(names(Bench.stdoutQueries(lake.take(3))).size == 3)
  }
}
