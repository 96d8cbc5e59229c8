package graft
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftPlanBridge, SparkSession}

/** Benchmark entry point (SURVEY §3.3). Prints ONE JSON line the driver
  * parses from the LAST ~2000 chars of stdout — so the metric line must
  * stay short: per-query seconds are rounded to 2dp and, if the full map
  * would overflow that tail, the headline queries (the BASELINE.md §6
  * set) and then the slowest others are itemized (see [[stdoutQueries]])
  * while `value` remains the total over ALL queries.
  * The line is printed after `spark.stop()`, so no shutdown output
  * follows it.
  *
  * Noise control: the whole query set runs SPARK_GRAFT_BENCH_PASSES
  * times (default 2) and each query reports its MINIMUM — run-order and
  * first-touch JIT noise made single-pass rounds show phantom 5-10×
  * regressions on sub-second queries. The memoized dedup artifacts are
  * evicted between passes so every pass pays its own index build (the
  * min stays honest about build cost).
  *
  * A query that throws in any pass is not timed: it is left out of
  * `queries` and `value`, logged to stderr, and listed in a
  * `{"failed":[...]}` line and in `BENCH_OUT_c<cpus>_sf<sf>.json`
  * (written to the working directory; `<sf>` is the last path element
  * of the corpus dir, so `BENCH_OUT_c32_sf0.1.json`). One file per cpu
  * count and corpus: a c8 run does not overwrite a c32 run.
  *
  * The file also carries each timed query's last-pass job,
  * stage and task counts (`"census"`, see [[QueryCensus]]): the
  * fixture-commit-bound queries cost job count × per-job overhead, not
  * bytes.
  *
  * Per-query detail is printed FASTEST-first in ≤1400-char chunks: the
  * driver keeps only the tail of stdout, so the expensive queries — the
  * ones worth reading — must sit nearest the metric line.
  */
object Bench {

  /** Queries mapped 1:1 to rows of the measured baseline in BASELINE.md. */
  private[graft] val headline = Seq(
    "q_agg_pricing", "q_filter_between", "q_join_3way_topk", "q_join_anti",
    "q_win_rank", "q_win_running", "q_session_30m", "q_rollup",
    "q_dedup_exact", "q_sim_knn", "q_json_funcs", "q_tokenize_top20")

  /** Longest per-query map the stdout metric line carries: the reader
    * keeps a 2000-char tail incl. sbt log prefix/suffix noise, and a
    * line cut by that tail does not parse. */
  private val stdoutMapChars = 1500

  private def entry(k: String, v: Double): String =
    "\"" + k + "\":" + (math.round(v * 100) / 100.0)

  private def fmt(pairs: Seq[(String, Double)]): String =
    pairs.map { case (k, v) => entry(k, v) }.mkString("{", ",", "}")

  /** The stdout metric line's `queries` map: every timed query,
    * slowest first, when that fits in [[stdoutMapChars]]; otherwise the
    * headline queries that ran, then the slowest remaining ones, for as
    * long as the map still fits. */
  private[graft] def stdoutQueries(results: Seq[(String, Double)]): String = {
    val all = fmt(results.sortBy(-_._2))
    if (all.length <= stdoutMapChars) return all
    val (head, rest) = results.partition(p => headline.contains(p._1))
    val ranked = head.sortBy(-_._2) ++ rest.sortBy(-_._2)
    // "{}" plus one comma between entries
    val widths = ranked.map(p => entry(p._1, p._2).length + 1).scanLeft(1)(_ + _).tail
    fmt(ranked.take(widths.takeWhile(_ <= stdoutMapChars).size))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt)
    val spark = Bootstrap.local(cpus)
    // untimed warmup: JIT/codegen/parquet-footer startup is process cost,
    // not query cost — touch each table once before the timed loop
    try {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
      Tables.events(spark, sfDir).count()
    } catch { case NonFatal(e) => System.err.println(s"[bench] warm-up failed: $e") }
    // SPARK_GRAFT_BENCH_ONLY: comma-separated names or prefixes —
    // run a family in isolation to separate a query's own cost from
    // suite-context pressure (codegen cache, heap, /tmp churn). Dev
    // knob only; the driver never sets it.
    val named0 = SparkEntry.queries.toSeq
    val named1 = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(sel) =>
        val pats = sel.split(',').map(_.trim).filter(_.nonEmpty)
        named0.filter { case (n, _) => pats.exists(n.startsWith) }
      case None => named0
    }
    // SPARK_GRAFT_BENCH_SKIP: exact names to exclude (e.g. replay last
    // round's query set inside this round's build to separate suite
    // composition from per-query cost)
    val named = sys.env.get("SPARK_GRAFT_BENCH_SKIP") match {
      case Some(sel) =>
        val skip = sel.split(',').map(_.trim).filter(_.nonEmpty).toSet
        named1.filterNot { case (n, _) => skip.contains(n) }
      case None => named1
    }
    val best = scala.collection.mutable.Map.empty[String, Double]
    // a query that throws in ANY pass is reported as failed, never timed
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val census = new QueryCensus
    val sc = spark.sparkContext
    sc.addSparkListener(census)
    for (pass <- 1 to passes) {
      graft.queries.DedupQueries.evict(spark)
      named.foreach { case (name, fn) =>
        // only the last pass is censused, so no count needs a reset
        if (pass == passes) sc.setLocalProperty(QueryCensus.Key, name)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          failed += name
        } finally sc.setLocalProperty(QueryCensus.Key, null)
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best.getOrElse(name, Double.MaxValue)) best(name) = sec
        // between-queries hygiene, OUTSIDE the timer: drop the query's
        // fixture trees / drained memory sinks / pinned checkpoint and
        // state blocks so pass-context pressure never compounds into
        // later queries' times (the measured r11/r12 suite drift)
        try Hygiene.sweep(spark)
        catch { case NonFatal(e) => System.err.println(s"[bench] sweep after $name failed: $e") }
      }
    }
    val counts = census.drained(spark)
    val results = named.collect { case (name, _) if !failed(name) => name -> best(name) }
    val total = math.round(results.map(_._2).sum * 100) / 100.0
    // detail chunks, fastest-first, each its own parseable JSON line
    val ascending = results.sortBy(_._2)
    val chunks = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer.empty[String])
    ascending.foreach { case (k, v) =>
      val e = entry(k, v)
      if (chunks.last.map(_.length + 1).sum + e.length > 1400)
        chunks += scala.collection.mutable.ArrayBuffer.empty[String]
      chunks.last += e
    }
    val all = fmt(results.sortBy(-_._2))
    val qs = stdoutQueries(results)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"passes":$passes,"queries":$qs,"sf":"$sfDir"}"""
    // the stdout line is capped for a reader that keeps only the tail;
    // the per-run file carries the FULL per-query map, the failures and
    // the census
    val censusJson = results.map { case (name, _) =>
      val (j, st, t) = counts.getOrElse(name, (0L, 0L, 0L))
      s""""$name":{"jobs":$j,"stages":$st,"tasks":$t}"""
    }.mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"passes":$passes,"queries":$all,"failed":$failedJson,"census":$censusJson,"sf":"$sfDir"}"""
    val sfLeaf = java.nio.file.Paths.get(sfDir).getFileName.toString.stripPrefix("sf")
    val out = java.nio.file.Paths.get(System.getProperty("user.dir"), s"BENCH_OUT_c${cpus}_sf$sfLeaf.json")
    try java.nio.file.Files.write(out, (fullLine + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) => System.err.println(s"[bench] cannot write $out: $e") }
    spark.stop()
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"detail_${i + 1}_of_${chunks.size}":${c.mkString("{", ",", "}")}}""")
    }
    if (failed.nonEmpty) println(s"""{"failed":$failedJson}""")
    println(line)
  }
}

/** Jobs, stages and tasks per query: a job counts toward the query named
  * by its [[QueryCensus.Key]] local property (set around the query's
  * action; Spark hands it to every job the thread schedules), and its
  * stages and tasks follow it. Untagged jobs are not counted. Stages are
  * the ones that ran (skipped stages complete no tasks). The listener
  * bus is asynchronous, so read the counts through [[drained]]. */
final class QueryCensus extends SparkListener {
  private val counts = mutable.Map.empty[String, Array[Long]]
  private val stageTag = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(QueryCensus.Key))).foreach { tag =>
      counts.getOrElseUpdate(tag, Array(0L, 0L, 0L))(0) += 1
      e.stageIds.foreach(stageTag(_) = tag)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(counts(_)(1) += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach(counts(_)(2) += 1)
  }

  /** (jobs, stages, tasks) per tag, once every posted event is handled. */
  def drained(spark: SparkSession): Map[String, (Long, Long, Long)] = {
    GraftPlanBridge.drainListenerBus(spark)
    synchronized(counts.map { case (k, c) => k -> ((c(0), c(1), c(2))) }.toMap)
  }
}

object QueryCensus {
  val Key = "graft.bench.query"
}
