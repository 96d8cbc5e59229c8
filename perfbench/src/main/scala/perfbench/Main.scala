package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One op of a closed loop. `run` throws when the op fails or its output
  * is wrong; `kind` is "read", "write" or "maint". */
final case class Op(kind: String, label: String, run: () => Unit)

/** A workload: untimed set-up steps, then an endless op stream. */
trait Workload {
  /** Input or fixture preparation; repeatable, the median counts. */
  def fixture(): Unit
  /** One untimed warm pass over every op shape the stream produces, after
    * the last fixture. */
  def warm(): Unit
  /** Called once, right before the timed phase. */
  def startTimed(): Unit = ()
  def next(): Op
  /** True between two passes (rounds) of the op stream: a timed phase
    * ends only there, so every run measures whole passes. */
  def atBoundary: Boolean
  /** Fewest whole passes a timed phase measures. */
  def minPasses: Int
  /** Called after an op succeeded, with its latency. */
  def completed(op: Op, seconds: Double): Unit = ()
  /** Called between ops, outside the op's timer. */
  def between(): Unit = ()
  /** Per-layer numbers this workload measures itself (trace run only). */
  def layerMetrics(): Map[String, Double]
  /** Lines for the human-readable report. */
  def report(): Seq[String] = Nil
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      sfDir: String, workDir: Path, expectedDir: Path, traceDir: Path,
                      recordFrom: Option[String])

object Main {
  val Cpus = 4
  val FixtureReps = 3

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("sf-dir"), Paths.get(need("work-dir")), Paths.get(need("expected-dir")),
      Paths.get(kv.getOrElse("trace-dir", need("work-dir"))), kv.get("record-from"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", a.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.workDir)
    val sessionStart = System.nanoTime()
    val spark = session(a)
    graft.Bootstrap.init(spark)
    val sessionS = (System.nanoTime() - sessionStart) / 1e9
    val code =
      try a.recordFrom match {
        case Some(dir) => QueryWorkload.record(spark, a, dir); 0
        case None => run(spark, a, sessionS)
      } finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Int = {
    val tracer = new Tracer(a.trace)
    val listener = if (a.trace) Some(new OpListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val rng = new scala.util.Random(a.seed)
    val w: Workload = a.workload match {
      case "queries" => new QueryWorkload(spark, a, tracer, rng)
      case "lake_dml" => new LakeWorkload(spark, a, tracer, rng)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var attempted, failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def attempt(op: Op): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        tracer.span("op." + op.kind, op.label)(op.run())
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          failed += 1
          if (failures.size < 20) failures += s"${op.label}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }

    val fixtureS = median((1 to FixtureReps).map(_ => timed(tracer.span("setup.fixture")(w.fixture()))))
    val warmS = timed(tracer.span("setup.warm")(w.warm()))
    // JVM start to the session, one warm pass, the median fixture build
    val jvmToSession = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - warmS -
      fixtureS * FixtureReps
    val setupS = jvmToSession + warmS + fixtureS
    w.between()
    w.startTimed()

    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var ops = 0L
    var opId = 0L
    val sc = spark.sparkContext
    val perOp = mutable.ArrayBuffer.empty[(Long, Double)] // traced: op id, wall s
    val phaseStart = System.nanoTime()
    val deadline = phaseStart + a.seconds * 1000000000L
    var passes = 0
    while (System.nanoTime() < deadline || passes < w.minPasses || !w.atBoundary) {
      if (w.atBoundary) passes += 1
      val op = w.next()
      opId += 1
      tracer.op = opId
      sc.setLocalProperty(OpListener.Key, opId.toString)
      attempt(op).foreach { s =>
        ops += 1
        w.completed(op, s)
        lat.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += s
        perOp += ((opId, s))
      }
      sc.setLocalProperty(OpListener.Key, null)
      listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(sc))
      w.between()
    }
    val phaseS = (System.nanoTime() - phaseStart) / 1e9
    val opsPerS = ops / phaseS

    val reads = lat.getOrElse("read", mutable.ArrayBuffer.empty[Double]).toSeq
    val writes = (lat.getOrElse("write", Nil) ++ lat.getOrElse("maint", Nil)).toSeq
    val rssMb = peakRssMb()
    val report = mutable.ArrayBuffer.empty[String]
    report += f"workload ${a.workload} seed ${a.seed} trace ${if (a.trace) 1 else 0} " +
      f"local[$Cpus] timed ${phaseS}%.2f s over $passes passes"
    report += s"samples: read ${reads.size}, write ${writes.size}"
    report += f"failed_ratio ${failed.toDouble / math.max(1L, attempted)}%.4f ratio " +
      s"($failed of $attempted ops)"
    failures.foreach(f => report += s"FAILED $f")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", opsPerS, "1/s"),
        ("read_p50_s", pct(reads, 0.5), "s"),
        ("peak_rss_mb", rssMb, "MB"))
      else {
        val l = listener.get
        val opIds = perOp.map(_._1)
        def sumT(f: l.Totals => Double) = opIds.flatMap(l.totals.get).map(f).sum
        val n = math.max(1, opIds.size).toDouble
        val jobS = opIds.map(l.jobSeconds).sum
        val wallS = perOp.map(_._2).sum
        val runS = sumT(_.runMs / 1e3)
        val layer = Seq(
          ("trace.ops_per_s", opsPerS, "1/s"),
          ("lat.read_p90_s", pct(reads, 0.9), "s"),
          ("setup.session_s", sessionS, "s"),
          ("setup.warm_s", warmS, "s"),
          ("setup.fixture_s", fixtureS, "s"),
          ("queries.build_s", tracer.totalSeconds("queries.build") / n, "s"),
          ("plan.plan_s", tracer.totalSeconds("plan.plan") / n, "s"),
          ("sched.jobs_per_op", sumT(_.jobs) / n, "count"),
          ("sched.stages", sumT(_.stages) / n, "count"),
          ("sched.tasks", sumT(_.tasks) / n, "count"),
          ("sched.job_s", jobS / n, "s"),
          ("sched.driver_only_s", (wallS - jobS) / n, "s"),
          ("exec.task_run_s", runS / n, "s"),
          ("exec.task_cpu_s", sumT(_.cpuNs / 1e9) / n, "s"),
          ("exec.gc_s", sumT(_.gcMs / 1e3) / n, "s"),
          ("exec.slot_busy", if (jobS > 0) runS / (jobS * Cpus) else 0.0, "ratio"),
          ("exec.shuffle_read_mb", sumT(_.shuffleRead / 1e6) / n, "MB"),
          ("exec.shuffle_write_mb", sumT(_.shuffleWrite / 1e6) / n, "MB"),
          ("exec.spill_mb", sumT(_.spill / 1e6) / n, "MB"),
          ("exec.input_mb", sumT(_.input / 1e6) / n, "MB"))
        val own = w.layerMetrics()
        layer ++ LayerUnits.all.map { case (k, u) => (k, own.getOrElse(k, 0.0), u) }
      }
    if (a.trace) {
      Files.createDirectories(a.traceDir)
      val path = a.traceDir.resolve(s"trace-${a.workload}-${a.seed}.jsonl")
      tracer.write(path)
      report += s"spans: ${tracer.spans.size} written to $path"
      tracer.selfSeconds().toSeq.sortBy(-_._2)
        .foreach { case (k, v) => report += f"self_s $k%-28s $v%.4f s" }
    }
    report ++= w.report()
    metrics.foreach { case (k, v, u) => report += s"$k $v $u" }
    report.foreach(println)
    val correct = failed == 0
    val json = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    if (correct) 0 else 1
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Percentile, linear between closest ranks; NaN when there are no
    * samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (Files.exists(status))
      scala.io.Source.fromFile(status.toFile).getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    else Double.NaN
  }
}
