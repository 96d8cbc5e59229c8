package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources._

/** A seeded closed-loop statement stream over four small tables — Delta,
  * Iceberg, Hudi merge-on-read and TxnLog — seeded from a slice of
  * `orders`. Every statement goes through the `graft.sources` API, and
  * Delta's MERGE/UPDATE/DELETE also through SQL on a `GraftCatalog`.
  * An in-memory key -> (priority, cents) model per table checks every
  * read's row count and cents sum, at the latest version and at earlier
  * versions (time travel). */
final class LakeWorkload(spark: SparkSession, a: Args, tracer: Tracer,
                         rng: scala.util.Random) extends Workload {
  import LakeWorkload._

  private val seedRows: Seq[(Long, String, Long)] = {
    val o = spark.read.parquet(s"${a.sfDir}/orders.parquet")
      .filter(col("o_orderkey") <= SeedKeyBound)
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long"))
    o.collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
  }

  private var generation = 0
  private var tables: Seq[Table] = Nil
  private var nextKey = 100000000L
  private var pending: () => Unit = () => ()
  private var opCount = 0L
  private val replay = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val writeRoute = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val writeLat, maintLat = mutable.ArrayBuffer.empty[Double]
  private var filesAtStart = Map.empty[Path, Long]
  private var userBytes = 0L

  /** One table under test: its format, location and model history. */
  final class Table(val format: String, val base: String, val catalog: String) {
    val model = mutable.Map.empty[Long, (String, Long)]
    /** (version coordinate, rows, cents sum) after every commit */
    val history = mutable.ArrayBuffer.empty[(String, Long, Long)]
    lazy val txn = new TxnLog(spark, base)

    def rows: Long = model.size.toLong
    def cents: Long = model.valuesIterator.map(_._2).sum
    def record(): Unit = history += ((coordinate(), rows, cents))

    def coordinate(): String = format match {
      case "delta" => DeltaLogReader.latestVersion(base).toString
      case "iceberg" =>
        IcebergReader.currentSnapshotId(base, IcebergReader.currentMetadataVersion(base)).toString
      case "hudi" => (HudiReader.completedCommits(base) ++ HudiReader.completedDeltaCommits(base)).max
      case "txnlog" => txn.latestVersion().toString
    }

    def read(at: Option[String]): DataFrame = (format, at) match {
      case ("delta", None) => DeltaLogReader.read(spark, base)
      case ("delta", Some(v)) => DeltaLogReader.read(spark, base, v.toLong)
      case ("iceberg", None) => IcebergReader.read(spark, base)
      case ("iceberg", Some(v)) => IcebergReader.read(spark, base, v.toLong)
      case ("hudi", None) => HudiReader.readMor(spark, base)
      case ("hudi", Some(v)) => HudiReader.readMor(spark, base, v)
      case ("txnlog", None) => txn.read()
      case ("txnlog", Some(v)) => txn.read(v.toInt)
    }

    /** The timed metadata call: the file set at the latest version. */
    def replayFiles(): Int = format match {
      case "delta" => DeltaLogReader.snapshotFiles(base, DeltaLogReader.latestVersion(base)).size
      case "iceberg" =>
        val s = IcebergReader.planSnapshot(spark, base, coordinate().toLong)
        s.dataFiles.size + s.posDeleteFiles.size + s.eqDeleteFiles.size
      case "hudi" => HudiReader.morSlices(base, coordinate()).map(1 + _._2.size).sum
      case "txnlog" => txn.snapshotFiles(txn.latestVersion()).size
    }

    def logFiles(): Long = {
      val dir = format match {
        case "delta" => "_delta_log"
        case "iceberg" => "metadata"
        case "hudi" => ".hoodie"
        case "txnlog" => "_txnlog"
      }
      countFiles(java.nio.file.Paths.get(base, dir))
    }
  }

  private def frame(rows: Seq[(Long, String, Long)]): DataFrame =
    spark.createDataFrame(rows.map { case (k, p, c) => Row(k, p, c) }.asJava, Schema)

  private def create(root: Path, catalog: String): Seq[Table] = {
    Files.createDirectories(root.resolve("sales"))
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root.toString)
    val df = frame(seedRows).repartition(2)
    LayerUnits.Formats.map { f =>
      val t = new Table(f, root.resolve("sales").resolve(f).toString, catalog)
      tracer.span(s"sources.create.$f") {
        f match {
          case "delta" => DeltaLogWriter.create(spark, df, t.base, s"pb-$catalog")
          case "iceberg" => IcebergWriter.create(spark, df, t.base)
          case "hudi" => HudiWriter.createMor(spark, df, t.base, "orders_pb", "k", HudiBuckets)
          case "txnlog" => t.txn.init(); t.txn.append(df)
        }
      }
      seedRows.foreach { case (k, p, c) => t.model(k) = (p, c) }
      t.record()
      t
    }
  }

  def fixture(): Unit = {
    generation += 1
    tables = create(a.workDir.resolve("lake").resolve(s"t-$generation"), s"pb_lake_$generation")
  }

  /** One round on the tables the timed phase then continues, so that
    * phase meets tables with history: log files, deletion vectors, log
    * slices and rewritten groups. */
  def warm(): Unit =
    Round.foreach { case (f, shape) =>
      val op = statement(tables.find(_.format == f).get, shape)
      tracer.span("setup.warm_op", op.label)(op.run())
      between()
    }

  override def startTimed(): Unit = {
    filesAtStart = sizes()
    userBytes = 0L
    replay.clear()
  }

  private var stream = Iterator.empty[(String, String)]

  def atBoundary: Boolean = !stream.hasNext
  val minPasses = 1

  def next(): Op = {
    if (!stream.hasNext) stream = Round.iterator
    val (f, shape) = stream.next()
    opCount += 1
    statement(tables.find(_.format == f).get, shape)
  }

  override def between(): Unit = {
    val p = pending
    pending = () => ()
    p()
  }

  override def completed(op: Op, seconds: Double): Unit = op.kind match {
    case "write" =>
      writeLat += seconds
      writeRoute.getOrElseUpdate(op.label.takeWhile(_ != ' '), mutable.ArrayBuffer.empty) += seconds
    case "maint" => writeLat += seconds; maintLat += seconds
    case _ => ()
  }

  private def check(t: Table, df: DataFrame, rows: Long, cents: Long): Unit = {
    val r = tracer.span("exec.action")(df.agg(count(lit(1)), sum(col("cents"))).collect().head)
    val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    if (got != ((rows, cents)))
      throw new IllegalStateException(s"${t.format} read ${got} != model ${(rows, cents)}")
  }

  private def rowBytes(p: String): Long = 16L + p.length

  /** After a successful write: fold its effect into the model, record the
    * new version and, traced, time the metadata replay. */
  private def afterWrite(t: Table, applyTo: Model => Long): Unit =
    pending = () => {
      userBytes += applyTo(t.model)
      t.record()
      if (tracer.enabled) {
        val t0 = System.nanoTime()
        tracer.span(s"sources.replay.${t.format}")(t.replayFiles())
        replay.getOrElseUpdate(t.format, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      }
    }

  private def randomPri(): String = Priorities(rng.nextInt(Priorities.size))

  private def newRows(n: Int): Seq[(Long, String, Long)] =
    (0 until n).map { i => (nextKey + i, randomPri(), rng.nextInt(1000000).toLong) }

  private def statement(t: Table, shape: String): Op = {
    val route = if (t.format == "delta" && Seq("upsert", "update", "delete").contains(shape)) "delta_sql"
      else t.format
    def write(body: => Unit)(effect: Model => Long): Op = writeOp(t, route, shape)(body)(effect)
    shape match {
      case "read" =>
        val (rows, cents) = (t.rows, t.cents)
        Op("read", s"${t.format} read", () =>
          check(t, tracer.span("queries.build")(t.read(None)), rows, cents))
      case "time_travel" => // to the version two commits back
        val (v, rows, cents) = t.history(math.max(0, t.history.size - 3))
        Op("read", s"${t.format} time_travel", () =>
          check(t, tracer.span("queries.build")(t.read(Some(v))), rows, cents))
      case "append" =>
        val rows = newRows(AppendRows)
        nextKey += AppendRows
        val df = frame(rows)
        write {
          t.format match {
            case "delta" => DeltaLogWriter.append(spark, df, t.base)
            case "iceberg" => IcebergWriter.append(spark, df, t.base)
            case "txnlog" => t.txn.append(df)
          }
        } { m => rows.foreach { case (k, p, c) => m(k) = (p, c) }; rows.map(r => rowBytes(r._2)).sum }
      case "upsert" =>
        val keys = t.model.keys.toIndexedSeq
        val old = (1 to UpsertRows / 2).map(_ => keys(rng.nextInt(keys.size))).distinct
          .map(k => (k, randomPri(), rng.nextInt(1000000).toLong))
        val rows = old ++ newRows(UpsertRows / 2)
        nextKey += UpsertRows / 2
        upsertOp(t, route, rows)
      case "update" => // Delta only, as SQL UPDATE on the catalog
        val (m, r, d) = (UpdateModulus, rng.nextInt(UpdateModulus), 1L + rng.nextInt(99))
        val hit = t.model.iterator.filter(_._1 % m == r)
          .map { case (k, (p, c)) => (k, p, c + d) }.toSeq
        write(spark.sql(s"UPDATE ${t.catalog}.sales.delta SET cents = cents + $d WHERE k % $m = $r")) {
          mm => hit.foreach { case (k, p, c) => mm(k) = (p, c) }; hit.map(h => rowBytes(h._2)).sum }
      case "delete" =>
        val keys = t.model.keys.toIndexedSeq
        val lo = keys(rng.nextInt(keys.size))
        val hi = lo + DeleteWidth
        val pred = col("k") >= lo && col("k") < hi
        write {
          t.format match {
            case "delta" => spark.sql(s"DELETE FROM ${t.catalog}.sales.delta WHERE k >= $lo AND k < $hi")
            case "iceberg" => IcebergWriter.deleteWhere(spark, t.base, pred)
            case "hudi" => HudiWriter.deleteWhere(spark, t.base, pred)
            case "txnlog" => t.txn.deleteWhere(pred)
          }
        } { m => val gone = m.keys.filter(k => k >= lo && k < hi).toSeq; gone.foreach(m.remove); 8L * gone.size }
      case "maint" =>
        write {
          t.format match {
            case "delta" => DeltaLogWriter.checkpoint(spark, t.base)
            case "hudi" => HudiWriter.compactMor(spark, t.base)
            case "txnlog" => t.txn.compact(CompactMaxRows)
          }
        } { _ => 0L }
    }
  }

  private def writeOp(t: Table, route: String, shape: String)(body: => Unit)(effect: Model => Long): Op =
    Op(if (shape == "maint") "maint" else "write", s"$route $shape", () => {
      tracer.span("queries.build")(body)
      afterWrite(t, effect)
    })

  private def upsertOp(t: Table, route: String, rows: Seq[(Long, String, Long)]): Op = {
    val df = frame(rows)
    val view = s"pb_src_${t.catalog}"
    writeOp(t, route, "upsert") {
      t.format match {
        case "delta" =>
          df.createOrReplaceTempView(view)
          spark.sql(
            s"""MERGE INTO ${t.catalog}.sales.delta AS t USING $view AS s ON t.k = s.k
               |WHEN MATCHED THEN UPDATE SET pri = s.pri, cents = s.cents
               |WHEN NOT MATCHED THEN INSERT (k, pri, cents) VALUES (s.k, s.pri, s.cents)""".stripMargin)
        case "iceberg" => IcebergWriter.upsertEq(spark, df, t.base, Seq("k"))
        case "hudi" => HudiWriter.logCommit(spark, t.base, df)
        case "txnlog" => t.txn.upsert(df, "k")
      }
    } { m => rows.foreach { case (k, p, c) => m(k) = (p, c) }; rows.map(r => rowBytes(r._2)).sum }
  }

  private def roots: Seq[Path] = tables.map(t => java.nio.file.Paths.get(t.base))

  private def sizes(): Map[Path, Long] = roots.flatMap { r =>
    val s = Files.walk(r)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p -> Files.size(p)).toList
    finally s.close()
  }.toMap

  def layerMetrics(): Map[String, Double] = {
    val now = sizes()
    val written = now.iterator.filter { case (p, n) => !filesAtStart.get(p).contains(n) }.map(_._2).sum
    val live = tables.map(_.model.valuesIterator.map(v => rowBytes(v._1)).sum).sum
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Main.median(xs)
    Map(
      "sources.log_files" -> tables.map(_.logFiles()).sum.toDouble,
      "sources.maint_s" -> mean(maintLat.toSeq),
      "sources.bytes_written" -> written / 1e6,
      "sources.data_files" -> tables.map(_.replayFiles()).sum.toDouble,
      "lake.write_p50_s" -> p50(writeLat.toSeq),
      "lake.write_p90_s" -> (if (writeLat.isEmpty) 0.0 else Main.pct(writeLat.toSeq, 0.9)),
      "lake.write_amp" -> written.toDouble / math.max(1L, userBytes),
      "lake.space_amp" -> now.valuesIterator.sum.toDouble / math.max(1L, live)) ++
      LayerUnits.Formats.map(f => s"sources.replay_s.$f" -> p50(replay.getOrElse(f, Nil).toSeq)) ++
      (LayerUnits.Formats :+ "delta_sql").map(r =>
        s"sources.write_p50_s.$r" -> p50(writeRoute.getOrElse(r, Nil).toSeq))
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  override def report(): Seq[String] = Seq(
    s"tables: ${tables.map(t => s"${t.format} ${t.rows} rows").mkString(", ")}; " +
      s"${opCount} statements")
}

object LakeWorkload {
  type Model = scala.collection.mutable.Map[Long, (String, Long)]
  val Schema = StructType(Seq(StructField("k", LongType), StructField("pri", StringType),
    StructField("cents", LongType)))
  val SeedKeyBound = 4000L
  val HudiBuckets = 4
  val AppendRows = 20
  val UpsertRows = 20
  val UpdateModulus = 7
  val DeleteWidth = 40L
  val CompactMaxRows = 100000L
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  /** Each format's statements in one round. Delta's upsert, update and
    * delete run as SQL MERGE, UPDATE and DELETE on the catalog; every
    * other statement goes through the format's `graft.sources` API. Hudi
    * has no separate append: its upsert is the same log commit.
    * Maintenance follows writes, so it has something to fold. */
  val Scripts: Seq[(String, Seq[String])] = Seq(
    "delta" -> Seq("read", "append", "read", "upsert", "time_travel", "update", "read", "delete",
      "maint"),
    "iceberg" -> Seq("read", "append", "read", "upsert", "time_travel", "delete", "read"),
    "hudi" -> Seq("read", "upsert", "read", "delete", "time_travel", "read", "maint"),
    "txnlog" -> Seq("read", "upsert", "read", "delete", "time_travel", "append", "read", "maint"))

  /** One round as (format, shape): the scripts interleaved statement by
    * statement. The order is fixed, because a statement's cost depends
    * on the writes before it; the seed sets every statement's rows,
    * keys and ranges. */
  val Round: Seq[(String, String)] = (0 until Scripts.map(_._2.size).max).flatMap(i =>
    Scripts.collect { case (f, script) if i < script.size => f -> script(i) })

  def countFiles(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count(Files.isRegularFile(_)).toLong finally s.close()
    }
}
