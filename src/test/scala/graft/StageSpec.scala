package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CyclicBarrier, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.sources._

/** The shared staging step: per-attempt stage dirs, cleaned on every
  * exit, invisible to vacuum, and Spark's hive dir spelling kept. */
class StageSpec extends SparkSpec {

  private def fresh(name: String): String = {
    val base = s"/tmp/graft_stage_test/$name"
    TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base))
    base
  }

  /** Every staging dir anywhere under `base`, either spelling. */
  private def stageDirs(base: String): Seq[Path] =
    Fs.walk(Paths.get(base)).filter { p =>
      val n = p.getFileName.toString
      Files.isDirectory(p) && (n.startsWith("_stage") || n.startsWith(".stage"))
    }

  test("a write or publish that throws leaves no stage directory behind") {
    val base = fresh("throws")
    val e1 = intercept[IllegalStateException] {
      Stage(base) { tmp =>
        spark.range(3).write.parquet(tmp)
        throw new IllegalStateException("write failed after Spark wrote")
      }(_ => ())
    }
    assert(e1.getMessage.contains("write failed"))
    // a require between the write and the move
    intercept[IllegalArgumentException] {
      Stage(base)(spark.range(3).write.parquet(_)) { leaves =>
        require(leaves.isEmpty, "publish refused")
      }
    }
    assert(stageDirs(base).isEmpty, stageDirs(base).toString)
    assert(Fs.list(Paths.get(base)).isEmpty)
  }

  test("concurrent attempts on one base land their own files; vacuum skips an open stage") {
    val base = "/tmp/graft_stage_test/concurrent"
    DeltaLogWriter.create(spark, spark.range(10).toDF("id"), base, "t-stage")
    val barrier = new CyclicBarrier(2)
    implicit val ec: ExecutionContext = ExecutionContext.global
    def attempt(i: Int): Future[Seq[String]] = Future {
      Stage(base) { tmp =>
        spark.range(i * 100, i * 100 + 7).repartition(2).write.parquet(tmp)
        // both attempts are staged before either publishes
        barrier.await(120, TimeUnit.SECONDS)
      } { leaves =>
        leaves.zipWithIndex.map { case (l, j) => Stage.move(l, base, s"extra-$i-$j.parquet") }
      }
    }
    val landed = Seq(attempt(1), attempt(2)).map(Await.result(_, Duration(300, "s")))
    landed.zipWithIndex.foreach { case (rels, k) =>
      val ids = spark.read.parquet(rels.map(r => s"$base/$r"): _*)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == ((k + 1) * 100L until (k + 1) * 100L + 7), s"attempt ${k + 1}: $ids")
    }
    // vacuum while an attempt is open: the unreferenced moved files go,
    // the staged ones stay
    val (vacuumed, stillThere) = Stage(base)(spark.range(5).write.parquet(_)) { leaves =>
      val n = DeltaLogWriter.vacuum(spark, base)
      (n, leaves.forall(l => Files.exists(l.path)))
    }
    assert(vacuumed == landed.map(_.size).sum)
    assert(stillThere, "vacuum deleted an open attempt's staged files")
    assert(stageDirs(base).isEmpty)
    assert(DeltaLogReader.read(spark, base).count() == 10L)
  }

  test("a hive value with a space and a % keeps Spark's escaped dir spelling") {
    val base = fresh("escape")
    val odd = "4-NOT SPECIFIED 5%"
    val df = spark.createDataFrame(Seq((1L, odd), (2L, "plain"))).toDF("id", "p")
    val dirs = Stage(base)(df.repartition(col("p")).write.partitionBy("p").parquet(_)) {
      leaves => leaves.map(l => l.dir -> HivePath.unescape(l.value("p"))).toMap
    }
    val spelled = s"p=${ExternalCatalogUtils.escapePathName(odd)}"
    assert(spelled.contains("%25"))
    assert(dirs == Map(spelled -> odd, "p=plain" -> "plain"), dirs.toString)
    // Hudi keeps that spelling as its partition dir and reads the value back
    val hudi = s"$base/hudi"
    HudiWriter.createPartitioned(spark, df, hudi, "t", "id", 2, "p")
    assert(Files.isDirectory(Paths.get(hudi, spelled)))
    assert(HudiReader.read(spark, hudi).filter(col("p") === odd).count() == 1L)
  }

  test("create, append, delete and maintenance leave no stage dir in any format") {
    val rows = spark.range(0, 40).select(col("id").as("k"), (col("id") % 4).as("g"),
      (col("id") * 3).as("v")).repartition(4)
    val more = spark.range(40, 48).select(col("id").as("k"), (col("id") % 4).as("g"),
      (col("id") * 3).as("v"))
    val delta = "/tmp/graft_stage_test/fmt_delta"
    DeltaLogWriter.create(spark, rows, delta, "t-d",
      extraConf = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLogWriter.append(spark, more, delta)
    DeltaLogWriter.deleteWhere(spark, delta, col("k") < 3)
    DeltaLogWriter.deleteWhereDv(spark, delta, col("k") === 10L)
    DeltaLogWriter.optimize(spark, delta)
    DeltaLogWriter.checkpoint(spark, delta)
    DeltaLogWriter.vacuum(spark, delta)
    assert(DeltaLogReader.read(spark, delta).count() == 44L)
    val clustered = "/tmp/graft_stage_test/fmt_delta_z"
    DeltaLogWriter.createClustered(spark, rows, clustered, "t-z", Seq("k", "v"))
    DeltaLogWriter.optimizeClustered(spark, clustered)
    assert(DeltaLogReader.read(spark, clustered).count() == 40L)

    val ice = "/tmp/graft_stage_test/fmt_iceberg"
    IcebergWriter.create(spark, rows, ice)
    IcebergWriter.append(spark, more, ice)
    IcebergWriter.deleteWhere(spark, ice, col("k") < 3)
    IcebergWriter.upsertEq(spark, more.filter(col("k") < 42), ice, Seq("k"))
    IcebergWriter.rewrite(spark, ice)
    assert(IcebergReader.read(spark, ice).count() == 45L)

    val hudi = "/tmp/graft_stage_test/fmt_hudi"
    HudiWriter.createMor(spark, rows, hudi, "t-h", "k", 3)
    HudiWriter.logCommit(spark, hudi, more)
    HudiWriter.deleteWhere(spark, hudi, col("k") < 3)
    HudiWriter.compactMor(spark, hudi)
    assert(HudiReader.readMor(spark, hudi).count() == 45L)

    Seq(delta, clustered, ice, hudi).foreach { b =>
      assert(stageDirs(b).isEmpty, s"$b: ${stageDirs(b)}")
    }
  }
}
