package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Dev tool: dump `.explain("formatted")` for declared queries to files.
  *
  *   sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <q1,q2,...> [suffix]"
  *
  * Writes <outDir>/<query>_<suffix>.txt (suffix defaults to "before").
  * Used by the optimization rounds to record before/after physical plans
  * (plans/r13/...) without running the queries' actions. Queries whose
  * fn performs eager fixture work (lakehouse DML, stream drains) still
  * build their fixture — the dump is of the RETURNED census frame, which
  * is where the graded computation lives.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val suffix = if (args.length > 3) args(3) else "before"
    val spark = graft.Bootstrap.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      try graft.Hygiene.sweep(spark)
      catch { case NonFatal(e) => System.err.println(s"[plandump] sweep after $name failed: $e") }
    }
    spark.stop()
  }
}
