package graft.tools

import graft.{Bootstrap, SparkEntry}
import java.nio.file.{Files, Paths}

/** Regenerates the committed golden outputs for the NO-ORACLE queries
  * (SURVEY §5.5): sf0.001 results as CSV under src/test/resources/golden.
  * Run EXPLICITLY after an intended behavior change, then review the
  * diff like any other code change:
  *
  *   sbt "runMain graft.tools.RegenGolden"
  */
object RegenGolden {
  val NoOracle = Seq("q_approx_distinct", "q_approx_percentile", "q_dedup_near",
    "q_dedup_simhash", "q_ann_lsh", "q_ann_knn", "q_ann_ivf", "q_ann_nndescent",
    "q_dedup_embed_lsh", "q_hll_merge", "q_sketch_overlap",
    // BPE inference is a per-word merge loop no SQL dialect expresses;
    // graded by golden pin + BpeSpec's detokenization/reference proofs
    "q_bpe_encode")
  val SfDir = "/root/testdata/sf0.001"
  val GoldenDir = "src/test/resources/golden"

  def render(df: org.apache.spark.sql.DataFrame): String = {
    val header = df.columns.mkString(",")
    val rows = df.collect().map(_.toSeq.map {
      case null => ""
      case d: Double => d.toString
      case x => x.toString
    }.mkString(","))
    (header +: rows).mkString("\n") + "\n"
  }

  def main(args: Array[String]): Unit = {
    val spark = Bootstrap.local(4)
    Files.createDirectories(Paths.get(GoldenDir))
    NoOracle.foreach { name =>
      val out = render(SparkEntry.queries(name)(spark, SfDir))
      Files.writeString(Paths.get(s"$GoldenDir/$name.csv"), out)
      println(s"[golden] wrote $GoldenDir/$name.csv")
    }
    spark.stop()
  }
}
