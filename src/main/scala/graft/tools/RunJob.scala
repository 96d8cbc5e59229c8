package graft.tools

import org.apache.spark.sql.SparkSession

/** Orchestrator-facing single-job entry point — the face an external
  * workflow engine (Snakemake/Airflow/cron — the reference pipeline
  * family keeps orchestration OUTSIDE the engine) calls per rule:
  *
  * {{{
  *   # Snakemake rule shell:
  *   spark-submit --class graft.tools.RunJob graft.jar \
  *     q_dedup_ngram {input.corpus_dir} {output.dir} parquet
  *   # or ad-hoc SQL over the registered corpus views:
  *   spark-submit --class graft.tools.RunJob graft.jar \
  *     "sql:SELECT source, count(*) FROM documents GROUP BY 1" in/ out/
  * }}}
  *
  * Contract an orchestrator needs: exit code 0 iff the job wrote its
  * output (non-zero otherwise, so the DAG halts); one machine-readable
  * status line on stdout; output is written atomically by Spark's
  * commit protocol (the _SUCCESS marker is the rule's done-file).
  * Inputs are never mutated — idempotent retries are safe.
  */
object RunJob {

  private[graft] def run(query: String, sfDir: String, outDir: String,
                         format: String, spark: SparkSession): Long = {
    val df = if (query.startsWith("sql:")) {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
      }
      graft.Tables.events(spark, sfDir).createOrReplaceTempView("events")
      // ad-hoc SQL reaches the lakehouse formats through the TVF front
      // door: delta_scan('/path'[,v]) / iceberg_scan / hudi_scan
      graft.functions.LakeScanTvf.register(spark)
      spark.sql(query.stripPrefix("sql:"))
    } else {
      val fn = graft.SparkEntry.queries.getOrElse(query,
        throw new IllegalArgumentException(
          s"unknown query '$query' (${graft.SparkEntry.queries.size} registered)"))
      fn(spark, sfDir)
    }
    val writer = df.write.mode("overwrite")
    format match {
      case "parquet" => writer.parquet(outDir)
      case "csv" => writer.option("header", "true").csv(outDir)
      case "jsonl" => writer.json(outDir)
      case other => throw new IllegalArgumentException(s"unknown format '$other'")
    }
    spark.read.format(if (format == "jsonl") "json" else format)
      .option("header", "true").load(outDir).count()
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: RunJob <q_name|sql:SELECT...> <sfDir> <outDir> [parquet|csv|jsonl]")
      sys.exit(2)
    }
    val Array(query, sfDir, outDir) = args.take(3)
    val format = if (args.length > 3) args(3) else "parquet"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.Bootstrap.start(
      graft.Bootstrap.builder(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus))
    try {
      val t0 = System.nanoTime()
      val rows = run(query, sfDir, outDir, format, spark)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"job":"$query","rows":$rows,"out":"$outDir","sec":$secs%.2f,"status":"ok"}""")
    } catch {
      case e: Throwable =>
        System.err.println(s"[runjob] $query failed: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
