package perfbench

/** Per-layer metrics a workload measures itself. Every traced run
  * reports all of them; a layer a workload does not use reads 0. */
object LayerUnits {
  val Formats = Seq("delta", "iceberg", "hudi", "txnlog")

  val all: Seq[(String, String)] = Seq(
    "exec.rows_per_result" -> "ratio",
    "sim.join_rows_per_result" -> "ratio",
    "family.olap_p50_s" -> "s",
    "family.similarity_p50_s" -> "s") ++
    Formats.map(f => s"sources.replay_s.$f" -> "s") ++
    Seq("sources.log_files" -> "count") ++
    (Formats.take(1) ++ Seq("delta_sql") ++ Formats.drop(1)).map(f => s"sources.write_p50_s.$f" -> "s") ++
    Seq(
      "sources.maint_s" -> "s",
      "sources.bytes_written" -> "MB",
      "sources.data_files" -> "count",
      "lake.write_p50_s" -> "s",
      "lake.write_p90_s" -> "s",
      "lake.write_amp" -> "ratio",
      "lake.space_amp" -> "ratio")
}
