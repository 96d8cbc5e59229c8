package graft.tools

import org.apache.spark.sql.SparkSession

/** Multi-executor smoke harness: runs a representative query subset (incl. streaming) under
  * `local-cluster[2,4,4096]` — REAL executor JVMs with a real RPC/serde
  * boundary, unlike `local[*]` where everything shares the driver heap.
  * This is the closest a single machine gets to the 1000-executor
  * deployment target: broadcast kernels (CosineJoinExec), custom
  * aggregator buffers (theta sketch / top-k), checkpointed dedup
  * artifacts and `mapPartitions` codecs all must serialize across the
  * boundary or this run throws.
  *
  * Invoked by LocalClusterSpec in a CHILD JVM (one SparkContext per JVM;
  * the test JVM already holds the shared local[4] session). Writes each
  * query's result to `outDir/<name>` as parquet; the spec re-reads them
  * and compares row-for-row against the same queries on local[4].
  *
  * Usage: ClusterSmoke <outDir> <sfDir>
  */
object ClusterSmoke {

  /** Representative slice: every custom physical operator, every custom
    * aggregator, both mapPartitions paths, the memoized dedup artifacts,
    * a salted join, and the sharded global rank. */
  val smokeSet: Seq[String] = Seq(
    "q_agg_pricing",      // baseline hash aggregate
    "q_join_3way_topk",   // broadcast + shuffle join mix
    "q_join_salted",      // explicit salting across executors
    "q_join_bucketed",    // bucketed table round-trip
    "q_win_rank",         // partitioned window
    "q_win_ntile_pct",    // ShardedRank: range shuffle + id stitching
    "q_session_30m",      // sessionization windows
    "q_asof_custom",      // AsOfJoinExec (custom SparkPlan)
    "q_sim_knn",          // CosineJoinExec broadcast kernel + fused top-k
    "q_dedup_embed",      // CosineJoinExec threshold form
    "q_native_cosine",    // codegen'd Catalyst expression on executors
    "q_udaf_weighted",    // Aggregator encoder round-trip
    "q_topk_peragg",      // TypedImperativeAggregate buffer serde
    "q_approx_distinct",  // datasketches HLL buffers across shuffle
    "q_sketch_overlap",   // theta sketch agg + merge
    "q_cms_heavy",        // count-min sketch agg
    "q_dedup_ngram",      // localCheckpoint'd shingle index on executors
    "q_dedup_near",       // MinHash + LSH banding
    "q_dedup_clusters",   // union-find mapPartitions tier
    "q_media_features",   // MediaPipeline mapPartitions codec init
    "q_dedup_prefix",     // PPJoin hashed candidate join + broadcast confirm
    "q_resample_linear",  // generator + union + ignoreNulls window carry
    "q_percentile_global", // ShardedRank offsets across executors
    "q_stream_tumbling",  // micro-batch engine + state store on executors
    "q_txn_timetravel",   // TxnLog commit protocol + COW delete across executors
    "q_txn_cdc",          // Observation write-job stats from executor tasks
    "q_ann_nndescent",    // iterated graph self-joins + checkpoint blocks
    "q_txn_incr_agg",     // CDC delta maintenance reading changed groups on executors
    "q_retrieval_eval",   // CosineJoinExec fused top-k + post-trim label joins
    "q_stream_interval_join", // StreamingSymmetricHashJoin state across executors
    "q_local_volume",     // TPC-H Q5: two fact shuffles + dim broadcasts
    "q_stream_txn_source", // DSv2 MicroBatchStream: InputPartition serde to real executors
    "q_substring_dup",    // hashed-window analytic dedup + interval merge
    "q_graph_jaccard",    // kNN kernel + wedge joins across executors
    "q_pref_bradley_terry", // lag window + checkpointed solver joins
    "q_graph_pagerank",   // iterated rank joins over the shared edge artifact
    "q_decontaminate",    // broadcast benchmark grams + per-doc island windows
    "q_hudi_roundtrip",   // Hudi writer: bucket writes run as executor tasks
    "q_stream_delta_sink", // foreachBatch Delta commits driven by the micro-batch engine
    "q_stream_tws_profile", // transformWithState + RocksDB state store on executors
    "q_bpe_encode",       // graft_bpe expression (merge table serde) on executors
    "q_fuzzy_match",      // graft_jaro kernel + broadcast vocab across executors
    "q_curation_pipeline", // composed gate->dedup->split DAG across executors
    "q_holt_forecast",    // array-fold recursion after a real shuffle collect
    // round-9 executor-boundary risks:
    "q_delta_dv",         // DV payload bytes ship to executors, decode in flatMap
    "q_hudi_mor",         // avro log-file merge: per-key window across executor shuffles
    "q_iceberg_eq_deletes", // null-safe broadcast anti-join scoped by file path
    "q_delta_colmap",     // physical->logical projection over executor scans
    // (q_graph_jaccard above now exercises the per-cell mapPartitions
    // kNN kernel: tuple-encoder serde + primitive-array loops on
    // executors)
    // round-11 executor-boundary risks:
    "q_delta_reorg",      // DV delete's mapGroups builds roaring bitmaps on executors
    "q_delta_part_dml",   // basePath-scanned partitioned DML + per-partition rewrites
    "q_iceberg_eq_dml",   // eq-delete window anti-joins + distributed delete staging
    "q_hudi_cluster",     // key-range router when-chain + post-cluster upsert tasks
    "q_sql_lake_tvf",     // TVF-contributed analyzed plans executed across executors
    "q_iceberg_v3_dv",    // puffin DV payload bytes decode in executor flatMaps
    "q_iceberg_v3_lineage", // mergeSchema lineage scan + broadcast first-row-id join
    "q_delta_row_tracking", // materialized-vs-inherited id coalesce across executor scans
    "q_delta_clustered",  // z-bucket routed rewrite + stats-pruned reads
    "q_stream_iceberg",   // Iceberg snapshot-diff InputPartition serde to executors
    // round-12 executor-boundary risks:
    "q_delta_identity",   // ShardedRank checkpoint blocks feeding a WRITE job
    "q_lake_dsv2_write",  // V1-fallback DSv2 write: InsertableRelation across the engine
    "q_lake_catalog",     // TableCatalog resolution + CTAS/ALTER driven writes
    "q_delta_composed",   // all-features-on DML through one scan/write pair
    "q_variant_funcs",    // variant binary encoding + typed path extraction on executors
    // round-13 executor-boundary risks:
    "q_lake_sql_dml",     // WriteDelta: DeltaWriter callbacks + GraftParquetSink
                          // staging in executor tasks, commit-message position serde
    "q_lake_sql_dml_ice", // the Iceberg WriteDelta twin + SupportsDelete staging
    "q_lake_dsv2_dv",     // V1-fallback masked scans (3 formats) on real executors
    "q_lake_travel",      // catalog time-travel resolution + historical scans
    "q_hudi_part_mor",    // partition-local log routing + SQL tombstone commit
  )

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = args(1)
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val spark = graft.Bootstrap.start(graft.Bootstrap.builder("local-cluster[2,4,4096]", 8)
      .config("spark.executor.memory", "2g")
      // executor JVMs need the library classes (this build's classdirs
      // ride the test JVM's classpath) and the JDK17 module opens
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens))
    try {
      val execs = waitForExecutors(spark, want = 2, timeoutMs = 120000)
      require(execs >= 2, s"only $execs executors registered — not a multi-executor run")
      smokeSet.foreach { name =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        println(f"[cluster-smoke] $name%-20s ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      println("[cluster-smoke] OK")
    } finally spark.stop()
  }

  /** Block until `want` executors register (local-cluster workers start
    * asynchronously; running before they join would fall back to fewer
    * executors and weaken the test). */
  private def waitForExecutors(spark: SparkSession, want: Int, timeoutMs: Long): Int = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var n = 0
    while ({
      n = spark.sparkContext.getExecutorMemoryStatus.size - 1 // minus driver
      n < want && System.currentTimeMillis() < deadline
    }) Thread.sleep(500)
    n
  }
}
