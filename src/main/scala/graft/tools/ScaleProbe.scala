package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-evidence probe (SURVEY §7.5): replicate the sf0.1 corpus
  * ×FACTOR into a synthetic next-decade corpus (keys offset per
  * replica so cardinalities scale with volume; document token order
  * hash-permuted per replica so the near-dup pair structure scales
  * ~linearly instead of every doc matching its own clones; embeddings
  * first-dim-perturbed so vector geometry stays non-degenerate), then
  * time a representative heavy slice at both scales and print
  * per-query ratios.
  *
  *   sbt "runMain graft.tools.ScaleProbe /root/testdata/sf0.1 /tmp/graft_sf1 10"
  *
  * What it demonstrates: the linear-shuffle operators (agg, join,
  * window, sessionization, inverted-index dedup, substring dedup, BPE,
  * LSH-bucketed ANN) should track the data factor; the deliberate
  * quadratic baseline (brute-force q_sim_knn) should track factor² —
  * the measured gap IS the reason the ANN/LSH scale paths exist.
  */
object ScaleProbe {

  private def replicate(s: SparkSession, src: String, out: String, f: Int): Unit = {
    val fs = java.nio.file.Paths.get(out)
    if (java.nio.file.Files.exists(fs.resolve("_DONE"))) return
    graft.sources.TxnLog.rmrf(out)
    java.nio.file.Files.createDirectories(fs)
    val reps = explode(sequence(lit(0), lit(f - 1))).as("rep")

    def off(c: String, bump: Long) = (col(c) + col("rep") * bump).as(c)

    // dims copied as-is (a 10× fact table over the same dimensions is the
    // realistic growth mode); facts replicated with per-replica key offsets
    Seq("region", "nation", "supplier", "part").foreach { t =>
      s.read.parquet(s"$src/$t.parquet").write.parquet(s"$out/$t.parquet")
    }
    val cust = s.read.parquet(s"$src/customer.parquet")
    val custBump = 10000000L
    cust.select(reps, col("*"))
      .select(cust.columns.map(c =>
        if (c == "c_custkey") off(c, custBump) else col(c)): _*)
      .write.parquet(s"$out/customer.parquet")
    val ord = s.read.parquet(s"$src/orders.parquet")
    val ordBump = 100000000L
    ord.select(reps, col("*"))
      .select(ord.columns.map {
        case c @ "o_orderkey" => off(c, ordBump)
        case c @ "o_custkey"  => off(c, custBump)
        case c => col(c)
      }: _*)
      .write.parquet(s"$out/orders.parquet")
    val li = s.read.parquet(s"$src/lineitem.parquet")
    li.select(reps, col("*"))
      .select(li.columns.map {
        case c @ "l_orderkey" => off(c, ordBump)
        case c => col(c)
      }: _*)
      .write.parquet(s"$out/lineitem.parquet")
    val ev = s.read.parquet(s"$src/events.parquet")
    ev.select(reps, col("*"))
      .select(ev.columns.map {
        case c @ "event_id" => off(c, 100000000L)
        case c @ "user_id"  => off(c, 1000000L) // 10× users, same per-user density
        case c => col(c)
      }: _*)
      .write.parquet(s"$out/events.parquet")
    val docs = s.read.parquet(s"$src/documents.parquet")
    docs.select(reps, col("*"))
      .select(off("doc_id", 10000000L), col("rep"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      // disjoint per-replica vocabularies (token → token_rep): each
      // replica is an ISOMORPHIC shard of the original — dup families,
      // shingle dfs and pair structure all scale exactly ×f, with no
      // cross-replica collisions. (A hash-permuted token order was
      // tried first and rejected: sorting canonicalizes word order, so
      // unrelated docs sharing vocabulary suddenly share shingles and
      // the pair space inflates ~f² — a corpus-construction artifact,
      // not engine behavior.)
      .withColumn("text",
        concat_ws(" ", expr(
          "transform(filter(split(lower(text), '[ \\t\\n\\r\\f]+'), x -> x != ''), " +
            "t -> concat(t, '_', rep))")))
      .drop("rep")
      .write.parquet(s"$out/documents.parquet")
    val emb = s.read.parquet(s"$src/embeddings.parquet")
    emb.select(reps, col("*"))
      .select(off("vec_id", 10000000L), col("rep"), col("embedding"), col("label"))
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> CAST(CASE WHEN i = 0 THEN x + rep * 0.001 ELSE x END AS FLOAT))"))
      .drop("rep")
      .write.parquet(s"$out/embeddings.parquet")
    java.nio.file.Files.createFile(fs.resolve("_DONE"))
  }

  private val probes = Seq(
    "q_agg_pricing", "q_join_3way_topk", "q_win_rank", "q_session_30m",
    "q_topk_global", "q_dedup_ngram", "q_substring_dup", "q_bpe_encode",
    "q_ann_lsh", "q_sim_knn",
    // round-8 additions: the classifier apply pass and the two
    // native-probe prunes — all expected at-or-under the data factor
    "q_quality_classifier", "q_dedup_bloom", "q_cms_heavy",
    // round-8-late: canonicalization dedup (map-side), span scrub
    // (broadcast bench + per-doc window), CUSUM (daily-census windows)
    "q_dedup_url", "q_decontaminate", "q_changepoint",
    // round-9: lakehouse MAINTENANCE ops (cost must track the metadata,
    // i.e. the fixture-build data write — sub-data-factor for the op
    // itself) and the graph family's exact kNN edge artifact (the
    // declared compute-quadratic baseline: expect ~factor², measured
    // and documented next to its sub-quadratic LSH/NN-descent twins)
    "q_delta_optimize", "q_iceberg_expire", "q_graph_pagerank")

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_scaleprobe"
    val f = if (args.length > 2) args(2).toInt else 10
    val s = graft.Bootstrap.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    replicate(s, src, out, f)

    def time(name: String, dir: String): Double = {
      graft.queries.DedupQueries.evict(s) // each pass pays its own artifact builds
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(s, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // warm the session (codegen, parquet footers) once off the small side
    probes.foreach(q => time(q, src))
    val rows = probes.map { q =>
      val small = time(q, src)
      val big = time(q, out)
      val ratio = big / math.max(small, 1e-9)
      println(f"[scale-probe] $q%-18s small=$small%6.2fs big=$big%7.2fs ratio=$ratio%6.1fx")
      f""""$q%s":{"small":$small%.2f,"big":$big%.2f,"ratio":$ratio%.1f}"""
    }
    println(s"""{"metric":"scaleprobe","factor":$f,"queries":{${rows.mkString(",")}}}""")
    s.stop()
  }
}
