package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.queries._

/** The `queries` workload: declared queries of two families, `olap`
  * (star-schema) and `similarity` (dedup, ANN, vector, text), run as a
  * closed loop — one client, each pass a fresh seeded permutation. An op
  * is the query fn call, the executed plan of the query's digest, and the
  * digest action; the digest (row count plus an order-insensitive hash
  * over every output column) is checked against the expected file. */
final class QueryWorkload(spark: SparkSession, a: Args, tracer: Tracer,
                          rng: scala.util.Random) extends Workload {
  import QueryWorkload._

  private val queries: Seq[Query] = Selected
  private val expected = readExpected(a.expectedDir.resolve("queries.tsv"))
  require(queries.forall(q => expected.contains(q.name)),
    s"no expected digest for ${queries.map(_.name).filterNot(expected.contains).mkString(",")}")

  private var pass = Iterator.empty[Query]
  private val latency = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var scanRows, olapResultRows, joinRows, simResultRows = 0L

  def atBoundary: Boolean = !pass.hasNext
  val minPasses = 2

  /** Input warm-up: every corpus table's footer and schema. */
  def fixture(): Unit =
    Tables.foreach(t => spark.read.parquet(s"${a.sfDir}/$t.parquet").schema)

  def warm(): Unit = {
    queries.foreach(q => tracer.span("setup.warm_op", q.name)(run(q, measure = false)))
    between()
  }

  def next(): Op = {
    if (!pass.hasNext) pass = rng.shuffle(queries).iterator
    val q = pass.next()
    Op("read", q.name, () => run(q, measure = tracer.enabled))
  }

  override def completed(op: Op, seconds: Double): Unit =
    latency.getOrElseUpdate(FamilyOf(op.label), mutable.ArrayBuffer.empty) += seconds

  /** Between ops: the suite hygiene `graft.Bench` also runs, and the
    * dedup family's memoized artifacts are dropped, so each query pays
    * its own candidate-index build whatever ran before it. */
  override def between(): Unit = {
    graft.Hygiene.sweep(spark)
    graft.queries.DedupQueries.evict(spark)
  }

  private def run(q: Query, measure: Boolean): Unit = {
    val df = tracer.span("queries.build")(q.fn(spark, a.sfDir))
    val dg = digestFrame(df)
    val plan = tracer.span("plan.plan")(dg.queryExecution.executedPlan)
    val got = Digest.of(tracer.span("exec.action")(dg.collect().head))
    val e = expected(q.name)
    if (got.rows != e.digest.rows || (e.oracle && got != e.digest))
      throw new IllegalStateException(s"output mismatch: got $got, expected ${e.digest}")
    if (measure) {
      val nodes = flatten(plan)
      if (q.family == "olap") {
        scanRows += nodes.filter(_.children.isEmpty).map(outRows).sum
        olapResultRows += got.rows
      } else {
        joinRows += nodes.filter(_.nodeName.contains("Join")).map(outRows).sum
        simResultRows += got.rows
      }
    }
  }

  def layerMetrics(): Map[String, Double] = {
    def p50(f: String) = latency.get(f).map(xs => Main.median(xs.toSeq)).getOrElse(0.0)
    Map(
      "exec.rows_per_result" -> scanRows.toDouble / math.max(1L, olapResultRows),
      "sim.join_rows_per_result" -> joinRows.toDouble / math.max(1L, simResultRows),
      "family.olap_p50_s" -> p50("olap"),
      "family.similarity_p50_s" -> p50("similarity"))
  }

  override def report(): Seq[String] = Seq(
    s"queries: ${queries.size} (${queries.count(q => expected(q.name).oracle)} oracle-checked " +
      "by digest, the rest by row count)")
}

object QueryWorkload {
  type QFn = (SparkSession, String) => DataFrame

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  final case class Query(family: String, name: String, fn: QFn)

  /** The workload's queries per family, declared in the named query
    * groups. A run pays one cold pass (set-up) and two timed passes, so
    * the list must stay near 7 s warm at local[4] and sf0.1 to fit the
    * benchmark's time budget. Each family lists the queries that route
    * through a mechanism it exists to measure; `olap` adds a few cheap
    * shapes (see README.md). Queries that write fixtures outside the
    * working directory are never listed. */
  val Families: Seq[(String, Seq[QueryGroup], Seq[String])] = Seq(
    ("olap", Seq(TpchQueries, RelationalQueries, AggQueries, WindowQueries, EventQueries), Seq(
      // RangeJoinRewrite; the AsOfJoin operator; ShardedRank; TPC-H Q1
      "q_join_range", "q_asof_custom", "q_percentile_global", "q_win_rank", "q_agg_pricing",
      // a join, a sketch aggregate, a time window, a scan, a set op
      "q_join_inner", "q_hll_merge", "q_rolling_7d", "q_filter_between", "q_union_all")),
    ("similarity", Seq(DedupQueries, AnnQueries, VectorQueries, TextQueries, TextAnalysisQueries), Seq(
      // CosineJoin, JaroWinkler, BPE, embedding LSH, MinHash LSH, LSH ANN
      "q_sim_knn", "q_fuzzy_match", "q_bpe_encode", "q_dedup_embed_lsh", "q_dedup_near",
      "q_ann_lsh")))

  val Selected: Seq[Query] = Families.flatMap { case (family, groups, names) =>
    val all = groups.map(_.queries).reduce(_ ++ _)
    names.map(n => Query(family, n, all(n)))
  }

  val FamilyOf: Map[String, String] = Selected.map(q => q.name -> q.family).toMap

  final case class Digest(rows: Long, hashSum: Long, hashXor: Long) {
    override def toString = s"$rows\t$hashSum\t$hashXor"
  }
  object Digest {
    /** The row of [[digestFrame]]; an empty result sums and xors to 0. */
    def of(r: Row): Digest = Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
  final case class Expected(oracle: Boolean, digest: Digest)

  /** Row count, sum of 32-bit murmur3 and xor of 64-bit xxhash over all
    * output columns — order-insensitive, and it forces every column to
    * be computed. Maps hash through their sorted entries. */
  def digestFrame(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(s"`${f.name}`")))
        case _ => col(s"`${f.name}`")
      }
    }
    df.select(hash(cols: _*).cast("long").as("h"), xxhash64(cols: _*).as("x"))
      .agg(count(lit(1)), sum(col("h")), bit_xor(col("x")))
  }

  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  def outRows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  def readExpected(path: java.nio.file.Path): Map[String, Expected] =
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t"))
      .map(f => f(0) -> Expected(f(1) == "oracle", Digest(f(2).toLong, f(3).toLong, f(4).toLong)))
      .toMap

  /** Writes the expected file from a correctness dump (one parquet dir
    * per query, as `graft.Verify` writes it). */
  def record(spark: SparkSession, a: Args, dumpDir: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql.keySet
    val lines = Selected.map(_.name).map { n =>
      val d = Digest.of(digestFrame(spark.read.parquet(s"$dumpDir/$n")).collect().head)
      s"$n\t${if (oracle(n)) "oracle" else "rows"}\t$d"
    }
    val header = "# query\tcheck\trows\tmurmur3_sum\txxhash64_xor"
    Files.createDirectories(a.expectedDir)
    Files.write(a.expectedDir.resolve("queries.tsv"),
      (header +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
