package graft

import org.apache.spark.sql.functions._

import graft.sources.{DeltaLogReader, DeltaLogWriter}

/** Delta LIQUID CLUSTERING: the `delta.clustering` domain declares the
  * layout, z-ordered OPTIMIZE applies it, and per-file stats then prune
  * on BOTH dimensions. */
class DeltaClusteringSpec extends SparkSpec {

  private def mkBase(name: String): String = {
    val base = s"/tmp/graft_deltacl_test/$name"
    graft.sources.TxnLog.rmrf(base)
    base
  }

  // two independent 0..63 dims, 4 value-sliced input files that each
  // span the whole plane (stats prune nothing pre-cluster)
  private def plane(n: Int) = spark.range(0, n).select(
    col("id"), (col("id") % 64).as("x"), expr("(id div 64) % 64").as("y"))

  test("clustering domain declared at create, readable, survives checkpoint+expiry") {
    val base = mkBase("cl_domain")
    DeltaLogWriter.createClustered(spark, plane(500), base, "cl", Seq("x", "y"))
    assert(DeltaLogReader.snapshot(Some(spark), base, 0L).clusteringColumns == Seq("x", "y"))
    DeltaLogWriter.append(spark, plane(100), base, statsFor = Seq("x", "y"))
    DeltaLogWriter.checkpoint(spark, base)
    DeltaLogWriter.expireLog(base)
    val v = DeltaLogReader.latestVersion(base)
    assert(DeltaLogReader.snapshot(Some(spark), base, v).clusteringColumns == Seq("x", "y"),
      "clustering domain lost across checkpoint + expiry")
  }

  test("z-ordered OPTIMIZE: content identical, both dimensions prune, dataChange=false") {
    val base = mkBase("cl_opt")
    val df = plane(4096)
    (0 to 3).foreach { g =>
      val slice = df.filter(pmod(col("id"), lit(4)) === g).coalesce(1)
      if (g == 0) DeltaLogWriter.createClustered(spark, slice, base, "cl", Seq("x", "y"))
      else DeltaLogWriter.append(spark, slice, base, statsFor = Seq("x", "y"))
    }
    val v0 = DeltaLogReader.latestVersion(base)
    // pre-cluster: every slice spans the plane — nothing prunes
    assert(DeltaLogReader.filesWhere(spark, base, v0, "x", 0L, 7L).size == 4)
    val sumBefore = DeltaLogReader.read(spark, base, v0)
      .agg(sum(col("id"))).head().getLong(0)
    val (nb, na) = DeltaLogWriter.optimizeClustered(spark, base)
    assert(nb == 4 && na == 16, s"expected 4 -> 16 z-bucket files, got $nb -> $na")
    val v1 = DeltaLogReader.latestVersion(base)
    // post-cluster: a narrow slice of EITHER dimension prunes most files
    val px = DeltaLogReader.filesWhere(spark, base, v1, "x", 0L, 7L).size
    val py = DeltaLogReader.filesWhere(spark, base, v1, "y", 0L, 7L).size
    assert(px <= 8 && py <= 8, s"x-range planned $px, y-range planned $py of 16")
    // lossless reshape, and the commit is dataChange=false throughout
    assert(DeltaLogReader.read(spark, base, v1)
      .agg(sum(col("id"))).head().getLong(0) == sumBefore)
    val commit = java.nio.file.Files.readString(java.nio.file.Paths.get(
      base, "_delta_log", f"$v1%020d.json"))
    assert(!commit.contains("\"dataChange\":true"))
    // the pruned read still returns exactly the predicate's rows
    val got = DeltaLogReader.readWhere(spark, base, v1, "x", 0L, 7L)
      .filter(col("x").between(0, 7)).count()
    assert(got == df.filter(col("x").between(0, 7)).count())
  }

  test("clustered OPTIMIZE composes with deletion vectors (masks materialize)") {
    val base = mkBase("cl_dv")
    DeltaLogWriter.createClustered(spark, plane(100), base, "cl", Seq("x", "y"))
    val sumBefore = DeltaLogReader.read(spark, base)
      .filter(!(col("x") === 1)).agg(sum(col("id"))).head().getLong(0)
    DeltaLogWriter.deleteWhereDv(spark, base, col("x") === 1)
    // the z-order rewrite APPLIES the live masks — masked rows must not
    // resurrect — and the packed files carry no descriptors
    val (before, after) = DeltaLogWriter.optimizeClustered(spark, base)
    assert(before >= 1 && after >= 1)
    val v = DeltaLogReader.latestVersion(base)
    assert(DeltaLogReader.snapshot(Some(spark), base, v).adds.forall(_.dv.isEmpty),
      "clustered OPTIMIZE carried DV descriptors into the packed files")
    assert(DeltaLogReader.read(spark, base, v)
      .agg(sum(col("id"))).head().getLong(0) == sumBefore,
      "masked rows resurrected (or survivors lost) across the z-order rewrite")
  }
}
