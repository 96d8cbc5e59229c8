package graft.sources

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Footer-only statistics for freshly staged part files.
  *
  * Every staged write used to be followed by a READ-BACK Spark job
  * (`spark.read.parquet(...).groupBy(_metadata.file_name).count()`) just
  * to learn per-file record counts (and, for Delta data-skipping stats,
  * per-file integral min/max). That job re-reads every byte the write
  * just produced — a full extra data pass per commit, which at 100 TB is
  * the difference between one write pass and two. The parquet footer
  * already carries both facts exactly (row counts per row group;
  * per-column-chunk min/max/null statistics), so this helper answers
  * them with O(KB) footer reads on the metadata plane — the same plane
  * the writers already touch for `Files.size`.
  *
  * Equivalence contract (why swapping the read-back job for this is NOT
  * a results change):
  *   - `numRecords` = sum of row-group row counts = what COUNT(*) over
  *     the file returns, definitionally.
  *   - min/max: parquet statistics for integral physical types are
  *     exact (truncation applies only to variable-length binary), and
  *     ignore NULLs exactly like Spark's min/max aggregates. A column
  *     whose values are all NULL reports no bounds — matching the old
  *     aggregate's NULL result, which callers skipped.
  *   - A requested column whose footer stats are missing or whose type
  *     is not a plain INT32/INT64 gets no bounds either — the same
  *     outcome as the all-NULL rule, and data skipping keeps a file
  *     without bounds. A requested column the file does not contain is a
  *     caller error (misnamed `statsFor` entry, logical vs physical
  *     spelling) and throws instead of silently dropping the stats.
  */
object ParquetFooters {

  private val conf = new Configuration()

  /** (rows, bounds) for one file: bounds maps column name -> (min, max)
    * as Long, only for requested columns with integral footer stats and
    * at least one non-NULL value. Throws when a requested column is not
    * in the file's schema. */
  def statsOf(file: Path, statsCols: Seq[String]): (Long, Map[String, (Long, Long)]) = {
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      lazy val inFile = reader.getFooter.getFileMetaData.getSchema.getColumns.asScala
        .map(_.getPath.mkString(".")).toSet
      for (c <- statsCols)
        require(inFile.contains(c), s"stats column $c is not in $file")
      val chunks = blocks.flatMap(_.getColumns.asScala).groupBy(_.getPath.toDotString)
      val bounds = statsCols.distinct.flatMap { name =>
        val stats = chunks.getOrElse(name, Nil).map(_.getStatistics)
        // exact only when every chunk carries integral stats (INT64 /
        // INT32 physical types); all-NULL chunks contribute nothing
        val integral = stats.forall {
          case s: LongStatistics => !s.isEmpty
          case s: IntStatistics  => !s.isEmpty
          case _                 => false
        }
        val ranges = if (!integral) Nil else stats.filter(_.hasNonNullValue).map {
          case s: LongStatistics => (s.getMin, s.getMax)
          case s: IntStatistics  => (s.getMin.toLong, s.getMax.toLong)
        }
        if (ranges.isEmpty) None
        else Some(name -> ((ranges.map(_._1).min, ranges.map(_._2).max)))
      }
      (rows, bounds.toMap)
    } finally reader.close()
  }

  /** Row count only — always answerable from block metadata. */
  def rowCount(file: Path): Long = statsOf(file, Nil)._1

  /** `spark.read.parquet(paths: _*)` without its listing and its
    * one-task schema-inference job: a [[LakeScan]] whose schema is read
    * on the driver from the footer Spark's own (non-merging) inference
    * reads — the first data file in path order, where a directory
    * stands for the part files directly in it (names starting with `_`
    * or `.` are not data) — so the relation's schema is the same. A
    * path that does not exist fails here. */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "no parquet path to read")
    val files = LakeScan.leaves(spark, paths)
    require(files.nonEmpty, s"no parquet data file under ${paths.mkString(", ")}")
    LakeScan(spark, files)
  }
}
