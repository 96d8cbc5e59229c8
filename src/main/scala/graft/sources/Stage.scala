package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import org.apache.spark.sql.DataFrame

/** The staging step every lake write shares: Spark writes into a fresh
  * attempt directory under the table root, the caller moves the staged
  * files it keeps to their final names, and the attempt directory is
  * deleted whatever happens — success, a failed `require` between the
  * write and the move, or a Spark failure. The publish point (Delta's
  * create-new JSON, Iceberg's metadata file + hint, Hudi's completed
  * instant, TxnLog's hard link) stays with each format.
  *
  * The attempt directory is `_stage-<uuid>`: unique per attempt, so two
  * writers on one table never clear each other's work; on the table's
  * own filesystem, so a move is a rename; and `_`-prefixed without a
  * `=`, so neither Spark's file listing nor Delta `vacuum` sees what it
  * holds. A process crash mid-write can leave one behind — the only
  * case `finally` cannot cover.
  */
private[graft] object Stage {

  /** One staged file: `dir` is its hive sub-directory under the attempt
    * root exactly as Spark spelled it (`""` for a flat write,
    * `p=a%20b/__g=3` for a partitioned one — Hudi keeps that `%XX`
    * escaping as its partition dir), `path` the file itself. */
  final case class Leaf(dir: String, path: Path) {
    def name: String = path.getFileName.toString

    private def segments: Seq[String] = if (dir.isEmpty) Nil else dir.split('/').toSeq

    /** Spark's (escaped) spelling of `key`'s value in this leaf's dirs. */
    def value(key: String): String = segments.collectFirst {
      case s if s.startsWith(s"$key=") => s.drop(key.length + 1)
    }.getOrElse(throw new IllegalStateException(s"staged file $path has no $key= dir"))

    /** `dir` as a `/`-terminated relative prefix, minus any `drop=` segments. */
    def prefix(drop: String*): String =
      segments.filterNot(s => drop.exists(k => s.startsWith(s"$k="))).map(_ + "/").mkString
  }

  /** Run `write` on a fresh attempt directory under `base`, hand its
    * data files (Spark's `_`/`.` side files excluded), sorted by path,
    * to `publish`, and delete the attempt directory in a `finally`. */
  def apply[T](base: String)(write: String => Unit)(publish: Seq[Leaf] => T): T = {
    val root = Paths.get(base, s"_stage-${UUID.randomUUID}")
    try {
      write(root.toString)
      val leaves = Fs.walk(root).filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.toString).map(p => Leaf(root.relativize(p.getParent).toString, p))
      publish(leaves)
    } finally TxnLog.rmrf(root.toString)
  }

  /** Move a staged leaf to `rel` under `base` (a same-filesystem
    * rename), creating its parent dirs; returns `rel`. */
  def move(leaf: Leaf, base: String, rel: String): String = {
    val dest = Paths.get(base, rel)
    Files.createDirectories(dest.getParent)
    Files.move(leaf.path, dest)
    rel
  }

  /** The leaves of a write laid out one task per hive cell, checked to
    * hold exactly one file per dir. */
  def cells(leaves: Seq[Leaf]): Seq[Leaf] = {
    leaves.groupBy(_.dir).foreach { case (d, ls) =>
      require(ls.size == 1, s"cell $d staged ${ls.size} files")
    }
    leaves
  }

  /** The single-file variant: write `df` as exactly one `format` file at
    * `rel` under `base`. */
  def file(df: DataFrame, base: String, rel: String, format: String = "parquet"): Unit =
    apply(base)(df.coalesce(1).write.format(format).save(_)) { leaves =>
      require(leaves.size == 1, s"single-file stage for $rel wrote ${leaves.size} files")
      move(leaves.head, base, rel)
    }
}
