package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources._

/** The engine's `file://` filesystem: every Hadoop `Configuration` gets
  * [[graft.sources.LocalFs]], and what it writes has the modes and the
  * `.crc` layout of stock Hadoop. */
class LocalFsSpec extends SparkSpec {

  private def fresh(name: String): String = {
    val base = s"/tmp/graft_localfs_test/$name"
    TxnLog.rmrf(base)
    Files.createDirectories(Paths.get(base))
    base
  }

  private def mode(p: Path): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("every Hadoop configuration resolves file:// to graft.sources.LocalFs") {
    val sessionFs = FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
    assert(sessionFs.isInstanceOf[LocalFs], sessionFs.getClass.getName)
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).isInstanceOf[LocalFs])
    // a bare Configuration reads the same core-site.xml
    val bare = FileSystem.newInstance(URI.create("file:///"), new Configuration())
    try assert(bare.isInstanceOf[LocalFs], bare.getClass.getName) finally bare.close()
    // the FileContext view (streaming checkpoints) too
    val afs = FileContext.getLocalFSFileContext(new Configuration()).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFs.Afs], afs.getClass.getName)
  }

  test("setPermission and mkdirs apply the requested mode bits") {
    val base = fresh("modes")
    val fs = FileSystem.getLocal(new Configuration())
    val f = new HPath(s"$base/f")
    fs.create(f).close()
    fs.setPermission(f, new FsPermission("640"))
    assert(mode(Paths.get(s"$base/f")) == "rw-r-----")
    fs.setPermission(f, new FsPermission("1751")) // sticky bit dropped, low 9 kept
    assert(mode(Paths.get(s"$base/f")) == "rwxr-x--x")
    assert(fs.mkdirs(new HPath(s"$base/d/e"), new FsPermission("700")))
    assert(mode(Paths.get(s"$base/d/e")) == "rwx------")
  }

  test("DataFrame, Delta and Iceberg writes get stock Hadoop's modes and .crc layout") {
    val conf = new Configuration()
    // stock Hadoop's modes, from its own local filesystem
    val probe = fresh("stock")
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    try {
      stock.create(new HPath(s"$probe/f")).close()
      stock.mkdirs(new HPath(s"$probe/d"))
    } finally stock.close()
    val stockFile = mode(Paths.get(s"$probe/f"))
    val stockDir = mode(Paths.get(s"$probe/d"))
    assert(stockFile == "rw-r--r--" && stockDir == "rwxr-xr-x", s"$stockFile $stockDir")
    assert(mode(Paths.get(s"$probe/.f.crc")) == stockFile)
    // what the writers create through java.nio follows the process umask
    Files.createFile(Paths.get(s"$probe/nio"))
    Files.createDirectory(Paths.get(s"$probe/nio_d"))
    val fileModes = Set(stockFile, mode(Paths.get(s"$probe/nio")))
    val dirModes = Set(stockDir, mode(Paths.get(s"$probe/nio_d")))

    val df = spark.range(0, 40).selectExpr("id AS k", "id * 2 AS v").repartition(2)
    val plain = fresh("plain")
    df.write.parquet(s"$plain/t")
    val parts = Fs.list(Paths.get(s"$plain/t")).filter(_.getFileName.toString.startsWith("part-"))
    assert(parts.size == 2)
    parts.foreach { p =>
      assert(mode(p) == stockFile, p)
      val crc = p.resolveSibling(s".${p.getFileName}.crc")
      assert(Files.exists(crc) && mode(crc) == stockFile, crc)
    }
    assert(mode(Paths.get(s"$plain/t")) == stockDir)
    val delta = fresh("delta")
    DeltaLogWriter.create(spark, df, delta, "t")
    DeltaLogWriter.append(spark, df, delta)
    val iceberg = fresh("iceberg")
    IcebergWriter.create(spark, df, iceberg)
    IcebergWriter.deleteWhere(spark, iceberg, org.apache.spark.sql.functions.col("k") < 5)
    for (root <- Seq(plain, delta, iceberg); p <- Fs.walk(Paths.get(root))) {
      if (Files.isDirectory(p)) assert(dirModes.contains(mode(p)), s"$p ${mode(p)}")
      else assert(fileModes.contains(mode(p)), s"$p ${mode(p)}")
    }
    assert(DeltaLogReader.read(spark, delta).count() == 80L)
    assert(IcebergReader.read(spark, iceberg).count() == 35L)
  }
}
