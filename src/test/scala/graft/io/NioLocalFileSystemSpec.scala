package graft.io

import graft.SparkSpec
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

class NioLocalFileSystemSpec extends SparkSpec {

  private def localFs: FileSystem =
    FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)

  test("the session defaults resolve file:/// to NioLocalFileSystem") {
    assert(localFs.isInstanceOf[NioLocalFileSystem])
  }

  /** Relative path → POSIX mode of everything under `root`, with the
    * write's job UUID taken out of part-file names.
    */
  private def modes(root: JPath): Map[String, String] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally walk.close()
  }

  test("a partitioned parquet write leaves the stock file system's modes") {
    val df = spark.range(0, 40, 1, 2)
      .selectExpr("id", "CAST(id % 2 AS INT) AS y", "CAST(id % 3 AS INT) AS m")
    val base = Files.createTempDirectory("nio-fs")
    val nio = base.resolve("nio")
    val stock = base.resolve("stock")
    df.write.partitionBy("y", "m").parquet(nio.toString)
    // the same write through a fresh, uncached stock LocalFileSystem
    df.write.partitionBy("y", "m")
      .option("fs.file.impl", classOf[LocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .parquet(stock.toString)

    val got = modes(nio)
    assert(got == modes(stock))
    assert(got.keys.exists(k => k.contains("y=1/m=2/") && k.endsWith(".parquet")))
    assert(got.keys.exists(k => k.endsWith(".parquet.crc")))
    assert(got.keys.exists(_ == "y=1/m=2"))
    val back = spark.read.parquet(nio.toString).select("id", "y", "m")
    assert(back.except(df).isEmpty && df.except(back).isEmpty && back.count() == 40)
  }

  test("a sticky-bit permission takes the stock path and keeps the bit") {
    val dir = Files.createTempDirectory("nio-fs-sticky")
    localFs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) ==
      Integer.parseInt("1755", 8))
    localFs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("750", 8).toShort))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) ==
      Integer.parseInt("750", 8))
    intercept[FileNotFoundException] {
      localFs.setPermission(new Path(dir.resolve("missing").toUri), FsPermission.getFileDefault)
    }
  }
}
