package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}

/** The session's `file:` filesystem sets permission bits through NIO
  * and leaves the same bits as Hadoop's stock local filesystem. */
class NioLocalFileSystemSpec extends SparkSpec {
  import spark.implicits._

  private def bits(p: JPath): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the session's file: filesystem is NioLocalFileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(new Path("file:///tmp").getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
  }

  test("created files and directories keep the stock filesystem's permission bits") {
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = new LocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), conf)
    val nio = new NioLocalFileSystem()
    nio.initialize(new java.net.URI("file:///"), conf)
    val root = Files.createTempDirectory("nio_fs_")
    try {
      Seq(stock -> "stock", nio -> "nio").foreach { case (fs, n) =>
        assert(fs.mkdirs(new Path(s"$root/$n/a/b")))
        fs.create(new Path(s"$root/$n/a/b/f")).close()
      }
      Seq("a", "a/b", "a/b/f", "a/b/.f.crc").foreach { rel =>
        assert(bits(root.resolve(s"nio/$rel")) == bits(root.resolve(s"stock/$rel")), rel)
      }
      // a table written through the session: directory and data files
      // carry the stock bits as well
      val out = root.resolve("table")
      Seq(1, 2).toDF("v").write.parquet(out.toString)
      val part = Files.list(out).filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().get
      assert(bits(out) == bits(root.resolve("stock/a")))
      assert(bits(part) == bits(root.resolve("stock/a/b/f")))
    } finally {
      stock.close(); nio.close()
    }
  }
}
