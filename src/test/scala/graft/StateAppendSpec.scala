package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DedupRegistry, EmbedDedupRegistry, NearDupRegistry}
import graft.sinks.NotificationLog
import graft.streaming.IdempotentSink

/** A steady-state append to state only adds files: every file already
  * on disk keeps its inode, size and mtime, and no job-success marker
  * is written. Rewriting a file that is already on disk (truncating a
  * `_SUCCESS` and its checksum sidecar) costs a freed block per file,
  * which on a disk mounted with `discard` is tens of milliseconds.
  * State that still holds a marker from an older commit reads the
  * same, and its marker is left alone. */
class StateAppendSpec extends SparkSpec {
  import spark.implicits._

  /** One writer: `append(root, b)` writes batch `b` of its state under
    * `root`, and `read(root)` reads that state back. */
  private case class Writer(name: String, append: (String, Int) => Unit,
                            read: String => DataFrame)

  /** Three documents per batch, unrelated across batches: every batch
    * has survivors, so every append really writes. */
  private val words = Seq("amber", "basalt", "cobalt", "delta", "ember", "fjord",
    "garnet", "harbor", "indigo", "juniper", "kestrel", "lagoon", "meadow",
    "nectar", "onyx", "prairie", "quartz", "raven", "sierra", "tundra")

  private def batch(b: Int): DataFrame = {
    val rnd = new scala.util.Random(17 + b)
    (0 until 3).map { i =>
      val text = Seq.fill(12)(words(rnd.nextInt(words.size))).mkString(" ") + s" doc$b-$i"
      ((b * 10 + i).toLong, text, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("doc_id", "text", "embedding")
  }

  private val centroids = Seq((0L, Array.fill(8)(1.0f)), (1L, Array.tabulate(8)(i => i - 3.5f)))
    .toDF("doc_id", "embedding")

  private val ts = new java.sql.Timestamp(1700000000000L)

  private val writers = Seq(
    Writer("NotificationLog.append",
      (root, b) => new NotificationLog(s"$root/log").append(
        Seq((s"team$b", ts, s"alert $b", "stamp"))
          .toDF("team", "sent_at", "message", "updated_at")),
      root => new NotificationLog(s"$root/log").read(spark)),
    Writer("DedupRegistry.dedupAppend",
      (root, b) => new DedupRegistry(s"$root/exact")
        .dedupAppend(batch(b), "doc_id", md5(col("text"))),
      root => new DedupRegistry(s"$root/exact").read(spark)),
    Writer("NearDupRegistry.dedupAppend",
      (root, b) => near(root).dedupAppend(batch(b), "doc_id", "text"),
      root => near(root).read(spark)),
    Writer("EmbedDedupRegistry.dedupAppend",
      (root, b) => new EmbedDedupRegistry(s"$root/semantic", epsPermille = 950)
        .dedupAppend(batch(b), centroids, "doc_id", "embedding"),
      root => new EmbedDedupRegistry(s"$root/semantic", epsPermille = 950).read(spark)),
    Writer("IdempotentSink.parquetByBatch",
      (root, b) => IdempotentSink.parquetByBatch(s"$root/corpus")(batch(b).drop("embedding"), b),
      root => spark.read.parquet(s"$root/corpus"))
  )

  private def near(root: String) = new NearDupRegistry(s"$root/near",
    numPerm = 32, bands = 8, rowsPerBand = 4, simThreshold = 0.5)

  private def files(root: JPath): Seq[JPath] =
    scala.util.Using.resource(Files.walk(root)) {
      _.iterator.asScala.filter(Files.isRegularFile(_)).toSeq.sorted
    }

  /** (inode key, size, mtime) of every file under `root`. */
  private def snapshot(root: JPath): Map[JPath, (AnyRef, Long, java.nio.file.attribute.FileTime)] =
    files(root).map { f =>
      val a = Files.readAttributes(f, classOf[BasicFileAttributes])
      f -> ((a.fileKey, a.size, a.lastModifiedTime))
    }.toMap

  private def rows(d: DataFrame): Seq[String] = d.collect().map(_.toString).toSeq.sorted

  /** Appends batch 1 onto the state batch 0 left and checks that every
    * file it finds there is untouched. */
  private def assertAppendOnlyAdds(w: Writer, root: JPath): Unit = {
    val before = snapshot(root)
    w.append(root.toString, 1)
    val after = snapshot(root)
    val changed = before.collect { case (f, s) if !after.get(f).contains(s) => root.relativize(f) }
    assert(changed.isEmpty, s"${w.name} rewrote or removed ${changed.mkString(", ")}")
    assert(after.size > before.size, s"${w.name} added no file")
  }

  /** `body` over a fresh state root, removed afterwards. */
  private def withRoot(body: JPath => Unit): Unit = {
    val root = Files.createTempDirectory("graft_append_")
    try body(root) finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  writers.foreach { w =>
    test(s"${w.name}: a steady-state append only adds files and writes no _SUCCESS") {
      withRoot { root =>
        w.append(root.toString, 0)
        assertAppendOnlyAdds(w, root)
        val markers = files(root).filter(_.getFileName.toString == "_SUCCESS")
        assert(markers.isEmpty, markers.mkString(", "))
      }
    }

    test(s"${w.name}: state holding a _SUCCESS from an older commit reads the same") {
      withRoot { root =>
        w.append(root.toString, 0)
        val expected = rows(w.read(root.toString))
        // the marker an older commit left in each directory it wrote,
        // with its checksum sidecar, as the committer created it
        val fs = new org.apache.hadoop.fs.Path(root.toUri)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        files(root).filterNot(f => f.getFileName.toString.matches("[_.].*"))
          .map(_.getParent).distinct.foreach { dir =>
            fs.create(new org.apache.hadoop.fs.Path(dir.resolve("_SUCCESS").toUri), true).close()
          }
        assert(files(root).exists(_.getFileName.toString == "._SUCCESS.crc"))
        assert(rows(w.read(root.toString)) == expected)
        assertAppendOnlyAdds(w, root)
      }
    }
  }
}
