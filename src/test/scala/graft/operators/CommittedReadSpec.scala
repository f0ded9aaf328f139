package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** The one committed-state read (RegistryIO.readCommitted), driven
  * through every site that reads state with it: never-committed is
  * the only silent-empty case, a committed file missing a required
  * column throws naming the path, and a committed read plans from
  * one footer on the driver instead of a schema-inference job. */
class CommittedReadSpec extends SparkSpec {
  import spark.implicits._

  /** One site: how it reads a path, the columns its read returns, a
    * committed file it accepts, the same file without the required
    * column `dropped`, and the jobs its committed read submits. */
  private case class Site(name: String, read: String => DataFrame,
                          columns: Seq[String], committed: () => DataFrame,
                          dropped: String, partitionBy: Seq[String] = Nil,
                          readJobs: Int = 0)

  private val ts = new java.sql.Timestamp(1700000000000L)

  private val sites = Seq(
    Site("NotificationLog", p => new graft.sinks.NotificationLog(p).read(spark),
      Seq("team", "sent_at", "message", "updated_at"),
      () => Seq(("A", ts, "m1", "stamp")).toDF("team", "sent_at", "message", "updated_at"),
      dropped = "sent_at"),
    Site("DedupRegistry", p => new DedupRegistry(p).read(spark), Seq("fp"),
      () => Seq((1L, "abc")).toDF("id", "fp"), dropped = "fp"),
    Site("NearDupRegistry",
      p => new NearDupRegistry(p, numPerm = 4, bands = 2, rowsPerBand = 2,
        simThreshold = 0.5).read(spark),
      Seq("id", "sig"), () => Seq((1L, Array(1L, 2L, 3L, 4L))).toDF("id", "sig"),
      dropped = "sig"),
    Site("EmbedDedupRegistry",
      p => new EmbedDedupRegistry(p, epsPermille = 980).read(spark),
      Seq("id", "vq", "nq", "cell"),
      () => Seq((1L, Array(127, 0), 16129L, 0L)).toDF("id", "vq", "nq", "cell"),
      dropped = "vq"),
    // the legacy layout the partition rule exists for: a generation
    // partitioned by raw cell, so `cell` is a directory, not a column
    // of the file's footer
    Site("EmbedDedupRegistry (cell-partitioned)",
      p => new EmbedDedupRegistry(p, epsPermille = 980).read(spark),
      Seq("id", "vq", "nq", "cell"),
      () => Seq((1L, Array(127, 0), 16129L, 0L)).toDF("id", "vq", "nq", "cell"),
      dropped = "vq", partitionBy = Seq("cell"))
  )

  private def fresh(): String =
    Files.createTempDirectory("graft_committed_").toString + "/state"

  private def write(s: Site, d: DataFrame, path: String): Unit =
    d.write.partitionBy(s.partitionBy: _*).parquet(path)

  sites.foreach { s =>
    test(s"${s.name}: never-written or _temporary-only reads typed empty") {
      val never = s.read(fresh())
      assert(never.columns.toSeq == s.columns && never.count() == 0)
      // a crashed first append leaves only _temporary: never committed
      val crashed = fresh()
      new java.io.File(crashed + "/_temporary/0").mkdirs()
      assert(s.read(crashed).count() == 0)
    }

    test(s"${s.name}: missing required column throws") {
      val p = fresh()
      write(s, s.committed().drop(s.dropped), p)
      val e = intercept[IllegalArgumentException](s.read(p))
      assert(e.getMessage.contains(p) && e.getMessage.contains(s.dropped), e.getMessage)
    }

    test(s"${s.name}: committed read submits ${s.readJobs} job(s)") {
      val p = fresh()
      write(s, s.committed(), p)
      var out: DataFrame = null
      assert(org.apache.spark.JobsSubmitted.during(spark.sparkContext) {
        out = s.read(p)
      } == s.readJobs)
      assert(out.columns.toSeq == s.columns && out.count() == 1)
    }
  }

  test("a committed file not named part-* is read, not skipped") {
    // another tool wrote or compacted the state: its file is committed
    // data, and treating it as never-committed would forget history
    val p = fresh()
    Seq("abc").toDF("fp").write.parquet(p)
    new java.io.File(p).listFiles.filter(_.getName.startsWith("part-")).foreach { f =>
      assert(f.renameTo(new java.io.File(p + "/compacted-0.parquet")))
    }
    assert(new DedupRegistry(p).read(spark).as[String].collect().toSeq == Seq("abc"))
  }
}
