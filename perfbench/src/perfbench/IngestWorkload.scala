package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupRegistry, EmbedDedupRegistry, NearDupRegistry}
import graft.streaming.IdempotentSink

/** Incremental curation ingest: each batch of documents goes through
  * the exact, lexical and semantic registries in turn, each probing
  * its persisted state and then appending to it, and the survivors land
  * in a batch-keyed idempotent sink. Latency runs from the batch file
  * being due to the sink commit. */
final class IngestWorkload(spark: SparkSession, seed: Long, batchSize: Int,
                           root: Path) extends Workload {
  import CorpusGen._

  private val gen = new CorpusGen(seed, batchSize)
  private val schema = "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>"
  private val centroids: DataFrame = {
    import spark.implicits._
    gen.centroids.zipWithIndex.map { case (c, i) => (i.toLong, c.map(_.toFloat)) }
      .toDF("doc_id", "embedding")
  }

  private val stateDir = root.resolve("state")
  private val sinkDir = stateDir.resolve("corpus")
  private val registry = stateDir.resolve("registry")
  private val exactReg = new DedupRegistry(registry.resolve("exact").toString)
  private val nearReg = new NearDupRegistry(registry.resolve("near").toString,
    numPerm = 32, bands = 8, rowsPerBand = 4, simThreshold = 0.5)
  private val embedReg = new EmbedDedupRegistry(registry.resolve("semantic").toString,
    epsPermille = 950)
  private val totals = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  private def batchFile(b: Int) = root.resolve(s"batches/$b.json")

  def items(b: Int): Long = batchSize.toLong

  def generate(b: Int): Unit = {
    Io.deleteTree(batchFile(b - 2))
    gen.write(b, batchFile(b))
  }

  def run(b: Int, tracer: Option[Tracer]): CycleOut = {
    def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    val batch = spark.read.schema(schema).json(batchFile(b).toString)
    // each registry pins its survivors before appending, so every stage
    // output below is already materialized at its boundary
    val exactOut = span("operators.exact") {
      exactReg.dedupAppend(batch, "doc_id", md5(col("text")))
    }
    val nearOut = span("operators.near") {
      nearReg.dedupAppend(exactOut, "doc_id", "text")
    }
    val semOut = span("operators.semantic") {
      embedReg.dedupAppend(nearOut, centroids, "doc_id", "embedding",
        persist = out => span("streaming.sink") {
          IdempotentSink.parquetByBatch(sinkDir.toString)(out, b.toLong)
        })
    }
    CycleOut(counts = () => if (tracer.isEmpty) Map.empty else {
      val (n0, n1, n2, n3) = (batch.count(), exactOut.count(), nearOut.count(), semOut.count())
      Map("operators.exact_dropped" -> (n0 - n1).toDouble,
        "operators.near_dropped" -> (n1 - n2).toDouble,
        "operators.semantic_dropped" -> (n2 - n3).toDouble)
    })
  }

  def check(b: Int, out: Option[CycleOut]): Boolean = {
    val ids = gen.ids(b)
    val expected = ids.filter(gen.role(_) == Unique).toSet
    val part = sinkDir.resolve(s"batch_id=$b")
    val landed: Option[Seq[Long]] = out.map { _ =>
      if (!Files.exists(part)) Nil
      else spark.read.parquet(part.toString).select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    val kept = landed.getOrElse(Nil).toSet
    totals("uniques") += expected.size
    totals("uniques_kept") += expected.count(kept)
    totals("dups") += ids.size - expected.size
    totals("dups_dropped") += ids.count(id => !expected(id) && !kept(id))
    out.map(_.counts()).filter(_.nonEmpty).foreach { c =>
      totals("pinned") += 1
      c.foreach { case (n, v) => totals(n) += v }
    }
    landed.exists(l => l.size == kept.size && kept == expected)
  }

  def layerCounts(): Map[String, Double] = {
    val n = math.max(totals("pinned"), 1.0)
    val (files, bytes) = Io.dataFiles(registry)
    Map(
      "operators.exact_dropped" -> totals("operators.exact_dropped") / n,
      "operators.near_dropped" -> totals("operators.near_dropped") / n,
      "operators.semantic_dropped" -> totals("operators.semantic_dropped") / n,
      "operators.registry_files" -> files.toDouble,
      "operators.registry_bytes" -> bytes.toDouble)
  }

  override def quality(): Map[String, Double] = Map(
    "dup_recall" -> (if (totals("dups") > 0) totals("dups_dropped") / totals("dups") else 1.0),
    "unique_kept_frac" -> totals("uniques_kept") / math.max(totals("uniques"), 1.0))
}
