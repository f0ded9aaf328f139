package graft.streaming

import graft.SparkSpec
import graft.functions.Text
import graft.operators.DedupRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** End-to-end CONTINUOUS corpus ingestion from existing pieces:
  * writeStream.foreachBatch (one batch plan per micro-batch) + a quality
  * gate + DedupRegistry (persistent cross-batch content dedup).
  * Asserts the production invariants: low-quality docs never land,
  * content seen in ANY earlier batch never lands twice, survivors
  * land exactly once. */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  test("quality gate + persistent dedup across micro-batches") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft_cur_").toString
    val corpus = s"$dir/corpus"
    val reg = new DedupRegistry(s"$dir/registry")
    val in = MemoryStream[(Long, String)]

    val gate: DataFrame => DataFrame =
      b => b.filter(size(Text.tokens(col("text"))) >= 5)
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        reg.dedupAppend(gate(batch), "doc_id", md5(col("text")),
          out => out.write.mode("append").parquet(corpus))
        ()
      }
      .start()
    try {
      in.addData(
        (1L, "the quick brown fox jumps over the dog"),
        (2L, "too short")) // fails the 5-token gate
      q.processAllAvailable()
      in.addData(
        (3L, "the quick brown fox jumps over the dog"), // dup of 1
        (4L, "pack my box with five dozen liquor jugs"))
      q.processAllAvailable()

      val kept = spark.read.parquet(corpus)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 4L),
        s"expected gate+dedup survivors {1,4}, got $kept")
    } finally q.stop()
  }

  test("NEAR-dup gate across micro-batches: an edited re-post never lands") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft_cur2_").toString
    val corpus = s"$dir/corpus"
    // the signature registry gates batch N+1 against batch N's docs
    // WITHOUT re-reading the corpus — exact dedup (above) can't catch
    // a one-token edit; this does
    val reg = new graft.operators.NearDupRegistry(s"$dir/registry",
      numPerm = 32, bands = 8, rowsPerBand = 4, simThreshold = 0.5)
    val in = MemoryStream[(Long, String)]
    // a 69-token text: a one-word edit keeps 3-gram Jaccard at 0.91,
    // inside what the 8x4 banding catches (not a coin flip at 0.57)
    val a = "spark query engine scans parquet files with vectorized readers " +
      "and pushes filters down into the scan so that only the row groups whose " +
      "statistics can match the predicate are read from disk while the optimizer " +
      "rewrites joins into broadcast hash joins when one side is small enough to " +
      "ship to every executor and the planner fuses operators into whole stage " +
      "generated code that runs tight loops over columnar batches"
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        reg.dedupAppend(batch, "doc_id", "text",
          persist = out => out.write.mode("append").parquet(corpus))
        ()
      }
      .start()
    try {
      in.addData((1L, a),
        (2L, "completely different text about cooking pasta with garlic butter and fresh basil leaves"))
      q.processAllAvailable()
      in.addData(
        (3L, a.replace("vectorized", "columnar")), // edited re-post of 1
        (4L, "yet another unrelated document describing mountain hiking trails and alpine weather patterns"))
      q.processAllAvailable()
      val kept = spark.read.parquet(corpus)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 4L),
        s"expected near-dup gate to drop 3, got $kept")

      // the gate rode the PERSISTED band index (VERDICT r4 #8): the
      // bucketed index table exists beside the registry and carries
      // exactly the admitted ids — per-batch probe cost tracked the
      // BATCH, not ingest history
      val idx = spark.read.parquet(reg.indexLocation(spark))
      assert(idx.select("id").distinct().as[Long].collect().toSet
        == Set(1L, 2L, 4L))
      assert(idx.columns.toSet == Set("id", "sig", "band", "band_key"))

      // at-least-once replay through the index: re-delivering batch 2
      // self-matches the registered signatures and lands nothing new
      in.addData(
        (3L, a.replace("vectorized", "columnar")),
        (4L, "yet another unrelated document describing mountain hiking trails and alpine weather patterns"))
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).count() == 3,
        "replayed micro-batch must not re-land survivors")

      // a FRESH registry instance over the same path (restart) probes
      // the on-disk index: near-match found without any re-banding
      val reg2 = new graft.operators.NearDupRegistry(s"$dir/registry",
        numPerm = 32, bands = 8, rowsPerBand = 4, simThreshold = 0.5)
      val hit = reg2.probe(
        Seq((9L, a.replace("parquet", "orc"))).toDF("doc_id", "text"),
        "doc_id", "text")
      assert(hit.as[Long].collect().toSeq == Seq(9L))
    } finally q.stop()
  }

  test("SEMANTIC near-dup gate across micro-batches (EmbedDedupRegistry)") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft_cur3_").toString
    val corpus = s"$dir/corpus"
    // the lexical gate above can't catch a paraphrase whose tokens all
    // changed; the embedding gate does — same micro-batch loop, the
    // semantic registry as the cross-batch memory
    val cents = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (200L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val reg = new graft.operators.EmbedDedupRegistry(
      s"$dir/registry", epsPermille = 980)
    val in = MemoryStream[(Long, Seq[Float])]
    // the PRODUCTION wiring: foreachBatch's id goes straight into
    // dedupAppendBatch, so the corpus sink is batch-keyed and
    // exactly-once (the class-doc contract) — not the raw append-mode
    // persist whose crash window the batch-keyed layout closes
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        reg.dedupAppendBatch(batch, cents, "vec_id", "embedding",
          sinkPath = corpus, batchId = id)
        ()
      }
      .start()
    try {
      in.addData((1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
        (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)))
      q.processAllAvailable()
      // 3 ~ batch-1's id 1 (a semantic re-post); 4 is novel
      in.addData((3L, Seq(0.999f, 0.01f, 0.0f, 0.0f)),
        (4L, Seq(0.7f, 0.7f, 0.0f, 0.0f)))
      q.processAllAvailable()
      val kept = spark.read.parquet(corpus)
        .select("vec_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 4L),
        s"expected semantic gate to drop 3, got $kept")

      // at-least-once replay: re-delivery self-matches the registry
      in.addData((3L, Seq(0.999f, 0.01f, 0.0f, 0.0f)),
        (4L, Seq(0.7f, 0.7f, 0.0f, 0.0f)))
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).count() == 3,
        "replayed micro-batch must not re-land survivors")

      // restart (fresh instance, same path): the centroid-identity
      // sidecar admits the original centroids and the on-disk
      // signatures still gate a near-copy of batch-1 content
      val reg2 = new graft.operators.EmbedDedupRegistry(
        s"$dir/registry", epsPermille = 980)
      val out = reg2.dedupAppend(
        Seq((9L, Seq(0.995f, 0.05f, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
        cents, "vec_id", "embedding")
      assert(out.count() == 0, "post-restart probe must still drop near-dups")
    } finally q.stop()
  }

  test("STREAMING GRAPH INGEST (KnnGraphRegistry): micro-batches " +
    "attach idempotently by vid — an at-least-once replay admits " +
    "nothing and changes no probe row — and an ingested near-dup is " +
    "REACHABLE from its original's vector within the same stream") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft_cur9_").toString
    def vec(id: Long): Array[Float] =
      Array.tabulate(16)(j => ((id * 37 + j * 11) % 101 - 50) / 50.0f)
    val seed = (0L until 30L).map(id => (id, vec(id)))
      .toDF("vec_id", "embedding")
    val reg = new graft.operators.KnnGraphRegistry(s"$dir/reg")
    reg.fit(spark, seed, "vec_id", "embedding",
      k = 4, iters = 2, seed = "spec")
    val in = MemoryStream[(Long, Array[Float])]
    val attached = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        attached += reg.ingest(batch, "vec_id", "embedding",
          beam = 8, hops = 3, entries = 2)
        ()
      }
      .start()
    try {
      // batch 1: a genuinely new vector + a near-dup of node 3
      in.addData((40L, vec(40L)), (1003L, vec(3L)))
      q.processAllAvailable()
      val probeQ = Seq((3L, vec(3L))).toDF("vec_id", "embedding")
      def probe() = reg.probe(spark, probeQ, "vec_id", "embedding",
          k = 3, beam = 8, hops = 4, entries = 2)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._2)
      val before = probe()
      assert(before.exists { case (_, _, nbr, d) => nbr == 1003L && d == 0L },
        s"the streamed near-dup must be reachable from its original: $before")
      val edgesBefore = reg.edgeRows(spark).count()
      // at-least-once replay of the same rows: attaches NOTHING (the
      // vid anti-join on the vector store), zero edge rows appended,
      // probe results bit-identical
      in.addData((40L, vec(40L)), (1003L, vec(3L)))
      q.processAllAvailable()
      assert(attached.sum === 2L && attached.head === 2L,
        s"replay must attach nothing, got $attached")
      assert(reg.edgeRows(spark).count() === edgesBefore,
        "a replayed batch must append no edge rows")
      assert(probe() === before,
        "a replayed batch must change no probe row")
      // stream continues: later batches keep attaching
      in.addData((41L, vec(41L)))
      q.processAllAvailable()
      assert(attached.sum === 3L)
    } finally q.stop()
  }

  test("STREAMING ANN INGEST (PQRegistry): micro-batches ingest " +
    "idempotently by vid — an at-least-once replay admits nothing — and " +
    "a codebook refit between batches re-encodes history while later " +
    "batches keep ingesting under the new codebooks") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft_cur8_").toString
    // seed corpus: contiguous 0-based ids (the pqFit seed-rule
    // contract), dim 16, m 4, ksub 4
    def vec(id: Long): Array[Float] =
      Array.tabulate(16)(j => ((id * 31 + j * 7) % 13 - 6) / 6.0f)
    val seed = (0L until 12L).map(id => (id, vec(id)))
      .toDF("vec_id", "embedding")
    val cents = seed.filter(col("vec_id") < 3)
    val reg = new graft.operators.PQRegistry(s"$dir/reg")
    reg.fit(spark, seed, cents, "vec_id", "embedding",
      m = 4, ksub = 4, dim = 16, maxIter = 3)
    reg.ingest(seed, "vec_id", "embedding")
    val in = MemoryStream[(Long, Array[Float])]
    val ingested = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingested += reg.ingest(batch, "vec_id", "embedding")
        ()
      }
      .start()
    try {
      in.addData((12L, vec(12L)), (13L, vec(13L)))
      q.processAllAvailable()
      // at-least-once replay of the same rows: admits NOTHING (the
      // vid anti-join), codes count unchanged — a doubled (vid, blk)
      // row would corrupt every ADC sum containing it
      in.addData((12L, vec(12L)), (13L, vec(13L)))
      q.processAllAvailable()
      assert(ingested.sum === 2L && ingested.head === 2L,
        s"replay must admit nothing, got $ingested")
      assert(reg.codes(spark).count() === 14L * 4,
        "exactly m code rows per ingested vid")
      // the persisted probe serves the union of seed + all batches
      val qdf = Seq((12L, vec(12L))).toDF("vec_id", "embedding")
      val n1 = reg.adcProbe(spark, qdf, "vec_id", "embedding",
        k = 3, nprobe = 2).count()
      assert(n1 === 3L)
      // REFIT BETWEEN BATCHES (the r7 mid-stream convention): the
      // quiescent window after a trigger is the maintenance slot;
      // ingest and refit share the registry lock, so the swap never
      // interleaves a batch
      reg.refit(spark, (0L until 14L).map(id => (id, vec(id)))
          .toDF("vec_id", "embedding"),
        cents, "vec_id", "embedding", ksub = 8, maxIter = 3)
      // post-refit batches encode under the NEW codebooks; history
      // was re-encoded by the rebuild — one consistent generation
      in.addData((14L, vec(14L)))
      q.processAllAvailable()
      assert(reg.codes(spark).count() === 15L * 4)
      assert(reg.adcProbe(spark, qdf, "vec_id", "embedding",
        k = 3, nprobe = 2).count() === 3L,
        "post-refit serving must stay consistent (fp-stamped codes)")
    } finally q.stop()
  }

  test("REFIT MID-STREAM (VERDICT r7 #6): centroid migration between " +
    "micro-batches keeps the cross-batch gate, the sink equals the batch " +
    "replay, and crash-retry spans the refit") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft_cur4_").toString
    val corpus = s"$dir/corpus"
    val centsA = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (200L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    // the refined set a maintenance cadence would fit: old axes kept,
    // one added — a DIFFERENT centroid fingerprint, so dedupAppend
    // would refuse it without the refit migration
    val centsB = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (200L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (300L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val reg = new graft.operators.EmbedDedupRegistry(
      s"$dir/registry", epsPermille = 980)
    // the production loop swaps its centroid reference at the refit
    // point — the registry's fingerprint guard enforces that the swap
    // and the refit happen together
    @volatile var cents = centsA
    val seenIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        seenIds += id
        reg.dedupAppendBatch(batch, cents, "vec_id", "embedding",
          sinkPath = corpus, batchId = id)
        ()
      }
      .start()
    try {
      in.addData((1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
        (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)))
      q.processAllAvailable()
      // REFIT BETWEEN MICRO-BATCHES: foreachBatch sinks run serially
      // on the driver, so after processAllAvailable() the stream is
      // quiescent — exactly the maintenance window a production loop
      // uses. The refit is a generation-swap rewrite + GC underneath.
      reg.refit(spark, centsB, "vec_id", "embedding")
      cents = centsB
      // 3 ~ PRE-refit id 1: the gate's memory must survive the
      // migration; 4 lands in the refit-introduced cell 300
      in.addData((3L, Seq(0.999f, 0.01f, 0.0f, 0.0f)),
        (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f)))
      q.processAllAvailable()
      val kept = spark.read.parquet(corpus)
        .select("vec_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 4L),
        s"expected refit-spanning gate survivors {1,2,4}, got $kept")

      // EXACTLY-ONCE vs THE BATCH REPLAY: the same batches with the
      // same refit point, driven directly through dedupAppendBatch
      // into a fresh registry + sink, produce the identical corpus
      val reg2 = new graft.operators.EmbedDedupRegistry(
        s"$dir/registry2", epsPermille = 980)
      val corpus2 = s"$dir/corpus2"
      reg2.dedupAppendBatch(
        Seq((1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
          (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
        centsA, "vec_id", "embedding", corpus2, batchId = 0L)
      reg2.refit(spark, centsB, "vec_id", "embedding")
      reg2.dedupAppendBatch(
        Seq((3L, Seq(0.999f, 0.01f, 0.0f, 0.0f)),
          (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding"),
        centsB, "vec_id", "embedding", corpus2, batchId = 1L)
      val replay = spark.read.parquet(corpus2)
        .select("vec_id").as[Long].collect().toSet
      assert(replay == kept,
        s"streaming sink ($kept) must equal the batch replay ($replay)")

      // CRASH-RETRY ACROSS THE REFIT: re-deliver the post-refit batch
      // under its ORIGINAL batch id (at-least-once redelivery after a
      // checkpoint-commit crash, with the refit in between). Every
      // row self-matches the refit-migrated store, so the survivor
      // set is empty and the batch-keyed sink leaves row 4 exactly once.
      val retryId = seenIds.last
      reg.dedupAppendBatch(
        Seq((3L, Seq(0.999f, 0.01f, 0.0f, 0.0f)),
          (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding"),
        centsB, "vec_id", "embedding", corpus, batchId = retryId)
      val rows = spark.read.parquet(corpus)
        .select("vec_id").as[Long].collect().toSeq.sorted
      assert(rows == Seq(1L, 2L, 4L),
        s"crash-retry across the refit must not duplicate or drop, got $rows")

      // and the LOOP keeps running post-refit: an at-least-once
      // redelivery through the stream itself also lands nothing new
      in.addData((3L, Seq(0.999f, 0.01f, 0.0f, 0.0f)),
        (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f)))
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).count() == 3,
        "replayed micro-batch after the refit must not re-land survivors")
    } finally q.stop()
  }

  test("STREAMING DOC INGEST (LateInteractionRegistry): micro-batches " +
    "index idempotently by doc_id — an at-least-once replay indexes " +
    "nothing and changes no probe row — and the stream converges to " +
    "the batch-fit stores") {
    implicit val sq = spark.sqlContext
    val li = graft.operators.LateInteraction
    val dir = Files.createTempDirectory("graft_cur10_").toString
    val Cap = 8
    def text(i: Long) = s"alpha w$i w${i % 5} shared beta${i % 3}"
    val allDocs = (0L until 12L).map(i => (i, text(i)))
    val seed = allDocs.take(8).toDF("doc_id", "text")
    val reg = new graft.operators.LateInteractionRegistry(s"$dir/reg")
    reg.fit(spark, seed, "doc_id", "text", Cap)
    val in = MemoryStream[(Long, String)]
    val indexed = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        indexed += reg.ingest(batch, "doc_id", "text")
        ()
      }
      .start()
    try {
      val qv = li.withVec(
        li.docTokens(allDocs.take(2).toDF("doc_id", "text"),
          "doc_id", "text", Cap)
          .withColumnRenamed("doc_id", "query_id")
          .withColumnRenamed("t", "qt"),
        "qt", "qc")
      def probe() = reg.probe(spark, qv, k = 3, c = 4)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2))
      // two micro-batches index the remaining docs
      in.addData(allDocs.slice(8, 10): _*)
      q.processAllAvailable()
      in.addData(allDocs.slice(10, 12): _*)
      q.processAllAvailable()
      assert(indexed.toSeq == Seq(2L, 2L), s"got $indexed")
      val after = probe()
      // at-least-once replay: indexes nothing, changes no probe row
      in.addData(allDocs.slice(8, 12): _*)
      q.processAllAvailable()
      assert(indexed.sum === 4L, s"replay must index nothing: $indexed")
      assert(probe() === after,
        "a replayed batch must change no probe row")
      // the streamed store serves exactly what a single batch fit does
      val batchReg = new graft.operators.LateInteractionRegistry(
        s"$dir/batchreg")
      batchReg.fit(spark, allDocs.toDF("doc_id", "text"),
        "doc_id", "text", Cap)
      val ref = batchReg.probe(spark, qv, k = 3, c = 4)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2))
      assert(after === ref,
        "the streamed store must converge to the batch-fit stores")
    } finally q.stop()
  }
}
