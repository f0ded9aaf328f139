package graft

import org.apache.spark.sql.functions._

/** Per-job scheduling-floor probe (VERDICT r11 #2): the JobCount ×
  * floor accounts that price the iterative families (NN-Descent
  * rounds, CC fixpoints, beam hops) were using a single 0.063–0.155
  * s/job band measured once — and round 11 caught q224 measuring
  * UNDER its own published lower bound, which impeaches every grade
  * leaning on that band. The fix is to measure the floor AT THE JOB
  * SHAPES those loops actually schedule and publish the
  * distribution, not a band:
  *
  *   one_task        — a 1-task count (the scalar count()s that size
  *                     seed buckets / detect convergence fallback)
  *   one_shuffle     — map + 32-partition exchange + reduce (the
  *                     smallest groupBy job at the session's
  *                     shuffle.partitions)
  *   checkpoint      — eager localCheckpoint of a small frame (the
  *                     per-round lineage-truncation job every
  *                     iterative loop schedules)
  *   cc_round        — the EXACT per-round compound of
  *                     Dedup.connectedComponentsLoop: sym-join +
  *                     group-min + left joins + observe +
  *                     localCheckpoint over a toy edge set
  *   bounded_collect — a limit(8).collect() (the routing-pin jobs of
  *                     the persisted probes)
  *
  * `runMain graft.FloorProbe [reps]` prints one line per shape with
  * min/p25/p50/p75/p95/max seconds over `reps` (default 40)
  * repetitions after 5 warmups. The published account discipline:
  * an entry's floor bound is (jobs of each shape) x that shape's
  * [p25, p95] window, and the measured paired time must fall INSIDE
  * the resulting band (BENCH_NOTES_r12).
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(40)
    val spark = GraftSession.fromEnv()
    import spark.implicits._

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def stats(name: String, xs: Seq[Double]): Unit = {
      val s = xs.sorted
      def q(p: Double) = s(math.round(p * (s.size - 1)).toInt)
      println(f"[floor] $name%-16s n=${s.size}%3d min=${s.head}%.4f " +
        f"p25=${q(0.25)}%.4f p50=${q(0.5)}%.4f p75=${q(0.75)}%.4f " +
        f"p95=${q(0.95)}%.4f max=${s.last}%.4f")
    }
    def probe(name: String)(f: => Unit): Unit = {
      (1 to 5).foreach(_ => f) // warm: codegen + JIT + listener queues
      stats(name, (1 to reps).map(_ => time(f)))
    }

    probe("one_task") { spark.range(1).count(); () }

    probe("one_shuffle") {
      spark.range(64).groupBy(pmod(col("id"), lit(8)).as("k"))
        .agg(count(lit(1)).as("n"))
        .write.mode("overwrite").format("noop").save()
    }

    probe("checkpoint") {
      val d = spark.range(64).toDF("id").localCheckpoint(true)
      org.apache.spark.sql.graft.CheckpointUtils.unpersistCheckpoint(d)
    }

    // the exact cc-round compound: a 99-edge path graph (worst-case
    // thin chain), one round of neighbor-min + pointer-jump + observe
    // + eager checkpoint — the job the q224/q202 fixpoints schedule
    // once per round
    val ccSym = (0L until 99L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst").localCheckpoint(true)
    val ccLabels = ccSym.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint(true)
    probe("cc_round") {
      val nm = ccSym.join(ccLabels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min("cluster").as("nmin"))
      val jump = ccLabels.select(col("id").as("jid"),
        col("cluster").as("jmin"))
      val d = ccLabels.join(nm, col("id") === col("src"), "left")
        .join(jump, col("cluster") === col("jid"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster")),
            coalesce(col("jmin"), col("cluster"))).as("cluster"))
        .localCheckpoint(true)
      org.apache.spark.sql.graft.CheckpointUtils.unpersistCheckpoint(d)
    }

    probe("bounded_collect") {
      spark.range(1000).select(col("id")).limit(8).collect(); ()
    }

    spark.stop()
  }
}
