package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's SparkSession tuning so every entry
  * point (Verify, Bench, Explain, tests) runs the same profile.
  *
  * Notable settings:
  *  - shuffle.partitions = cores/2 (not 200, not cores): the third
  *    measured overhead A/B (r5). At bench SF most exchanges move
  *    KBs, so halving the task count cuts scheduling overhead on the
  *    ~150-query catalog without costing parallelism: paired
  *    back-to-back runs in both orders, min-of-two — 32 parts 68.3 /
  *    65.9 s vs 16 parts 61.0 / 64.2 s (the win concentrates in
  *    multi-stage dedup/recall queries, 0.2-0.7 s each; worst single
  *    regression 0.13 s). On a real cluster AQE coalescing owns this
  *    knob (clusterConf) and sizes partitions by bytes, not count.
  *  - legacy.parquet.nanosAsLong: events.parquet carries
  *    TIMESTAMP(NANOS) which vanilla Spark refuses; Tables.events
  *    rebuilds a microsecond timestamp from the long.
  *  - excludedRules = InferFiltersFromGenerate: explode(generated
  *    array) otherwise infers `size(arr)>0 AND isnotnull(arr)` and
  *    predicate pushdown clones the WHOLE array-producing expression
  *    (tokenizer regex, shingle HOFs) below every projection boundary
  *    and exchange — observed 17x slowdown on the dedup pipeline at
  *    sf0.1. The filters are redundant for us: explode drops empty
  *    arrays by itself.
  *  - fs.file.impl = NioLocalFileSystem: local writes set permission
  *    bits in-process instead of forking `chmod` per file.
  */
object GraftSession {
  val ExcludedRules = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** The settings this engine expects on a REAL cluster (the local
    * profile below right-sizes the same knobs for local[N]). Kept as
    * data so a deployment can `clusterConf.foldLeft(builder)(...)` —
    * and so the 100 TB stance is code, not tribal knowledge.
    *
    *  - AQE owns runtime re-planning: coalesced shuffle partitions
    *    replace a hand-tuned shuffle.partitions; skew-join splitting
    *    complements the explicit salting ops (operators.Salt) for the
    *    skews AQE can see.
    *  - advisoryPartitionSizeInBytes targets the post-compression
    *    shuffle block a 4-8 GiB-heap executor core chews comfortably.
    *  - maxPartitionBytes bounds scan splits so a 100 TB table fans
    *    into units whose row-group footers + vectorized batches fit
    *    the task memory budget.
    *  - Runtime bloom filters push selective join keys into the
    *    probe-side scan (the semi-join pushdown big joins want).
    *  - The InferFiltersFromGenerate exclusion is NOT local-only: the
    *    explode-clones-the-tokenizer pathology (see class doc) costs
    *    the same 17x on a cluster.
    */
  val clusterConf: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128m",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "256m",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.excludedRules" -> ExcludedRules,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.extensions" -> "graft.GraftExtensions"
  )

  def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        scala.util.Try((cpus.toInt / 2).max(1).toString).getOrElse(cpus))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Static conf (read once at session init): the default 100-entry
      // generated-class cache thrashes when one JVM serves the whole
      // 120+-query catalog — every query re-Janino-compiles its stages
      // (~0.3-1.5s each, measured q50 2.3s -> 0.8s steady-state once
      // cached). A long-running cluster driver wants the same headroom.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.optimizer.excludedRules", ExcludedRules)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // no chmod process per written file (see NioLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def fromEnv(): SparkSession = build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
}
