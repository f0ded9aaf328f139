package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K2 + S5 + E3 (SURVEY.md §2.1-§2.2, §3): the append-only
  * notification log whose READ-BACK feeds the next run's rate limit —
  * the reference's only stateful loop (read sheet worksheet 2, count
  * per (team, day), drop alerts past the cap, append survivors;
  * arbitrage_scanner.py:434-515).
  *
  * Engine-native representation: an append-mode parquet table (Sheets
  * stays an external mirror per SURVEY). The rate limit is a broadcast
  * join against the per-(team, day) counts. `NotificationLog.survivors`
  * is its one implementation as a plan and `rateLimitAndAppend` applies
  * it to a log: a stream does so per micro-batch inside
  * `writeStream.foreachBatch`, and Engine binds the same plan into
  * its prepared scan.
  */
class NotificationLog(path: String) {

  /** Reads the log through the shared committed-state read with the
    * log's own schema: a file written before `updated_at` was added
    * reads it as null, while a committed file lacking `team`,
    * `sent_at` or `message` fails loudly (nulls there would count
    * nothing and switch the cap off). No footer is sampled or merged
    * in a job, however many files the log holds. */
  def read(spark: SparkSession): DataFrame =
    graft.operators.RegistryIO.readCommitted(spark, path, NotificationLog.Schema,
      optional = Set("updated_at"))

  /** The batch rate limit applied to this log and recorded in it:
    * `NotificationLog.survivors` against the log's current rows, then
    * `append`. Alerts schema: team STRING, ts TIMESTAMP, message STRING.
    */
  def rateLimitAndAppend(alerts: DataFrame, maxPerDay: Int,
                         orderCol: String = "ts",
                         appendedAt: org.apache.spark.sql.Column =
                           current_timestamp()): DataFrame =
    append(NotificationLog.survivors(alerts, read(alerts.sparkSession), maxPerDay,
      orderCol, appendedAt))

  /** Appends `survivors` (a survivors plan over this log's rows) and
    * returns them pinned. The pin comes BEFORE the append and CUTS the
    * lineage: the survivors plan READS the log it is about to WRITE
    * (the E3 feedback loop). A plain persist is not enough — writing to
    * the path recaches plans that scan it (recacheByPath), re-deriving
    * different counts post-append (SURVEY.md §7 risk 6). */
  def append(survivors: DataFrame): DataFrame = {
    val pinned = survivors.localCheckpoint(true)
    pinned.write.mode("append").parquet(path)
    pinned
  }
}

object NotificationLog {
  /** Every column the log has ever held; older files lack the later ones. */
  val Schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "team STRING, sent_at TIMESTAMP, message STRING, updated_at STRING")

  /** The rate limit as a pure plan (arbitrage_scanner.py:457-459): keep
    * alerts for (team, UTC day) pairs with fewer than maxPerDay rows in
    * `logRows`, and at most the remaining quota per pair
    * (deterministic order by the `orderCol` column). Returns the rows
    * to append: team, sent_at, message, updated_at.
    */
  def survivors(alerts: DataFrame, logRows: DataFrame, maxPerDay: Int,
                orderCol: String = "ts",
                appendedAt: org.apache.spark.sql.Column = current_timestamp()): DataFrame = {
    val counts = logRows.groupBy(col("team"), to_date(col("sent_at")).as("day"))
      .agg(count(lit(1)).as("sent"))
    // message as tie-break: equal timestamps would otherwise make
    // row_number nondeterministic, and WHICH alerts survive the cap
    // (and get appended to the persistent log) could differ on retry.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("team", "day").orderBy(col(orderCol), col("message"))
    alerts.withColumn("day", to_date(col("ts")))
      .join(broadcast(counts), Seq("team", "day"), "left")
      .withColumn("sent", coalesce(col("sent"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") + col("sent") <= maxPerDay)
      .select(col("team"), col("ts").as("sent_at"), col("message"),
        // F27 (arbitrage_scanner.py:509-510): every appended row is
        // stamped with the append wall-clock rendered in
        // America/Phoenix — injectable for deterministic tests.
        graft.functions.Timestamps.phoenixDisplay(appendedAt).as("updated_at"))
  }
}
