package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming re-expressions of the reference's
  * streaming-shaped behaviors (SURVEY.md §2.11):
  *
  *  - watermarked tumbling-window aggregation over event time (the
  *    generalized "scores feed" shape; late rows beyond the watermark
  *    are dropped deterministically).
  *  - exactly-once-style dedup within a watermark
  *    (bovada_pull.py:156-162's second-matchup removal, streaming-native).
  *  - sessionization, interval joins, CDC compaction and near-dup
  *    removal within a watermark.
  *
  * The ≤N-notifications-per-(team, day) rule is not here: a stream
  * applies sinks.NotificationLog.rateLimitAndAppend per micro-batch.
  */
object StreamOps {

  /** Tumbling-window counts per key with a watermark: the canonical
    * event-time aggregation. Output in Append mode finalizes a window
    * only after the watermark passes its end. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col(keyCol), col("n"))

  /** Streaming dedup on a business key, tolerating duplicates that
    * arrive within the watermark of each other (state is purged past
    * the watermark — bounded, unlike dropDuplicates). */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
                           keys: Seq[String], watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming-native SESSIONIZATION (the q46/q54 batch shape on a
    * stream): Spark's built-in session_window aggregation. Why NOT a
    * hand-rolled flatMapGroupsWithState machine: the built-in merges
    * late-but-within-watermark events into the RIGHT session (an
    * event older than the open session's end must extend backwards),
    * emits each session exactly once when the watermark passes its
    * end + gap, and keeps state bounded — re-implementing that
    * watermark contract by hand is where the bugs live (premature
    * emit on an in-batch gap, end regression on out-of-order input).
    *
    * Input must carry a watermark on `tsCol`. Output (append mode):
    * (key, session_start, session_end, n_events), one row per closed
    * session.
    */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
                 gap: String): DataFrame =
    events
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Stream-stream INTERVAL join (the streaming form of the q87
    * forward-as-of shape): each left row joins right rows on `keys`
    * whose `rightTs` falls in [leftTs, leftTs + tolerance]. Both
    * sides MUST carry a watermark; the time-range condition bounds
    * the join state on both sides (Spark derives the state
    * watermarks from the range), so state stays
    * O(in-flight interval), not O(stream). Inner join: left rows
    * with no right match within the interval are dropped once the
    * watermark passes (intervalJoinLeftOuter below keeps them).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String, tolerance: String): DataFrame =
    intervalJoinTyped(left, right, keys, leftTs, rightTs, tolerance, "inner")

  /** The one interval-join construction (review: the inner and
    * left-outer variants had copy-pasted the key/range conditions and
    * the right-key drop fold — a range fix landing in one would
    * silently miss the other). */
  private def intervalJoinTyped(left: DataFrame, right: DataFrame,
                                keys: Seq[String], leftTs: String,
                                rightTs: String, tolerance: String,
                                joinType: String): DataFrame = {
    val keyCond = keys.map(k => left(k) === right(k)).reduce(_ && _)
    val rangeCond = right(rightTs) >= left(leftTs) &&
      right(rightTs) <= left(leftTs) + expr(s"INTERVAL $tolerance")
    // drop the right-side key copies: both sides carry the key under
    // the same name and any downstream reference would be ambiguous
    keys.foldLeft(left.join(right, keyCond && rangeCond, joinType))(
      (d, k) => d.drop(right(k)))
  }

  /** LEFT-OUTER stream-stream interval join: like intervalJoin, but
    * a left row with NO right match within [leftTs, leftTs +
    * tolerance] is still emitted, right columns NULL — the
    * "impressions that never converted" / "alerts never acked"
    * shape, answered by the STREAM itself instead of a batch
    * backfill. The unmatched emission is necessarily DELAYED until
    * the join watermark (min of both sides) passes the END of the
    * row's interval: only then can the engine prove no match is
    * coming. Same bounded state as the inner variant — the range
    * condition derives both state watermarks. */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
                            keys: Seq[String], leftTs: String,
                            rightTs: String, tolerance: String): DataFrame =
    intervalJoinTyped(left, right, keys, leftTs, rightTs, tolerance,
      "left_outer")

  /** Streaming CDC COMPACTION (the streaming form of q105): maintain
    * the latest version per key as an update-mode aggregate —
    * max(struct(ts, tieBreak, values...)) keeps ONE struct per key,
    * so state is O(|keys|) with no version history, and each
    * micro-batch emits only the keys it touched (an incrementally-
    * maintained upsert view; pair with a foreachBatch MERGE sink to
    * materialize it). Late rows older than a key's current version
    * are absorbed with no output change — latest-wins is inherently
    * out-of-order-safe, no watermark needed for correctness (add one
    * upstream only to bound OTHER stateful ops composed before this).
    * Ties on ts resolve by `tieBreak` (pass a unique id). Output:
    * keyCols ++ (tsCol, tieBreak, valueCols) of the winning version,
    * original names. */
  def compactLatest(updates: DataFrame, keyCols: Seq[String], tsCol: String,
                    tieBreak: String, valueCols: Seq[String]): DataFrame = {
    val payload = (tsCol +: tieBreak +: valueCols).map(col)
    updates
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(payload: _*)).as("_last"))
      .select(keyCols.map(col) ++
        (tsCol +: tieBreak +: valueCols).map(f => col(s"_last.$f").as(f)): _*)
  }

  /** Streaming NEAR-dup removal: dedup on the order-invariant
    * TOKEN-MULTISET fingerprint (md5 of the sorted token array)
    * within the watermark — catches re-posted content with shuffled
    * token order that exact content dedup misses, with CRYPTOGRAPHIC
    * collision odds. (A short SimHash key here would silently drop
    * unrelated colliding documents — a 16-bit space loses real rows
    * from the first few thousand docs per window; fuzzy small-edit
    * matching needs candidate verification, which streaming state
    * cannot do cheaply, so this op promises only permutation+exact
    * semantics.) The fingerprint is a stateless codegen'd projection
    * kept internal: input schema passes through unchanged. */
  def nearDupWithinWatermark(events: DataFrame, textCol: String,
                             tsCol: String, watermark: String): DataFrame = {
    import graft.functions.Text
    events
      // lower() first: Text.tokens matches [a-z0-9]+ runs (lowercase-
      // input assumed) — un-lowercased stream text would drop every
      // uppercase segment and collide unrelated documents.
      .withColumn("_nd_fp",
        md5(concat_ws(" ", sort_array(Text.tokens(lower(col(textCol)))))))
      .transform(d => dedupWithinWatermark(d, tsCol, Seq("_nd_fp"), watermark))
      .drop("_nd_fp")
  }
}
