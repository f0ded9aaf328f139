package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryGroup, Tables}
import graft.functions.Text
import graft.operators.Merge

/** Round-3 layout/maintenance additions — the operators a 100 TB
  * lakehouse pipeline runs BETWEEN queries:
  *  - z-order (Morton) clustering audit: the multi-dimensional
  *    data-skipping layout, proven by per-block bounding boxes;
  *  - batch MERGE (upsert/delete) — CDC applied to a snapshot in one
  *    full-outer join;
  *  - inverted index with BOUNDED posting lists (window top-k per
  *    term, so a stop-word's postings never collect unbounded);
  *  - token-budget water-filling: the per-source allocation rule of
  *    data-mixing under a global token budget, exact integer
  *    arithmetic end-to-end.
  * Same contract as every group: DuckDB oracle beside each plan,
  * shared determinism rules (exact integers, total ORDER BYs,
  * identical aliases, ::BIGINT where DuckDB widens to HUGEINT).
  */
object Scale extends QueryGroup {

  private val dToks = "regexp_extract_all(text, '([a-z0-9]+)', 1)"
  private val dTok = s"tok AS (SELECT doc_id, $dToks AS toks FROM documents)"

  /** q152 KMV sketch size and the pinned estimate tolerance (worst
    * deterministic draw measured 24.6% across both SFs at k=64). */
  private val KmvK = 64
  private val KmvTol = 0.35

  /** q161 count-min sketch shape: d hash rows x w buckets. */
  private val CmsD = 4
  private val CmsW = 256

  /** q162 weighted-reservoir sample size. */
  private val WrK = 20

  /** q177's per-(query-term, doc) BM25 partial score in exact integer
    * micro-units. ONE string parsed by BOTH engines (Spark `expr` and
    * the DuckDB oracle), so the IEEE operation tree — and therefore
    * every double — is identical by construction; floor + cast makes
    * the per-term score an exact BIGINT, and the per-doc score an
    * order-free integer sum. k1 = 1.2, b = 0.75 (2.2 = k1+1,
    * 0.25 = 1-b); idf is the Robertson odds ratio (N-df+0.5)/(df+0.5)
    * kept log-free, the same transcendental-avoidance rule as q104's
    * lift. */
  private val bm25Score =
    "cast(floor((((n_docs - df) + 0.5) / (df + 0.5)) * " +
      "((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / " +
      "(cast(total_dl as double) / cast(n_docs as double))))) * " +
      "1000000.0) as bigint)"

  /** q181's micro-unit quantization and bucketing — the shared
    * operators.Hist definitions, same single-parse rule as bm25Score. */
  private val microExpr = graft.operators.Hist.MicroSql
  private val bucketExpr = graft.operators.Hist.BucketSql

  /** Morton-interleave bit i of c at output position 2*i+off. */
  private def mortonBit(c: org.apache.spark.sql.Column, i: Int, off: Int) =
    shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), 2 * i + off)

  private def dMortonBit(c: String, i: Int, off: Int) =
    s"((($c >> $i) & 1) << ${2 * i + off})"

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Z-ORDER layout audit: interleave 8 bits of (partkey, suppkey)
    // into a 16-bit Morton code, then show that each 256-value z-block
    // bounds a tight (x, y) rectangle — the property parquet min/max
    // stats exploit for two-column data skipping. At 100 TB this is
    // the WRITE layout (repartitionByRange on z + sortWithinPartitions);
    // the audit here is the read-side proof, one shuffle on z-block.
    "q113_zorder_layout" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val withXY = li.select(
        (col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
      val z = (0 until 8).map(i =>
          mortonBit(col("x"), i, 0).bitwiseOR(mortonBit(col("y"), i, 1)))
        .reduce(_ bitwiseOR _)
      withXY.withColumn("zblock", shiftright(z, 8))
        .groupBy("zblock")
        .agg(count(lit(1)).as("cnt"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .withColumn("bbox_area",
          (col("max_x") - col("min_x") + 1) * (col("max_y") - col("min_y") + 1))
    }),

    // Batch MERGE: apply a CDC-style changes table (U = upsert,
    // D = delete) onto a target snapshot. One full-outer join on the
    // key (broadcast when the delta is small); provenance kept as an
    // `action` column. Inserted rows land with null o_orderstatus —
    // the changes feed doesn't carry it — matching MERGE semantics.
    "q114_merge_upsert" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val target = o.filter(col("o_orderkey") % 4 =!= 3)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val changes = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 2 === 0, lit("U")).otherwise(lit("D")).as("op"),
          (col("o_totalprice") + lit(10.0)).as("o_totalprice"))
      Merge.upsert(target, changes, Seq("o_orderkey"))
    }),

    // Inverted index with BOUNDED postings: df/tf per term plus the
    // 10 smallest doc_ids as the posting-list head. The top-k runs as
    // a window row_number (O(1) state per term), NOT collect_list of
    // every posting — a stop-word with df = 10^8 would otherwise
    // materialize its whole posting list in one aggregation buffer.
    "q115_inverted_index" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val t = d.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      val counts = t.groupBy("term")
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      val dist = t.select("term", "doc_id").distinct()
      val w = Window.partitionBy("term").orderBy("doc_id")
      val top = dist.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .groupBy("term")
        .agg(array_join(
          transform(sort_array(collect_list(col("doc_id"))), _.cast("string")),
          ",").as("postings"))
      counts.filter(col("df") >= 20).join(top, "term")
        .select("term", "df", "tf", "postings")
    }),

    // WATER-FILLING token budget: allocate a global budget (60% of
    // all chars) across sources with a uniform cap C such that
    // sum(min(t_i, C)) fills the budget — the allocation rule behind
    // per-domain caps in data mixing. Exact integer arithmetic:
    // sort sources ascending, prefix-sum, the first k where
    // prefix_{k-1} + (n-k+1)*t_k >= B brackets the cap;
    // C = (B - prefix_{k-1}) div (n-k+1). The global window runs on
    // the per-source AGGREGATE (domains, not documents) — small by
    // construction relative to the corpus.
    "q116_token_waterfill" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val src = d.groupBy("source").agg(sum("n_chars").as("t"))
      val tot = src.agg(sum("t").as("total"), count(lit(1)).as("n"))
      val w = Window.orderBy(col("t"), col("source"))
      val pre = src
        .withColumn("k", row_number().over(w))
        .withColumn("prefix",
          sum("t").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .withColumn("budget", expr("(total * 6) div 10"))
      // budget <= total, so k = n always qualifies: a cap row exists.
      val capRow = pre
        .filter(col("prefix") - col("t") + (col("n") - col("k") + 1) * col("t")
          >= col("budget"))
        .orderBy("k").limit(1)
        .select(expr("(budget - (prefix - t)) div (n - k + 1)").as("cap"))
      pre.crossJoin(broadcast(capRow))
        .select(col("source"), col("t"),
          least(col("t"), col("cap")).as("alloc"), col("cap"))
    }),

    // ROLLING 7-day distinct users per day, via the explode-
    // contributions pattern: each (user, day) activity row contributes
    // to the 7 observation days it falls inside, then one exact
    // distinct per observation day. This replaces the unsupported
    // "distinct over a sliding range frame" with two keyed shuffles —
    // the shape that scales (state per day is a count, not a user
    // set; the 7x row expansion is the bounded price).
    "q117_rolling_distinct" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val ud = e.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val contrib = ud.select(
          explode(sequence(col("day"), date_add(col("day"), 6))).as("obs_day"),
          col("user_id"))
        .distinct()
      val days = ud.select(col("day").as("obs_day")).distinct()
      contrib.groupBy("obs_day").agg(count(lit(1)).as("u7"))
        .join(days, "obs_day")
        .select("obs_day", "u7")
    }),

    // RETENTION cohorts: users grouped by first-active ISO week,
    // counted in each subsequent week offset — the engagement matrix
    // every analytics pipeline derives. Two shuffles (first-seen agg,
    // cohort-cell agg); the user->cohort join is keyed on user_id so
    // the activity table shuffles once.
    "q118_retention_cohorts" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val uw = e.select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week")).distinct()
      val first = uw.groupBy("user_id").agg(min("week").as("cohort_week"))
      uw.join(first, "user_id")
        .withColumn("week_no", expr("datediff(week, cohort_week) div 7"))
        .groupBy("cohort_week", "week_no")
        .agg(countDistinct(col("user_id")).as("users"))
    }),

    // SKYLINE (Pareto frontier) per (returnflag, linestatus): the
    // cheapest-price / highest-quantity non-dominated set. Two window
    // passes over PARTITIONED data (never a self-join): collapse to
    // per-price max quantity, then keep levels beating the running
    // max of all strictly-cheaper levels.
    "q119_skyline" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val lvl = li.groupBy(col("l_returnflag"), col("l_linestatus"),
          col("l_extendedprice").as("price"))
        .agg(max("l_quantity").as("qmax"))
      val w = Window.partitionBy("l_returnflag", "l_linestatus")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
      lvl.withColumn("prev_best", max("qmax").over(w))
        .filter(col("prev_best").isNull || col("qmax") > col("prev_best"))
        .select("l_returnflag", "l_linestatus", "price", "qmax")
    }),

    // MODE per group (most frequent event_type per user) as a
    // struct-argmax over the count table: two keyed shuffles, both
    // with map-side partial aggregation, no window sort. Tie-break:
    // the lexicographically LARGEST type (struct max is total, so the
    // result is deterministic).
    "q120_mode_per_group" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      e.groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
        .groupBy("user_id")
        .agg(max(struct(col("cnt"), col("event_type"))).as("m"))
        .select(col("user_id"), col("m.event_type").as("mode_event"),
          col("m.cnt").as("cnt"))
    }),

    // APPROX-QUANTILE audit: the t-digest-style percentile_approx
    // next to the EXACT per-group median (inlined R-1/lower-nearest
    // rank: the value at ceil(n/2) in sort order). Sketch values are
    // implementation-specific, so — like q91's HLL — the OUTPUT is
    // the exact median plus a within-1% flag the oracle asserts TRUE:
    // sketch drift breaks the hash gate. Deterministic for fixed
    // input, so the flag is stable across runs.
    "q121_quantile_audit" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
      val exact = li
        .select(col("l_returnflag"), col("l_extendedprice"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("l_returnflag")))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("l_returnflag"), col("l_extendedprice").as("exact_p50"))
      val approx = li.groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("approx_p50"))
      exact.join(approx, "l_returnflag")
        .select(col("l_returnflag"), col("exact_p50"),
          (abs(col("approx_p50") - col("exact_p50"))
            / col("exact_p50") <= 0.01).as("within_tol"))
    }),

    // DUPLICATED PASSAGES within the corpus: rolling 8-token windows
    // at stride 4, hashed, grouped — any hash hit by >= 2 documents is
    // a shared passage (the substring-level complement of whole-doc
    // dedup; cross-corpus variant is q93). The stride bounds the
    // expansion at ~|tokens|/4 rows; the group-by is partial-agg
    // friendly. Tokens are materialized behind a checkpoint: inlining
    // the tokenizer into the window lambda re-runs the regex per
    // element (the 17x trap, see Dedup.shingleSets).
    "q122_duplicate_passages" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .transform(graft.operators.Spread.byKey("doc_id"))
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .localCheckpoint(false)
      toks.filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("toks")) - 7, lit(4)),
          i => Text.md5Long(concat_ws(" ",
            slice(col("toks"), i, lit(8))), 12))).as("h"))
        .groupBy("h")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"), min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)
    }),

    // COMPACTION planning: split each source into byte-budgeted
    // shards (ceil(bytes / 64KiB), ceil-divided rows per shard) and
    // assign rows by ranked position — the small-files maintenance
    // pass a lakehouse runs after ingest. All window state rides one
    // shuffle on source; every division is exact integer ceil.
    "q123_compaction_plan" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val w = Window.partitionBy("source")
      val ws = w.orderBy("doc_id")
      d.select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rows", count(lit(1)).over(w))
        .withColumn("bytes", sum("n_chars").over(w))
        .withColumn("rn", row_number().over(ws))
        .withColumn("shards", expr("(bytes + 65535) div 65536"))
        .withColumn("rps", expr("(rows + shards - 1) div shards"))
        .withColumn("shard_id", expr("(rn - 1) div rps"))
        .groupBy("source", "shard_id")
        .agg(count(lit(1)).as("n_rows"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
    }),

    // INCREMENTAL aggregate maintenance: a stored base aggregate and
    // a delta aggregate MERGE into exactly the full re-aggregation,
    // because count/decimal-sum are mergeable partial states — the
    // contract that lets a 100 TB rollup update from yesterday's
    // aggregate + today's partition instead of a full rescan. The
    // oracle IS the full re-aggregation.
    "q124_incremental_agg" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      def agg(df: DataFrame) = df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      val base = agg(o.filter(col("o_orderdate") < lit("1995-07-01")))
      val delta = agg(o.filter(col("o_orderdate") >= lit("1995-07-01")))
      base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(sum(col("n_orders")).as("n_orders"),
          round(sum(col("rev")), 2).cast("double").as("revenue"))
    }),

    // MERGEABLE HLL count-distinct (DataSketches): per-event_type
    // sketches of user_id UNION into the global sketch — the
    // sketch-merge law that lets per-shard distinct counts answer the
    // global question without rescanning (q124's incremental argument
    // and q129's MinHash merge, applied to count-distinct; register
    // maxes are order- and partition-independent, so every estimate
    // here is deterministic). Sketch estimates can't cross-engine
    // match, so the output ships the EXACT count plus three audit
    // flags the oracle pins TRUE (the q91/q121 convention): each
    // estimate within 5% of exact, and merged-vs-direct within 2%
    // (same registers; the union path may use a different estimator).
    "q146_hll_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def rel(a: Column, b: Column): Column =
        abs(a.cast("double") - b.cast("double")) / b.cast("double")
      val perType = ev.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      val merged = perType.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
      val direct = ev.agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("est_direct"))
      val exact = ev.agg(countDistinct(col("user_id")).as("n_exact"))
      merged.crossJoin(broadcast(direct)).crossJoin(broadcast(exact))
        .select(col("n_exact"),
          (rel(col("est_merged"), col("n_exact")) <= 0.05).as("merged_ok"),
          (rel(col("est_direct"), col("n_exact")) <= 0.05).as("direct_ok"),
          (rel(col("est_merged"), col("est_direct")) <= 0.02).as("merge_consistent"))
    }),

    // KMV BOTTOM-K DISTINCT sketch (k-minimum-values): per-source
    // distinct-content counts from a bounded, MERGEABLE sketch —
    // unlike q146's opaque HLL registers, every value here is
    // deterministic, so the oracle checks the sketch itself (kth
    // minimum hash) EXACTLY, not just tolerance flags. The aggregator
    // (functions.BottomKDistinct) dedupes in-buffer and shuffles at
    // most k values per source after map-side partial aggregation —
    // the 100 TB shape for "how many distinct contents per shard"
    // where exact countDistinct would shuffle every distinct value
    // (carried here only as the audit target). merge_law_ok pins the
    // exact KMV merge law in-plan: bottom-k of the union of
    // per-source sketches == bottom-k computed directly. est_ok is
    // tolerance-pinned (q91/q121 convention): expected error is
    // ~1/sqrt(k-2) ~= 13% at k=64; the worst deterministic draw
    // measured across both SFs is 24.6%, flagged at 35%.
    "q152_kmv_bottomk" -> ((s, dir) => {
      val K = KmvK
      val kmv = udaf(new graft.functions.BottomKDistinctAggregator(K),
        org.apache.spark.sql.Encoders.scalaLong)
      val h = Tables.documents(s, dir)
        .select(col("source"), Text.md5Long(col("text"), 12).as("h"))
      val per = h.groupBy("source")
        .agg(kmv(col("h")).as("sk"), countDistinct(col("h")).as("n_exact"))
      val direct = h.agg(kmv(col("h")).as("sk"),
        countDistinct(col("h")).as("n_exact"))
      // exact merge law: re-sketch the union of the per-source sketch
      // values; must equal the directly-computed global sketch
      val merged = per.select(explode(col("sk.vals")).as("h"))
        .agg(kmv(col("h")).as("mvals"))
      def kth(sk: Column) = when(size(sk("vals")) === K, element_at(sk("vals"), K))
      def est(sk: Column) = when(size(sk("vals")) < K,
          size(sk("vals")).cast("double"))
        .otherwise(round(lit((K - 1) * 281474976710656.0) / kth(sk), 6))
      def row(df: DataFrame, src: Column, lawOk: Column) = df.select(
        src.as("source"),
        size(col("sk.vals")).cast("long").as("sketch_size"),
        kth(col("sk")).as("kth_hash"),
        est(col("sk")).as("est_distinct"),
        col("n_exact"),
        (abs(est(col("sk")) - col("n_exact").cast("double"))
          / col("n_exact").cast("double") <= KmvTol).as("est_ok"),
        lawOk.as("merge_law_ok"))
      row(per, col("source"), lit(true)).unionByName(
        row(direct.crossJoin(broadcast(merged)), lit("__ALL__"),
          col("sk.vals") === col("mvals.vals")))
    }),

    // BUCKETIZED RANGE JOIN (temporal-proximity attribution): which
    // non-error events fall within 5 minutes AFTER an error — the
    // pure interval join with NO selective equi key, done the way it
    // survives 100 TB: both sides key to 300-second time buckets (an
    // interval spans at most 2, by construction, so each error
    // explodes to exactly 2 bucket rows), the join is a plain
    // EQUI-join on bucket with the exact containment predicate as a
    // post-filter — never a broadcast-nested-loop over the raw
    // tables. A (point, interval) pair shares exactly one bucket, so
    // no dedup pass is needed. Both sides already shuffle on the time
    // bucket a time-partitioned layout co-locates for free.
    "q157_bucketized_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("ets"),
          floor(unix_timestamp(col("ts")) / 300).as("b0"))
        .withColumn("bucket", explode(array(col("b0"), col("b0") + 1)))
      val pts = ev.filter(col("event_type") =!= "error")
        .select(col("event_id"), col("ts"),
          floor(unix_timestamp(col("ts")) / 300).as("bucket"))
      pts.join(err, Seq("bucket"))
        .filter(col("ets") <= col("ts") &&
          col("ts") < col("ets") + expr("INTERVAL 5 MINUTES"))
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_err"), min(col("err_id")).as("min_err_id"))
    }),

    // SCD2 HISTORY (slowly-changing-dimension type 2): turn a
    // purchase event stream into versioned validity intervals per
    // user — valid_from = the event, valid_to = the NEXT event's ts
    // (open for the current row). One lead() window per user (the
    // entity-partitioned discipline); timestamps ship as epoch
    // millis (BIGINT) on both engines. This is the temporal layer
    // q114's MERGE and q105's CDC compaction assume exists.
    "q158_scd2_history" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value"), col("ts"))
        .withColumn("valid_from_ms", unix_millis(col("ts")))
        .withColumn("valid_to_ms", unix_millis(lead(col("ts"), 1).over(w)))
        .withColumn("is_current", col("valid_to_ms").isNull)
        .drop("ts")
    }),

    // ROBUST OUTLIERS per entity: exact median/MAD per user, flag
    // events with |value - med| > 3*MAD. See operators.Robust for the
    // partitioning and rank-median determinism rules; golden spec in
    // ScaleSpec pins the semantics on hand-computed data.
    "q125_mad_outliers" -> ((s, dir) =>
      graft.operators.Robust.madOutliers(
        Tables.events(s, dir), "user_id", "value", "event_id", k = 3.0)),

    // Lexical DIVERSITY: Gini-Simpson index 1 - sum(p^2) per doc —
    // the collision-probability diversity measure corpus filters use
    // where entropy would introduce a transcendental log (cross-engine
    // ulp drift; same rule as q104's log-free lift). Numerator and
    // denominator stay exact BIGINTs; one double division at the end.
    "q126_token_diversity" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val counts = d
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      counts.groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_tokens"),
          sum(col("cnt") * col("cnt")).as("sum_cnt_sq"))
        .select(col("doc_id"), col("n_tokens"), col("sum_cnt_sq"),
          round(lit(1.0) - col("sum_cnt_sq").cast("double")
            / (col("n_tokens").cast("double") * col("n_tokens").cast("double")),
            6).as("gini_simpson"))
    }),

    // Inter-arrival BURSTINESS per user: CV^2 of event gaps (variance
    // over squared mean) from exact integer power sums of millisecond
    // gaps — CV^2 >> 1 is bursty/bot-like, ~1 Poisson, << 1 regular.
    // Gaps square through DECIMAL(18,0) (a month of ms squared
    // overflows long); doubles appear only in the final ratio of
    // exact integers, rounded at 6dp (q97's drift argument). Window
    // partitions on user_id — high cardinality, tiny per-key state.
    "q136_burstiness" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gaps = ev
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
        .filter(col("gap").isNotNull)
      gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap")).as("sum_gap"),
          sum(col("gap").cast("decimal(18,0)") * col("gap").cast("decimal(18,0)"))
            .as("sum_gap2"))
        .filter(col("sum_gap") > 0)
        .select(col("user_id"), col("n_gaps"), col("sum_gap"),
          round((col("n_gaps").cast("double") * col("sum_gap2").cast("double")
            - col("sum_gap").cast("double") * col("sum_gap").cast("double"))
            / (col("sum_gap").cast("double") * col("sum_gap").cast("double")),
            6).as("cv2"))
    }),

    // Tokenizer FERTILITY per language: corpus-level subwords-per-word
    // ratio — the statistic that decides whether a tokenizer's vocab
    // serves a language well (fertility >> 1 means over-segmentation).
    // Counts come from the REAL greedy encoder (the q197 tokenizer,
    // VERDICT r5 #7), not the old regex-split proxy. Exact integer
    // sums per lang; one double division at the end.
    "q134_tokenizer_fertility" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val vocab = graft.operators.Subword.vocabulary(
        d, "doc_id", "text", SubwordSql.K)
      val dc = graft.operators.Subword.docCounts(d, "doc_id", "text", vocab)
        .select(col("id").as("doc_id"), col("n_words"), col("n_subwords"))
      d.select(col("doc_id"), col("lang"))
        .join(dc, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("n_words"), lit(0L))).as("words"),
          sum(coalesce(col("n_subwords"), lit(0L))).as("subwords"))
        .withColumn("fertility",
          round(col("subwords").cast("double") / col("words"), 6))
    }),

    // Per-lang QUALITY GATE: percent_rank over the q39 quality score,
    // keep the top 70% of each language — the percentile-threshold
    // filter of corpus curation. The exact window (partitioned on
    // lang) is the correctness contract; at 100 TB the same filter
    // runs as two passes — approx per-lang threshold, broadcast onto
    // the corpus — identical output modulo sketch error, corpus never
    // sorted. Total order (quality DESC, doc_id) makes every rank,
    // and therefore every percent_rank, engine-deterministic.
    "q127_quality_gate" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val q = d.select(col("doc_id"), col("lang"),
        Text.qualityScore(Text.tokens(col("text"))).as("quality"))
      val w = Window.partitionBy("lang")
        .orderBy(col("quality").desc, col("doc_id"))
      q.withColumn("pr", percent_rank().over(w))
        .filter(col("pr") <= 0.7)
        .select(col("doc_id"), col("lang"), col("quality"),
          round(col("pr"), 6).as("pr"))
    }),

    // RELATIONAL COUNT-MIN SKETCH (heavy hitters): the frequency
    // counterpart of q152's KMV distinct sketch. The sketch IS a
    // relation — d=4 rows x w=256 buckets, cell(i,b) = sum of counts
    // of terms whose row-i hash lands in bucket b — so cross-shard
    // merge is just groupBy(i,bucket).sum: merge_law_ok pins that
    // per-source sketches cell-summed equal the sketch built
    // directly. Estimation probes min over rows of the probed cell;
    // the CMS guarantee est >= exact holds DETERMINISTICALLY given
    // fixed hashes, so `overcount` is an exact BIGINT both engines
    // agree on (no tolerance band, unlike the opaque-register HLL of
    // q146). At 100 TB only d*w cells ship per shard and the probe
    // join is a broadcast against the tiny cell table — exact
    // per-term counts would shuffle the whole vocabulary.
    "q161_cms_heavy_hitters" -> ((s, dir) => {
      def bucket(i: Column, term: Column): Column =
        Text.cmsBucket(i, term, CmsW)
      // both materialized: tf feeds cells + the top-10 probe, cells
      // feeds the merge-law join + the probe join (multi-consumer
      // rule — without it the corpus tokenize reruns per consumer)
      val tf = graft.operators.Dedup.DefaultMaterialize(
        Tables.documents(s, dir)
          .select(explode(Text.tokens(col("text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("cnt")))
      val cells = graft.operators.Dedup.DefaultMaterialize(tf
        .select(col("term"), col("cnt"),
          explode(sequence(lit(0), lit(CmsD - 1))).as("i"))
        .withColumn("bucket", bucket(col("i"), col("term")))
        .groupBy("i", "bucket").agg(sum("cnt").as("cell")))
      val merged = Tables.documents(s, dir)
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
        .select(col("source"), col("cnt"),
          explode(sequence(lit(0), lit(CmsD - 1))).as("i"),
          col("term"))
        .withColumn("bucket", bucket(col("i"), col("term")))
        .groupBy("source", "i", "bucket").agg(sum("cnt").as("cell"))
        .groupBy("i", "bucket").agg(sum("cell").as("mcell"))
      val law = cells.join(merged, Seq("i", "bucket"), "full_outer")
        .agg(min(when(col("cell") === col("mcell"), 1).otherwise(0)).as("law"))
        .select((col("law") === 1).as("merge_law_ok"))
      val top = tf.orderBy(col("cnt").desc, col("term")).limit(10)
      top
        .select(col("term"), col("cnt"),
          explode(sequence(lit(0), lit(CmsD - 1))).as("i"))
        .withColumn("bucket", bucket(col("i"), col("term")))
        .join(cells, Seq("i", "bucket"))
        .groupBy("term", "cnt").agg(min("cell").as("est"))
        .select(col("term"), col("cnt").as("n_exact"), col("est"),
          (col("est") - col("cnt")).as("overcount"))
        .crossJoin(broadcast(law))
    }),

    // WEIGHTED RESERVOIR SAMPLE (Efraimidis-Spirakis A-ES): top-k by
    // key u^(1/w) — the one-pass, MERGEABLE weighted sample (per-
    // partition top-k then global top-k is exactly Spark's
    // TakeOrderedAndProject, so the sample never shuffles the
    // corpus). Weights are powers of two (document-length tiers), so
    // u^(1/w) is an ITERATED SQRT — IEEE-754 sqrt is correctly
    // rounded, making the key bit-identical across engines (the
    // transcendental-free rule: the textbook -ln(u)/w key would
    // drift in the last ulp). u = (md5Long(doc_id)+1) / 2^48 is
    // exact arithmetic end-to-end: +1 keeps u in (0,1] and the
    // power-of-two division is lossless.
    "q162_weighted_reservoir" -> ((s, dir) => {
      val u = ((Text.md5Long(col("doc_id").cast("string"), 12) + 1)
        .cast("double") / 281474976710656.0)
      val w = when(col("n_chars") >= 2000, 8L)
        .when(col("n_chars") >= 1000, 4L)
        .when(col("n_chars") >= 500, 2L).otherwise(1L)
      Tables.documents(s, dir)
        .select(col("doc_id"), w.as("w"), u.as("u"))
        .withColumn("skey",
          when(col("w") === 8, sqrt(sqrt(sqrt(col("u")))))
            .when(col("w") === 4, sqrt(sqrt(col("u"))))
            .when(col("w") === 2, sqrt(col("u")))
            .otherwise(col("u")))
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(WrK)
        .select(col("doc_id"), col("w"), col("skey"))
    }),

    // BLOOM-PREFILTERED SEMI JOIN: revenue of lineitems whose order
    // is in a ~2% selective set. The key set is folded into an 8 KB
    // bitmap (operators.Bloom) that broadcasts and filters the fact
    // table MAP-SIDE — only candidates (members + rare false
    // positives) reach the exact semi join, so the join shuffles the
    // ~2% that can match instead of the full table. This is Spark's
    // runtime bloom filter made explicit and plan-visible; the
    // oracle is the plain semi join (the prefilter never drops a
    // true member, and the exact join removes false positives —
    // BloomSpec plants one and proves both properties).
    "q163_bloom_semi_join" -> ((s, dir) => {
      val sel = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 480000.0)
        .select(col("o_orderkey"))
      val bm = graft.operators.Bloom.bitmap(sel, col("o_orderkey"))
      val li = Tables.lineitem(s, dir)
      val candidates =
        graft.operators.Bloom.prefilter(li, col("l_orderkey"), bm)
      candidates
        .join(sel, candidates("l_orderkey") === sel("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice").cast("decimal(18,4)")), 2)
            .cast("double").as("revenue"))
    }),

    // EXP-DECAYED ENGAGEMENT (recency weighting): per-user activity
    // score sum(2^-age_days) with a 1-day half-life — the freshness
    // prior ranking and curation pipelines apply. The decay base is
    // 2, so every term is a dyadic rational: the score ships as an
    // EXACT BIGINT numerator sum(2^(CAP - min(age, CAP))) over the
    // common denominator 2^CAP — no transcendental exp(), no float
    // summation order, bit-identical in any engine; the double
    // materializes once at the end. Ages clamp at CAP=40 (a 2^-40
    // term is below any ranking noise floor; the clamp also bounds
    // the numerator at 2^40 per event, overflow-safe for millions of
    // events per user).
    "q173_decayed_engagement" -> ((s, dir) => {
      val CAP = 40
      val ev = Tables.events(s, dir)
      val asOf = ev.agg(max(unix_millis(col("ts"))).as("as_of"))
      ev.select(col("user_id"), unix_millis(col("ts")).as("ms"))
        .crossJoin(broadcast(asOf))
        .withColumn("age_d",
          least(floor((col("as_of") - col("ms")) / 86400000L), lit(CAP.toLong)))
        .withColumn("w", expr(s"shiftleft(1L, $CAP - cast(age_d as int))"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("w").as("score_num"))
        .withColumn("score",
          round(col("score_num").cast("double") / math.pow(2.0, CAP), 6))
    }),

    // RENDEZVOUS (highest-random-weight) SHARDING: assign each doc to
    // argmax over shards of hash(doc, shard) — the stable-bucketing
    // scheme where growing 8 -> 9 shards moves ONLY the docs whose
    // new shard wins (expected 1/9 ≈ 11.1%), vs mod-hashing where
    // 8/9 of all keys move. That's the difference between re-reading
    // 11% and 89% of 100 TB on a reshard. The argmax is a pure-
    // integer max of w*16+shard (w < 2^48, so the packed key fits a
    // long and ties are impossible by construction); the churn audit
    // rides as an integer-band flag the oracle pins TRUE.
    "q170_rendezvous_sharding" -> ((s, dir) => {
      val e = Tables.documents(s, dir)
        .select(col("doc_id"), explode(sequence(lit(0), lit(8))).as("shard"))
        .withColumn("ws", Text.md5Long(concat_ws("|",
          col("doc_id").cast("string"), col("shard").cast("string")), 12)
          * 16 + col("shard"))
      val asg = e.groupBy("doc_id").agg(
        (max(when(col("shard") < 8, col("ws"))) % 16).as("a8"),
        (max(col("ws")) % 16).as("a9"))
      val m = asg.groupBy("a8", "a9").agg(count(lit(1)).as("n"))
      val audit = m.agg(
        sum(when(col("a8") =!= col("a9"), col("n")).otherwise(0L)).as("moved"),
        sum("n").as("total"))
      m.crossJoin(broadcast(audit))
        .select(col("a8"), col("a9"), col("n"),
          (col("moved") * 100 >= col("total") * 6 &&
            col("moved") * 100 <= col("total") * 18).as("churn_ok"))
    }),

    // BM25 TOP-K RETRIEVAL: the ranked-search operator over the
    // corpus inverted index (q115 built the index; this one ANSWERS
    // queries with it). The query workload derives from held-out
    // docs 0-2 — each query is that doc's first 4 distinct tokens —
    // so it exists at every SF with zero hand-pinned literals.
    // Scoring is exact: the per-term BM25 partial (bm25Score above)
    // is floor'd to integer micro-units per (term, doc), so the
    // per-doc sum is an order-free BIGINT and ranking ties break on
    // doc_id. Shape at 100 TB: tf/df are the same two partial-agg'd
    // shuffles the index build pays; the 12-row query-term table
    // broadcasts INTO the tf relation (candidates = postings of the
    // query terms only, never the corpus); the top-k window is
    // per-query. A production engine would add block-max pruning
    // (WAND) inside each posting scan — that changes the constant,
    // not the shape.
    "q177_bm25_topk" -> ((s, dir) => {
      // tokenize ONCE: toks has four consumers (tf, dl, stats, query
      // terms) and tf two more — without the materializations the
      // tokenizer chain re-runs per consumer (5 corpus scans; the
      // multi-consumer rule, q110/q104). Both tables are small: toks
      // is |docs| rows, tf is bounded by total tokens.
      val toks = graft.operators.Dedup.DefaultMaterialize(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
          .transform(graft.operators.Spread.byKey("doc_id"))
          .select(col("doc_id"), Text.tokens(col("text")).as("toks")))
      val t = toks.select(col("doc_id"), posexplode(col("toks")))
        .toDF("doc_id", "pos", "term")
      val tf = graft.operators.Dedup.DefaultMaterialize(
        t.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val dl = toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
      val qt = t.filter(col("doc_id") < 3)
        .groupBy(col("doc_id").as("query_id"), col("term"))
        .agg(min(col("pos")).as("fp"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("fp"), col("term"))))
        .filter(col("rn") <= 4).select("query_id", "term")
      tf.join(broadcast(qt), Seq("term"))
        .filter(col("doc_id") =!= col("query_id"))
        .join(df, Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("s_micro", expr(bm25Score))
        .groupBy("query_id", "doc_id")
        .agg(sum("s_micro").as("score_micro"), count(lit(1)).as("n_terms"))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("score_micro").desc, col("doc_id"))))
        .filter(col("rank") <= 5)
        .select("query_id", "doc_id", "score_micro", "n_terms", "rank")
    }),

    // MERGEABLE HISTOGRAM QUANTILE SKETCH: per-shard integer
    // histograms (fixed 0.5-unit buckets over micro-quantized
    // values) merge by pure integer addition — the deterministic,
    // exactly-mergeable alternative to randomized KLL/t-digest. The
    // merged sketch alone answers p50/p95/p99 to within half a
    // bucket, and every guarantee ships as a column the oracle pins:
    // contained (the exact rank statistic falls inside the estimated
    // bucket), mid_err_ok (|midpoint - exact| <= 250 micro), and
    // merge_exact (merged == direct global histogram, bucket for
    // bucket). At 100 TB each executor emits O(range/width) cells no
    // matter how many rows it scanned; the exact-rank audit columns
    // ride value-bounded relations (<= 1M distinct micros), so the
    // cumsum windows are bucket-bounded, never row-bounded
    // (allow-listed).
    "q181_histogram_quantile" -> ((s, dir) => {
      val cumW = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val m = Tables.events(s, dir)
        .select(col("event_type"), expr(microExpr).as("micro"))
        .withColumn("bucket", expr(bucketExpr))
      val shard = m.groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
      val merged = shard.groupBy("bucket").agg(sum("n").as("n"))
      val direct = m.groupBy("bucket").agg(count(lit(1)).as("n"))
      val bad = merged.as("a").join(direct.as("b"), Seq("bucket"), "full_outer")
        .filter(!(col("a.n") <=> col("b.n")))
        .agg(count(lit(1)).as("n_bad"))
      val tot = merged.agg(sum("n").as("n_total"))
      val pcts = explode(array(lit(50), lit(95), lit(99))).as("pct")
      val est = merged.withColumn("cum", sum(col("n")).over(cumW))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("cum"), col("n_total"), pcts)
        .withColumn("target", expr("(n_total * pct + 99) div 100"))
        .filter(col("cum") >= col("target"))
        .groupBy("pct", "target").agg(min("bucket").as("est_bucket"))
      val ex = m.groupBy("micro").agg(count(lit(1)).as("n"))
        .withColumn("cum", sum(col("n")).over(Window.orderBy("micro")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .select(col("micro"), col("cum"), col("n_total"), pcts)
        .filter(col("cum") >= expr("(n_total * pct + 99) div 100"))
        .groupBy("pct").agg(min("micro").as("exact_micro"))
      est.join(ex, Seq("pct"))
        .crossJoin(broadcast(bad))
        .select(col("pct"), col("target"),
          (col("est_bucket") * 500).as("bucket_lo"), col("exact_micro"),
          (col("exact_micro") >= col("est_bucket") * 500 &&
            col("exact_micro") < col("est_bucket") * 500 + 500).as("contained"),
          (abs(col("exact_micro") - (col("est_bucket") * 500 + 250)) <= 250)
            .as("mid_err_ok"),
          (col("n_bad") === 0).as("merge_exact"))
    })
  )

  override val oracles: Map[String, String] = Map(

    "q113_zorder_layout" -> {
      val dz = (0 until 8).map(i =>
        dMortonBit("x", i, 0) + " | " + dMortonBit("y", i, 1))
        .mkString("(", " | ", ")")
      s"""WITH xy AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
         z AS (SELECT x, y, ($dz >> 8) AS zblock FROM xy)
         SELECT zblock, count(*)::BIGINT AS cnt,
                min(x) AS min_x, max(x) AS max_x,
                min(y) AS min_y, max(y) AS max_y,
                (max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS bbox_area
         FROM z GROUP BY zblock"""
    },

    "q114_merge_upsert" ->
      """WITH target AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_orderkey % 4 != 3),
         chg AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 2 = 0 THEN 'U' ELSE 'D' END AS op,
                  o_totalprice + 10.0 AS new_price
           FROM orders WHERE o_orderkey % 3 = 0)
         SELECT coalesce(t.o_orderkey, c.o_orderkey) AS o_orderkey,
                t.o_orderstatus AS o_orderstatus,
                CASE WHEN c.op IS NOT NULL THEN c.new_price
                     ELSE t.o_totalprice END AS o_totalprice,
                CASE WHEN c.op IS NULL THEN 'keep'
                     WHEN t.o_orderkey IS NOT NULL THEN 'update'
                     ELSE 'insert' END AS action
         FROM target t FULL OUTER JOIN chg c ON t.o_orderkey = c.o_orderkey
         WHERE c.op IS NULL OR c.op != 'D'""",

    "q115_inverted_index" ->
      s"""WITH $dTok,
         t AS (SELECT doc_id, unnest(toks) AS term FROM tok),
         cnt AS (SELECT term, count(*)::BIGINT AS tf,
                        count(DISTINCT doc_id)::BIGINT AS df
                 FROM t GROUP BY term),
         dist AS (SELECT DISTINCT term, doc_id FROM t),
         rk AS (SELECT term, doc_id,
                       row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
                FROM dist),
         post AS (SELECT term,
                         string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
                  FROM rk WHERE rn <= 10 GROUP BY term)
         SELECT c.term AS term, c.df AS df, c.tf AS tf, p.postings AS postings
         FROM cnt c JOIN post p ON c.term = p.term
         WHERE c.df >= 20""",

    "q116_token_waterfill" ->
      """WITH src AS (SELECT source, sum(n_chars)::BIGINT AS t
                      FROM documents GROUP BY source),
         tot AS (SELECT sum(t)::BIGINT AS total, count(*)::BIGINT AS n FROM src),
         pre AS (SELECT source, t,
                   row_number() OVER (ORDER BY t, source) AS k,
                   (sum(t) OVER (ORDER BY t, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS prefix,
                   total, n, (total * 6) // 10 AS budget
                 FROM src, tot),
         cap AS (SELECT (budget - (prefix - t)) // (n - k + 1) AS cap
                 FROM pre
                 WHERE prefix - t + (n - k + 1) * t >= budget
                 ORDER BY k LIMIT 1)
         SELECT p.source AS source, p.t AS t,
                least(p.t, c.cap) AS alloc, c.cap AS cap
         FROM pre p, cap c""",

    "q117_rolling_distinct" ->
      """WITH ud AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
         contrib AS (SELECT DISTINCT day + i::INTEGER AS obs_day, user_id
                     FROM ud, generate_series(0, 6) AS g(i)),
         days AS (SELECT DISTINCT day AS obs_day FROM ud)
         SELECT c.obs_day AS obs_day, count(*)::BIGINT AS u7
         FROM contrib c JOIN days d ON c.obs_day = d.obs_day
         GROUP BY c.obs_day""",

    "q118_retention_cohorts" ->
      """WITH uw AS (SELECT DISTINCT user_id,
                       date_trunc('week', ts)::DATE AS week FROM events),
         first AS (SELECT user_id, min(week) AS cohort_week
                   FROM uw GROUP BY user_id)
         SELECT f.cohort_week AS cohort_week,
                date_diff('day', f.cohort_week, u.week) // 7 AS week_no,
                count(DISTINCT u.user_id)::BIGINT AS users
         FROM uw u JOIN first f ON u.user_id = f.user_id
         GROUP BY 1, 2""",

    "q119_skyline" ->
      """WITH lvl AS (SELECT l_returnflag, l_linestatus,
                        l_extendedprice AS price, max(l_quantity) AS qmax
                      FROM lineitem GROUP BY 1, 2, 3),
         r AS (SELECT l_returnflag, l_linestatus, price, qmax,
                 max(qmax) OVER (PARTITION BY l_returnflag, l_linestatus
                   ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
               FROM lvl)
         SELECT l_returnflag, l_linestatus, price, qmax
         FROM r WHERE prev_best IS NULL OR qmax > prev_best""",

    "q120_mode_per_group" ->
      """WITH c AS (SELECT user_id, event_type, count(*)::BIGINT AS cnt
                    FROM events GROUP BY 1, 2),
         r AS (SELECT user_id, event_type, cnt,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY cnt DESC, event_type DESC) AS rn
               FROM c)
         SELECT user_id, event_type AS mode_event, cnt FROM r WHERE rn = 1""",

    // within_tol is computed spark-side from the live sketch; the
    // oracle pins it TRUE, so a drifting percentile_approx fails the
    // hash gate. exact_p50 is the R-1 lower-nearest-rank median.
    "q121_quantile_audit" ->
      """WITH r AS (SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
         SELECT l_returnflag, l_extendedprice AS exact_p50,
           TRUE AS within_tol
         FROM r WHERE rn = (n + 1) // 2""",

    "q122_duplicate_passages" -> {
      val gram8 = (0 until 8).map(o => s"toks[i+$o]").mkString(" || ' ' || ")
      s"""WITH tok AS (SELECT doc_id, $dToks AS toks FROM documents),
         w AS (SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(toks) - 7, 4),
                   i -> ('0x' || substr(md5($gram8), 1, 12))::BIGINT)) AS h
               FROM tok WHERE len(toks) >= 8)
         SELECT h, count(DISTINCT doc_id)::BIGINT AS n_docs,
                count(*)::BIGINT AS n_occ, min(doc_id) AS first_doc
         FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2""" },

    "q123_compaction_plan" ->
      """WITH x AS (SELECT doc_id, source, n_chars,
                 count(*) OVER (PARTITION BY source)::BIGINT AS rows_,
                 sum(n_chars) OVER (PARTITION BY source)::BIGINT AS bytes,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
               FROM documents),
         y AS (SELECT source, doc_id, rn, rows_,
                 (bytes + 65535) // 65536 AS shards FROM x),
         z AS (SELECT source, doc_id,
                 (rn - 1) // ((rows_ + shards - 1) // shards) AS shard_id
               FROM y)
         SELECT source, shard_id, count(*)::BIGINT AS n_rows,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM z GROUP BY 1, 2""",

    "q124_incremental_agg" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
                round(sum(o_totalprice::DECIMAL(18,4)), 2)::DOUBLE AS revenue
         FROM orders GROUP BY 1""",

    // the oracle PINS the audit flags: sketch drift beyond tolerance
    // or a merged/direct estimator divergence breaks the hash
    "q146_hll_merge" ->
      """SELECT count(DISTINCT user_id)::BIGINT AS n_exact,
           TRUE AS merged_ok, TRUE AS direct_ok, TRUE AS merge_consistent
         FROM events""",

    // the sketch itself (kth minimum) is deterministic, so the oracle
    // recomputes it exactly; est_ok is tolerance-pinned TRUE and
    // merge_law_ok is pinned TRUE (the KMV merge law is exact)
    "q152_kmv_bottomk" ->
      s"""WITH h AS (SELECT source, ${TrainingData.dMd5Long("text", 12)} AS h FROM documents),
         d AS (SELECT DISTINCT source, h FROM h),
         r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM d),
         sk AS (SELECT source, count(*)::BIGINT AS sketch_size,
             CASE WHEN count(*) = $KmvK THEN max(h) END AS kth_hash
           FROM r WHERE rn <= $KmvK GROUP BY source),
         ex AS (SELECT source, count(*)::BIGINT AS n_exact FROM d GROUP BY source),
         gd AS (SELECT DISTINCT h FROM h),
         gr AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM gd),
         g AS (SELECT '__ALL__' AS source, count(*)::BIGINT AS sketch_size,
             CASE WHEN count(*) = $KmvK THEN max(h) END AS kth_hash
           FROM gr WHERE rn <= $KmvK),
         gex AS (SELECT '__ALL__' AS source, count(*)::BIGINT AS n_exact FROM gd),
         u AS (SELECT * FROM sk JOIN ex USING (source)
               UNION ALL SELECT * FROM g JOIN gex USING (source)),
         e AS (SELECT *, CASE WHEN sketch_size < $KmvK THEN sketch_size::DOUBLE
             ELSE round(${(KmvK - 1) * 281474976710656.0} / kth_hash, 6) END AS est_distinct
           FROM u)
         SELECT source, sketch_size, kth_hash, est_distinct, n_exact,
           abs(est_distinct - n_exact::DOUBLE) / n_exact::DOUBLE <= $KmvTol AS est_ok,
           TRUE AS merge_law_ok
         FROM e""",

    // the oracle does the range join the naive way (non-equi join) —
    // hash parity proves the bucketized path found every pair exactly
    // once
    "q157_bucketized_range_join" ->
      """WITH err AS (SELECT event_id AS err_id, ts AS ets FROM events
           WHERE event_type = 'error'),
         pts AS (SELECT event_id, ts FROM events WHERE event_type != 'error'),
         j AS (SELECT p.event_id, e.err_id FROM pts p JOIN err e
               ON e.ets <= p.ts AND p.ts < e.ets + INTERVAL 5 MINUTE)
         SELECT event_id, count(*)::BIGINT AS n_err, min(err_id) AS min_err_id
         FROM j GROUP BY 1""",

    "q158_scd2_history" ->
      """SELECT user_id, event_id, value,
           epoch_ms(ts)::BIGINT AS valid_from_ms,
           epoch_ms(lead(ts, 1) OVER (PARTITION BY user_id
             ORDER BY ts, event_id))::BIGINT AS valid_to_ms,
           lead(ts, 1) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) IS NULL AS is_current
         FROM events WHERE event_type = 'purchase'""",

    "q136_burstiness" ->
      """WITH g AS (SELECT user_id,
             epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS gap
           FROM events),
         a AS (SELECT user_id, count(*)::BIGINT AS n_gaps,
             sum(gap)::BIGINT AS sum_gap,
             sum(gap::DECIMAL(18,0) * gap::DECIMAL(18,0)) AS sum_gap2
           FROM g WHERE gap IS NOT NULL GROUP BY user_id)
         SELECT user_id, n_gaps, sum_gap,
           round((n_gaps::DOUBLE * sum_gap2::DOUBLE
             - sum_gap::DOUBLE * sum_gap::DOUBLE)
             / (sum_gap::DOUBLE * sum_gap::DOUBLE), 6) AS cv2
         FROM a WHERE sum_gap > 0""",

    "q134_tokenizer_fertility" ->
      s"""WITH RECURSIVE ${SubwordSql.ctes()},
         dtc AS (SELECT t.doc_id, count(*)::BIGINT AS w,
             sum(c.n_subwords)::BIGINT AS sw
           FROM swtok t JOIN swcounts c ON c.word = t.term GROUP BY 1)
         SELECT lang, count(*)::BIGINT AS n_docs,
           sum(coalesce(dtc.w, 0))::BIGINT AS words,
           sum(coalesce(dtc.sw, 0))::BIGINT AS subwords,
           round(sum(coalesce(dtc.sw, 0))::DOUBLE
             / sum(coalesce(dtc.w, 0)), 6) AS fertility
         FROM documents d LEFT JOIN dtc USING (doc_id)
         GROUP BY lang""",

    "q125_mad_outliers" ->
      """WITH r1 AS (SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM events WHERE value IS NOT NULL),
         m1 AS (SELECT user_id, value AS med FROM r1 WHERE rn = (n + 1) // 2),
         d AS (SELECT e.event_id, e.user_id, e.value, m1.med,
                 abs(e.value - m1.med) AS dev
               FROM events e JOIN m1 USING (user_id)
               WHERE e.value IS NOT NULL),
         r2 AS (SELECT user_id, dev,
             row_number() OVER (PARTITION BY user_id ORDER BY dev) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM d),
         m2 AS (SELECT user_id, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
         SELECT d.event_id, d.user_id, d.value, d.med, m2.mad
         FROM d JOIN m2 USING (user_id)
         WHERE d.dev > 3 * m2.mad""",

    "q126_token_diversity" ->
      s"""WITH $dTok,
         ex AS (SELECT doc_id, unnest(toks) AS tok FROM tok),
         c AS (SELECT doc_id, tok, count(*)::BIGINT AS cnt FROM ex GROUP BY 1, 2)
         SELECT doc_id, sum(cnt)::BIGINT AS n_tokens,
           sum(cnt * cnt)::BIGINT AS sum_cnt_sq,
           round(1.0 - sum(cnt * cnt)::DOUBLE
             / (sum(cnt)::DOUBLE * sum(cnt)::DOUBLE), 6) AS gini_simpson
         FROM c GROUP BY doc_id""",

    "q127_quality_gate" -> {
      s"""WITH $dTok,
         q AS (SELECT d.doc_id, d.lang,
                 ${TrainingData.dQuality("toks")} AS quality
               FROM documents d JOIN tok USING (doc_id)),
         p AS (SELECT doc_id, lang, quality,
                 percent_rank() OVER (PARTITION BY lang
                   ORDER BY quality DESC, doc_id) AS pr
               FROM q)
         SELECT doc_id, lang, quality, round(pr, 6) AS pr
         FROM p WHERE pr <= 0.7"""
    },

    "q161_cms_heavy_hitters" -> {
      val b = TrainingData.dMd5Long("(i::VARCHAR || '|' || term)", 12)
      s"""WITH $dTok,
         t AS (SELECT unnest(toks) AS term FROM tok),
         tf AS (SELECT term, count(*)::BIGINT AS cnt FROM t GROUP BY 1),
         ix AS (SELECT unnest(generate_series(0, ${CmsD - 1})) AS i),
         h AS (SELECT term, cnt, i, $b % $CmsW AS bucket
               FROM tf CROSS JOIN ix),
         cells AS (SELECT i, bucket, sum(cnt)::BIGINT AS cell
               FROM h GROUP BY 1, 2),
         top AS (SELECT term, cnt FROM tf ORDER BY cnt DESC, term LIMIT 10),
         pr AS (SELECT term, cnt, i, $b % $CmsW AS bucket
               FROM top CROSS JOIN ix),
         est AS (SELECT term, cnt, min(cell)::BIGINT AS est
               FROM pr JOIN cells USING (i, bucket) GROUP BY 1, 2)
         SELECT term, cnt AS n_exact, est, est - cnt AS overcount,
           TRUE AS merge_law_ok
         FROM est"""
    },

    "q162_weighted_reservoir" ->
      s"""WITH s AS (SELECT doc_id,
           (CASE WHEN n_chars >= 2000 THEN 8 WHEN n_chars >= 1000 THEN 4
                 WHEN n_chars >= 500 THEN 2 ELSE 1 END)::BIGINT AS w,
           ((${TrainingData.dMd5Long("doc_id::VARCHAR", 12)} + 1)::DOUBLE
             / 281474976710656.0) AS u
           FROM documents),
         k AS (SELECT doc_id, w,
           CASE WHEN w = 8 THEN sqrt(sqrt(sqrt(u)))
                WHEN w = 4 THEN sqrt(sqrt(u))
                WHEN w = 2 THEN sqrt(u) ELSE u END AS skey
           FROM s)
         SELECT doc_id, w, skey FROM k ORDER BY skey DESC, doc_id LIMIT $WrK""",

    "q163_bloom_semi_join" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n_lines,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_totalprice > 480000.0)
         GROUP BY 1""",

    "q173_decayed_engagement" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts)::BIGINT AS ms FROM events),
         a AS (SELECT max(ms) AS as_of FROM e),
         w AS (SELECT user_id,
             (1::BIGINT << (40 - least((as_of - ms) // 86400000, 40)::INT)) AS w
           FROM e CROSS JOIN a)
         SELECT user_id, count(*)::BIGINT AS n_events,
           sum(w)::BIGINT AS score_num,
           round(sum(w)::DOUBLE / 1099511627776.0, 6) AS score
         FROM w GROUP BY 1""",

    "q170_rendezvous_sharding" -> {
      val ws = TrainingData.dMd5Long("(doc_id::VARCHAR || '|' || i::VARCHAR)", 12)
      s"""WITH e AS (SELECT doc_id, i AS shard, $ws * 16 + i AS ws
           FROM documents CROSS JOIN
             (SELECT unnest(generate_series(0, 8)) AS i)),
         asg AS (SELECT doc_id,
             max(CASE WHEN shard < 8 THEN ws END) % 16 AS a8,
             max(ws) % 16 AS a9
           FROM e GROUP BY 1),
         m AS (SELECT a8, a9, count(*)::BIGINT AS n FROM asg GROUP BY 1, 2),
         audit AS (SELECT
             sum(CASE WHEN a8 != a9 THEN n ELSE 0 END)::BIGINT AS moved,
             sum(n)::BIGINT AS total FROM m)
         SELECT a8, a9, n,
           (moved * 100 >= total * 6 AND moved * 100 <= total * 18) AS churn_ok
         FROM m CROSS JOIN audit"""
    },

    "q177_bm25_topk" ->
      s"""WITH $dTok,
         t AS (SELECT doc_id, unnest(toks) AS term,
                 unnest(generate_series(0, len(toks) - 1)) AS pos FROM tok),
         tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                FROM t GROUP BY 1, 2),
         df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
         stats AS (SELECT count(*)::BIGINT AS n_docs,
                   sum(dl)::BIGINT AS total_dl FROM dl),
         qt0 AS (SELECT doc_id AS query_id, term, min(pos) AS fp
                 FROM t WHERE doc_id < 3 GROUP BY 1, 2),
         qt AS (SELECT query_id, term FROM (SELECT *, row_number()
                  OVER (PARTITION BY query_id ORDER BY fp, term) AS rn
                FROM qt0) WHERE rn <= 4),
         sc AS (SELECT q.query_id, f.doc_id, $bm25Score AS s_micro
                FROM tf f JOIN qt q USING (term) JOIN df USING (term)
                  JOIN dl ON f.doc_id = dl.doc_id CROSS JOIN stats
                WHERE f.doc_id != q.query_id),
         g AS (SELECT query_id, doc_id, sum(s_micro)::BIGINT AS score_micro,
                 count(*)::BIGINT AS n_terms FROM sc GROUP BY 1, 2)
         SELECT query_id, doc_id, score_micro, n_terms, rank FROM
           (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score_micro DESC, doc_id) AS rank FROM g)
         WHERE rank <= 5""",

    "q181_histogram_quantile" ->
      s"""WITH m AS (SELECT event_type, $microExpr AS micro FROM events),
         mb AS (SELECT event_type, micro, $bucketExpr AS bucket FROM m),
         shard AS (SELECT event_type, bucket, count(*)::BIGINT AS n
                   FROM mb GROUP BY 1, 2),
         merged AS (SELECT bucket, sum(n)::BIGINT AS n FROM shard GROUP BY 1),
         direct AS (SELECT bucket, count(*)::BIGINT AS n FROM mb GROUP BY 1),
         bad AS (SELECT count(*)::BIGINT AS n_bad
                 FROM merged FULL JOIN direct USING (bucket)
                 WHERE merged.n IS DISTINCT FROM direct.n),
         tot AS (SELECT sum(n)::BIGINT AS n_total FROM merged),
         cum AS (SELECT bucket, (sum(n) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
                   AS cum FROM merged),
         pcts AS (SELECT unnest([50, 95, 99]) AS pct),
         est AS (SELECT pct, (n_total * pct + 99) // 100 AS target,
                   min(bucket) AS est_bucket
                 FROM cum CROSS JOIN tot CROSS JOIN pcts
                 WHERE cum >= (n_total * pct + 99) // 100 GROUP BY 1, 2),
         vh AS (SELECT micro, count(*)::BIGINT AS n FROM m GROUP BY 1),
         vcum AS (SELECT micro, (sum(n) OVER (ORDER BY micro
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
                    AS cum FROM vh),
         ex AS (SELECT pct, min(micro) AS exact_micro
                FROM vcum CROSS JOIN tot CROSS JOIN pcts
                WHERE cum >= (n_total * pct + 99) // 100 GROUP BY 1)
         SELECT e.pct AS pct, e.target AS target,
           e.est_bucket * 500 AS bucket_lo, x.exact_micro AS exact_micro,
           (x.exact_micro >= e.est_bucket * 500 AND
            x.exact_micro < e.est_bucket * 500 + 500) AS contained,
           (abs(x.exact_micro - (e.est_bucket * 500 + 250)) <= 250) AS mid_err_ok,
           (b.n_bad = 0) AS merge_exact
         FROM est e JOIN ex x USING (pct) CROSS JOIN bad b"""
  )
}
