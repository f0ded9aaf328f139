package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration._

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.LocalRows
import org.apache.spark.sql.types._
import graft.functions.Text

/** Deduplication operators for training-data curation at 100 TB:
  * exact (hash-groupBy), near-dup by n-gram Jaccard (inverted-index
  * join, NOT a cross join), MinHash+LSH (banded candidate generation
  * so only same-bucket docs ever meet in a shuffle), and SimHash
  * (constant-size fingerprint grouping).
  *
  * Scale design notes:
  *  - every pairwise stage is blocked: pairs are generated per
  *    shingle / per LSH band bucket, never corpus × corpus;
  *  - hot shingles (document-frequency > maxDf) are dropped before
  *    the self-join — the classic stop-shingle guard that bounds the
  *    k^2 blowup of a shingle shared by k documents;
  *  - all hashes are md5-derived Column expressions (codegen'd,
  *    engine-deterministic), no UDFs.
  */
object Dedup {

  /** Exact dedup on an arbitrary key expression: keeps the smallest
    * `idCol` per key and reports the group size. One shuffle on the
    * (high-cardinality) hash key; partial aggregation does the rest.
    *
    * NULL keys never deduplicate against each other (review): a
    * null-propagating key expression — md5(concat(title, body)) with
    * a NULL title — would otherwise land every null-key row in ONE
    * window partition (SQL PARTITION BY groups NULLs together) and
    * silently drop all but the min-id one. An unknown key is not
    * evidence of duplication, so each null-key row keeps itself
    * (dup_count 1) via a per-row null discriminator; dedup_key stays
    * null so callers can count/inspect the unkeyed population. */
  def exactDedup(df: DataFrame, idCol: String, key: Column): DataFrame = {
    // (key, null) for keyed rows: one group per key. (null, id) for
    // unkeyed rows: one group per ROW. Two partition columns, so no
    // surrogate string can ever collide with a real key.
    val nullDisc = when(col("dedup_key").isNull, col(idCol))
    val w = Window.partitionBy(col("dedup_key"), nullDisc).orderBy(idCol)
    df.withColumn("dedup_key", key)
      .withColumn("rn", row_number().over(w))
      .withColumn("dup_count", count(lit(1))
        .over(Window.partitionBy(col("dedup_key"), nullDisc)))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** (id, shingles). Three deliberate plan choices:
    *  - Spread.byKey BEFORE the shingle projection: a small corpus
    *    can arrive as one input split (and AQE would coalesce a
    *    keyless repartition back down), leaving the CPU-heavy regex
    *    and shingle HOFs on one core;
    *  - tokens materialized through a projection boundary: inlining
    *    tokens() into the shingle lambda re-runs the tokenizer regex
    *    per element_at (CollapseProject keeps the boundary because
    *    the alias is referenced more than once);
    *  - no size(shingles)>0 filter: predicate pushdown would clone
    *    the whole shingle expression below the projection (observed
    *    10x cost); downstream explode() drops empty arrays itself. */
  def shingleSets(df: DataFrame, idCol: String,
                  textCol: String, n: Int): DataFrame =
    // tokenTable is ALREADY id-hash-partitioned at defaultParallelism
    // and the shingle projection preserves that physical
    // partitioning, so the composed path skips the public entry's
    // trailing Spread — the second exchange bought nothing on this
    // path and cost a full (id, shingles) shuffle per call (review)
    shingleProjection(tokenTable(df, idCol, textCol), n)

  /** Shared (id, toks) token table: the tokenizer regex is the one
    * text pass every lexical family needs (shingles, simhash token
    * hashes, winnow positioned grams) — materialize THIS once and
    * feed them all (the q193 scorecard discipline) instead of
    * re-tokenizing per family. */
  def tokenTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(textCol).as("doc_text"))
      .transform(Spread.byKey("id"))
      .select(col("id"), Text.tokens(col("doc_text")).as("toks"))

  /** Shingle sets over an already-built (id, toks) token table. */
  def shingleSetsFromTokens(tok: DataFrame, n: Int): DataFrame =
    // keyed exchange AFTER the expensive projection: callers
    // materialize this table (localCheckpoint preserves the physical
    // partitioning), so id-keyed consumers — the minhash signature
    // aggregation above all — read it already partitioned and skip
    // their own shuffle. (ReuseExchange alone does NOT deduplicate
    // the consumers: column pruning rewrites each subtree below the
    // exchange — hence the explicit materialize() in the pair ops.)
    // This PUBLIC entry keeps the Spread for externally-built,
    // arbitrarily-partitioned token tables; the composed shingleSets
    // path arrives pre-partitioned from tokenTable and skips it.
    shingleProjection(tok, n).transform(Spread.byKey("id"))

  private def shingleProjection(tok: DataFrame, n: Int): DataFrame =
    tok.select(col("id"), Text.shingles(col("toks"), n).as("shingles"))

  /** All document pairs (idA < idB) with n-gram Jaccard similarity
    * >= threshold, via an inverted shingle index:
    * explode distinct shingles -> drop shingles with document
    * frequency > maxDf -> self-join per shingle -> count
    * intersections -> join |A|,|B| -> jaccard = inter/(|A|+|B|-inter).
    */
  /** Materialization for multi-consumer intermediates (the shingle
    * table). Default: lazy localCheckpoint — materialized once on
    * first use (MEMORY_AND_DISK), no extra job, lineage truncated.
    * Cluster caveat: localCheckpoint data dies with its executor; for
    * long-running 1000-executor jobs pass a sturdier strategy
    * (persist(MEMORY_AND_DISK_2), or write+read a bucketed table). */
  type Materialize = DataFrame => DataFrame
  val DefaultMaterialize: Materialize = _.localCheckpoint(false)

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double, maxDf: Int = 100,
                   materialize: Materialize = DefaultMaterialize): DataFrame =
    jaccardPairsFromShingles(
      materialize(shingleSets(df, idCol, textCol, n)), threshold, maxDf)

  /** Same pair generation over an ALREADY-built (id, shingles) table —
    * callers that need the shingle table for more than one consumer
    * (e.g. pairs + minhash signatures) materialize it once and pass
    * it here, saving a full tokenize+shingle pass per consumer. */
  def jaccardPairsFromShingles(sh: DataFrame, threshold: Double,
                               maxDf: Int = 100): DataFrame =
    interPairs(sh, maxDf)
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Doc-in-doc CONTAINMENT pairs (Broder's asymmetric measure):
    * containment of A in B is |A∩B| / |A| — it catches quote
    * inclusion and partial copies that resemblance (Jaccard) misses:
    * a 50-shingle doc pasted whole into a 5000-shingle doc scores
    * jaccard ~0.01 but containment 1.0. Same inverted-index blocking
    * + hot-shingle guard as jaccardPairsFromShingles; the threshold
    * (permille, e.g. 900 = 0.9) compares by integer cross-multiply
    * against min(|A|,|B|) — the better-contained direction — so the
    * output is exact BIGINTs end-to-end, no double division. */
  def containmentPairs(sh: DataFrame, permille: Int,
                       maxDf: Int = 100): DataFrame =
    interPairs(sh, maxDf)
      .filter(col("inter") * 1000 >= lit(permille.toLong) * least(col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b"), col("inter"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"))

  /** PREFIX-FILTERED similarity self-join (the PPJoin family): a
    * candidate-generation alternative to the full inverted index.
    * Order every doc's shingles by a GLOBAL canonical order (document
    * frequency ascending, rarest first), keep only the first
    * |A| - ceil(t*|A|) + 1 of each — two sets with jaccard >= t MUST
    * share a prefix element, so indexing just the prefixes preserves
    * completeness while the index shrinks toward (1-t)·Σ|A| (at
    * t=0.9 it's ~10% of the full index — the high-threshold scale
    * path). Candidates verify with an exact array_intersect. The
    * threshold is permille so the prefix length stays pure-integer:
    * ceil(p*n/1000) = (p*n + 999) div 1000.
    *
    * No maxDf guard — prefix filtering is COMPLETE by the theorem,
    * and q169's oracle is the BRUTE-FORCE jaccard join, so parity
    * proves no pair is lost. (The hot-prefix safety valve at scale
    * is raising t, which shrinks every prefix, not dropping
    * shingles.) */
  def prefixFilterPairs(sh: DataFrame, permille: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = sh.select(col("id"), explode(col("shingles")).as("shingle"))
    val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("id").orderBy(col("df"), col("shingle"))
    // materialized: the prefix table feeds BOTH sides of the
    // candidate self-join — without this the df-join + window
    // upstream computes twice (the q110 multi-consumer rule)
    val pref = DefaultMaterialize(inv.join(dfreq, "shingle")
      .withColumn("rn", row_number().over(w))
      .join(sh.select(col("id"), size(col("shingles")).as("n_sh")), "id")
      .filter(col("rn") <=
        col("n_sh") - floor((col("n_sh") * permille + 999) / 1000) + 1)
      .select("id", "shingle", "n_sh", "rn"))
    // Two more PPJoin prunes ride the candidate join, both
    // completeness-preserving (q169's brute-force oracle proves it):
    //  - LENGTH filter: jaccard >= t forces min(|A|,|B|) >=
    //    t*max(|A|,|B|) — size-incompatible pairs never reach verify;
    //  - POSITIONAL filter: at a shared prefix element with canonical
    //    positions (i, j), overlap <= 1 + min(|A|-i, |B|-j); jaccard
    //    >= t needs overlap*(1000+t') >= t'*(|A|+|B|) (t' permille).
    //    The bound is tight-valid at the pair's FIRST shared element
    //    (nothing shared precedes it), so keeping pairs where ANY
    //    matched row passes loses nothing.
    val cand = pref.as("a").join(pref.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id") &&
          least(col("a.n_sh"), col("b.n_sh")) * 1000 >=
            greatest(col("a.n_sh"), col("b.n_sh")) * permille &&
          (lit(1) + least(col("a.n_sh") - col("a.rn"), col("b.n_sh") - col("b.rn"))) *
            (1000 + permille) >= (col("a.n_sh") + col("b.n_sh")) * permille)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cand
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter").cast("double")
        / (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= permille / 1000.0)
      .select("id_a", "id_b", "jaccard")
  }

  /** Shared candidate machinery of the pairwise set measures: the
    * inverted shingle index, hot-shingle guard, per-shingle self-join
    * and intersection count, with both set sizes joined back.
    * Returns (id_a < id_b, inter, n_a, n_b). */
  private def interPairs(sh: DataFrame, maxDf: Int): DataFrame = {
    val sizes = sh.select(col("id"), size(col("shingles")).as("n_sh"))
    val inv = sh.select(col("id"), explode(col("shingles")).as("shingle"))
    // Hot-shingle guard as partial-agg + broadcast anti-join, NOT a
    // window over the raw rows: a window partitioned by shingle has
    // no map-side combine, so the 10^7-document stop-shingle this
    // guard exists for would funnel through one task before being
    // dropped. The groupBy is partial-agg bounded (one row per
    // shingle per mapper) and the hot list broadcast stays tiny by
    // construction (<= |inv| / maxDf entries).
    val hot = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("shingle")
    val filtered = inv.join(broadcast(hot), Seq("shingle"), "left_anti")
    val pairs = filtered.as("a").join(filtered.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
  }

  /** INCREMENTAL near-dup: pairs between a NEW batch (isNew rows of
    * the shingle table) and the EXISTING corpus only — the candidate
    * generation continuous ingestion runs per batch: new shingles
    * probe the inverted index, old x old pairs are never recomputed.
    * Same hot-shingle guard as jaccardPairsFromShingles, with df
    * counted over the WHOLE corpus (a stop-shingle is a global
    * property, not a per-batch one). Returns (id_new, id_old,
    * jaccard) for pairs >= threshold. */
  def jaccardPairsIncremental(sh: DataFrame, isNew: Column,
                              threshold: Double, maxDf: Int = 100): DataFrame = {
    val sizes = sh.select(col("id"), size(col("shingles")).as("n_sh"))
    val inv = sh.select(col("id"), isNew.as("is_new"),
      explode(col("shingles")).as("shingle"))
    val hot = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("shingle")
    val filtered = inv.join(broadcast(hot), Seq("shingle"), "left_anti")
    val pairs = filtered.filter(col("is_new"))
      .select(col("id").as("id_new"), col("shingle"))
      .join(filtered.filter(!col("is_new"))
        .select(col("id").as("id_old"), col("shingle")), "shingle")
      .groupBy("id_new", "id_old").agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("id").as("id_new"), col("n_sh").as("n_a")), "id_new")
      .join(sizes.select(col("id").as("id_old"), col("n_sh").as("n_b")), "id_old")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_old", "jaccard")
  }

  /** MinHash+LSH candidate pairs, verified with exact Jaccard.
    * numPerm = bands * rowsPerBand; docs agreeing on ALL rows of any
    * band become candidates (banded on a md5 of the band slice, so
    * the join key is a single string). Returns (id_a, id_b, jaccard)
    * for verified pairs >= threshold.
    */
  /** Exploded (id, shingle) relation with per-shingle md5 hash —
    * shared scale-path input for minhash signatures. */
  /** Exploded (id, h) shingle-hash table — the md5 pass both the
    * minhash and OPH signature builds consume; materialize it once
    * when feeding both (the q193 scorecard discipline). */
  def shingleHashes(sh: DataFrame): DataFrame =
    sh.select(col("id"), explode(col("shingles")).as("s"))
      .select(col("id"), pmod(Text.md5Long(col("s"), 12), lit(Text.MinhashP)).as("h"))

  /** MinHash signature table (id, mh_1..mh_numPerm) via codegen'd
    * min-aggregates over the exploded shingle hashes — the
    * interpreted array-fold variant is 100x slower at sf0.1. */
  private[operators] def minhashSigTable(sh: DataFrame, numPerm: Int): DataFrame =
    minhashSigTableFromHashes(shingleHashes(sh), numPerm)

  /** Signature table over an already-built (id, h) hash table. */
  def minhashSigTableFromHashes(hashes: DataFrame, numPerm: Int): DataFrame = {
    val aggs = Text.minhashAggs(col("h"), numPerm)
    hashes.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band-bucket candidate pairs (id_a < id_b, distinct) from a
    * wide (id, mh_*) signature table — the candidate-generation half
    * of minhashLshPairsFromShingles, exposed so a scorecard can pair
    * it with a SHARED verification pass. */
  def minhashBandCandidates(sigs: DataFrame, bands: Int,
                            rowsPerBand: Int): DataFrame =
    // wide (mh_1..mh_k) signatures: pack into the array shape and
    // reuse the ONE band rule (same comma-joined stringified slots,
    // same md5 — the key value is representation-independent)
    sigBandCandidates(sigs.select(col("id"),
      array((1 to bands * rowsPerBand).map(j => col(s"mh_$j")): _*).as("sig")),
      bands, rowsPerBand)

  /** THE band rule, in one place (review: three private copies had
    * grown — here, NearDupRegistry, and the q194 helper — and a
    * band-key change would have had to land in all three or the
    * scorecard, the registry, and the catalog would silently drift).
    * Band b (0-based) keys slots b*rowsPerBand+1 .. (b+1)*rowsPerBand
    * of an (id, sig array) table as md5 of the comma-joined
    * stringified slots; returns (id, sig, band, band_key) exploded
    * one row per band. */
  def sigBandRows(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val keys = (0 until bands).map { b =>
      val slots = (b * rowsPerBand + 1 to (b + 1) * rowsPerBand)
        .map(j => element_at(col("sig"), j).cast("string"))
      md5(concat_ws(",", slots: _*))
    }
    sigs.select(col("id"), col("sig"), posexplode(array(keys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
  }

  /** Banded LSH candidate pairs over an array-signature table: ids
    * sharing any band key, deduped, id_a < id_b. */
  def sigBandCandidates(sigs: DataFrame, bands: Int,
                        rowsPerBand: Int): DataFrame = {
    val br = sigBandRows(sigs, bands, rowsPerBand)
    br.as("a").join(br.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** MinHash signature per document as ONE array<long> column
    * (id, sig), via the codegen'd min-aggregate scale path (explode +
    * map-side partial agg — the interpreted array-fold variant is
    * ~100x slower at sf0.1). numPerm permutations, shingle size n. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, numPerm: Int): DataFrame =
    minhashSignaturesFromShingles(shingleSets(df, idCol, textCol, n), numPerm)

  /** Signature variant over an already-built (id, shingles) table
    * (see jaccardPairsFromShingles for the shared-consumer story). */
  def minhashSignaturesFromShingles(sh: DataFrame, numPerm: Int): DataFrame =
    minhashSigTable(sh, numPerm)
      .select(col("id"), array((1 to numPerm).map(j => col(s"mh_$j")): _*).as("sig"))

  /** Injective (hop, value) encoding base for OPH densification:
    * hash values are < MinhashP < 2^30, so hop*2^34 + value never
    * collides across distinct (hop, value). */
  private val OphEnc = 1L << 34

  /** ONE-PERMUTATION-HASHING MinHash (Li et al. 2012, "One
    * Permutation Hashing") with rotation densification (Shrivastava
    * & Li 2014, "Densifying One Permutation Hashing via Rotation"):
    * the k-permutation signature from ONE hash evaluation per
    * shingle. The single hash's value space splits into k bins
    * (h mod k); bin b's signature entry is the min hash landing in
    * it; an EMPTY bin borrows the nearest non-empty bin clockwise.
    * Same collision law as k independent permutations (bin-match
    * probability ~= Jaccard), at 1/k the hash compute — on the 100 TB
    * tokenize+hash path, the dominant CPU term drops k-fold while
    * the shuffle stays |docs| x k values (identical to
    * minhashSignatures: the conditional mins partial-aggregate
    * map-side).
    *
    * A borrowed entry encodes (hop distance d, borrowed value v)
    * injectively as d*2^34 + v rather than the paper's v + d*C: two
    * docs agree on a densified entry iff they borrow the SAME value
    * from the SAME distance — exactly densification's collision
    * semantics, with no decode step and no collision-prone constant.
    * Direct entries (d = 0) stay the raw min hash.
    *
    * Returns (id, sig array<long> of length k, n_empty = bins that
    * had no shingle — the densification load, a signature-quality
    * diagnostic: estimates degrade when n_empty/k is large, i.e.
    * docs much shorter than k shingles). */
  def ophSignaturesFromShingles(sh: DataFrame, k: Int): DataFrame =
    ophSignaturesFromHashes(shingleHashes(sh), k)

  /** OPH signatures over an already-built (id, h) hash table (one
    * materialized hash pass can feed BOTH the minhash and OPH
    * signature builds — the q193 scorecard discipline). */
  def ophSignaturesFromHashes(hashes: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "ophSignaturesFromHashes: k must be >= 2")
    // one aggregation, k codegen'd conditional mins — empty bin = NULL
    val mins = (0 until k).map(b =>
      min(when(pmod(col("h"), lit(k)) === b, col("h"))).as(s"b_$b"))
    val bins = hashes.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(b => col(s"b_$b")): _*).as("bins"))
    // `doubled` MUST sit behind a projection boundary (the README
    // plan-notes rule): inlined, the concat(bins, bins) expression is
    // embedded in all 2*k*k element_at references and an interpreted
    // evaluation (e.g. under localCheckpoint materialization)
    // re-builds the 2k-array per reference — measured 14.8 s vs
    // 0.9 s for 5k docs at k=32
    val withDoubled = bins.select(col("id"), col("bins"),
      concat(col("bins"), col("bins")).as("doubled"))
    val sig = transform(sequence(lit(1), lit(k)), j =>
      array_min(filter(
        transform(sequence(lit(0), lit(k - 1)), d =>
          when(element_at(col("doubled"), (j + d).cast("int")).isNotNull,
            d.cast("long") * OphEnc + element_at(col("doubled"), (j + d).cast("int")))),
        x => x.isNotNull)))
    withDoubled.select(col("id"), sig.as("sig"),
      size(filter(col("bins"), x => x.isNull)).cast("long").as("n_empty"))
  }

  /** OPH signatures straight from documents (tokenize -> shingle ->
    * one hash per shingle -> binned mins -> densify). */
  def ophSignatures(df: DataFrame, idCol: String, textCol: String,
                    n: Int, k: Int): DataFrame =
    ophSignaturesFromShingles(shingleSets(df, idCol, textCol, n), k)

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double,
                      materialize: Materialize = DefaultMaterialize): DataFrame =
    // The shingle table feeds THREE consumers (signatures, candidate
    // verify, sizes). Column pruning rewrites each consumer's subtree
    // below the exchange, so ReuseExchange never fires and the
    // tokenize+shingle work would run per consumer (plan audit: 28
    // parquet scans). Materializing it once fixes that (q33 at sf0.1:
    // 7.2s -> 3.0s); see DefaultMaterialize for the cluster caveat.
    minhashLshPairsFromShingles(
      materialize(shingleSets(df, idCol, textCol, n)),
      bands, rowsPerBand, threshold)

  /** LSH pair variant over an already-MATERIALIZED (id, shingles)
    * table (see jaccardPairsFromShingles for the shared-consumer
    * story; pass a materialized table — this op alone reads it three
    * times). */
  def minhashLshPairsFromShingles(sh: DataFrame, bands: Int,
                                  rowsPerBand: Int,
                                  threshold: Double): DataFrame = {
    val cand = minhashBandCandidates(
      minhashSigTable(sh, bands * rowsPerBand), bands, rowsPerBand)
    verifyCandidatesFromShingles(sh, cand, threshold)
  }

  /** Exact-jaccard verification of a candidate pair set against an
    * already-materialized shingle table, through the exploded
    * inverted index (the q31 shape) instead of carrying full shingle
    * ARRAYS through two joins: semi-join (id, shingle) down to
    * candidate ids — a tiny set relative to the corpus — self-join
    * per shingle within it, and keep only candidate pairs. shingles
    * are array_distinct, so the per-shingle match count IS the exact
    * intersection size. Shared by the minhash-LSH and OPH-LSH verify
    * stages (the array_intersect variant measured ~2x slower on the
    * OPH path at sf0.1). */
  def verifyCandidatesFromShingles(sh: DataFrame, cand: DataFrame,
                                   threshold: Double): DataFrame = {
    val candIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val inv = sh.join(candIds, Seq("id"), "left_semi")
      .select(col("id"), explode(col("shingles")).as("shingle"))
    val inter = inv.as("a").join(inv.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(cand, Seq("id_a", "id_b"), "left_semi")
    val sizes = sh.select(col("id"), size(col("shingles")).as("n_sh"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Connected components over near-dup pairs — the clustering step
    * that turns pairwise matches into dedup groups (keep one doc per
    * cluster). Returns (id, cluster) with cluster = the min id of the
    * component under Spark's ordering of the id type: one row per
    * distinct endpoint, and one (null, null) row when an endpoint is
    * null (a null id joins nothing, so it never links two ids).
    *
    * Two paths, one answer. The edge list is bounded by the batch on
    * every ingest caller (a 1000-doc batch yields a few hundred
    * pairs), so one job collects at most LocalEdgeCap + 1 edges and,
    * when no more than the cap arrive, a driver union-find clusters
    * them and the result is a local relation: the job count is fixed
    * whatever the graph's diameter. Above the cap — or for an id type
    * whose equality and ordering the driver does not reproduce
    * exactly — the distributed fixpoint `connectedComponentsLoop` runs
    * (re-evaluating `pairs`); it is also the oracle the property tests
    * hold the driver path to. */
  def connectedComponents(pairs: DataFrame,
                          aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val base = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    // the loop's id column: both endpoints widened to one type by its
    // union (analysis only, no job)
    val id = base.unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
      .schema("src")
    if (!LocalIdTypes(id.dataType)) connectedComponentsLoop(pairs, aCol, bCol)
    else {
      val edges = LocalRows.collect(base
        .select(col("src").cast(id.dataType), col("dst").cast(id.dataType))
        .limit(LocalEdgeCap + 1))
      if (edges.length > LocalEdgeCap) connectedComponentsLoop(pairs, aCol, bCol)
      else LocalRows.relation(pairs.sparkSession,
        StructType(Seq(StructField("id", id.dataType, id.nullable),
          StructField("cluster", id.dataType, id.nullable))),
        unionFind(edges, id.dataType))
    }
  }

  /** Edge cap of connectedComponents' driver path: a constant, not a
    * setting — 100k edges of two ids are a few MB on the driver, and
    * a batch-bounded edge list sits far below it. */
  private[graft] val LocalEdgeCap = 100000

  /** Id types whose driver-side equality (Catalyst values' equals)
    * and ordering match the loop's joins and `least` exactly: integral
    * types and binary-collated strings (compared as UTF-8 bytes).
    * Floating ids (NaN, -0.0 normalisation), decimals and collated
    * strings take the loop. */
  private val LocalIdTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, StringType)

  /** Union-find over collected (src, dst) Catalyst rows, attaching the
    * larger root under the smaller so every root is its component's
    * min id; returns the loop's (id, cluster) rows. Iterative find
    * with path compression: union-by-min alone can build a chain as
    * deep as the component before the first compression. */
  private def unionFind(edges: Array[InternalRow], dt: DataType): Seq[InternalRow] = {
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    var sawNull = false
    edges.foreach { e =>
      val (a, b) = (e.get(0, dt), e.get(1, dt))
      Seq(a, b).foreach(x => if (x == null) sawNull = true else parent.putIfAbsent(x, x))
      if (a != null && b != null) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
      }
    }
    val ids = parent.keySet.asScala.toSeq
    ids.map(i => InternalRow(i, find(i))) ++
      (if (sawNull) Seq(InternalRow(null, null)) else Nil)
  }

  /** The distributed connected components: iterative min-label
    * propagation WITH POINTER JUMPING — connectedComponents' path
    * above LocalEdgeCap edges and the oracle of its driver path.
    * Every node starts as its own label and each round takes the min
    * of (own label, neighbors' labels, label-of-own-label). The
    * label-of-label term is the pointer-jumping step (Shiloach &
    * Vishkin lineage): label values are node ids, so chasing one hop
    * up the label forest per round HALVES the remaining distance to
    * the component root — O(log diameter) rounds where plain
    * propagation needs O(diameter). The combined operator is
    * monotone non-increasing with the same fixpoint (labels constant
    * means every root self-points and no neighbor improves — exactly
    * propagation's fixpoint), so results are bit-identical.
    *
    * Each round localCheckpoints the label table: iterative plans
    * MUST truncate lineage or the DAG grows exponentially. The round
    * count follows the graph, one job per round at least.
    */
  private[graft] def connectedComponentsLoop(pairs: DataFrame,
                                             aCol: String = "id_a",
                                             bCol: String = "id_b"): DataFrame = {
    // one materialization of the (possibly expensive) pair plan; the
    // symmetrized edge list derives from the cached base, not from
    // two fresh evaluations of the pair pipeline.
    val base = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint(true)
    val sym = base
      .unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint(true)
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      val neighborMin = sym.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min("cluster").as("nmin"))
      // Convergence metric rides INSIDE the job that materializes the
      // round (observe -> eager localCheckpoint): one Spark job per
      // round instead of checkpoint + a separate driver count().
      val obs = Observation(s"cc_round_$round")
      // pointer jumping: label values are node ids, so every label is
      // itself a key in the label table — one self-join reads
      // label(label(v)) (jmin below; never null by construction, the
      // coalesce only guards the join shape)
      val jump = labels.select(col("id").as("jid"), col("cluster").as("jmin"))
      val updated = labels.join(neighborMin, col("id") === col("src"), "left")
        .join(jump, col("cluster") === col("jid"), "left")
        .select(col("id"), col("cluster").as("old"),
          least(col("cluster"),
            coalesce(col("nmin"), col("cluster")),
            coalesce(col("jmin"), col("cluster"))).as("cluster"))
        .observe(obs, count(when(col("cluster") =!= col("old"), 1)).as("n_changed"))
        .localCheckpoint(true)
      changed = awaitMetric(obs, "n_changed").getOrElse(
        updated.filter(col("cluster") =!= col("old")).count())
      // free the PREVIOUS round's checkpoint blocks now that the new
      // round is materialized — otherwise one full labels copy per
      // round piles up until the GC-driven ContextCleaner notices.
      val prev = labels
      labels = updated.select("id", "cluster")
      org.apache.spark.sql.graft.CheckpointUtils.unpersistCheckpoint(prev)
    }
    labels
  }

  /** INCREMENTAL connected components: fold a batch of NEW edges into
    * an EXISTING min-id labeling without re-clustering the corpus —
    * the continuous-ingest completion of the dedup loop (q142/q145
    * discover the batch's pairs batch-proportionally; this folds them
    * into the standing clusters the same way).
    *
    * Algorithm: contract every new edge to the endpoints' current
    * cluster reps (an unseen id is its own rep), drop the edges that
    * land inside one cluster, and run the ITERATIVE fixpoint on the
    * contracted graph only — its node set is bounded by 2x|newEdges|,
    * never the corpus. Because reps are min-ids, the contracted
    * min-label fixpoint yields exactly the min-id of each merged
    * component, so the result is IDENTICAL to re-running
    * connectedComponents over the full edge set (the q182 oracle
    * pins this). The corpus-sized work is two equi-joins (rep lookup)
    * and one remap join — single-pass, no iteration; on a cluster the
    * remap can also be deferred by keeping the (old rep -> new rep)
    * mapping as a lookup table.
    *
    * assign: (id, cluster) as produced by connectedComponents;
    * newEdges: (aCol, bCol). Returns the complete updated
    * (id, cluster) covering assign's ids plus the batch's. */
  def connectedComponentsIncremental(assign: DataFrame, newEdges: DataFrame,
                                     aCol: String = "id_a",
                                     bCol: String = "id_b"): DataFrame = {
    val a = assign.select(col("id"), col("cluster"))
    // one materialization: endpoints feed the rep lookup AND the
    // new-id discovery below
    val e = DefaultMaterialize(
      newEdges.select(col(aCol).as("ea"), col(bCol).as("eb")))
    val contracted = e
      .join(a.select(col("id").as("ea"), col("cluster").as("ca")), Seq("ea"), "left")
      .join(a.select(col("id").as("eb"), col("cluster").as("cb")), Seq("eb"), "left")
      .select(coalesce(col("ca"), col("ea")).as("id_a"),
        coalesce(col("cb"), col("eb")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    // fixpoint on the contracted graph only (bounded by the batch)
    val merged = connectedComponents(contracted)
      .select(col("id").as("cluster"), col("cluster").as("newc"))
    // batch ids the standing assignment has never seen join as their
    // own singleton clusters, then everything remaps through merged
    val newIds = e.select(col("ea").as("id"))
      .unionByName(e.select(col("eb").as("id")))
      .distinct()
      .join(a, Seq("id"), "left_anti")
      .withColumn("cluster", col("id"))
    a.unionByName(newIds)
      .join(merged, Seq("cluster"), "left")
      .select(col("id"), coalesce(col("newc"), col("cluster")).as("cluster"))
  }

  /** Read an Observation metric row after its action completed.
    * Metric delivery via the listener bus is asynchronous, so wait
    * (bounded); None if it never arrives. */
  private def awaitRow(obs: Observation): Option[org.apache.spark.sql.Row] =
    try Some(Await.result(obs.future, 10.seconds))
    catch { case scala.util.control.NonFatal(_) => None }

  private def awaitMetric(obs: Observation, name: String): Option[Long] =
    awaitRow(obs).flatMap(r => Option(r.getAs[Any](name)))
      .collect { case n: Number => n.longValue() }

  /** Alternating large-star/small-star connected components — the
    * O(log n)-round variant (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14). connectedComponents' distributed
    * loop above jumps pointers and needs O(log diameter) rounds.
    *
    *  - large-star: per node u, hang every LARGER neighbor off
    *    m = min(N(u) ∪ {u});
    *  - small-star: orient edges large→small, per node u hang every
    *    (smaller) neighbor AND u itself off the minimum.
    *
    * Both preserve connectivity and strictly shrink the potential;
    * at fixpoint the edge set is a star per component. Convergence is
    * detected by the (count, sum-of-parents) pair stabilizing — the
    * metric rides inside each round's checkpoint job via observe()
    * (same one-job-per-round design as connectedComponents).
    * Same contract: (id, cluster = min id of the component).
    */
  def connectedComponentsStar(pairs: DataFrame,
                              aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    // One materialization of the (possibly expensive) pair plan;
    // nodes and the edge frontier both derive from the cached base.
    val base = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .distinct().localCheckpoint(true)
    val nodes = base.select(col("u").as("id"))
      .unionByName(base.select(col("v").as("id")))
      .distinct().localCheckpoint(true)
    var edges = base.filter(col("u") =!= col("v"))

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = oriented.groupBy("u").agg(min("v").as("m"))
      oriented.join(m, "u")
        .select(col("v").as("c"), col("m"))
        .unionByName(m.select(col("u").as("c"), col("m")))
        .filter(col("c") =!= col("m"))
        .select(col("c").as("u"), col("m").as("v"))
        .distinct()
    }

    var prev: Option[(Long, String)] = None
    var converged = edges.isEmpty
    var round = 0
    while (!converged) {
      round += 1
      val obs = Observation(s"ccstar_round_$round")
      val next = smallStar(largeStar(edges))
        .observe(obs, count(lit(1)).as("n"),
          sum(col("v").cast("decimal(38,0)")).as("s"))
        .localCheckpoint(true)
      val cur = awaitRow(obs).map { r =>
        (Option(r.getAs[Any]("n")).collect { case x: Number => x.longValue() }.getOrElse(0L),
          String.valueOf(r.getAs[Any]("s")))
      }.orElse {
        // listener never delivered: fall back to explicit jobs
        Some((next.count(),
          String.valueOf(next.agg(sum(col("v").cast("decimal(38,0)"))).head().get(0))))
      }
      // matching (count, sum) is the cheap signal, not proof — two
      // different edge sets can collide on both. Confirm with an EXACT
      // set-equality check (anti-joins over the two checkpointed
      // frames, so this extra job only runs at suspected fixpoints).
      converged = cur.exists(_._1 == 0L) ||
        (prev == cur &&
          next.join(edges, Seq("u", "v"), "left_anti").isEmpty &&
          edges.join(next, Seq("u", "v"), "left_anti").isEmpty)
      prev = cur
      // free the previous round's checkpoint blocks (and, after round
      // 1, the pair base that initial edges derived from) — the
      // set-equality check above was the last reader.
      val prevEdges = edges
      edges = next
      org.apache.spark.sql.graft.CheckpointUtils.unpersistCheckpoint(prevEdges)
    }
    nodes
      .join(edges.select(col("u").as("id"), col("v").as("parent")), Seq("id"), "left")
      .select(col("id"), coalesce(col("parent"), col("id")).as("cluster"))
  }

  /** Incremental LSH near-dup maintenance — the banded counterpart
    * of jaccardPairsIncremental, i.e. the shape a continuous-ingest
    * pipeline actually runs at 100 TB: the new batch's signatures
    * probe the corpus's band index (at scale, a table bucketed by
    * (band, band_key) maintained across ingests), so candidates are
    * new x old ONLY — old x old pairs never recompute and the
    * per-batch cost is proportional to the batch. Verification is
    * exact Jaccard over the exploded inverted index restricted to
    * candidate ids (the minhashLshPairsFromShingles verify shape),
    * each side semi-joined to ITS candidate role so the per-shingle
    * join never forms new x new or old x old rows.
    * Pass a MATERIALIZED sh — this op reads it four times. */
  def minhashLshPairsIncremental(sh: DataFrame, isNew: Column, bands: Int,
                                 rowsPerBand: Int,
                                 threshold: Double): DataFrame = {
    val numPerm = bands * rowsPerBand
    // THE band rule via sigBandRows (review: this method had grown a
    // FOURTH inline copy of the band-key construction — the exact
    // drift sigBandRows' doc warns about; the minhashBandCandidates
    // pack-to-array pattern applies here verbatim)
    val bandRows = sigBandRows(
        minhashSignaturesFromShingles(sh, numPerm), bands, rowsPerBand)
      .select(col("id"), col("band"), col("band_key"))
      .withColumn("is_new", isNew)
    val cand = bandRows.filter(col("is_new")).as("a")
      .join(bandRows.filter(!col("is_new")).as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_old"))
      .distinct()
    val invNew = sh.join(cand.select(col("id_new").as("id")).distinct(),
        Seq("id"), "left_semi")
      .select(col("id").as("id_new"), explode(col("shingles")).as("shingle"))
    val invOld = sh.join(cand.select(col("id_old").as("id")).distinct(),
        Seq("id"), "left_semi")
      .select(col("id").as("id_old"), explode(col("shingles")).as("shingle"))
    val inter = invNew.join(invOld, "shingle")
      .groupBy("id_new", "id_old").agg(count(lit(1)).as("inter"))
      .join(cand, Seq("id_new", "id_old"), "left_semi")
    val sizes = sh.select(col("id"), size(col("shingles")).as("n_sh"))
    inter
      .join(sizes.select(col("id").as("id_new"), col("n_sh").as("n_a")), "id_new")
      .join(sizes.select(col("id").as("id_old"), col("n_sh").as("n_b")), "id_old")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_old", "jaccard")
  }

  /** SimHash fingerprint per document plus its near-dup bucket size
    * (documents sharing the exact fingerprint). */
  def simhashGroups(df: DataFrame, idCol: String, textCol: String,
                    bits: Int): DataFrame =
    // tokenTable + Text.simhash, not inline copies (review: this
    // method had re-derived both — a tokenizer or hash-width change
    // in the shared helpers would have silently forked these
    // fingerprints from the rest of the lexical family)
    tokenTable(df, idCol, textCol)
      .select(col("id"), Text.simhash(col("toks"), bits).as("simhash"))
      .withColumn("bucket_size", count(lit(1)).over(Window.partitionBy("simhash")))

  /** 64-bit SimHash per document — the production fingerprint width —
    * as EXPLODED aggregation: one md5 per token row, then 64
    * codegen'd conditional-sum aggregates with map-side partial
    * aggregation, so only |docs| x 64 counters ever shuffle. (The
    * array-fold simhashFromHashes makes `bits` interpreted passes
    * over every token array; at 64 bits that trade flips — this is
    * one pass at codegen speed.) Bits 0-31 draw from md5 hex chars
    * 1-8 of each token, bits 32-63 from chars 9-16; a tie (sum 0)
    * sets the bit. Token MULTIPLICITY counts, as in simhashGroups.
    * Documents with zero tokens have no rows after the explode and
    * get no fingerprint — an empty document has no content to
    * fingerprint. Returns (id, fp: long); bit 63 makes fp negative
    * for half the space, which is fine: banding uses arithmetic
    * shift + mask and verification uses bit_count(xor), both
    * sign-agnostic. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhash64FromTokens(tokenTable(df, idCol, textCol))

  /** simhash64 over an already-built (id, toks) token table (one
    * materialized tokenize pass feeds every lexical family — the
    * q193 scorecard discipline). */
  def simhash64FromTokens(tok: DataFrame): DataFrame = {
    val tokh = tok
      .select(col("id"), explode(col("toks")).as("t"))
      .select(col("id"),
        Text.md5LongAt(col("t"), 1, 8).as("h_lo"),
        Text.md5LongAt(col("t"), 9, 8).as("h_hi"))
    val sums = (0 until 64).map { j =>
      val h = if (j < 32) col("h_lo") else col("h_hi")
      sum(shiftright(h, j % 32).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"s_$j")
    }
    // ascending j keeps the (negative) bit-63 term LAST, so every
    // left-to-right partial sum stays in long range — the identical
    // fold order the DuckDB oracle uses (dSims64).
    val fp = (0 until 64)
      .map(j => when(col(s"s_$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    tokh.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"), fp.as("fp"))
  }
}
