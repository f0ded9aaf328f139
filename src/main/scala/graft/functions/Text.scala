package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline extension
  * (BASELINE.json north star): tokenization, shingling, content
  * hashing (MinHash / SimHash / rolling fingerprints), language-ID
  * scoring and quality scoring.
  *
  * Everything is a pure Column combinator over Spark's codegen'd
  * collection/string expressions — no UDFs — so the whole battery
  * stays inside WholeStageCodegen and scales linearly with executors.
  *
  * Cross-engine determinism (the DuckDB oracle gate): all content
  * hashes derive from md5 hex (byte-identical in any engine), integer
  * arithmetic is exact, and any double summation is a left-to-right
  * fold (`aggregate`) matching DuckDB's `list_reduce`.
  */
object Text {

  /** Alphanumeric tokens, lowercase-input assumed. Regex (not
    * whitespace split) so leading/double spaces can't produce empty
    * tokens. */
  def tokens(c: Column): Column =
    regexp_extract_all(c, lit("([a-z0-9]+)"), lit(1))

  /** Hex chars [pos, pos+k) of md5 as a non-negative long (k <= 15,
    * window inside the 32 hex chars) — md5Long generalized to an
    * offset, so one digest seeds several INDEPENDENT hash streams
    * (simhash64 draws bits 0-31 and 32-63 from disjoint substrings
    * of the same md5 instead of hashing twice). */
  def md5LongAt(c: Column, pos: Int, k: Int): Column = {
    require(k >= 1 && k <= 15 && pos >= 1 && pos + k <= 33,
      "md5LongAt: need k in [1,15] and [pos, pos+k) inside the 32 hex chars")
    conv(substring(md5(c), pos, k), 16, 10).cast("long")
  }

  /** First `k` hex chars of md5 as a non-negative long (k <= 15).
    * The shared cross-engine hash primitive. */
  def md5Long(c: Column, k: Int): Column = md5LongAt(c, 1, k)

  /** Count-min-sketch bucket of `term` under hash row `i`: md5 of
    * "i|term" mod w — one digest per (i, term). Used by the q161
    * batch sketch (DuckDB mirror:
    * ('0x'||substr(md5(i::VARCHAR||'|'||term),1,12))::BIGINT % w). */
  def cmsBucket(i: Column, term: Column, w: Int): Column =
    pmod(md5Long(concat_ws("|", i.cast("string"), term), 12), lit(w.toLong))

  /** Distinct word n-grams ("shingles") of a token array, joined by
    * single spaces. Empty when there are fewer than n tokens
    * (guarded: sequence(1,0) would yield a DESCENDING range). */
  def shingles(toks: Column, n: Int): Column =
    array_distinct(shinglesWithDuplicates(toks, n))

  /** Word n-grams WITH duplicates — repetition analysis needs the
    * multiset; `shingles` above dedups for set similarity. */
  def shinglesWithDuplicates(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))
    when(size(toks) >= n, grams).otherwise(array())
  }

  /** MinHash signature of a shingle array: for permutation j in
    * 1..numPerm, min over shingles of (a_j * h + b_j) mod p where
    * h = md5Long(shingle, 12) mod p. Returns array<long> of length
    * numPerm; null-free as long as the shingle set is non-empty.
    *
    * p = 1e9+7 keeps every intermediate product < 2^61 (no overflow):
    * a_j, h' < 2^30 after the mod.
    */
  val MinhashP = 1000000007L

  /** Permutation j's coefficients: a_j in [1, p) and b_j in [0, p),
    * the (2j-1)-th and 2j-th outputs of a SplitMix64 stream with a
    * fixed seed. The coefficients must be independent across j: the
    * earlier family (a_j = j*2654435761 mod p, b_j = j*40503 mod p)
    * made permutation j a multiple of one base hash, so the 32
    * "permutations" agreed or disagreed together and a Jaccard-0.97
    * pair missed every band of an 8x4 banding ~0.5% of the time.
    * Registries pin the family by name (MinhashFamily). */
  def minhashCoeffA(j: Int): Long = 1 + java.lang.Math.floorMod(splitMix64(2L * j - 1), MinhashP - 1)
  def minhashCoeffB(j: Int): Long = java.lang.Math.floorMod(splitMix64(2L * j), MinhashP)

  /** The name a signature registry pins for signatures made with
    * minhashCoeffA/B, and the name state written under the earlier,
    * correlated family reads as (a sidecar of "minhash", or no
    * sidecar at all). State of the retired family is refused, never
    * probed or merged: its signatures do not agree with today's. */
  val MinhashFamily = "minhash:splitmix64"
  val RetiredMinhashFamily = "minhash"

  /** The i-th output of SplitMix64 (Steele, Lea & Flood 2014) seeded
    * with MinhashSeed: the mix of seed + i * golden gamma. */
  private val MinhashSeed = 0x6A09E667F3BCC909L
  private def splitMix64(i: Long): Long = {
    var z = MinhashSeed + i * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** md5Long(_, k) mod `modulus` of every element — compute ONCE into
    * a column, then feed minhashFromHashes / simhashFromHashes, so the
    * md5s aren't re-evaluated per permutation/bit. */
  def elementHashes(arr: Column, k: Int, modulus: Long): Column =
    transform(arr, s => pmod(md5Long(s, k), lit(modulus)))

  /** MinHash signature from precomputed shingle hashes (values in
    * [0, MinhashP)): for permutation j in 1..numPerm, min over
    * shingles of (a_j * h + b_j) mod p. Returns array<long>.
    * p = 1e9+7 keeps every product < 2^61 (no overflow). */
  def minhashFromHashes(hashes: Column, numPerm: Int): Column = {
    val p = lit(MinhashP)
    val mins = (1 to numPerm).map { j =>
      array_min(transform(hashes, h => pmod(lit(minhashCoeffA(j)) * h + lit(minhashCoeffB(j)), p)))
    }
    array(mins: _*)
  }

  def minhashSignature(shingleArr: Column, numPerm: Int): Column =
    minhashFromHashes(elementHashes(shingleArr, 12, MinhashP), numPerm)

  /** MinHash as codegen'd AGGREGATE expressions over an exploded
    * (id, shingle-hash) relation — the scale path. One md5 per
    * shingle row; the 32 permuted mins run inside whole-stage-codegen
    * hash aggregation with map-side partial aggregation, so only
    * |docs| * numPerm values ever shuffle. Use instead of
    * minhashFromHashes (array fold, interpreted) for large corpora.
    * Output columns are named mh_1..mh_numPerm. */
  def minhashAggs(hashCol: Column, numPerm: Int): Seq[Column] =
    (1 to numPerm).map { j =>
      min(pmod(lit(minhashCoeffA(j)) * hashCol + lit(minhashCoeffB(j)), lit(MinhashP)))
        .as(s"mh_$j")
    }

  /** SimHash from precomputed 16-bit token hashes (with multiplicity):
    * bit j of the fingerprint is set iff the sum over tokens of
    * (2*bit_j - 1) is >= 0 (ties set the bit). Integer arithmetic
    * only — engine-deterministic. */
  def simhashFromHashes(hashes: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 16, "simhash: bits must be in [1,16]")
    val bitSums = (0 until bits).map { j =>
      val contrib = aggregate(hashes, lit(0L),
        (acc, h) => acc + (pmod(floor(h / math.pow(2, j).toLong).cast("long"), lit(2L)) * 2L - 1L))
      when(contrib >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitSums.reduce(_ + _)
  }

  def simhash(toks: Column, bits: Int): Column =
    simhashFromHashes(transform(toks, t => md5Long(t, 4)), bits)

  /** Polynomial rolling hash of the full token stream:
    * fold(tokens, 0, (acc, t) => (acc*31 + h(t)) mod p) with
    * h(t) = md5Long(t, 8) mod 1e6+3. Order-sensitive by design —
    * the document-identity fingerprint. */
  val FingerprintP = 1000000007L

  def rollingFingerprint(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => pmod(acc * 31L + pmod(md5Long(t, 8), lit(1000003L)), lit(FingerprintP)))

  /** Min over all w-token window polynomial hashes — a winnowing-style
    * locality fingerprint: equal for documents sharing their most
    * "extreme" window, robust to prefix/suffix edits. Null if fewer
    * than w tokens. */
  def windowFingerprint(toks: Column, w: Int): Column = {
    val grams = shingles(toks, w)
    array_min(transform(grams, g => md5Long(g, 12)))
  }

  /** Per-language stopword hit count over a token array. */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(stopwords)))

  /** Language-ID heuristic scores: fraction of tokens that are
    * stopwords of each candidate language. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Ratio of distinct tokens to total tokens (lexical diversity);
    * exact rational -> double (identical across engines). */
  def typeTokenRatio(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  /** Heuristic quality score in [0,1]:
    * 0.4 * min(n_tokens/100, 1) + 0.4 * typeTokenRatio
    * + 0.2 * (1 - stopword_ratio). All terms are exact int ratios so
    * the double combination is engine-deterministic. */
  def qualityScore(toks: Column): Column = {
    val n = size(toks).cast("double")
    val lenTerm = least(n / 100.0, lit(1.0))
    val diversity = typeTokenRatio(toks)
    val stopRatio = stopwordHits(toks, LangStopwords.head._2).cast("double") / size(toks)
    round(lenTerm * 0.4 + diversity * 0.4 + (lit(1.0) - stopRatio) * 0.2, 6)
  }

  /** BPE-ish subword count: alphanumeric runs plus punctuation runs —
    * the standard pre-tokenizer shape (letters | digits | other). */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(c, lit("([a-z]+|[0-9]+|[^a-z0-9 ]+)"), lit(1)))

  /** PII scrubbing for training corpora: emails, IPv4s, and
    * international-ish phone numbers replaced by typed placeholders.
    * Conservative RE2-compatible patterns (no lookaround, no
    * backrefs) so ANY regex engine in the pipeline — Spark (Java),
    * DuckDB (RE2), a downstream filter — applies the identical rule.
    * Order matters: emails first (their local part can look like a
    * phone), then IPs (digit runs with dots), then phones. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+?[0-9][0-9()\\-. ]{6,}[0-9]"

  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")

  /** Count of PII matches by kind, BEFORE scrubbing (audit metric). */
  def piiCounts(c: Column): Seq[(String, Column)] = Seq(
    "n_email" -> size(regexp_extract_all(c, lit(s"($EmailRe)"), lit(1))),
    "n_ip" -> size(regexp_extract_all(c, lit(s"($Ipv4Re)"), lit(1))),
    "n_phone" -> size(regexp_extract_all(c, lit(s"($PhoneRe)"), lit(1))))
}
