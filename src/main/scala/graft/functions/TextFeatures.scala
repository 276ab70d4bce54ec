package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-feature expressions for the training-data pipeline operators
  * (dedup, language-ID, fingerprinting). Everything is a composition of
  * built-in codegen'd expressions — higher-order functions over arrays, no
  * UDFs — so features pipeline straight over the scan at any scale.
  *
  * The reference pipeline carries free-text columns (customer.address,
  * product.description — reference postgres/init/init.sql:9,17) but does no
  * text analytics; these are the north-star additions.
  */
object TextFeatures {

  /** Distinct character n-gram shingles of `text` (MinHash/Jaccard input).
    * Texts shorter than n yield one truncated shingle rather than none, so
    * every document has a non-empty set.
    *
    * NOTE `array_distinct` on an m-element array is O(m²) string compares
    * in interpreted (non-codegen) HOF eval — fine for specs and small
    * columns, but hot paths should use [[charShinglesAll]] + `explode` +
    * `distinct()` so the dedup runs in Spark's codegen'd hash aggregate.
    */
  def charShingles(text: Column, n: Int): Column =
    array_distinct(charShinglesAll(text, n))

  /** All (non-distinct) character n-gram shingles — pair with
    * `explode(...).distinct()` for the scalable distinct-shingle postings.
    */
  def charShinglesAll(text: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n)))

  /** Exact Jaccard similarity of two (distinct-element) array columns,
    * |A∩B| / |A∪B|, as a double. Integer set sizes → the division is
    * bit-identical across engines.
    */
  def jaccard(a: Column, b: Column): Column = {
    val c = size(array_intersect(a, b)).cast("double")
    c / (size(a) + size(b) - size(array_intersect(a, b)))
  }

  /** The j-th MinHash permutation value of one shingle: a 64-bit hash of the
    * shingle salted with the permutation index. min() of this over a
    * document's shingle set is one signature component; k salts ≈ k
    * independent permutations (standard MinHash practice).
    */
  def minhashPerm(shingle: Column, j: Int): Column =
    xxhash64(shingle, lit(j))

  /** Polynomial rolling-hash fingerprint of the whole text:
    * fold(acc = acc*31 + codepoint mod 1e9+7). Deterministic, order
    * sensitive (unlike a bag-of-words hash), cheap to compute incrementally
    * — the classic document fingerprint. Hot path = the fused codegen'd
    * [[TextExprs.PolyFingerprint]]; [[rollingFingerprintHof]] is the
    * built-in-only reference formulation it is spec-checked against.
    */
  val FpMod = TextExprs.FpMod
  def rollingFingerprint(text: Column): Column =
    TextExprs.polyFingerprint(text)

  /** Reference HOF formulation of [[rollingFingerprint]] — one interpreted
    * lambda dispatch + substring allocation per character; never use on a
    * hot path (18 s vs sub-second fused at sf0.1).
    */
  def rollingFingerprintHof(text: Column): Column =
    aggregate(
      transform(sequence(lit(1), greatest(length(text), lit(1))),
        i => ascii(text.substr(i, lit(1))).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31L + c) % FpMod)

  /** Language-ID marker-word sets: tiny per-language stopword lists — the
    * n-gram-heuristic classifier's features. Scores are whole-word
    * occurrence counts; classification is argmax with a fixed priority
    * order (en > de > fr > es > zh) for exact cross-engine determinism.
    */
  /** The per-language stopword lists — the ONE source of truth:
    * [[TextExprs.WordSetCounts]] fuses them into a single scan, and
    * [[LangMarkers]] derives the equivalent `\b(...)\b` regex patterns
    * from them (zh is a char-class, not a word list, and stays a regex
    * count).
    */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  val LangMarkers: Seq[(String, String)] =
    LangStopwords.map { case (lang, ws) =>
      lang -> ws.mkString("\\b(", "|", ")\\b")
    } :+ ("zh" -> "[\\u4e00-\\u9fff]")

  def langScore(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern))

  /** Argmax over the language scores, ties broken by the fixed order of
    * [[LangMarkers]] (first listed wins).
    */
  def langPredict(scores: Seq[(String, Column)]): Column =
    scores.init.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((lang, s), i), els) =>
        val rest = scores.drop(i + 1).map(_._2)
        when(rest.map(s >= _).reduce(_ && _), lit(lang)).otherwise(els)
    }
}
