package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis + fingerprinting functions for the training-data pipeline
  * surface (builder brief): token counting, quality scoring, language-ID
  * heuristic, rolling-hash fingerprints, shingling and MinHash
  * components. Pure Column compositions (codegen'd, no UDFs) with exact
  * DuckDB-SQL equivalents for the oracle harness.
  *
  * Hashing uses Canon.md5Long (portable 60-bit md5 prefix) so every derived
  * value is reproducible bit-for-bit by the DuckDB oracle.
  */
object TextFns {

  /** Large prime modulus for all hash arithmetic; (P-1)*31 and P*P/2^31-scale
    * products stay far inside 63 bits, so the math is overflow-free under
    * Spark ANSI mode and identical in DuckDB. 2^31-1 (Mersenne). */
  val P: Long = 2147483647L

  /** Whitespace tokenization, empty tokens dropped (split on runs). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Token count — whitespace tokens. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: letter runs + single digits + punctuation marks
    * each count as one token (a cheap deterministic proxy for BPE counts).
    */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"), lit(0)))

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?'\"()\\[\\]-]", ""))

  /** English-stopword hit count over whitespace tokens. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "for", "on", "with", "as", "at", "by", "from", "that", "this")

  def stopwordCount(text: Column): Column =
    size(filter(tokens(lower(text)), t => t.isin(stopwords.map(lit(_)): _*)))

  /** Quality score in [0,1]: blend of length band, stopword ratio and
    * mean-word-length band — the length/punct/stopword shape a filtering
    * pipeline would use. Deterministic double arithmetic, rounded to 6.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val nChr = length(text).cast("double")
    val sw = stopwordCount(text).cast("double")
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    val swRatio = when(nTok > 0, sw / nTok).otherwise(lit(0.0))
    val swScore = least(swRatio * lit(5.0), lit(1.0))
    val meanWord = when(nTok > 0, nChr / nTok).otherwise(lit(0.0))
    val wordScore = when(meanWord.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.5))
    round(lenScore * lit(0.4) + swScore * lit(0.3) + wordScore * lit(0.3), 6)
  }

  /** Language-ID heuristic: score text against per-language marker-token
    * lists (n-gram-free fallback suited to whitespace languages); ties break
    * by language code order, 'und' when no marker hits.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "fast", "slow"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "nicht"),
    "es" -> Seq("el", "la", "los", "las", "es", "con", "para"),
    "fr" -> Seq("le", "la", "les", "est", "avec", "pour", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(lower(text)), t => t.isin(markers.map(lit(_)): _*)))

  def langId(text: Column): Column = {
    // max marker-hit score wins; ties break by alphabetical code order
    // (first `when` that equals the max), 'und' when nothing matches
    val codes = langMarkers.keys.toSeq.sorted
    val scores = codes.map(c => c -> langScore(text, langMarkers(c))).toMap
    val m = greatest(codes.map(scores): _*)
    codes.foldLeft(when(m === 0, lit("und"))) { (acc, c) =>
      acc.when(scores(c) === m, lit(c))
    }
  }

  /** Rolling polynomial fingerprint over token hashes, mod P:
    * fold(acc, h) = (acc*31 + h%P) % P. Order-sensitive (true rolling hash).
    */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), t => pmod(Canon.md5Long(t), lit(P))),
      lit(0L),
      (acc, h) => pmod(acc * lit(31L) + h, lit(P)))

  /** k-word shingles joined by a single space; empty array when fewer than
    * k tokens.
    */
  def shingles(text: Column, k: Int): Column = {
    val w = tokens(text)
    when(size(w) >= k,
      transform(sequence(lit(1), size(w) - lit(k - 1)),
        i => array_join(slice(w, i, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** One MinHash value: min over distinct shingles of (a*h + b) mod P with
    * h = md5Long(shingle) mod P. Null-safe: null (missing) when no shingles.
    */
  def minhash(shingleCol: Column, a: Long, b: Long): Column =
    array_min(transform(array_distinct(shingleCol),
      s => pmod(lit(a) * pmod(Canon.md5Long(s), lit(P)) + lit(b), lit(P))))

  /** Deterministic per-index MinHash coefficients (odd multipliers < P). */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] =
    (0 until k).map { i =>
      // fixed small-prime LCG over the index; values < P, a odd
      val a = (2654435761L * (i + 1) + 1) % P
      val b = (40503L * (i + 1) * (i + 1) + 7) % P
      (if (a % 2 == 0) a + 1 else a, b)
    }

  /** Full MinHash signature as an array column of length k. */
  def minhashSignature(text: Column, shingleK: Int, k: Int): Column =
    array(minhashCoeffs(k).map { case (a, b) =>
      minhash(shingles(text, shingleK), a, b)
    }: _*)
}
