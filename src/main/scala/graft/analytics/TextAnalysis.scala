package graft.analytics

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.nativecol.NativeColumn

import graft.expressions.{TokenShingles, TopTokenCount}

/** Text analysis for large-scale corpus pipelines: token statistics,
  * language identification, quality scoring, fingerprinting. All pure
  * column expressions (codegen-eligible, no UDFs) over the `documents`
  * table shape (doc_id, text, lang, source, n_chars).
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, " ")

  /** Evaluate `f` over `value` with `value` BOUND to a lambda variable —
    * `element_at(transform(array(v), f), 1)` is the pure-Column let-binding.
    * Higher-order lambdas evaluate interpreted (no codegen, no
    * common-subexpression elimination), so a lambda body that re-references
    * a non-trivial subtree like `tokens(text)` re-evaluates it per element:
    * `langId`'s argmax chain re-ran each per-language filter ~6×. Binding
    * evaluates the subtree once per row; the lambda variable is a
    * constant-time reference. Semantics are unchanged (pure substitution).
    * The per-window text functions (`shingles`, `topTokenFrac`,
    * `dup2gramFrac`) need no binding: they are native kernels
    * ([[graft.expressions.TokenShingles]], [[graft.expressions.TopTokenCount]]).
    */
  private[analytics] def bound(value: Column)(f: Column => Column): Column =
    element_at(transform(array(value), f), 1)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Characters excluding separators, divided by token count. */
  def avgTokenLen(text: Column): Column =
    (length(text) - tokenCount(text) + 1).cast("double") / tokenCount(text)

  /** Ratio of tokens found in `stopwords`. */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(stopwords)))

  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    stopwordHits(text, stopwords).cast("double") / tokenCount(text)

  /** Per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny and deterministic.
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "y", "una", "por"))

  /** Language-ID: argmax of stopword-hit counts; ties resolve in list
    * order (en > de > fr > es > unknown).
    */
  def langId(text: Column): Column =
    // tokens bound once; the per-language hit counts bound as ONE array so
    // the argmax chain references each count O(1) instead of duplicating
    // its filter+split subtree in `best` and in every `when` arm
    bound(tokens(text)) { tk =>
      bound(array(langStopwords.map { case (_, sw) =>
        size(filter(tk, t => t.isInCollection(sw)))
      }: _*)) { sc =>
        val best = array_max(sc)
        langStopwords.zipWithIndex.foldRight(lit("unknown"): Column) {
          case (((l, _), i), acc) =>
            when(element_at(sc, i + 1) === best && element_at(sc, i + 1) > 0,
              lit(l)).otherwise(acc)
        }
      }
    }

  /** Composite quality score in [0,1]: length factor, stopword presence,
    * token-length normality. Deterministic and SQL-expressible.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenFactor = least(nTok / 50.0, lit(1.0))
    val stopFactor = least(
      stopwordRatio(text, langStopwords.flatMap(_._2)) * 5.0, lit(1.0))
    val shapeFactor = greatest(
      lit(1.0) - abs(avgTokenLen(text) - 5.0) / 10.0, lit(0.0))
    // floor-quantize instead of round(): Spark rounds the shortest decimal
    // repr of the double, DuckDB the binary value — they disagree on exact
    // .xxxx5 boundaries. floor over identical doubles is engine-stable.
    floor((lenFactor * 0.4 + stopFactor * 0.3 + shapeFactor * 0.3) * 10000) / 10000.0
  }

  /** Content fingerprint (exact-dup key): md5 of the raw text. */
  def fingerprint(text: Column): Column = md5(text)

  /** Shingle fingerprint: md5 over the first `n` tokens — a cheap
    * prefix-stability fingerprint for near-dup blocking.
    */
  def prefixFingerprint(text: Column, n: Int): Column =
    md5(array_join(slice(tokens(text), 1, n), " "))

  /** Approximate BPE-ish token count: words plus an extra token per 4 chars
    * of long words (mirrors subword splitting cost).
    */
  def tokenCountBpeIsh(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, w) => acc + lit(1L) + floor(length(w) / 5.0).cast("long"))

  /** Distinct `n`-token shingles, in first-occurrence order: the windows
    * of `n` consecutive tokens of [[tokens]], each joined by `' '` (windows
    * truncate at the tail; docs shorter than `n` yield their whole token
    * list as one shingle). One native pass over the UTF-8 bytes
    * ([[graft.expressions.TokenShingles]]); NULL text yields NULL, so a
    * NULL document has no shingles rather than one NULL shingle.
    */
  def shingles(text: Column, n: Int): Column =
    NativeColumn(TokenShingles(NativeColumn.expr(text), n))

  /** PII scrubbing: emails, phone-shaped digit runs, and IPv4 literals
    * replaced with typed placeholders. Pure `regexp_replace` chain
    * (codegen, replaces every occurrence); patterns use the portable
    * regex subset (no lookaround), so external engines can reproduce
    * the redaction byte-for-byte.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]")
    regexp_replace(ip, "\\+?\\d[\\d -]{7,}\\d", "[PHONE]")
  }

  // --- Repetition signals (Gopher-style quality filters): high values
  // mark boilerplate/spam documents. Pure column expressions; each is
  // floor-quantized to 1e-4 so any engine computing the same IEEE
  // quotient agrees exactly.

  private def q4(c: Column): Column = floor(c * 10000) / 10000.0

  /** Fraction of tokens that are repeats of an earlier token. */
  def dupTokenFrac(text: Column): Column = {
    val tk = tokens(text)
    q4(lit(1.0) - size(array_distinct(tk)).cast("double") / size(tk))
  }

  /** Frequency share of the single most common token: the native
    * [[graft.expressions.TopTokenCount]] (one hashed pass, O(tokens)) over
    * the token count; the quotient stays a Column expression, one IEEE
    * division that any engine reproduces exactly. NULL text yields NULL.
    */
  def topTokenFrac(text: Column): Column =
    q4(NativeColumn(TopTokenCount(NativeColumn.expr(text))).cast("double") /
      size(tokens(text)))

  /** Fraction of 2-token windows that occur more than once: distinct
    * 2-shingles over the window count `max(tokens - 1, 1)`. NULL text
    * yields NULL (`array_size`, unlike `size`, is NULL on NULL under every
    * `sizeOfNull` setting).
    */
  def dup2gramFrac(text: Column): Column =
    q4(lit(1.0) - array_size(shingles(text, 2)).cast("double") /
      greatest(size(tokens(text)) - 1, lit(1)))
}
