package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * column expressions (no UDFs in the hot path), so filters compose with
  * predicate pushdown and whole-stage codegen at 100 TB scale. Each
  * operator has an exact ANSI-SQL twin used as the DuckDB oracle.
  */
object TextAnalysis {

  /** Whitespace tokens of a text column (empty/whitespace-only text → empty
    * array). Spark's trim() strips only ASCII spaces, so a trailing tab or
    * newline would leave a phantom empty token in a bare split — filter
    * them instead of trimming (mirrored in the t1/t2 oracles). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), x => x =!= lit(""))

  /** The one Scala word tokenizer behind the typed maps and UDFs (t5,
    * SimHash, shingles, `rolling_fp`/`simhash60` in SQL): lower-cased
    * whitespace tokens, empties dropped. No `trim`: the empty-token filter
    * already drops the edge tokens, and Java's `trim` would also strip C0
    * control characters, which DuckDB's `trim` in the oracles keeps. */
  def words(text: String): IndexedSeq[String] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      Option(text).getOrElse("").toLowerCase.split("\\s+").filter(_.nonEmpty))

  def tokenCount(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(col("doc_id"), size(tokens(col(textCol))).as("n_tokens"))

  /** Stopword list used by the quality/language heuristics (fixed, public). */
  val EnStopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "on")

  /** The quality rule — length, punctuation/digit ratios, stopword ratio,
    * mean token length (the classic C4-style heuristics, all as column
    * arithmetic) — as its named component columns and the quality label
    * built from them. */
  private def qualityRule(t: Column): (Seq[Column], Column) = {
    val toks = tokens(t)
    val nToks = size(toks)
    val nChars = length(t)
    def ratio(n: Column, d: Column): Column = round(n.cast("double") / greatest(d, lit(1)), 6)
    val punct = nChars - length(regexp_replace(t, "[.,;:!?]", ""))
    val digits = nChars - length(regexp_replace(t, "[0-9]", ""))
    val stopRatio = ratio(size(filter(toks, x => x.isin(EnStopwords: _*))), nToks)
    val meanTokLen = ratio(nChars - nToks + 1, nToks)
    val label = when(nToks < 10, "too_short")
      .when(stopRatio < 0.01, "suspicious")
      .when(meanTokLen > 12.0, "suspicious")
      .otherwise("ok")
    (Seq(nChars.as("n_chars"), nToks.as("n_tokens"), ratio(punct, nChars).as("punct_ratio"),
      ratio(digits, nChars).as("digit_ratio"), stopRatio.as("stopword_ratio"),
      meanTokLen.as("mean_token_len")), label)
  }

  /** Quality scoring: [[qualityRule]]'s components and `quality_label`. */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val (components, label) = qualityRule(col(textCol))
    df.select(col("doc_id") +: components :+ label.as("quality_label"): _*)
  }

  /** Marker-token sets for the n-gram/stopword language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "de" -> Seq("der", "und", "die", "nicht", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "los", "las", "es", "una"))

  /** The language-ID rule as its `score_<lang>` marker-hit columns and the
    * language picked from them: the argmax (fixed priority order on ties —
    * a chained CASE in list order; "und" = undetermined when no hits, "zh"
    * when CJK codepoints are present). Deterministic and expressible
    * identically in the DuckDB oracle. */
  private def langRule(t: Column): (Seq[Column], Column) = {
    val toks = tokens(lower(t))
    val scores = LangMarkers.map { case (lang, ms) =>
      lang -> size(filter(toks, x => x.isin(ms: _*)))
    }
    val maxScore = greatest(scores.map(_._2): _*)
    val pick = scores.foldRight(lit("und")) { case ((lang, sc), els) =>
      when(sc === maxScore && maxScore > 0, lit(lang)).otherwise(els)
    }
    (scores.map { case (lang, sc) => sc.as(s"score_$lang") },
      when(t.rlike("[\\u4e00-\\u9fff]"), "zh").otherwise(pick))
  }

  /** Language ID: [[langRule]]'s per-language scores and `lang_id`. */
  def langId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val (scores, label) = langRule(col(textCol))
    df.select(col("doc_id") +: scores :+ label.as("lang_id"): _*)
  }

  /** Document fingerprint: the exact-dedup key, [[Dedup.contentHash]]. */
  def fingerprint(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(col("doc_id"), Dedup.contentHash(col(textCol)).as("fingerprint"))

  /** The quality label as a single column expression over raw text — for
    * single-pass composites (c1) that gate on quality without paying a
    * separate scan per derived table. */
  def qualityLabelCol(t: Column): Column = qualityRule(t)._2

  /** The language id as a single column expression over raw text. */
  def langIdCol(t: Column): Column = langRule(t)._2

  /** BPE-ish regex token counting: letter runs, digit runs, and single
    * non-alphanumeric marks — the tokenizer-shaped budget count used when a
    * real BPE vocab isn't loadable (the usual pre-tokenizer split classes).
    * The pattern set is the common Java-regex/RE2 subset so the DuckDB
    * oracle counts identically. Pure codegen'd regexp_count expressions. */
  def regexTokens(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.select(
      col("doc_id"),
      regexp_count(t, lit("[A-Za-z]+")).as("n_alpha_runs"),
      regexp_count(t, lit("[0-9]+")).as("n_digit_runs"),
      regexp_count(t, lit("[^A-Za-z0-9\\s]")).as("n_marks"))
      .withColumn("n_bpe_tokens",
        col("n_alpha_runs") + col("n_digit_runs") + col("n_marks"))
  }

  /** 64-bit polynomial rolling hash (Karp-Rabin) over tokens — the
    * shift-resistant fingerprint variant; pure Scala, used via a typed map
    * (not SQL-expressible, covered by rows-only verification). */
  def rollingHash(tokens: Seq[String]): Long = {
    val B = 1000003L
    var h = 0L
    tokens.foreach { t =>
      var th = 1125899906842597L
      var i = 0
      // per code point, not UTF-16 unit — the DuckDB oracle folds
      // unicode(c) per character, and the two must agree beyond the BMP
      while (i < t.length) {
        val cp = t.codePointAt(i)
        th = 31 * th + cp
        i += Character.charCount(cp)
      }
      h = h * B + th
    }
    h
  }
}
