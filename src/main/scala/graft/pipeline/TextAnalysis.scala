package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines: tokenization,
  * quality scoring, language-ID heuristics, document fingerprinting.
  *
  * Everything is Column-level (built-in expressions and higher-order array
  * functions, no UDFs; Spark interprets the higher-order functions'
  * lambdas per element) so the operators scale linearly over a 100 TB
  * documents table: one narrow projection per document, no shuffle until
  * the caller aggregates. Token model: whitespace words (the corpus is pre-cleaned);
  * a BPE-ish regex variant is provided for raw text.
  */
object TextAnalysis {

  val DefaultStopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword split for raw text: words, numbers, or single
    * punctuation marks (GPT-2-style coarse pre-tokenizer shape). */
  def regexTokenCount(text: Column): Column =
    size(split(text, "\\s+|(?=[^\\w\\s])"))

  /** Average word length for single-space-joined text:
    * (chars − separators) / words, exact and engine-portable. */
  def avgWordLen(text: Column): Column = {
    val n = tokenCount(text)
    round((length(text) - (n - 1)).cast("double") / n, 4)
  }

  def stopwordCount(text: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    size(filter(tokens(text), t => t.isin(stopwords.map(_.asInstanceOf[Any]): _*)))

  def stopwordRatio(text: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    round(stopwordCount(text, stopwords).cast("double") / tokenCount(text), 4)

  /** Ratio of characters outside [a-z ] (punctuation/digit density). */
  def punctRatio(text: Column): Column =
    round(length(regexp_replace(text, "[a-z ]", "")).cast("double") /
          length(text), 4)

  /** Composite quality score in [0,1]: long-enough, stopword-bearing,
    * low-punct documents score high (standard web-corpus filters). */
  def qualityScore(text: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    round(
      least(tokenCount(text).cast("double") / 100.0, lit(1.0)) * 0.4 +
      least(stopwordRatio(text, stopwords) * 5.0, lit(1.0)) * 0.4 +
      (lit(1.0) - punctRatio(text)) * 0.2, 4)

  /** Marker-word language ID: argmax of per-language marker hits, 'und'
    * when nothing matches. Marker lists are config; the built-in set
    * covers the corpus languages. The argmax is an explicit when-chain
    * (deterministic tie-break by list order), fully codegen'd. */
  val DefaultMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "los"),
    "de" -> Seq("der", "und", "das"),
    "fr" -> Seq("le", "et", "les"),
    "zh" -> Seq("的", "了", "是"))

  def langScores(text: Column, markers: Seq[(String, Seq[String])] = DefaultMarkers): Seq[(String, Column)] =
    markers.map { case (lang, words) => lang -> stopwordCount(text, words) }

  def predictLang(text: Column, markers: Seq[(String, Seq[String])] = DefaultMarkers): Column = {
    val scores = langScores(text, markers)
    // argmax as a when-chain: a language wins when its score is positive
    // and >= every other language's score; earlier entries win ties.
    scores.foldRight(lit("und")) { case ((lang, score), elseCol) =>
      val beatsOthers = scores.filter(_._1 != lang).map(o => score >= o._2).reduce(_ && _)
      when(score > 0 && beatsOthers, lang).otherwise(elseCol)
    }
  }

  /** Exact fingerprint: md5 of the text (identical across engines). */
  def fingerprint(text: Column): Column = md5(text)

  /** Bag-of-words fingerprint: md5 over the sorted distinct token set —
    * catches word-order-only duplicates. */
  def bowFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))
}
