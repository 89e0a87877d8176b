package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis operators for large-scale corpus pipelines: tokenization,
  * shingling, quality metrics, language-ID heuristic. All built from
  * codegen'd `org.apache.spark.sql.functions` (no UDFs) so they stay inside
  * whole-stage codegen and push down through Catalyst. */
object TextOps {

  /** Whitespace tokens (the oracle-portable definition). */
  def tokens(text: Column): Column = split(text, " ")

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word tokens by letter-run regex (BPE-ish pre-tokenizer shape). */
  def wordTokens(text: Column): Column = regexp_extract_all(text, lit("[A-Za-z]+"), lit(0))

  /** Word n-gram shingles, space-joined. Empty array when the document is
    * shorter than n tokens (guards `sequence`'s descending-range behavior).
    * A 1-gram is its token, so n = 1 skips the per-token lambda. */
  def shingles(text: Column, n: Int): Column = {
    val arr = tokens(text)
    if (n == 1) coalesce(arr, array().cast("array<string>"))
    else when(size(arr) >= n,
      transform(sequence(lit(1), size(arr) - (n - 1)), i => array_join(slice(arr, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Portable per-document quality metrics (each expressible in ANSI SQL so
    * an external oracle can recompute them): token count, byte length,
    * average token length, whitespace ratio. */
  def qualityMetrics(text: Column): Seq[Column] = {
    val nTok = tokenCount(text).as("n_tokens")
    val bytes = octet_length(text).as("byte_len")
    val nonSpace = octet_length(regexp_replace(text, lit(" "), lit("")))
    Seq(
      nTok,
      bytes,
      round(nonSpace.cast("double") / tokenCount(text), 4).as("avg_token_len"),
      round((octet_length(text) - nonSpace).cast("double") / octet_length(text), 4).as("space_ratio"))
  }

  /** Tiny embedded stopword profiles — a public-knowledge n-gram/stopword
    * language-ID heuristic (no external model). Scores = fraction of tokens
    * hitting each language's profile; argmax wins, "und" (undetermined)
    * when nothing hits. */
  private val Profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "que", "pour"),
    "es" -> Seq("el", "la", "que", "de", "los", "es", "un", "una", "por", "con"))

  /** Language-ID over the token array: per-language hit rates computed with
    * higher-order array functions, argmax via a greatest-struct trick. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = Profiles.toSeq.map { case (lang, words) =>
      val hits = size(array_intersect(array_distinct(toks), array(words.map(lit): _*)))
      struct(hits.as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }
}
