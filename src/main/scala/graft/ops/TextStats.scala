package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines
 * over a `documents(doc_id, text, ...)` table: token counting,
 * quality scoring, n-gram-heuristic language ID, and rolling-hash
 * fingerprinting.
 *
 * Everything is built-in Column expressions (whole-stage codegen, no
 * UDFs) so filters/projections stay pushdown- and codegen-friendly at
 * 100 TB scale.
 */
object TextStats {

  /** Whitespace tokens + a BPE-ish subword estimate (≈ chars/4,
    * the common fast token-count approximation). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
      // count of word/number/punctuation chunks — a regex proxy for a
      // BPE pre-tokenizer's split points
      size(split(col("text"), "(?=[^a-zA-Z0-9])|(?<=[^a-zA-Z0-9])")).as("n_bpe_chunks"),
      (length(col("text")) / lit(4)).cast("int").as("n_tok_est"))

  /** Heuristic document-quality features: length, punctuation ratio,
    * uppercase ratio, stopword ratio, mean word length. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val nChars = length(col("text"))
    val nPunct = nChars - length(regexp_replace(col("text"), "[.,;:!?]", ""))
    val nUpper = nChars - length(regexp_replace(col("text"), "[A-Z]", ""))
    val words = split(trim(lower(col("text"))), "\\s+")
    val nWords = size(words)
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val nStop = stop.map(s => size(filter(words, w => w === s)))
      .reduce(_ + _)
    docs.select(
      col("doc_id"),
      nChars.as("n_chars"),
      round(nPunct.cast("double") / greatest(nChars, lit(1)), 4).as("punct_ratio"),
      round(nUpper.cast("double") / greatest(nChars, lit(1)), 4).as("upper_ratio"),
      round(nStop.cast("double") / greatest(nWords, lit(1)), 4).as("stopword_ratio"),
      round(nChars.cast("double") / greatest(nWords, lit(1)), 4).as("mean_word_len"))
  }

  private val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " to "),
    "de" -> Seq(" der ", " und ", " die ", " nicht "),
    "fr" -> Seq(" le ", " la ", " et ", " les "),
    "es" -> Seq(" el ", " que ", " los ", " una "))

  private def occurrences(c: Column, needle: String): Column =
    ((length(c) - length(replace(c, lit(needle), lit("")))) / lit(needle.length)).cast("long")

  /** N-gram/stopword-heuristic language ID: score = padded stopword
    * hit count per language; argmax with 'en' fallback on all-zero.
    * NULL text has no language: NULL in → NULL out (an empty string
    * is text, all-zero, → 'en'). ONE native kernel call per row (graft_langid, round 6): the
    * length-minus-replace chain allocated 16 intermediate strings per
    * row; the kernel counts the same non-overlapping occurrences with
    * zero allocation. Values identical (parity test + oracle). */
  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      call_function("graft_langid", col("text")).as("pred_lang"))

  /** The pre-round-6 Column formulation of [[langId]] — retained as
    * the parity comparator for the kernel (OpsSpec). */
  private[graft] def langIdColumnar(docs: DataFrame): DataFrame = {
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val scores = langStopwords.toSeq.sortBy(_._1).map { case (lang, needles) =>
      val s = needles.map(occurrences(padded, _)).reduce(_ + _)
      struct(s.as("score"), lit(lang).as("lang"))
    }
    docs.select(
      col("doc_id"),
      when(col("text").isNull, lit(null).cast("string"))
        .when(greatest(scores.map(_.getField("score")): _*) === 0, lit("en"))
        .otherwise(greatest(scores: _*).getField("lang"))
        .as("pred_lang"))
  }

  /** Content fingerprint: 64-bit hash of the normalized text — the
    * cheap exact-dup key; xxhash64 is Spark-native and codegen'd. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      xxhash64(regexp_replace(lower(col("text")), "\\s+", " ")).as("fingerprint"))
}
