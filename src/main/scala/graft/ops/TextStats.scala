package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Stopword-heuristic language ID over a `documents(doc_id, text, ...)`
 * table (`q_langid`). Token counts, quality features and fingerprints
 * are column expressions inlined in their declared queries
 * (`q_token_count`, `q_quality`, `q_fingerprint` in
 * [[graft.SparkEntry]]).
 */
object TextStats {

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
}
