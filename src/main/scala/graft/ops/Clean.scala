package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.schema.Turn

/**
 * Corpus-cleaning operators for large-scale training-data pipelines
 * over a `documents(doc_id, text)` table — the standard pre-training
 * hygiene passes (C4/RefinedWeb-style boilerplate-line removal,
 * Gopher-style duplicate-n-gram repetition signals, PII redaction),
 * complementing the dedup ([[Dedup]]) and quality ([[TextStats]])
 * operators.
 *
 * Everything is built-in Column expressions and plain aggregations
 * (whole-stage codegen, no UDFs). Scale shape, per operator:
 *
 *  - boilerplate detection is ONE distinct + ONE count shuffle over
 *    (norm_line, doc_id) pairs — line strings ride the shuffle once;
 *    the removal anti-join keys on the line STRING, not a hash (a
 *    64-bit collision in an anti-join would silently DROP a
 *    legitimate line from the corpus — correctness over key width);
 *  - repetition stats are a pure per-row projection (no shuffle):
 *    duplicate-bigram counting runs on array columns inside codegen;
 *  - PII redaction is a chained per-row `regexp_replace` (no
 *    shuffle), order fixed (email → IPv4 → phone) so downstream
 *    consumers see deterministic precedence on overlapping matches.
 */
object Clean {

  /** Documents exploded to (doc_id, line_idx, line) on `\n`,
    * trailing empties preserved (split limit -1) so the rebuild in
    * [[stripBoilerplate]] round-trips byte-identically. */
  def docLines(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n", -1)).as(Seq("line_idx", "line")))

  /** Per normalized (trim+lower) non-empty line: the number of
    * DISTINCT documents containing it. Boilerplate = high-df lines.
    * Two-phase: distinct (norm, doc_id) pairs first, then a count
    * with map-side partial aggregation — never count(DISTINCT) in a
    * single wide agg. */
  def lineDocFrequency(docs: DataFrame): DataFrame =
    docLines(docs)
      .select(trim(lower(col("line"))).as("norm"), col("doc_id"))
      .filter(col("norm") =!= "")
      .distinct()
      .groupBy(col("norm")).agg(count(lit(1)).as("df"))

  /** Lines appearing in ≥ `minDf` distinct documents — the
    * boilerplate inventory (C4 drops lines repeated ≥3× corpus-wide;
    * the threshold scales with corpus size, so it is a parameter). */
  def boilerplateLines(docs: DataFrame, minDf: Long): DataFrame =
    lineDocFrequency(docs).filter(col("df") >= minDf)

  /** Documents with boilerplate lines removed: every line whose
    * normalized form appears in ≥ `minDf` distinct documents is
    * dropped; remaining lines are re-joined in original order.
    * Documents whose every line was boilerplate survive with
    * clean_text = '' (left join back to the doc spine — a cleaning
    * pass must not silently delete rows). Empty lines are never
    * boilerplate (blank separators survive). */
  def stripBoilerplate(docs: DataFrame, minDf: Long): DataFrame = {
    val bp = boilerplateLines(docs, minDf).select(col("norm"))
    val kept = docLines(docs)
      .withColumn("norm", trim(lower(col("line"))))
      .join(bp, Seq("norm"), "left_anti")
    rebuildDocs(docs, kept)
  }

  /** Shared tail of the line-level cleaning passes: re-join kept
    * (doc_id, line_idx, line) rows into one text per document in
    * original line order, then left-join back to the `docs` spine so
    * documents whose every line was dropped — or whose NULL text
    * exploded to zero lines — survive with clean_text = ''. A cleaning
    * pass must not silently delete rows. */
  private def rebuildDocs(docs: DataFrame, kept: DataFrame): DataFrame = {
    val rebuilt = kept
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("line_idx"), col("line"))))
        .as("ordered"))
      .select(col("doc_id"),
        array_join(transform(col("ordered"), x => x.getField("line")), "\n")
          .as("clean_text"))
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Gopher-style repetition signal: per document, the total and
    * DUPLICATED word-bigram counts over the lowercased alnum word
    * stream (a high duplicate fraction marks low-quality repetitive
    * text). Counts, not a rounded ratio, so the row is
    * engine-portable bit-for-bit; ratio = n_dup / n_bigrams. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    // NULL text counts as an empty word stream (0 bigrams, 0 dups) —
    // the coalesce keeps the null-doc convention of the rest of Clean.
    // ONE native kernel call per row (graft_bigram_stats, round 6):
    // the previous split/zip_with/array_distinct Column tree
    // materialized two bigram string arrays per row and paid
    // per-element interpreted lambda evaluation — HOFs don't codegen
    // (same finding as the shingle kernels, BASELINE.md round 5); the
    // kernel computes both counts in one tight JVM scan with no
    // intermediate arrays. Values are bit-identical (OpsSpec pins the
    // old formulation; the q_repetition_ngrams oracle hash-checks it).
    // Two-step select so the struct is not inlined per field.
    docs
      .withColumn("_bs",
        call_function("graft_bigram_stats", coalesce(col("text"), lit(""))))
      .select(col("doc_id"),
        col("_bs.n_bigrams").as("n_bigrams"),
        col("_bs.n_dup").as("n_dup"))
  }

  // conservative patterns valid in BOTH Java regex (Spark) and RE2
  // (DuckDB oracle): no backrefs, no lookaround
  private[ops] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[ops] val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[ops] val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** PII redaction: emails → `<EMAIL>`, IPv4 literals → `<IP>`,
    * US-style phone numbers → `<PHONE>`. Order is significant and
    * fixed (email first, so a dotted-numeric local part like
    * `a1.2.3.44@example.com` redacts as ONE email instead of the IP
    * pass carving `1.2.3.44` out of it; a numeric-host `a@1.2.3.4`
    * is NOT an email under the alpha-TLD rule and redacts as
    * `a@<IP>`). Purely per-row — no shuffle, stays inside
    * whole-stage codegen. */
  def redactPii(docs: DataFrame): DataFrame =
    docs.withColumn("clean_text",
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>"))

  private def turnNorm = trim(regexp_replace(lower(col("text")), "\\s+", " "))

  /** TURN-level boilerplate inventory for transcript corpora: the
    * normalized turn texts appearing in ≥ `minConvs` DISTINCT
    * conversations (system prompts, tool banners, canned greetings —
    * repeated verbatim across conversations, they would mint the same
    * mentions/statements millions of times and swamp the superedge
    * counts with artifacts of the serving stack, not facts).
    * Distinct (norm, conv_id) pairs first (map-side partial dedup
    * collapses within-conversation repeats locally), then a counted
    * aggregate — the result is a SMALL frame (distinct boilerplate
    * texts), snapshot-friendly. */
  def boilerplateTurnNorms(turns: Dataset[Turn], minConvs: Long): DataFrame =
    turns.toDF()
      .select(turnNorm.as("norm"), col("conv_id"))
      .filter(col("norm") =!= "")
      .distinct()
      .groupBy(col("norm")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minConvs)

  /** Turns minus the boilerplate inventory: anti-join on the
    * normalized text STRING (not a hash — a collision would silently
    * drop a legitimate turn). The inventory side is tiny, so AQE
    * broadcasts it; corpus text never reshuffles. */
  def stripTurnsByNorms(turns: Dataset[Turn], norms: DataFrame): Dataset[Turn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.toDF()
      .withColumn("norm", turnNorm)
      .join(norms.select(col("norm")), Seq("norm"), "left_anti")
      .drop("norm")
      .as[Turn]
  }

  /** Within-document exact line dedup (RefinedWeb-style): keep the
    * FIRST occurrence of each normalized line inside a document,
    * drop later repeats. Per-doc window over the line stream — the
    * shuffle is on doc_id, and line ordering rides (doc_id,
    * line_idx), so skew is bounded by the longest document. Like
    * [[stripBoilerplate]], the output is left-joined back to the doc
    * spine: a NULL-text document (which explodes to zero lines)
    * survives with clean_text = '' — a cleaning pass must not
    * silently delete rows. */
  def dedupDocLines(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id"), col("norm"))
      .orderBy(col("line_idx"))
    val kept = docLines(docs)
      .withColumn("norm", trim(lower(col("line"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 || col("norm") === "")
    rebuildDocs(docs, kept)
  }
}
