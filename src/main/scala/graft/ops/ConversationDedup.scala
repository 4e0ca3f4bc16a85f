package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.schema.Turn

/**
 * Conversation-level near-duplicate filtering — the standard
 * training-data flow at corpus scale: drop duplicated conversations
 * BEFORE the (much more expensive) extraction stage, so the KG never
 * over-counts facts that exist only because a transcript was
 * re-ingested or trivially re-worded. Composes the document dedup
 * stack ([[Dedup.nearDupClusters]]: MinHash-LSH candidates →
 * exact-Jaccard verify → connected components → min-id canonical)
 * over one synthetic "document" per conversation.
 *
 * Scale shape: the per-conversation concat is a single groupBy whose
 * row size is bounded by conversation length (a data-model constant,
 * not corpus-scale — unlike per-cluster aggregates, which can be
 * unbounded); everything after runs on conversation-count rows with
 * LSH-bucketed candidate generation, no all-pairs anywhere. The final
 * filter is a left-semi equi-join on conv_id. Its document and verdict
 * frames are measured checkpoints ([[graft.util.Blocks.checkpoint]]).
 */
object ConversationDedup {

  /** One document per conversation: turn texts concatenated in
    * deterministic (turn_idx) order; `doc_id` = xxhash64(conv_id)
    * (the dedup/CC stack keys on longs). */
  def conversationDocs(turns: Dataset[Turn]): DataFrame =
    turns.toDF()
      .groupBy(col("conv_id"))
      .agg(concat_ws(" ",
        transform(
          array_sort(collect_list(struct(col("turn_idx"), col("text")))),
          s => s.getField("text"))).as("text"))
      .withColumn("doc_id", xxhash64(col("conv_id")))

  /** Conversation-level dedup verdicts:
    * (conv_id, doc_id, canon_id, is_dup) — one row per conversation;
    * `is_dup` conversations have a surviving near-duplicate canonical.
    * Guards against doc_id hash collisions (which would silently merge
    * unrelated conversations) the same way the linker guards sids. */
  def conversationClusters(turns: Dataset[Turn],
      jaccardThreshold: Double = 0.9): DataFrame = {
    // checkpoint: the concat feeds the signature kernel, the Jaccard
    // verify, and the id join-back — three consumers
    val docs = graft.util.Blocks.checkpoint(conversationDocs(turns))._1
    val g = docs.agg(count(lit(1)), countDistinct(col("doc_id"))).head()
    require(g.getLong(0) == g.getLong(1),
      s"conv_id hash collision: ${g.getLong(0)} conversations, ${g.getLong(1)} distinct doc ids")
    // BOILERPLATE-REGIME TUNING (measured at 267k convs): conversation
    // docs share templated turns, so the default b=8×r=2 banding (S-curve knee j≈0.35) makes nearly every
    // conv pair a candidate — 54M pairs for 267k convs, 74 GB of
    // candidate shuffle at 2.67M. Re-ingestion dedup targets j ≥ 0.9:
    // r=4 (knee ≈ 0.71) cuts candidates 25×, maxBucketSize=256 caps
    // what boilerplate remains, and the est ≥ 0.5 signature prefilter
    // (miss ≈ 1e-8 at j=0.9; exact re-ingests est ≡ 1) drops the rest
    // before any shingle row is materialized. Pair recall at j=0.9 is
    // 1-(1-0.9⁴)⁴ ≈ 0.986 per pair (1.0 for exact copies), and CC
    // closes families through any surviving pair.
    val lazyVerdicts = Dedup.nearDupClusters(
        docs.select(col("doc_id"), col("text")), jaccardThreshold,
        rowsPerBand = 4, maxBucketSize = 256, minEstimate = 0.5)
      .join(docs.select(col("doc_id"), col("conv_id")), "doc_id")
      .select(col("conv_id"), col("doc_id"), col("canon_id"), col("is_dup"))
    // materialize the (tiny: 4 narrow columns × conv count) verdict,
    // then release EVERY block the dedup stack pinned — the
    // full-corpus-TEXT concat (`docs`) plus the signature/CC
    // checkpoints inside nearDupClusters, all reachable as leaves of
    // the pre-checkpoint plan. Repeated library calls otherwise
    // accumulate pinned conversation-concat blocks for the session.
    // Callers done with the verdict release it via graft.util.Blocks
    // (the snapshot layer does so automatically after a stage write).
    val verdicts = graft.util.Blocks.checkpoint(lazyVerdicts)._1
    graft.util.Blocks.releaseAll(Seq(lazyVerdicts, docs))
    verdicts
  }

  /** The turns of canonical conversations only (ready for extraction),
    * given precomputed (or snapshot-read) verdict rows. */
  def canonicalTurns(turns: Dataset[Turn], clusters: DataFrame): Dataset[Turn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.toDF()
      .join(clusters.filter(!col("is_dup")).select(col("conv_id")),
        Seq("conv_id"), "left_semi")
      .as[Turn]
  }
}
