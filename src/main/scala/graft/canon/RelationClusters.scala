package graft.canon

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.schema.SuperEdge

/**
 * Deterministic relation clustering — the reference's
 * `_generate_relation_jl` (/root/reference/update_kg/Updater.py:222-244):
 * relations with identical type and identical (role → argument
 * cluster) sets merge into one cluster; the group key is
 * `type + str(sorted([(pred, arg_cluster), ...]))`.
 *
 * We implement the FULL sorted-link-set semantics (the evident
 * intent). The reference has a quirk — its dict guard keeps only the
 * FIRST (pred, cluster) row per relation URI (`if rel_uri not in
 * rel_json`, Updater.py:228-233), silently truncating multi-argument
 * relations; we do not reproduce the truncation (SURVEY.md §7.4.5).
 *
 * In the transcript model a "relation instance" is a statement; its
 * arguments are the subj/obj clusters. The group key is therefore
 * (pred, subj_cluster, obj_cluster) serialized in sorted order —
 * matching the reference's canonicalized-argument-set identity.
 */
object RelationClusters {

  /** One row per (relation cluster, member statement): deterministic
    * cluster id + canonical group key + the member stmt_id, with the
    * cluster's member count on every row. ROW-SHAPED on purpose: a hot
    * relation cluster (hot entity family × hot predicate — guaranteed
    * under the synth's 30% skew at scale) must never accumulate one
    * unbounded member ARRAY in the pipeline output (the 2GB-row hazard
    * class); the reference's `.jl` line format would need the array
    * only at a sink, and no sink writes one.
    *
    * Takes a PRECOMPUTED (checkpointed) resolved-statement join
    * ([[graft.superedge.SuperEdges.resolvedStatements]]) and the
    * SuperEdge aggregate over it: that aggregate's per-(subj_cluster,
    * pred, obj_cluster) `cnt` IS n_members (rel_key is a tagged
    * injective encoding of exactly that key), so the
    * statements⋈memberships² subtree is shared with the superedge and
    * superedge-justification outputs instead of re-executing here
    * (guide-§2.4 shuffle removal; before/after in OPTIMIZATION_r06.md)
    * and the count side is a cheap scan of a stage that exists anyway.
    *
    * `n_members` is therefore a TWO-PHASE count (the superedge
    * groupBy's partial + final aggregate) joined back per row, NOT a
    * window count (which would shuffle and sort every member row of
    * the hot cluster into a single window task). The join-back is
    * merge-hinted like every other cluster-scale join here: the count
    * side is corpus-growing and checkpoint-descended size ESTIMATES
    * undercount (the compile-time-broadcast hazard); the sort-merge
    * join stays AQE skew-split-able (windows get no such skew
    * handling). `broadcastCounts`: the caller MEASURED the count side
    * under the broadcast gate — an explicit broadcast then spares the
    * member rows the shuffle+sort entirely (guide §3.1). */
  def clusterFromResolved(resolved: DataFrame,
      superEdges: Dataset[SuperEdge],
      broadcastCounts: Boolean = false): DataFrame = {
    val counts = superEdges.toDF().select(col("subj_proto").as("subj_cluster"),
      col("pred"), col("obj_proto").as("obj_cluster"), col("cnt").as("n_members"))
    resolved
      // the canonical sorted-link-set group key
      .withColumn("rel_key",
        concat_ws("|", col("pred"),
          array_join(array_sort(array(
            concat(lit("subj:"), col("subj_cluster")),
            concat(lit("obj:"), col("obj_cluster")))), ",")))
      .join(if (broadcastCounts) broadcast(counts) else counts.hint("merge"),
        Seq("pred", "subj_cluster", "obj_cluster"))
      .withColumn("relation_cluster_id", concat(lit("rc:"), md5(col("rel_key"))))
      .select(col("relation_cluster_id"), col("rel_key"),
        col("stmt_id"), col("n_members"))
  }

  /** Per-cluster summary (one row per relation cluster, no member
    * arrays) — the reporting shape. */
  def summary(clusterRows: DataFrame): DataFrame =
    clusterRows.groupBy(col("relation_cluster_id"), col("rel_key"))
      .agg(count(lit(1)).as("n_members"))
}
