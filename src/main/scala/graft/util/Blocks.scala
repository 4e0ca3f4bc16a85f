package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftDatasets, Observation, classic}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StringType}

/**
 * The engine's one checkpoint operator, and block-level lifecycle
 * helpers for the frames it returns.
 *
 * `Dataset.localCheckpoint` pins its materialized partitions via
 * `RDD.persist`, and `Dataset.unpersist` does NOT release them (it
 * only clears CacheManager entries) — the blocks survive until the
 * RDD object is garbage-collected. Long sessions that run many
 * pipelines therefore accumulate pinned blocks unless the owner
 * releases them explicitly (the pathology quantified in BASELINE.md
 * "persist weather": a later run's allocation burst against a heap
 * full of dead checkpoint blocks showed 19× executor time).
 *
 * These helpers find the checkpoint-scan leaves ([[LogicalRDD]]) in a
 * frame's analyzed plan and unpersist their RDDs. After `release` the
 * frame (and anything derived from it) is UNUSABLE — checkpointing
 * truncated the lineage, so the dropped blocks cannot be recomputed.
 * Call only when done with every consumer.
 */
object Blocks {

  /** Eager `localCheckpoint` of `df`, and its row count. Spark's leaf
    * reports the PRE-checkpoint size estimate, which an `explode` or a
    * join leaves orders of magnitude off; this one reports the measured
    * row count and, as size, the count × `EstimationUtils.getSizePerRow`
    * of the fixed-width columns plus the measured bytes of the string,
    * binary and array columns (default sizes undercount a shingle array
    * ~1000×). Both ride the checkpoint's job as an [[Observation]], and
    * Catalyst plans every join over the result from them. */
  def checkpoint(df: DataFrame): (DataFrame, Long) = {
    val perCol = df.schema.fields.toSeq.map(f => width(col(s"`${f.name}`"), f.dataType))
    val obs = Observation()
    val cp = df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(perCol.flatten.foldLeft(lit(0L))(_ + _)), lit(0L)).as("bytes"))
      .localCheckpoint(true)
    val m = obs.get
    val n = m("rows").asInstanceOf[Long]
    val lr = cp.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val fixed = lr.output.zip(perCol).collect { case (a, None) => a }
    val stats = Statistics(BigInt(n) * EstimationUtils.getSizePerRow(fixed) +
      m("bytes").asInstanceOf[Long], rowCount = Some(BigInt(n)))
    val session = cp.sparkSession.asInstanceOf[classic.SparkSession]
    (GraftDatasets.ofRows(session, lr.copy()(session, Some(stats), Some(lr.constraints))), n)
  }

  /** Bytes of a variable-width value; None where the default size is exact. */
  private def width(c: Column, t: DataType): Option[Column] = t match {
    case _: StringType | BinaryType => Some(greatest(octet_length(c), lit(0)))
    case ArrayType(e, _) => Some(greatest(size(c), lit(0)) * e.defaultSize)
    case _ => None
  }

  /** The RDDs pinned by checkpoint scans in this frame's plan. */
  def pinned(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Drop the pinned blocks behind this frame (non-blocking). The
    * frame must not be used afterwards. */
  def release(df: DataFrame): Unit =
    pinned(df).foreach(_.unpersist(blocking = false))

  /** Release every distinct pinned RDD across a set of frames once. */
  def releaseAll(dfs: Seq[DataFrame]): Unit =
    dfs.flatMap(pinned).distinctBy(_.id).foreach(_.unpersist(blocking = false))

  /** Release `df`'s pinned blocks EXCEPT those also reachable from
    * `keep` — for dropping a dead intermediate whose plan shares
    * checkpoint leaves with still-live frames. */
  def releaseExcept(df: DataFrame, keep: Seq[DataFrame]): Unit = {
    val live = keep.flatMap(pinned).map(_.id).toSet
    pinned(df).filterNot(r => live(r.id)).foreach(_.unpersist(blocking = false))
  }
}
