package graft.link

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Explicit salted equi-join for hot-key skew (north_star: "salted
 * repartitioning on blocking keys to defuse hot-entity skew").
 *
 * Where it matters at 10^12-turn scale: the mention → surface-form
 * dictionary join. A hot surface ("John Smith" in ~30% of turns) is
 * ONE dictionary row matching billions of mention rows. While the
 * dictionary fits the broadcast threshold Catalyst broadcasts and
 * there is no skew; when it doesn't (≥10^8 distinct surfaces),
 * sort-merge would shuffle every hot-key mention into a single
 * partition. Salting splits the hot key across `salts` partitions by
 * replicating the SMALL side and hashing the large side's unique
 * column — a bounded ×salts blow-up of the small side buys an even
 * large-side distribution.
 *
 * AQE's skew-join splitting (enabled in Sessions) is the runtime
 * backstop; this is the explicit, plan-level tool (SURVEY.md §4.3.2).
 */
object SkewJoin {

  /**
   * large ⋈ small on `keys`, salting the large side by
   * `largeSaltSource` (any per-row-distinct column, e.g. mention_id).
   *
   * Semantics identical to the inner `large.join(small, keys)`: every
   * large row carries exactly one salt value and every (key, salt)
   * combination exists on the replicated small side.
   */
  def salted(
      large: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      largeSaltSource: Column,
      salts: Int = 16): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    val l = large.withColumn("_salt", pmod(xxhash64(largeSaltSource), lit(salts.toLong)))
    val s = small.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    l.join(s, keys :+ "_salt").drop("_salt")
  }
}
