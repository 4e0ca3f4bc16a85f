package graft

import org.apache.spark.sql.SparkSession

/** Shared test session — one JVM-wide session across suites (sbt runs
  * suites sequentially in the forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4, "graft-test")

  /** Evaluate `f` with broadcast joins switched off, so Catalyst (and
    * AQE) plan every unhinted join as a sort-merge; the session's
    * setting is restored afterwards. */
  def withoutBroadcast[T](f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
