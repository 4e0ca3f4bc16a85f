package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.synth.TranscriptSynth

/** Pipeline-level invariants (SURVEY.md §5.4): determinism,
  * parallelism independence, clustering-is-a-partition. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val cfg = TranscriptSynth.Config(nConvs = 120, turnsPerConv = 8)

  test("two runs emit identical triple sets (determinism, SURVEY §7.4)") {
    val t1 = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 6))
      .triples.collect().toSet
    val t2 = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 6))
      .triples.collect().toSet
    assert(t1 == t2)
  }

  test("triples independent of input partitioning (parallelism invariance)") {
    val t1 = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 3))
      .triples.collect().toSet
    val t2 = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 16))
      .triples.collect().toSet
    assert(t1 == t2)
  }

  test("event frames independent of input partitioning (parallelism invariance)") {
    def frames(parts: Int): Set[(String, String, String, String, String, Long)] = {
      val r = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = parts))
      graft.canon.EventCoref
        .namedFrames(r.eventClusters, r.eventArgs, r.memberships, r.prototypes)
        .collect()
        .map(x => (x.getString(1), x.getString(2), x.getString(3),
          x.getString(4), x.getString(5), x.getLong(6))).toSet
    }
    assert(frames(3) == frames(16))
  }

  test("event clustering is a partition over event mentions") {
    val r = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 6))
    val n = r.events.count()
    assert(r.eventMemberships.count() == n)
    assert(r.eventMemberships.select("member_id").distinct().count() == n)
    assert(r.eventPrototypes.select("cluster_id").distinct().count() ==
      r.eventPrototypes.count())
  }

  test("clustering is a partition: total and disjoint over mentions") {
    val r = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 6))
    val nMentions = r.mentions.count()
    val ms = r.memberships
    assert(ms.count() == nMentions) // total incl. singletons
    assert(ms.select("member_id").distinct().count() == nMentions) // disjoint
    // every cluster has exactly one prototype row
    assert(r.prototypes.select("cluster_id").distinct().count() ==
      r.prototypes.count())
  }

  test("prototype id and kind are constant within a cluster") {
    // Canonicalizer.prototypes carries both as max() aggregates instead
    // of grouping keys — exact only while every dictionary row of a
    // cluster agrees on them
    val r = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 6))
    val perCluster = r.surfaceClusters.groupBy(col("cluster_id"))
      .agg(countDistinct(col("prototype_id")).as("ids"), countDistinct(col("kind")).as("kinds"))
    assert(perCluster.filter(col("ids") =!= 1 || col("kinds") =!= 1).isEmpty)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("cluster_id", "prototype_id", "kind").distinct().collect().toSet
    assert(triples(r.prototypes.toDF()) == triples(r.surfaceClusters))
    r.unpersist()
  }
}
