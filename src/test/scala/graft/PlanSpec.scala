package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that matter at 100 TB must be
  * visible in explain() — predicate pushdown to the parquet scan,
  * column pruning, broadcast choice for small dimensions. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The executed plans of the Dataset actions `body` runs (eager
    * checkpoints included), in order — for operators whose result is a
    * checkpoint scan, so the plans that matter ran inside the call. */
  private def actionPlans(body: => Unit): Seq[String] = {
    val marker = "plan-spec-marker"
    val plans = new ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) markerSeen.countDown()
        else plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once the marker action is
      // seen, every action `body` ran has been seen too
      spark.range(1).select(lit(marker)).collect()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker action never reported")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("filters push down to the parquet scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") === 42L)
      .select(col("l_orderkey"), col("l_quantity"))
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_orderkey"),
      s"no pushdown in: $scan")
  }

  test("column pruning reaches the scan (ReadSchema only has selected cols)") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("l_orderkey") && scan.contains("l_quantity"))
    assert(!scan.contains("l_extendedprice"), s"scan reads pruned col: $scan")
  }

  test("join chain broadcasts small dimension tables") {
    val df = SparkEntry.queries("q_join_chain")(spark, dir)
    df.collect() // let AQE finalize
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in plan")
  }

  test("extraction stage plans no shuffle") {
    import spark.implicits._
    val turns = graft.synth.TranscriptSynth.turnsDs(spark,
      graft.synth.TranscriptSynth.Config(nConvs = 5, turnsPerConv = 4))
    val mentions = graft.extract.MentionExtractor.extract(turns).flatMap(_.mentions)
    val plan = mentions.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in extraction: $plan")
  }

  test("linker surface-id assignment is a pure projection (no RDD, no sort)") {
    import spark.implicits._
    val turns = graft.synth.TranscriptSynth.turnsDs(spark,
      graft.synth.TranscriptSynth.Config(nConvs = 10, turnsPerConv = 4))
    val mentions = graft.extract.MentionExtractor.extract(turns)
      .flatMap(_.mentions)
    val surf = graft.link.Linker.surfaces(mentions)
    val plan = surf.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD") && !plan.contains("Scan ExistingRDD"),
      s"RDD round-trip in surfaces plan: $plan")
    assert(!plan.contains("Sort "), s"global sort in surfaces plan: $plan")
  }

  test("minhash signatures plan has no shuffle (per-row fold, no explode/groupBy)") {
    import spark.implicits._
    val d = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    val plan = graft.ops.Dedup.minHashSignatures(d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in minhash plan: $plan")
  }

  test("membership join broadcasts the surface dictionary when small") {
    import spark.implicits._
    val turns = graft.synth.TranscriptSynth.turnsDs(spark,
      graft.synth.TranscriptSynth.Config(nConvs = 40, turnsPerConv = 6))
    val r = Pipeline.run(turns)
    // r.memberships is checkpointed (its plan is just the checkpoint
    // scan); audit the JOIN plan by rebuilding it over the
    // checkpointed inputs
    val join = graft.canon.Canonicalizer.memberships(r.mentions, r.surfaceClusters)
    join.count() // let AQE finalize
    val plan = join.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small surface dict not broadcast: $plan")
    // the SIDE matters as much as the strategy: stats once led Catalyst
    // to BuildLeft — broadcasting corpus-scale MENTIONS and streaming
    // the 1-partition dictionary, which serializes the membership
    // checkpoint (one 136s task profiled) and OOMs at scale. The
    // dictionary is the right/build side; output partitioning must be
    // the mention side's.
    assert(plan.contains("BuildRight"),
      s"membership join builds the mention side (BuildLeft): $plan")
    assert(join.rdd.getNumPartitions > 1,
      "membership output collapsed to the dictionary's single partition")
  }

  test("event coreference plans no cartesian product") {
    import spark.implicits._
    val turns = graft.synth.TranscriptSynth.turnsDs(spark,
      graft.synth.TranscriptSynth.Config(nConvs = 40, turnsPerConv = 6))
    val r = Pipeline.run(turns)
    val plan = r.eventPrototypes.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in event coref: $plan")
  }

  test("banded self-joins evaluate each hash kernel once (checkpoint, not recompute)") {
    import spark.implicits._
    val d = (0 until 20).map(i => (i.toLong, s"some document text number $i with words"))
      .toDF("doc_id", "text")
    // the candidate/pair plans must contain ZERO kernel invocations:
    // the compact projection is materialized before banding, so the
    // B-band × 2-side self-join scans the checkpoint instead of
    // re-evaluating the signature kernel up to 2B× per doc
    val mh = graft.ops.Dedup.minHashCandidates(graft.ops.Dedup.minHashSignatures(d))
    assert(!planString(mh).contains("graft_minhash_sig"),
      "minhash kernel re-evaluated inside the banded join")
    assert(planString(mh).contains("ExistingRDD"), "banding does not scan the checkpoint")
    val e = (0 until 16).map(i => (i.toLong, Seq.tabulate(8)(j => (i + j) / 16.0f)))
      .toDF("vec_id", "embedding")
    // the result is a checkpoint scan, so audit the plans the call ran:
    // the bucket kernel runs in exactly one of them (the slim bucket
    // projection), and the self-join + cosine verify plan scans
    // checkpoints and evaluates no kernel
    val ran = actionPlans(graft.util.Blocks.release(
      graft.ops.Similarity.cosinePairs(e, threshold = 0.5)))
    val bucketing = ran.filter(_.contains("graft_lsh_bucket"))
    assert(bucketing.size == 1 && !bucketing.head.contains("graft_cosine"),
      s"lsh bucket kernel evaluated outside the bucket projection: ${bucketing.mkString("\n---\n")}")
    val verify = ran.filter(_.contains("graft_cosine"))
    assert(verify.size == 1, s"expected one verify plan, got: ${ran.mkString("\n---\n")}")
    assert(!verify.head.contains("graft_lsh_bucket"),
      s"lsh bucket kernel re-evaluated inside the bucket self-join: ${verify.head}")
    assert(verify.head.contains("ExistingRDD"),
      s"bucket self-join does not scan the checkpoint: ${verify.head}")
  }

  test("relation-cluster member counts are two-phase aggregation, not a hot-key window") {
    import spark.implicits._
    val ms = Seq(graft.schema.Membership("c1", "m1", 1.0),
      graft.schema.Membership("c2", "m2", 1.0)).toDS()
    val st = Seq(graft.schema.Statement("s1", "m1", "P", "m2", 0.9, "d", 0, 0, 1)).toDS()
    val resolved = graft.superedge.SuperEdges.resolvedStatements(st, ms)
    val rc = graft.canon.RelationClusters.clusterFromResolved(resolved,
      graft.superedge.SuperEdges.superEdgesFromResolved(resolved))
    val plan = rc.queryExecution.executedPlan.toString
    // a window partitioned on rel_key would funnel every member row of a
    // hot relation cluster into ONE task; the two-phase groupBy+join
    // shape absorbs the hot key in map-side partial aggregation and
    // leaves the join AQE-skew-splittable
    assert(!plan.contains("Window"), s"window on skewable rel_key: $plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"n_members not a partial+final aggregate: $plan")
  }

  test("superedge aggregation uses partial aggregation (map-side combine)") {
    import spark.implicits._
    val ms = Seq(graft.schema.Membership("c1", "m1", 1.0)).toDS()
    val st = Seq(graft.schema.Statement("s1", "m1", "P", "m1", 0.9, "d", 0, 0, 1)).toDS()
    val se = graft.superedge.SuperEdges.superEdgesFromResolved(
      graft.superedge.SuperEdges.resolvedStatements(st, ms))
    val plan = se.queryExecution.executedPlan.toString
    // two HashAggregates around the exchange = partial + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("corpus-scale joins never broadcast (checkpoint stats undercount)") {
    import spark.implicits._
    // checkpointed inputs inherit their PRE-checkpoint size estimate —
    // for a synth range plan that's a few MB regardless of true row
    // count, and Catalyst once compile-time-broadcast the 10^6-row
    // statements side of the superedge join (profiled at 820
    // executor-s; an OOM at contract scale). The merge hints must hold
    // even when the sides look tiny to the optimizer.
    val ms = Seq(graft.schema.Membership("c1", "m1", 1.0),
      graft.schema.Membership("c2", "m2", 1.0)).toDS()
    val st = Seq(graft.schema.Statement("s1", "m1", "P", "m2", 0.9, "d", 0, 0, 1)).toDS()
    val mentions = Seq(graft.schema.Mention(
      "m1", "d", 0, "entity", "Person", "X", "x", 0, 1, 0.9, null)).toDS()
    val resolved = graft.superedge.SuperEdges.resolvedStatements(st, ms)
    for ((name, df) <- Seq(
        "superEdges" -> graft.superedge.SuperEdges.superEdgesFromResolved(resolved).toDF(),
        // over a lazy resolved frame the relation-cluster plan holds
        // statements⋈memberships² twice plus the superedge-count
        // join-back — the no-broadcast doctrine must hold across all
        // of them
        "relationClusters" -> graft.canon.RelationClusters.clusterFromResolved(
          resolved, graft.superedge.SuperEdges.superEdgesFromResolved(resolved)),
        "superEdgeJustifications" ->
          graft.canon.Justifications.superEdgeJustificationsFromResolved(resolved),
        "annotatedMembers" ->
          graft.canon.Justifications.annotatedMembers(ms, mentions))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"$name broadcasts a corpus-scale side:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"$name lost its merge join:\n$plan")
    }
  }

  test("a measured checkpoint reports its true row count to Catalyst") {
    val df = spark.range(1).select(explode(sequence(lit(1L), lit(5000L))).as("v"))
    val (cp, n) = graft.util.Blocks.checkpoint(df)
    assert(n == 5000L)
    assert(cp.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(5000)))
    assert(cp.count() == 5000L)
    graft.util.Blocks.release(cp)
  }

  test("measured checkpoints plan joins from their true size, not the pre-checkpoint estimate") {
    def selfJoin(df: org.apache.spark.sql.DataFrame): String =
      planString(df.as("a").join(df.as("b"), col("a.k") === col("b.k")))
    // explode(sequence(...)) is estimated at the size of its one input
    // row; 1M long rows are 16 MB, above the 10 MB broadcast threshold
    def exploded(n: Long) = spark.range(1).select(explode(sequence(lit(1L), lit(n))).as("k"))
    val raw = exploded(1000000L).localCheckpoint(true)
    assert(selfJoin(raw).contains("BroadcastHashJoin"),
      "the undercount this guards against no longer shows on a plain checkpoint")
    val (big, _) = graft.util.Blocks.checkpoint(exploded(1000000L))
    val bigPlan = selfJoin(big)
    assert(bigPlan.contains("SortMergeJoin") && !bigPlan.contains("BroadcastHashJoin"), bigPlan)
    val (small, _) = graft.util.Blocks.checkpoint(exploded(1000L))
    assert(selfJoin(small).contains("BroadcastHashJoin"), selfJoin(small))
    // variable-width columns count at their measured width: 2,000 rows
    // of 1,000-long arrays are 16 MB, where default sizes say 48 kB
    val (wide, _) = graft.util.Blocks.checkpoint(
      spark.range(2000).select(col("id").as("k"), sequence(lit(1L), lit(1000L)).as("arr")))
    val widePlan = selfJoin(wide)
    assert(widePlan.contains("SortMergeJoin") && !widePlan.contains("BroadcastHashJoin"), widePlan)
    graft.util.Blocks.releaseAll(Seq(raw, big, small, wide))
  }

  test("cleaning ops: per-row passes plan no shuffle; strip has no window") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "c\nd")).toDF("doc_id", "text")
    // repetition stats and PII redaction are pure projections — any
    // Exchange here would turn a cheap corpus scan into a shuffle of
    // the full text volume at 100 TB
    for (df <- Seq(graft.ops.Clean.repetitionStats(docs),
                   graft.ops.Clean.redactPii(docs))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"per-row cleaning op shuffles:\n$plan")
    }
    // stripBoilerplate: ordered rebuild must be aggregate-shaped
    // (map-side partial agg absorbs long docs), never a Window over
    // doc_id, and the boilerplate filter must be an anti join
    val strip = graft.ops.Clean.stripBoilerplate(docs, 2L)
    val plan = strip.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in strip rebuild:\n$plan")
    assert(plan.contains("LeftAnti"), s"boilerplate filter not an anti join:\n$plan")
  }
}
