package graft

import org.scalatest.funsuite.AnyFunSuite

/** Block-lifecycle audit: a library consumer running repeated
  * pipelines in one long session must be able to release EVERYTHING a
  * run pinned (localCheckpoint blocks + the lazy shared-join cache)
  * through the Result ownership contract alone — no blanket
  * getPersistentRDDs sweeps (which consumers won't know to do; the
  * accumulation pathology is quantified in BASELINE.md "persist
  * weather"). */
class LifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("Result.unpersist releases every block the run pinned") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val turns = graft.synth.TranscriptSynth.turnsDs(spark,
      graft.synth.TranscriptSynth.Config(nConvs = 40, turnsPerConv = 6))
    val r = Pipeline.run(turns)
    // force the lazy justification surface so the shared annotated-
    // members cache is actually populated, and the core triple path
    assert(r.triples.count() > 0)
    assert(r.informativeJustifications.count() > 0)
    assert(r.protoJustifications.count() >= 0)
    val during = sc.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "run pinned nothing — the audit is vacuous")
    r.unpersist()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"blocks survive Result.unpersist: ids=${leaked.toSeq.sorted.take(10)}")
  }

  test("connected components releases superseded rounds (only the result stays)") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a path graph forces several pointer-jumping rounds
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = graft.cc.ConnectedComponents.run(edges)
    assert(labels.select("component").distinct().count() == 1)
    val pinned = sc.getPersistentRDDs.keySet -- before
    // exactly the returned labels' checkpoint may remain pinned —
    // intermediate rounds and the symmetric edge list must be gone
    assert(pinned.size <= 1,
      s"CC leaked intermediate round blocks: ids=${pinned.toSeq.sorted}")
    graft.util.Blocks.release(labels)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("conversationClusters pins only its (released afterwards) verdict frame") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val turns = graft.synth.TranscriptSynth.turnsDs(spark,
      graft.synth.TranscriptSynth.Config(nConvs = 30, turnsPerConv = 6))
    val verdicts = graft.ops.ConversationDedup.conversationClusters(turns)
    assert(verdicts.count() == 30)
    // the heavyweight conversation-TEXT concat blocks and the dedup
    // stack's internal signature/CC checkpoints must already be gone;
    // only the tiny verdict checkpoint itself may remain pinned
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.size <= 1,
      s"conversationClusters leaked intermediate blocks: ids=${pinned.toSeq.sorted}")
    graft.util.Blocks.release(verdicts)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("cosinePairs pins only its (released afterwards) result") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = (0 until 16).map(i => (i.toLong, Seq.tabulate(8)(j => (i + j) / 16.0f)))
      .toDF("vec_id", "embedding")
    val pairs = graft.ops.Similarity.cosinePairs(e, threshold = 0.5)
    assert(pairs.count() > 0)
    // the embedding and bucket checkpoints must already be gone
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.size <= 1,
      s"cosinePairs leaked intermediate blocks: ids=${pinned.toSeq.sorted}")
    graft.util.Blocks.release(pairs)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
