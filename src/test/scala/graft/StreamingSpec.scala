package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.Turn

/** The engine's streaming face: [[graft.streaming.IncrementalKg]]
  * maintains the KG snapshots per micro-batch under readStream. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("incremental KG maintenance: two micro-batches ≡ one batch run on the union") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("inckg").toString
    val store = new graft.snapshot.SnapshotStore(root)
    // one synthetic corpus, streamed as two disjoint conversation slices
    val all = graft.synth.TranscriptSynth.turnsDs(spark,
      graft.synth.TranscriptSynth.Config(nConvs = 40, turnsPerConv = 6)).collect()
    val (b1, b2) = all.partition(_.conv_id < "conv00000020")
    assert(b1.nonEmpty && b2.nonEmpty)
    val src = MemoryStream[Turn]
    val q = graft.streaming.IncrementalKg.maintain(src.toDS(), store).start()
    try {
      src.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      // after batch 1 the KG exists over slice 1 only
      val t1 = store.read(spark, "triples").get.count()
      assert(t1 > 0)
      src.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // extraction log: exactly one DELTA snapshot per micro-batch
    assert(store.snapshots("ke_log").size == 2)
    // storage is O(corpus), not O(batches × KG): batch 2 rebuilt every
    // cluster-layer stage, and the maintainer expired batch 1's
    // superseded copies — one live snapshot per replace-mode stage,
    // while the append-mode log above keeps both deltas
    assert(store.snapshots("triples").size == 1)
    assert(store.snapshots("memberships").size == 1)
    // the maintained KG ≡ a clean batch run over the union corpus —
    // ids are content-derived, so set equality is exact
    val ref = Pipeline.run(spark.createDataset(all.toIndexedSeq))
    val streamTriples = store.read(spark, "triples").get
      .select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val batchTriples = ref.triples.collect()
      .map(t => (t.subj, t.pred, t.obj)).toSet
    assert(streamTriples == batchTriples,
      s"missing=${(batchTriples -- streamTriples).take(3)} spurious=${(streamTriples -- batchTriples).take(3)}")
    val streamMembers = store.read(spark, "memberships").get
      .select("cluster_id", "member_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val batchMembers = ref.memberships.collect()
      .map(m => (m.cluster_id, m.member_id)).toSet
    assert(streamMembers == batchMembers)
    ref.unpersist()
  }
}
