package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.link.Linker
import graft.schema.Turn
import graft.snapshot.SnapshotStore
import graft.synth.TranscriptSynth

/** The KG stage graph is written once ([[Pipeline.stages]]) and
  * materialized two ways: in-session checkpoints ([[Pipeline.run]]) and
  * resumable snapshots ([[Main.runResumable]]). Both must emit the same
  * rows for every one of the 19 snapshot stages, on the dictionary path
  * and on the oversized-dictionary (salted) path. */
class MaterializerParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val cfg = TranscriptSynth.Config(nConvs = 120, turnsPerConv = 8)

  private def assertSameRows(stage: String, a: DataFrame, b: DataFrame): Unit = {
    val aligned = b.select(a.columns.toSeq.map(col): _*)
    val missing = a.exceptAll(aligned).count()
    val extra = aligned.exceptAll(a).count()
    assert(missing == 0 && extra == 0,
      s"$stage: $missing in-session rows missing from the snapshot, $extra extra")
  }

  /** Runs both materializers over one corpus and compares every stage. */
  private def checkParity(saltedMembershipRows: Long)(
      snapshot: (Dataset[Turn], SnapshotStore) => Unit): Unit = {
    val turns = TranscriptSynth.turnsDs(spark, cfg, partitions = 6)
    val r = Pipeline.run(turns, saltedMembershipRows = saltedMembershipRows)
    val store = new SnapshotStore(Files.createTempDirectory("parity").toString)
    snapshot(turns, store)
    assert(store.manifestEntries().size == 19)

    // ke holds the tagged union Pipeline.run releases once carved:
    // compare it decoded, carve by carve
    val ke = store.read(spark, "ke").get
    Seq((1, "m.*", r.mentions.toDF()), (2, "s.*", r.statements.toDF()),
      (3, "error", r.errors), (4, "m.*", r.events.toDF()), (5, "a.*", r.eventArgs))
      .foreach { case (tag, cols, inSession) =>
        assertSameRows(s"ke tag $tag", inSession,
          ke.filter(col("tag") === tag).select(col(cols)))
      }
    // match_edges is released after CC: recompute it in-session from
    // the in-session surfaces
    val edges = Linker.matchEdgesFrom(r.surfaces).toDF()
    val inSession = Main.outputStages(r) ++ Seq(
      "surfaces" -> r.surfaces, "match_edges" -> edges,
      "components" -> r.components, "surface_clusters" -> r.surfaceClusters,
      "memberships" -> r.memberships.toDF(), "prototypes" -> r.prototypes.toDF(),
      "superedges" -> r.superEdges.toDF())
    assert(inSession.map(_._1).toSet + "ke" == store.stages().toSet)
    inSession.foreach { case (stage, df) =>
      assertSameRows(stage, df, store.read(spark, stage).get) }
    graft.util.Blocks.release(edges)
    r.unpersist()
  }

  test("Pipeline.run and Main.runResumable emit identical rows for all 19 stages") {
    checkParity(Pipeline.SaltedMembershipRows) { (turns, store) =>
      Main.runResumable(spark, turns, store)
    }
  }

  test("both materializers agree on the oversized-dictionary (salted) path") {
    checkParity(0L) { (turns, store) =>
      val fp = "salted"
      val ke = store.getOrCreate(spark, "ke", fp)(Main.extractKe(turns))
      Main.kgStages(spark, ke, store, fp, Linker.Config(), saltedMembershipRows = 0L)
      // kgStages writes the outputs concurrently and releases each one's
      // checkpoints after its write: the outputs (resumed here) must pin
      // none, or one write could free blocks another still reads
      val r = Pipeline.stages(ke, new Pipeline.Snapshots(spark, store, fp), Linker.Config(), 0L)
      Main.outputStages(r).foreach { case (stage, df) =>
        assert(graft.util.Blocks.pinned(df).isEmpty, stage) }
      r.unpersist()
    }
  }
}
