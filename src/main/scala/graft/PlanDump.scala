package graft

import java.io.{File, PrintWriter}

import scala.util.control.NonFatal

import graft.synth.TranscriptSynth

/**
 * Plan capture: writes `.explain("formatted")` of every declared
 * per-table query in [[SparkEntry.queries]] (all but the `q_kg_*`
 * pipeline rows) — and of the pipeline's output frames over a small
 * corpus (`pipeline`) — to one file per name under `outDir`. Dev tool
 * for the `plans/` before/after evidence.
 *
 * An unknown name in the filter exits 2 before any plan is built; a
 * plan that fails to build is reported and the run exits 1 once the
 * remaining plans are written.
 *
 * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [names...]
 */
object PlanDump {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only: Set[String] = args.drop(3).toSet
    val tableQueries = SparkEntry.queries.keys.filterNot(_.startsWith("q_kg_")).toSeq.sorted
    val unknown = only -- tableQueries - "pipeline"
    if (unknown.nonEmpty) {
      System.err.println(s"unknown plan names: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    new File(outDir).mkdirs()
    val spark = Sessions.local(8, "graft-plandump")

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val w = new PrintWriter(s"$outDir/${name}_$suffix.txt")
      try w.write(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      finally w.close()
      println(s"dumped $name")
    }

    // the per-table declared queries (cheap to construct; explain only)
    val failed = tableQueries.filter(n => only.isEmpty || only(n)).filterNot { name =>
      try { dump(name, SparkEntry.queries(name)(spark, sfDir)); true }
      catch { case NonFatal(e) => System.err.println(s"failed $name: $e"); false }
    }

    // pipeline output frames over a small corpus (Pipeline.run
    // materializes its stage checkpoints; the frames below are the
    // lazy plans the bench forces)
    if (only.isEmpty || only("pipeline")) {
      val r = Pipeline.run(TranscriptSynth.turnsDs(spark,
        TranscriptSynth.Config(nConvs = 200, turnsPerConv = 8), partitions = 8))
      dump("pipe_triples", r.triples.toDF())
      dump("pipe_eventPrototypes", r.eventPrototypes.toDF())
      dump("pipe_relationClusters", r.relationClusters)
      dump("pipe_informativeJustifications", r.informativeJustifications)
      dump("pipe_clusterLinks", r.clusterLinks)
      dump("pipe_protoJustifications", r.protoJustifications)
      dump("pipe_superEdgeJustifications", r.superEdgeJustifications)
      r.unpersist()
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"${failed.size} plan(s) failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
