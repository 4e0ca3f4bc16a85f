package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.extract.MentionExtractor
import graft.link.Linker
import graft.schema._
import graft.snapshot.SnapshotStore
import graft.synth.TranscriptSynth

/**
 * spark-submit entry point: full KG construction with snapshot-per-
 * stage checkpoint/resume — the north-rule contract ("resumable from
 * Iceberg-snapshot checkpoints with per-partition lineage and counter
 * metrics") realized over [[SnapshotStore]].
 *
 * Usage:
 *   spark-submit --class graft.Main <jar> \
 *     --input <transcripts parquet dir | synth:<nTurns>> \
 *     --output <snapshot root> [--threshold 0.65] [--dedup 0.9] \
 *     [--strip-boilerplate <minConvs>]
 *
 * Each stage is materialized as an immutable snapshot with per-
 * partition row counts in the manifest; a re-run resumes from the
 * last completed stage (the reference's user-selected step-range
 * restartability, /root/reference/update_kg/update_kg.py:17-35, made
 * automatic). The stages are [[Pipeline.run]]'s own stage graph
 * ([[Pipeline.stages]]), materialized through [[Pipeline.Snapshots]].
 */
object Main {

  val Usage: String = "usage: graft.Main --input <parquet dir | synth:<nTurns>> " +
    "--output <snapshot root> [--threshold 0.65] [--dedup <jaccard>] " +
    "[--strip-boilerplate <minConvs>]"

  private val Flags = Set("--input", "--output", "--threshold", "--dedup", "--strip-boilerplate")

  /** `--flag value` pairs, keyed without the dashes. An unknown flag or
    * a flag without a value is an IllegalArgumentException carrying
    * [[Usage]], never silently dropped. */
  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if Flags(k) && !v.startsWith("--") => k.stripPrefix("--") -> v
      case a => throw new IllegalArgumentException(
        (if (Flags(a(0))) s"${a(0)} needs a value" else s"unknown flag ${a(0)}") + "\n" + Usage)
    }.toMap

  /** Version of the stage output layout. Bump it with any change to a
    * stage's rows or schema: it is part of every snapshot fingerprint,
    * so a store never resumes snapshots whose stage output differed. */
  val LayoutVersion: Int = 2

  /** The fingerprint prefix every snapshot stage is keyed under: the
    * input identity, the linker config and the [[LayoutVersion]]. */
  private[graft] def baseFingerprint(inputId: String, linkCfg: Linker.Config): String =
    s"input=$inputId|threshold=${linkCfg.threshold}" +
      s"|maxBlock=${linkCfg.maxBlock}|minTokenLen=${linkCfg.minTokenLen}" +
      s"|layout=$LayoutVersion"

  def loadTurns(spark: SparkSession, input: String): Dataset[Turn] = {
    import spark.implicits._
    if (input.startsWith("synth:")) {
      val n = input.stripPrefix("synth:").toLong
      TranscriptSynth.turnsDs(spark,
        TranscriptSynth.Config(nConvs = (n / 10).toInt, turnsPerConv = 10))
    } else if (input.startsWith("synthdup:")) {
      // synth corpus + every 3rd conversation RE-INGESTED under a fresh
      // id (the ResumeSpec planting at CLI scale): with --dedup on, the
      // KG must come out identical to the clean `synth:` corpus
      val n = input.stripPrefix("synthdup:").toLong
      val base = TranscriptSynth.turnsDs(spark,
        TranscriptSynth.Config(nConvs = (n / 10).toInt, turnsPerConv = 10))
      base.unionByName(
        base.filter(t => t.conv_id.drop(4).toLong % 3 == 0)
          .map(t => t.copy(conv_id = t.conv_id + "-reingest")))
    } else if (input.startsWith("synthbp:")) {
      // synth corpus + an identical trigger-bearing system-prompt turn
      // appended to EVERY conversation (the serving-stack boilerplate
      // regime): with --strip-boilerplate on, the KG must come out
      // identical to the clean `synth:` corpus
      val n = input.stripPrefix("synthbp:").toLong
      val cfg = TranscriptSynth.Config(nConvs = (n / 10).toInt, turnsPerConv = 10)
      val base = TranscriptSynth.turnsDs(spark, cfg)
      base.unionByName(
        base.filter(_.turn_idx == 0).map(t => t.copy(
          turn_idx = cfg.turnsPerConv, role = "system",
          text = "Zorblatt Industries founded Quuxware Labs.")))
    } else spark.read.parquet(input).as[Turn]
  }

  /** The tagged-union KE extraction frame over `turns`: ONE extraction
    * pass emitting a flat tagged row per KE (1 mention, 2 statement,
    * 3 error, 4 event, 5 event arg), which the stage graph then carves
    * with columnar filter+project (no object round-trip, no second
    * extraction pass, no nested Seq cache). Shared by [[Pipeline.run]],
    * [[runResumable]] and [[graft.streaming.IncrementalKg]], so every
    * face extracts identically. */
  def extractKe(turns: Dataset[Turn]): DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.flatMap { t =>
      val k = MentionExtractor.extractTurn(t)
      val ms = k.mentions.iterator.map(m => (1, m, null: Statement, null: EventArg, null: String))
      val ss = k.statements.iterator.map(s => (2, null: Mention, s, null: EventArg, null: String))
      val evs = k.events.iterator.map(m => (4, m, null: Statement, null: EventArg, null: String))
      val eas = k.eventArgs.iterator.map(a => (5, null: Mention, null: Statement, a, null: String))
      val es = if (k.error != null)
        Iterator((3, null: Mention, null: Statement, null: EventArg, k.error))
      else Iterator.empty
      (ms ++ ss ++ evs ++ eas ++ es).toSeq
    }.toDF("tag", "m", "s", "a", "error")
  }

  /** Run all stages through the store; returns the triple count.
    * `inputId` identifies the input corpus; together with the linker
    * config it forms each stage's snapshot fingerprint, so a rerun
    * with a different input or threshold recomputes instead of
    * resuming stale snapshots. */
  def runResumable(spark: SparkSession, turns: Dataset[Turn],
      store: SnapshotStore, linkCfg: Linker.Config = Linker.Config(),
      inputId: String = "", dedupJaccard: Option[Double] = None,
      stripBoilerplateMinConvs: Option[Long] = None): Long = {
    val fp = baseFingerprint(inputId, linkCfg) +
      s"|dedup=${dedupJaccard.getOrElse("off")}" +
      s"|strip=${stripBoilerplateMinConvs.getOrElse("off")}"

    // optional TURN-level boilerplate strip FIRST (cheapest filter,
    // and it sharpens the conversation near-dup signatures below by
    // removing the templated turns they would otherwise collide on):
    // the inventory of repeated turn texts is its own snapshot stage
    // (tiny — distinct boilerplate norms), the filter an anti-join.
    val turnsStripped = stripBoilerplateMinConvs match {
      case Some(k) =>
        val norms = store.getOrCreate(spark, "boilerplate_norms", fp) {
          graft.ops.Clean.boilerplateTurnNorms(turns, k)
        }
        graft.ops.Clean.stripTurnsByNorms(turns, norms)
      case None => turns
    }

    // optional conversation-level near-dup filter BEFORE extraction —
    // the 100TB training-data flow: re-ingested/trivially-reworded
    // transcripts are dropped while one canonical copy survives. Its
    // verdict rows are a snapshot stage like any other (resume-safe;
    // the fingerprint carries the threshold so toggling recomputes).
    val turnsIn = dedupJaccard match {
      case Some(thr) =>
        val verdicts = store.getOrCreate(spark, "dedup_canon", fp) {
          graft.ops.ConversationDedup.conversationClusters(turnsStripped, thr)
        }
        graft.ops.ConversationDedup.canonicalTurns(turnsStripped, verdicts)
      case None => turnsStripped
    }

    val ke = store.getOrCreate(spark, "ke", fp)(extractKe(turnsIn))
    kgStages(spark, ke, store, fp, linkCfg)
  }

  /** Every stage DOWNSTREAM of extraction: the stage graph
    * [[Pipeline.run]] runs ([[Pipeline.stages]]) with its named stages
    * materialized as snapshots, then `triples` and the ten lazy outputs
    * each snapshotted under its stage name. The eleven outputs are
    * independent plans over the stage snapshots, so they are written
    * CONCURRENTLY (their manifest updates serialize on the store's
    * lock); for them the manifest's entry order is their completion
    * order, so readers key entries by stage name. Their plans pin no
    * checkpoint (every input is a snapshot scan or a lazy cut), so one
    * output's post-write release frees nothing another still reads.
    * Shared by the batch resume path (ke = one snapshot of the whole
    * corpus) and the streaming incremental path (ke = the union of the
    * append-log's delta snapshots; the caller keys `fp` to the log
    * head so advancing the log recomputes and an idempotent re-fire
    * resumes). Returns the triple count the manifest recorded for the
    * `triples` snapshot. */
  private[graft] def kgStages(spark: SparkSession, ke: DataFrame, store: SnapshotStore,
      fp: String, linkCfg: Linker.Config,
      saltedMembershipRows: Long = Pipeline.SaltedMembershipRows): Long = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val r = Pipeline.stages(ke, new Pipeline.Snapshots(spark, store, fp), linkCfg,
      saltedMembershipRows)
    val writes = outputStages(r).map { case (stage, df) =>
      Future(store.getOrCreate(spark, stage, fp)(df)) }
    Await.result(Future.sequence(writes), Duration.Inf)
    r.unpersist()
    store.currentRows("triples").get
  }

  /** The graph's lazy outputs under their snapshot stage names, in the
    * reference's run_all order (events, relations, then the
    * justification/link aggregation and copy-backs, Updater.py:222-256,
    * sparqls.py:391-527). */
  private[graft] def outputStages(r: Pipeline.Result): Seq[(String, DataFrame)] = Seq(
    "triples" -> r.triples.toDF(),
    "event_clusters" -> r.eventClusters,
    "event_prototypes" -> r.eventPrototypes.toDF(),
    "event_cluster_justifications" -> r.eventClusterJustifications,
    "relation_clusters" -> r.relationClusters,
    "cluster_justifications" -> r.informativeJustifications,
    "cluster_links" -> r.clusterLinks,
    "proto_justifications" -> r.protoJustifications,
    "proto_inf_justifications" -> r.protoInfJustifications,
    "proto_type_justifications" -> r.protoTypeJustifications,
    "superedge_justifications" -> r.superEdgeJustifications)

  def main(args: Array[String]): Unit = {
    val opts = try parseArgs(args) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val input = opts.getOrElse("input", "synth:100000")
    val output = opts.getOrElse("output", "/tmp/graft-kg")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // under spark-submit the master comes from the launcher; standalone
    // dev runs fall back to a tuned local session
    val session =
      if (sys.props.contains("spark.master"))
        SparkSession.builder()
          .config("spark.sql.extensions", "graft.functions.GraftExtensions")
          // JVM case mappings, as Sessions.local sets them
          .config("spark.sql.icu.caseMappings.enabled", "false")
          .getOrCreate()
      else Sessions.local(cores)
    val store = new SnapshotStore(output)
    val cfg = Linker.Config(threshold =
      opts.getOrElse("threshold", "0.65").toDouble)
    // --dedup <jaccard>: drop near-duplicate conversations (one
    // canonical survivor per family) before extraction
    val dedup = opts.get("dedup").map(_.toDouble)
    // --strip-boilerplate <minConvs>: drop turns whose normalized text
    // repeats across ≥ minConvs conversations (system prompts, tool
    // banners) before everything else
    val strip = opts.get("strip-boilerplate").map(_.toLong)
    val n = runResumable(session, loadTurns(session, input), store, cfg,
      inputId = input, dedupJaccard = dedup, stripBoilerplateMinConvs = strip)
    println(s"""{"triples":$n,"output":"$output","stages":${store.manifestEntries().size}}""")
  }
}
