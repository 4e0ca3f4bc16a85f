package kgbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.KgBenchAccess
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.StorageLevel

import graft.{Main, Pipeline}
import graft.canon.{Canonicalizer, EventCoref, Justifications, RelationClusters}
import graft.cc.ConnectedComponents
import graft.link.Linker
import graft.schema.{Mention, Statement, Triple, Turn}
import graft.snapshot.SnapshotStore
import graft.streaming.IncrementalKg
import graft.superedge.SuperEdges
import graft.synth.TranscriptSynth
import graft.util.Blocks

import KgBench.{Opts, Report}

/**
 * The traced run: per-layer wall, CPU, shuffle, spill, GC and counts,
 * all measured from outside the engine.
 *
 *  - kg_batch: a replica of `Pipeline.run` that calls each layer's
 *    public functions in the same order, takes the same measured gate
 *    branches, materializes every boundary inside a span, and must then
 *    reproduce the untraced run's triple set and output row counts.
 *  - kg_snapshot: a cold `Main.runResumable` whose stage spans come from
 *    watching the snapshot manifest, a resume, and the same seed's clean
 *    corpus streamed through `IncrementalKg` in micro-batches.
 *
 * Task metrics are attributed to the innermost span open when their job
 * started. Spans are written to `<work>/../traces/` when the run ends.
 */
object Traced {
  /** Stages a planted `Main.runResumable` writes, then the stream's log. */
  val Stages = Seq("boilerplate_norms", "dedup_canon", "ke", "surfaces", "match_edges",
    "components", "surface_clusters", "memberships", "prototypes", "superedges", "triples",
    "event_clusters", "event_prototypes", "event_cluster_justifications", "relation_clusters",
    "cluster_justifications", "cluster_links", "proto_justifications",
    "proto_inf_justifications", "proto_type_justifications", "superedge_justifications",
    "ke_log")

  /** Every per-layer metric with its unit, in print order. */
  val Metrics: Seq[(String, String)] = Seq(
    "extract.wall_s" -> "s", "extract.cpu_s" -> "s", "extract.carve_wall_s" -> "s",
    "extract.kes" -> "count", "extract.error_rows" -> "count", "extract.gc_s" -> "s",
    "link.surfaces_wall_s" -> "s", "link.match_wall_s" -> "s", "link.cpu_s" -> "s",
    "link.shuffle_mb" -> "MB", "link.surfaces" -> "count", "link.edges" -> "count",
    "cc.wall_s" -> "s", "cc.cpu_s" -> "s", "cc.jobs" -> "count", "cc.components" -> "count",
    "canon.surface_clusters_wall_s" -> "s", "canon.memberships_wall_s" -> "s",
    "canon.prototypes_wall_s" -> "s", "canon.events_wall_s" -> "s",
    "canon.relations_wall_s" -> "s", "canon.justifications_wall_s" -> "s",
    "canon.cpu_s" -> "s", "canon.shuffle_mb" -> "MB", "canon.spill_mb" -> "MB",
    "canon.clusters" -> "count", "canon.prototypes" -> "count",
    "superedge.resolved_wall_s" -> "s", "superedge.wall_s" -> "s",
    "superedge.triples_wall_s" -> "s", "superedge.cpu_s" -> "s", "superedge.shuffle_mb" -> "MB",
    "superedge.superedges" -> "count", "superedge.triples" -> "count") ++
    Stages.flatMap(s => Seq(s"snapshot.${s}_s" -> "s", s"snapshot.${s}_rows" -> "count")) ++
    Seq("snapshot.write_s" -> "s", "snapshot.mb_written" -> "MB",
      "snapshot.stages_written" -> "count", "snapshot.resume_s" -> "s",
      "snapshot.resume_hit_ratio" -> "ratio",
      "streaming.batch_p50_s" -> "s", "streaming.add_batch_s" -> "s",
      "streaming.trigger_s" -> "s", "streaming.ke_log_rows" -> "count",
      "ops.dedup_s" -> "s", "ops.strip_s" -> "s", "ops.convs_flagged" -> "count",
      "ops.dup_recall" -> "ratio", "ops.false_flags" -> "count", "ops.norms_rows" -> "count",
      "host.steal_s" -> "s", "host.busy_s" -> "s", "spark.jobs" -> "count",
      "spark.tasks" -> "count", "spark.shuffle_mb" -> "MB", "spark.gc_s" -> "s",
      "trace.total_s" -> "s", "trace.overhead_s" -> "s")

  /** Which layer a `Main` stage belongs to, and which wall metric it feeds. */
  val StageLayer: Map[String, (String, String)] = Map(
    "boilerplate_norms" -> ("ops", "ops.strip_s"),
    "dedup_canon" -> ("ops", "ops.dedup_s"),
    "ke" -> ("extract", "extract.wall_s"),
    "surfaces" -> ("link", "link.surfaces_wall_s"),
    "match_edges" -> ("link", "link.match_wall_s"),
    "components" -> ("cc", "cc.wall_s"),
    "surface_clusters" -> ("canon", "canon.surface_clusters_wall_s"),
    "memberships" -> ("canon", "canon.memberships_wall_s"),
    "prototypes" -> ("canon", "canon.prototypes_wall_s"),
    "superedges" -> ("superedge", "superedge.wall_s"),
    "triples" -> ("superedge", "superedge.triples_wall_s"),
    "event_clusters" -> ("canon", "canon.events_wall_s"),
    "event_prototypes" -> ("canon", "canon.events_wall_s"),
    "event_cluster_justifications" -> ("canon", "canon.justifications_wall_s"),
    "relation_clusters" -> ("canon", "canon.relations_wall_s"),
    "cluster_justifications" -> ("canon", "canon.justifications_wall_s"),
    "cluster_links" -> ("canon", "canon.justifications_wall_s"),
    "proto_justifications" -> ("canon", "canon.justifications_wall_s"),
    "proto_inf_justifications" -> ("canon", "canon.justifications_wall_s"),
    "proto_type_justifications" -> ("canon", "canon.justifications_wall_s"),
    "superedge_justifications" -> ("canon", "canon.justifications_wall_s"))

  val StreamBatches = 2

  /** Row counts of every frame a `Pipeline.Result` holds. */
  def outputCounts(r: Pipeline.Result): Map[String, Long] = Map(
    "mentions" -> r.mentions.count(), "statements" -> r.statements.count(),
    "errors" -> r.errors.count(), "surfaces" -> r.surfaces.count(),
    "components" -> r.components.count(), "surface_clusters" -> r.surfaceClusters.count(),
    "memberships" -> r.memberships.count(), "prototypes" -> r.prototypes.count(),
    "superedges" -> r.superEdges.count(), "triples" -> r.triples.count(),
    "events" -> r.events.count(), "event_args" -> r.eventArgs.count(),
    "event_clusters" -> r.eventClusters.count(),
    "event_memberships" -> r.eventMemberships.count(),
    "event_prototypes" -> r.eventPrototypes.count(),
    "relation_clusters" -> r.relationClusters.count(),
    "informative_justifications" -> r.informativeJustifications.count(),
    "cluster_links" -> r.clusterLinks.count(),
    "proto_justifications" -> r.protoJustifications.count(),
    "superedge_justifications" -> r.superEdgeJustifications.count())
}

final class Traced(spark: SparkSession, stats: TaskStats, rep: Report, o: Opts) {
  import Traced._
  import spark.implicits._

  private val spans = new Spans(s"${o.workload}-seed${o.seed}")
  private val values = mutable.LinkedHashMap.empty[String, Double]
  Metrics.foreach { case (k, _) => values(k) = 0.0 }

  private def layerOf(span: spans.Span): Option[String] =
    if (span.name.startsWith("snapshot.")) StageLayer.get(span.name.stripPrefix("snapshot.")).map(_._1)
    else Some(span.name.takeWhile(_ != '.'))

  /** Adds each layer's listener sums over the jobs attributed to its spans. */
  private def attribute(fromMs: Long, toMs: Long): Unit = {
    KgBenchAccess.drainListeners(spark.sparkContext)
    val byLayer = stats.jobStarts.toSeq
      .filter { case (_, t) => t >= fromMs && t <= toMs }
      .flatMap { case (j, t) => spans.at(t.toDouble).flatMap(layerOf).map(_ -> j) }
      .groupBy(_._1).map { case (l, js) => l -> stats.sum(js.map(_._2)) }
    def add(k: String, v: Double): Unit = if (values.contains(k)) values(k) += v
    byLayer.foreach { case (layer, s) =>
      add(s"$layer.cpu_s", s.cpuS); add(s"$layer.shuffle_mb", s.shuffleMb)
      add(s"$layer.spill_mb", s.spillMb); add(s"$layer.gc_s", s.gcS)
      add(s"$layer.jobs", s.jobs.toDouble)
    }
    val all = stats.window(fromMs, toMs)
    values("spark.jobs") = all.jobs.toDouble; values("spark.tasks") = all.tasks.toDouble
    values("spark.shuffle_mb") = all.shuffleMb; values("spark.gc_s") = all.gcS
  }

  private def finish(h0: Host.Jiffies, totalS: Double, overheadS: Double): Unit = {
    val (steal, busy) = Host.now() - h0
    values("host.steal_s") = steal; values("host.busy_s") = busy
    values("trace.total_s") = totalS; values("trace.overhead_s") = overheadS
    spans.write(s"${o.work}/../traces/${o.workload}-seed${o.seed}.spans.jsonl")
    spans.all.foreach(s =>
      println(f"span ${s.name}%-34s wall_s=${s.seconds}%.3f self_s=${spans.selfSeconds(s)}%.3f"))
    Metrics.foreach { case (k, u) => rep.put(k, values(k), u) }
  }

  private def wall(name: String): Double = spans.named(name).map(_.seconds).sum

  // ---- kg_batch --------------------------------------------------------

  def batch(clean: Dataset[Turn], reference: Set[Triple], referenceCounts: Map[String, Long],
      golden: Set[Triple], untracedS: Double): Unit = {
    val h0 = Host.now()
    val fromMs = System.currentTimeMillis()
    var nEdges = 0L
    val r = spans("kg_batch.traced") {
      val ke = spans("extract") { Main.extractKe(clean).localCheckpoint(true) }
      val (mentions, statements, errors, events, eventArgs) = spans("extract.carve") {
        (ke.filter(col("tag") === 1).select(col("m.*")).localCheckpoint(true).as[Mention],
          ke.filter(col("tag") === 2).select(col("s.*")).localCheckpoint(true).as[Statement],
          ke.filter(col("tag") === 3).select(col("error")).localCheckpoint(true),
          ke.filter(col("tag") === 4).select(col("m.*")).localCheckpoint(true).as[Mention],
          ke.filter(col("tag") === 5).select(col("a.*")).localCheckpoint(true))
      }
      Blocks.release(ke)
      val linkCfg = Linker.Config()
      val surf = spans("link.surfaces") { Linker.surfaces(mentions).localCheckpoint(true) }
      val edges = spans("link.match") { Linker.matchEdgesFrom(surf, linkCfg) }
      nEdges = edges.count()
      val comp = spans("cc") { ConnectedComponents.run(edges.toDF()) }
      Blocks.release(edges.toDF())
      val (surfClusters, nSurfaces) = spans("canon.surface_clusters") {
        val sc = Canonicalizer.withKind(Canonicalizer.surfaceClusters(surf, comp))
          .localCheckpoint(true)
        (sc, sc.count())
      }
      val dictFits = nSurfaces <= Pipeline.SaltedMembershipRows
      val protosFit = nSurfaces <= Pipeline.BroadcastableAggRows
      val memberships = spans("canon.memberships") {
        (if (dictFits) Canonicalizer.memberships(mentions, surfClusters)
         else Canonicalizer.membershipsSalted(mentions, surfClusters)).localCheckpoint(true)
      }
      val resolved = spans("superedge.resolved") {
        (if (dictFits) SuperEdges.resolvedStatementsViaDict(statements, surfClusters)
         else SuperEdges.resolvedStatements(statements, memberships)).localCheckpoint(true)
      }
      val (superEdges, superEdgesFit) = spans("superedge.superedges") {
        val se = SuperEdges.superEdgesFromResolved(resolved).localCheckpoint(true)
        (se, se.count() <= Pipeline.BroadcastableAggRows)
      }
      val prototypes = spans("canon.prototypes") {
        Canonicalizer.prototypes(mentions, surfClusters, broadcastDict = dictFits)
          .localCheckpoint(true)
      }
      val triples = SuperEdges.namedTriples(superEdges, prototypes, broadcastNames = protosFit)
      spans("superedge.triples") { triples.count() }
      val eventKeyed =
        if (dictFits) EventCoref.keyedEventsViaDict(events, eventArgs, surfClusters)
        else EventCoref.keyedEvents(events, eventArgs, memberships)
      val eventMemberships = EventCoref.memberships(eventKeyed)
      val eventPrototypes = EventCoref.prototypes(eventKeyed)
      spans("canon.events") { KgBench.noop(eventPrototypes.toDF()) }
      val relationClusters = RelationClusters.clusterFromResolved(
        resolved, superEdges, broadcastCounts = superEdgesFit)
      spans("canon.relations") { KgBench.noop(relationClusters) }
      val annotated =
        if (dictFits) Canonicalizer.annotatedMembers(mentions, surfClusters)
        else Justifications.annotatedMembers(memberships, mentions)
          .persist(StorageLevel.MEMORY_AND_DISK)
      val informative = Justifications.informativeJustificationsFrom(annotated)
      val links = Justifications.clusterLinksFrom(annotated)
      val protoJust = Justifications.prototypeJustificationsFrom(annotated, prototypes,
        broadcastProtos = protosFit)
      val seJust = Justifications.superEdgeJustificationsFromResolved(resolved)
      spans("canon.justifications") {
        Seq(informative, links, protoJust, seJust).foreach(KgBench.noop)
      }
      Pipeline.Result(mentions, statements, errors, surf, comp, surfClusters, memberships,
        prototypes, superEdges, triples, events, eventArgs, eventKeyed, eventMemberships,
        eventPrototypes, relationClusters, informative, links, protoJust, seJust, annotated)
    }
    val totalS = wall("kg_batch.traced")
    attribute(fromMs, System.currentTimeMillis())

    val got = KgBench.corrupt(o, KgBench.tripleSet(r.triples.toDF()))
    rep.check("kg_batch.traced.triples_equal_untraced", got == reference,
      s"missing=${(reference -- got).take(3)} extra=${(got -- reference).take(3)}")
    val counts = outputCounts(r)
    val diff = counts.filter { case (k, v) => !referenceCounts.get(k).contains(v) }
    rep.check("kg_batch.traced.row_counts_equal_untraced", diff.isEmpty,
      s"differs=${diff.map { case (k, v) => s"$k=$v vs ${referenceCounts.get(k)}" }}")

    values("extract.wall_s") = wall("extract")
    values("extract.carve_wall_s") = wall("extract.carve")
    values("extract.kes") = Seq("mentions", "statements", "errors", "events", "event_args")
      .map(counts).sum.toDouble
    values("extract.error_rows") = counts("errors").toDouble
    values("link.surfaces_wall_s") = wall("link.surfaces")
    values("link.match_wall_s") = wall("link.match")
    values("link.surfaces") = counts("surfaces").toDouble
    values("link.edges") = nEdges.toDouble
    values("cc.wall_s") = wall("cc")
    values("cc.components") = r.components.select("component").distinct().count().toDouble
    values("canon.surface_clusters_wall_s") = wall("canon.surface_clusters")
    values("canon.memberships_wall_s") = wall("canon.memberships")
    values("canon.prototypes_wall_s") = wall("canon.prototypes")
    values("canon.events_wall_s") = wall("canon.events")
    values("canon.relations_wall_s") = wall("canon.relations")
    values("canon.justifications_wall_s") = wall("canon.justifications")
    values("canon.clusters") = r.surfaceClusters.select("cluster_id").distinct().count().toDouble
    values("canon.prototypes") = counts("prototypes").toDouble
    values("superedge.resolved_wall_s") = wall("superedge.resolved")
    values("superedge.wall_s") = wall("superedge.superedges")
    values("superedge.triples_wall_s") = wall("superedge.triples")
    values("superedge.superedges") = counts("superedges").toDouble
    values("superedge.triples") = counts("triples").toDouble
    r.unpersist()
    finish(h0, totalS, totalS - untracedS)
  }

  // ---- kg_snapshot -----------------------------------------------------

  def snapshot(cfg: TranscriptSynth.Config, clean: Dataset[Turn], planted: Dataset[Turn],
      reference: Set[Triple], golden: Set[Triple]): Unit = {
    val root = s"${o.work}/store-traced"
    val store = new SnapshotStore(root)
    val h0 = Host.now()
    val fromMs = System.currentTimeMillis()
    var watcherCpuS = 0.0
    val n = spans.withId("kg_snapshot.cold") { id =>
      val watch = new ManifestWatch(s"$root/manifest.json", spans, id, Clock.ms).start()
      try KgBench.runMain(spark, planted, store, o, cfg)
      finally watcherCpuS = watch.stop()
    }
    val coldS = wall("kg_snapshot.cold")
    val written = store.manifestEntries().size
    values("snapshot.resume_s") = spans("kg_snapshot.resume") {
      KgBench.checkResume(spark, planted, store, o, cfg, n, rep) }
    val fresh = store.manifestEntries().size - written
    values("snapshot.resume_hit_ratio") = (written - fresh).toDouble / written
    KgBench.checkTriples(rep, "kg_snapshot.traced",
      KgBench.corrupt(o, KgBench.tripleSet(store.read(spark, "triples").get)), reference, golden)
    val (flagged, recall, falseFlags) = KgBench.checkOps(spark, store, cfg, rep)
    values("ops.convs_flagged") = flagged.toDouble
    values("ops.dup_recall") = recall
    values("ops.false_flags") = falseFlags.toDouble

    val entries = Manifest.entries(s"$root/manifest.json")
    entries.foreach { e =>
      values(s"snapshot.${e.stage}_s") = e.wallMs / 1e3
      values(s"snapshot.${e.stage}_rows") = e.rows.toDouble
    }
    values("snapshot.write_s") = entries.map(_.wallMs).sum / 1e3
    values("snapshot.mb_written") = KgBench.dirMb(root)
    values("snapshot.stages_written") = entries.size.toDouble
    // layer walls as seen from outside: the watcher's stage spans
    spans.all.filter(_.name.startsWith("snapshot.")).foreach { s =>
      StageLayer.get(s.name.stripPrefix("snapshot.")).foreach { case (_, k) => values(k) += s.seconds }
    }
    values("ops.norms_rows") = values("snapshot.boilerplate_norms_rows")
    values("extract.kes") = values("snapshot.ke_rows")
    values("extract.error_rows") =
      store.read(spark, "ke").get.filter(col("tag") === 3).count().toDouble
    values("link.surfaces") = values("snapshot.surfaces_rows")
    values("link.edges") = values("snapshot.match_edges_rows")
    values("cc.components") =
      store.read(spark, "components").get.select("component").distinct().count().toDouble
    values("canon.clusters") =
      store.read(spark, "surface_clusters").get.select("cluster_id").distinct().count().toDouble
    values("canon.prototypes") = values("snapshot.prototypes_rows")
    values("superedge.superedges") = values("snapshot.superedges_rows")
    values("superedge.triples") = values("snapshot.triples_rows")
    KgBench.deleteTree(root)

    stream(clean, reference)
    attribute(fromMs, System.currentTimeMillis())
    finish(h0, coldS, watcherCpuS)
  }

  /** The clean corpus through `IncrementalKg` as conversation-disjoint
    * micro-batches, closed loop: each batch is added only after the
    * previous one committed. */
  private def stream(clean: Dataset[Turn], reference: Set[Triple]): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = clean.collect()
    val convs = rows.map(_.conv_id).distinct.sorted
    val per = (convs.length + StreamBatches - 1) / StreamBatches
    val batches = convs.grouped(per).map { cs =>
      val in = cs.toSet; rows.filter(t => in(t.conv_id)).toSeq }.toSeq
    val root = s"${o.work}/stream"
    val store = new SnapshotStore(s"$root/store")
    val progress = mutable.ArrayBuffer.empty[(Double, Double)]
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.asScala
        if (e.progress.numInputRows > 0) progress.synchronized {
          progress += ((d.get("addBatch").map(_.toDouble).getOrElse(0.0) / 1e3,
            d.get("triggerExecution").map(_.toDouble).getOrElse(0.0) / 1e3))
        }
      }
    }
    spark.streams.addListener(listener)
    val src = MemoryStream[Turn]
    val q = IncrementalKg.maintain(src.toDS(), store)
      .option("checkpointLocation", s"$root/checkpoint").start()
    val latencies =
      try batches.map { b =>
        spans("streaming.batch") {
          val t0 = System.nanoTime()
          src.addData(b: _*)
          q.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        }
      } finally q.stop()
    KgBenchAccess.drainListeners(spark.sparkContext)
    spark.streams.removeListener(listener)
    latencies.foreach(_ => rep.check("kg_snapshot.stream.batch", true))
    rep.check("kg_snapshot.stream.one_log_snapshot_per_batch",
      store.snapshots("ke_log").size == batches.size, s"snapshots=${store.snapshots("ke_log")}")
    val got = KgBench.corrupt(o, KgBench.tripleSet(store.read(spark, "triples").get))
    rep.check("kg_snapshot.stream.triples_equal_batch", got == reference,
      s"missing=${(reference -- got).take(3)} extra=${(got -- reference).take(3)}")
    val log = Manifest.entries(s"$root/store/manifest.json").filter(_.stage == "ke_log")
    values("snapshot.ke_log_s") = log.map(_.wallMs).sum / 1e3
    values("snapshot.ke_log_rows") = log.map(_.rows).sum.toDouble
    values("streaming.ke_log_rows") = values("snapshot.ke_log_rows")
    values("streaming.batch_p50_s") = KgBench.median(latencies)
    val prog = progress.synchronized(progress.toSeq)
    if (prog.nonEmpty) {
      values("streaming.add_batch_s") = KgBench.median(prog.map(_._1))
      values("streaming.trigger_s") = KgBench.median(prog.map(_._2))
    }
    KgBench.deleteTree(root)
  }
}
