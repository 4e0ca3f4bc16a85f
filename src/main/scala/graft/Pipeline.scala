package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.canon.{Canonicalizer, EventCoref, Justifications, RelationClusters}
import graft.cc.ConnectedComponents
import graft.link.Linker
import graft.schema._
import graft.snapshot.SnapshotStore
import graft.superedge.SuperEdges

/**
 * End-to-end KG construction over transcripts — the Spark-native
 * re-realization of the reference's `Updater.run_all` stage order
 * (/root/reference/update_kg/Updater.py:584-598, SURVEY.md §3.1):
 * extract (TA1 analog) → link (gaia-clustering analog) → connected
 * components → canonicalize (clusters/prototypes/singletons) →
 * superedges → corpus triples.
 *
 * The stage graph ([[stages]]) is written once, against a
 * [[Materializer]]: [[run]] materializes its boundaries in-session,
 * [[graft.Main]] and [[graft.streaming.IncrementalKg]] as resumable
 * snapshots. Where the reference round-trips HTTP per 1000 triples,
 * ours crosses machines only at Spark shuffles.
 */
object Pipeline {

  /** Full pipeline output: the named stages and cuts materialized by
    * the run's [[Materializer]], `triples` and the event / relation /
    * justification outputs LAZY plans over them (see [[stages]]). */
  final case class Result(
      mentions: Dataset[Mention],
      statements: Dataset[Statement],
      errors: DataFrame,
      surfaces: DataFrame,
      components: DataFrame,
      surfaceClusters: DataFrame,
      memberships: Dataset[Membership],
      prototypes: Dataset[Prototype],
      superEdges: Dataset[SuperEdge],
      triples: Dataset[Triple],
      // event KEs (the reference's third cluster kind, Updater.py:133)
      events: Dataset[Mention],
      eventArgs: DataFrame,
      eventClusters: DataFrame,
      eventMemberships: Dataset[Membership],
      eventPrototypes: Dataset[Prototype],
      // relation clusters (Updater.py:222-244) + justification/link
      // aggregation (run_all steps 7-8, Updater.py:246-256) + copy-backs
      relationClusters: DataFrame,
      informativeJustifications: DataFrame,
      clusterLinks: DataFrame,
      protoJustifications: DataFrame,
      superEdgeJustifications: DataFrame,
      // the member-annotation frame the three cluster-level
      // justification outputs share — a plain broadcast-dictionary
      // plan when the dictionary fits (nothing to cache), the
      // lazily-persisted memberships⋈mentions join otherwise; exposed
      // so callers OWN its lifecycle (see [[Result.unpersist]])
      annotatedMembers: DataFrame) {

    /** Release EVERY block this run pinned: the lazily-persisted
      * `annotatedMembers` cache AND all stage-boundary checkpoint
      * blocks (which `Dataset.unpersist` alone cannot free — see
      * [[graft.util.Blocks]]). Ownership contract: call after the LAST
      * action on ANY result frame; the result is unusable afterwards
      * (checkpoint lineage is truncated, dropped blocks cannot be
      * recomputed). Library consumers running repeated `run`s in one
      * session otherwise accumulate pinned blocks (the GC pathology
      * quantified in BASELINE.md "persist weather" — a later run's
      * allocation burst against a heap of dead blocks showed 19×
      * executor time). */
    def unpersist(): Unit = {
      annotatedMembers.unpersist(false)
      graft.util.Blocks.releaseAll(Seq(
        mentions.toDF(), statements.toDF(), errors, surfaces, components,
        surfaceClusters, memberships.toDF(), prototypes.toDF(),
        superEdges.toDF(), triples.toDF(), events.toDF(), eventArgs,
        eventClusters, eventMemberships.toDF(), eventPrototypes.toDF(),
        relationClusters, informativeJustifications, clusterLinks,
        protoJustifications, superEdgeJustifications, annotatedMembers))
    }

    /** The informative-justification rule over the third cluster kind:
      * event members are mentions with trigger spans. */
    def eventClusterJustifications: DataFrame =
      Justifications.informativeJustifications(eventMemberships, events)

    /** The reference's `proto_inf_just` copy-back
      * (update_kg/sparqls.py:413-430). */
    def protoInfJustifications: DataFrame =
      Justifications.prototypeInformativeJustificationsFrom(
        informativeJustifications, prototypes)

    /** The reference's `proto_type_assertion_justi` copy-back
      * (update_kg/sparqls.py:433-454). */
    def protoTypeJustifications: DataFrame =
      Justifications.prototypeTypeAssertionJustifications(memberships, mentions, prototypes)
  }

  /** Rows above which the surface dictionary is assumed to exceed the
    * broadcast threshold and the membership join switches to the
    * salted path (hot-surface skew defense, SURVEY.md §7.4.3).
    * ~2M compact surface rows ≈ the 100MB broadcast ceiling. */
  val SaltedMembershipRows: Long = 2L * 1000 * 1000

  /** Rows at or below which a MEASURED compact aggregate (the
    * superedge count table) is explicitly broadcast into its join-back
    * instead of merge-joined — ~25 MB of (3 strings, long) rows. The
    * gate is on a real count, never a size estimate (round 6,
    * guide §3.1). */
  val BroadcastableAggRows: Long = 250000L

  /** The stage graph's materialization boundary. [[stages]] is written
    * once against it; the two implementations decide only where a
    * boundary lands — in-session blocks ([[InSession]]) or snapshots
    * ([[Snapshots]]). */
  trait Materializer {
    /** A named stage, `ke` through `superedges`. `materialized`: the
      * builder's operator already returns its frame checkpointed. */
    def stage(name: String, materialized: Boolean = false)(build: => DataFrame): DataFrame
    /** An in-session-only cut: the extraction carves and the shared
      * resolved-statement frame. */
    def cut(df: DataFrame): DataFrame
    /** Row count of a stage [[stage]] already returned, as recorded
      * when it was materialized — the measured-count gates' input,
      * without a count job. */
    def rows(name: String): Long
  }

  /** Eager checkpoint ([[graft.util.Blocks.checkpoint]]) at every
    * boundary, [[run]]'s materializer. Materialized, not merely cached:
    * persist keeps the full logical plan, so every downstream action
    * re-analyzes/re-optimizes a tree that grows with each stage
    * (profiling showed driver planning + nested encode/decode
    * dominating, not data work). This is the in-session analog of the
    * snapshot-per-stage design the reference's step-resumable pipeline
    * implies (SURVEY.md §3.1, §4.3.5). A stage's row count rides its
    * checkpoint job, so only the stages it checkpoints itself (not
    * `materialized` ones) have [[rows]]; one instance per run, as it
    * keeps those counts. */
  final class InSession extends Materializer {
    private val counts = scala.collection.concurrent.TrieMap.empty[String, Long]
    def stage(name: String, materialized: Boolean)(build: => DataFrame): DataFrame =
      if (materialized) build
      else {
        val (cp, n) = graft.util.Blocks.checkpoint(build)
        counts.put(name, n)
        cp
      }
    def cut(df: DataFrame): DataFrame = graft.util.Blocks.checkpoint(df)._1
    def rows(name: String): Long = counts.getOrElse(name,
      throw new NoSuchElementException(s"no row count observed for stage $name"))
  }

  /** Every named stage resumes from, or is written as, a
    * [[SnapshotStore]] snapshot under fingerprint `fp`. Cuts stay lazy
    * plans over the snapshots: parquet scans already prune columns, and
    * a checkpointed cut shared by two stages would be freed under the
    * later one, because `getOrCreate` releases every checkpoint its
    * builder pinned. Row counts are the manifest's. */
  final class Snapshots(spark: SparkSession, store: SnapshotStore, fp: String)
      extends Materializer {
    def stage(name: String, materialized: Boolean)(build: => DataFrame): DataFrame =
      store.getOrCreate(spark, name, fp)(build)
    def cut(df: DataFrame): DataFrame = df
    def rows(name: String): Long = store.currentRows(name).get
  }

  def run(turns: Dataset[Turn], linkCfg: Linker.Config = Linker.Config(),
      saltedMembershipRows: Long = SaltedMembershipRows): Result = {
    val m = new InSession
    stages(m.stage("ke")(Main.extractKe(turns)), m, linkCfg, saltedMembershipRows)
  }

  /** The KG stage graph from the tagged KE frame (`ke`, already a stage
    * boundary) to every output, materialized through `m`. The named
    * stages and cuts are materialized; `triples` and everything
    * downstream are lazy plans over them — consumers that don't need
    * them pay nothing, and consumers that do get plans rooted at
    * materialized data, not at re-extraction. */
  private[graft] def stages(ke: DataFrame, m: Materializer,
      linkCfg: Linker.Config, saltedMembershipRows: Long): Result = {
    val spark = ke.sparkSession
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)

    // CARVE the tagged union into NARROW frames immediately: checkpoint
    // scans can't prune columns (ExistingRDD materializes full rows), so
    // every downstream join/agg over e.g. `statements` would otherwise
    // re-decode the full 5-column nested-struct row for every KE of
    // every kind — profiled at ~200 executor-s per statements scan at
    // 2M turns. The five carves are INDEPENDENT full scans of the same
    // blocks — submitted concurrently so they overlap (guide §2.6):
    // wall ≈ the slowest scan, not the sum of five.
    val (mentions, statements, errors, events, eventArgs) = {
      def carve(tag: Int, cols: String) =
        Future(m.cut(ke.filter(col("tag") === tag).select(col(cols))))
      val (fM, fS, fErr, fEv, fA) =
        (carve(1, "m.*"), carve(2, "s.*"), carve(3, "error"), carve(4, "m.*"), carve(5, "a.*"))
      (await(fM).as[Mention], await(fS).as[Statement], await(fErr),
        await(fEv).as[Mention], await(fA))
    }
    // the wide union is dead once carved; a snapshot scan pins nothing
    graft.util.Blocks.release(ke)

    val surf = m.stage("surfaces")(Linker.surfaces(mentions))
    val edges = m.stage("match_edges", materialized = true) {
      Linker.matchEdgesFrom(surf, linkCfg).toDF() }
    val comp = m.stage("components", materialized = true)(ConnectedComponents.run(edges))
    // the edge list's checkpoint blocks are dead once CC has consumed
    // them (CC's first round materialized the symmetric copy); its
    // truncated plan holds no other frame's blocks, so this frees only
    // the edges themselves
    graft.util.Blocks.release(edges)
    val surfClusters = m.stage("surface_clusters") {
      Canonicalizer.withKind(Canonicalizer.surfaceClusters(surf, comp)) }

    // size-based auto-switch: below the threshold the surface dict
    // broadcasts (Catalyst picks BroadcastHashJoin from the compact
    // materialized stats); above it the explicit salted join defuses
    // the hot-surface key before the sort-merge shuffle.
    val nSurfaces = m.rows("surface_clusters")
    val dictFits = nSurfaces <= saltedMembershipRows
    // prototype/cluster cardinality ≤ nSurfaces — a MEASURED gate for
    // broadcasting the compact prototype side into its two join-backs
    // (plan capture showed checkpoint estimates sort-merging them)
    val protosFit = nSurfaces <= BroadcastableAggRows
    // TWO INDEPENDENT materialization chains overlap here (guide
    // §2.6 — Spark happily runs concurrent jobs; the serial ordering
    // was only ever our driver code): memberships → resolved
    // statements → superedges on one thread, prototypes on the other.
    // prototypes takes the dictFits gate that picks the membership
    // path: an unconditional broadcast hint would force an oversized
    // dictionary past the broadcast limit where un-hinted Catalyst
    // falls back to a shuffle join (which AQE then skew-splits; the
    // downstream groupBy's partial agg absorbs the hot surface either
    // way).
    val (memberships, resolvedStmts, superEdges, superEdgesFit, prototypes) = {
      val fMem = Future(m.stage("memberships") {
        (if (dictFits) Canonicalizer.memberships(mentions, surfClusters)
         else Canonicalizer.membershipsSalted(mentions, surfClusters)).toDF()
      }.as[Membership])
      // ONE statements⋈memberships² resolution, shared by THREE
      // consumers (superedges here; relation clusters and superedge
      // justifications below). Before round 6 each consumer
      // re-executed the two corpus-scale merge joins — 4 extra
      // mention-scale shuffles per full-output run (guide §2.4; A/B
      // in OPTIMIZATION_r06.md). Under dictFits the two membership
      // sort-merges collapse to broadcast dictionary joins (Statement
      // carries both arg surface keys from extraction — guide §8) and
      // the chain does not wait on memberships at all.
      val fChain = Future {
        val resolved = m.cut(if (dictFits)
            SuperEdges.resolvedStatementsViaDict(statements, surfClusters)
          else SuperEdges.resolvedStatements(statements, await(fMem)))
        val se = m.stage("superedges") {
          SuperEdges.superEdgesFromResolved(resolved).toDF() }.as[SuperEdge]
        // measured (not estimated) relation-cluster count for the
        // count-join strategy below — recorded when the stage landed
        val fit = m.rows("superedges") <= BroadcastableAggRows
        (resolved, se, fit)
      }
      val fProto = Future(m.stage("prototypes") {
        Canonicalizer.prototypes(mentions, surfClusters, broadcastDict = dictFits).toDF()
      }.as[Prototype])
      val (resolved, se, fit) = await(fChain)
      (await(fMem), resolved, se, fit, await(fProto))
    }
    val triples = SuperEdges.namedTriples(superEdges, prototypes,
      broadcastNames = protosFit)

    // event coreference runs AFTER entity clustering (argument
    // identity is cluster-level). Under the dictFits gate the args
    // resolve through the broadcast surface dictionary (EventArg
    // carries the surface key from extraction) instead of sort-merging
    // against corpus-scale memberships — identical clusters, two fewer
    // mention-scale shuffle+sorts (guide §8; parity pinned in
    // EventGoldenSpec).
    val eventKeyed =
      if (dictFits) EventCoref.keyedEventsViaDict(events, eventArgs, surfClusters)
      else EventCoref.keyedEvents(events, eventArgs, memberships)
    val eventMemberships = EventCoref.memberships(eventKeyed)
    val eventPrototypes = EventCoref.prototypes(eventKeyed)

    // superedge-count reuse: the superedge aggregate IS the
    // per-relation-cluster member count, and the member rows read the
    // shared resolved-statement frame — zero joins re-executed; under
    // the measured-count gate the count side broadcasts, so the member
    // rows never shuffle at all
    val relationClusters = RelationClusters.clusterFromResolved(
      resolvedStmts, superEdges, broadcastCounts = superEdgesFit)
    // the three cluster-level justification/link outputs share ONE
    // member-annotation frame. Under the dictFits gate it comes
    // straight from the broadcast dictionary join (zero mention-scale
    // shuffles — the memberships⋈mentions sort-merge the generic path
    // pays is algebraically redundant there), and is NOT persisted:
    // each consumer's plan is a materialized scan + broadcast hash
    // join, cheaper than writing a mention-scale cache and re-reading
    // it, and concurrent consumers stop serializing on the cache build.
    // The salted/oversized-dictionary path keeps the generic merge
    // join and the shared persist (there the join IS expensive).
    val annotated =
      if (dictFits) Canonicalizer.annotatedMembers(mentions, surfClusters)
      else Justifications.annotatedMembers(memberships, mentions)
        .persist(StorageLevel.MEMORY_AND_DISK)
    val informativeJustifications =
      Justifications.informativeJustificationsFrom(annotated)
    val clusterLinks = Justifications.clusterLinksFrom(annotated)
    val protoJustifications =
      Justifications.prototypeJustificationsFrom(annotated, prototypes,
        broadcastProtos = protosFit)
    val superEdgeJustifications =
      Justifications.superEdgeJustificationsFromResolved(resolvedStmts)

    Result(mentions, statements, errors, surf, comp, surfClusters,
      memberships, prototypes, superEdges, triples,
      events, eventArgs, eventKeyed, eventMemberships, eventPrototypes,
      relationClusters, informativeJustifications, clusterLinks,
      protoJustifications, superEdgeJustifications, annotated)
  }
}
