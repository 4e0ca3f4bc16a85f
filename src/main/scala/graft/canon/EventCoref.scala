package graft.canon

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.schema.{Membership, Mention, Prototype}

/**
 * Event coreference — the reference's third cluster kind
 * (`_run_cluster_nt('aida:Event')`, /root/reference/update_kg/
 * Updater.py:133), clustered on exactly the features its event json
 * head exposes (Updater.py:323-345): the event TYPE, plus the typed
 * ARGUMENT lists resolved to their entity clusters. Two event mentions
 * corefer iff they have the same event type and role-identical
 * argument entity clusters — the deterministic analog of the
 * reference's event clustering contract, which runs AFTER entity
 * clustering so argument identity is cluster-level, not surface-level.
 *
 * Scale notes: one event-arg-scale equi-join against entity
 * memberships (member_id is UNIQUE per membership row → 1:1,
 * skew-free), one groupBy(event_id) to fold role:cluster pairs into
 * the cluster key (≤3 rows per event — bounded fan-in), and one
 * compact per-cluster aggregation for prototypes. Hot argument
 * clusters (the skewed entity family) do NOT skew the key groupBys,
 * which partition on event_id / cluster-key, both high-cardinality.
 */
object EventCoref {

  /** Event mentions keyed by their coreference cluster.
    * Output: event_id, etype, name, conv_id, turn_idx, ekey,
    * cluster_id, prototype_id. Orphan events (no resolvable args —
    * impossible by construction, defended anyway) become singletons
    * keyed by their own id, mirroring entity singleton synthesis. */
  def keyedEvents(events: Dataset[Mention], eventArgs: DataFrame,
      entityMemberships: Dataset[Membership]): DataFrame = {
    val m = entityMemberships.toDF()
      .select(col("member_id").as("arg_id"), col("cluster_id").as("arg_cluster"))
    // merge hint: arg-scale ⋈ membership-scale, both corpus-scale —
    // never broadcastable (checkpoint stats undercount; see
    // graft.superedge.SuperEdges)
    keyed(events, argKeysFrom(eventArgs.join(m.hint("merge"), "arg_id")))
  }

  /** [[keyedEvents]] resolved through the broadcast surface
    * dictionary instead of corpus-scale memberships (round 6, guide
    * §8): a mention's membership is a pure function of its surface,
    * and [[graft.schema.EventArg]] carries the arg's surface key from
    * extraction, so under the same `dictFits` gate the pipeline
    * threads to [[Canonicalizer.memberships]] the arg⋈membership
    * sort-merge (two corpus-scale shuffle+sorts) collapses to one
    * broadcast [[Canonicalizer.lookup]]. Result ≡ [[keyedEvents]] —
    * pinned by EventGoldenSpec's parity test. */
  def keyedEventsViaDict(events: Dataset[Mention], eventArgs: DataFrame,
      surfClusters: DataFrame): DataFrame =
    keyed(events, argKeysFrom(Canonicalizer.lookup(eventArgs, surfClusters,
      Seq(col("cluster_id").as("arg_cluster")))))

  /** Per-event sorted role:cluster key from arg rows that carry an
    * `arg_cluster` column (≤ a handful of rows per event). */
  private def argKeysFrom(resolvedArgs: DataFrame): DataFrame =
    resolvedArgs
      .select(col("event_id"),
        concat_ws(":", col("role"), col("arg_cluster")).as("rc"))
      .groupBy(col("event_id"))
      .agg(array_join(array_sort(collect_list(col("rc"))), ",").as("argkey"))

  private def keyed(events: Dataset[Mention], argKeys: DataFrame): DataFrame =
    events.toDF()
      .select(col("mention_id").as("event_id"), col("etype"), col("name"),
        col("conv_id"), col("turn_idx"))
      .join(argKeys.hint("merge"), Seq("event_id"), "left_outer")
      .withColumn("ekey",
        concat_ws("|", col("etype"),
          coalesce(col("argkey"), concat(lit("orphan:"), col("event_id")))))
      .withColumn("cluster_id", concat(lit("ec:"), md5(col("ekey"))))
      .withColumn("prototype_id", concat(lit("ep:"), md5(col("ekey"))))
      .drop("argkey")

  /** Event cluster memberships (conf = 1.0, the reference constant —
    * update_kg/Updater.py:565, same for all three cluster kinds). */
  def memberships(keyed: DataFrame): Dataset[Membership] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed.select(col("cluster_id"), col("event_id").as("member_id"),
      lit(1.0).as("conf")).as[Membership]
  }

  /** Event prototypes: kind="event", etype = event type (identical
    * across members by construction), name = mode trigger text with
    * max tie-break (A5 — same rule as entity prototype names,
    * update_kg/sparqls.py:302-341). */
  def prototypes(keyed: DataFrame): Dataset[Prototype] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    // ONE aggregate pair, no windows (guide §2.3): `max(struct(cnt,
    // name))` is lexicographic — max cnt first, ties to the max name —
    // exactly the old `row_number() OVER (ORDER BY cnt DESC, name
    // DESC) = 1`; n_members = sum of the per-name counts. prototype_id
    // and etype are constant within a cluster (both derive from the
    // cluster key), so grouping by them changes nothing — and the two
    // window sorts over the name-count table disappear.
    keyed
      .groupBy(col("cluster_id"), col("prototype_id"), col("etype"), col("name"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("cluster_id"), col("prototype_id"), col("etype"))
      .agg(max(struct(col("cnt"), col("name"))).as("best"),
        sum(col("cnt")).as("n_members"))
      .select(col("prototype_id"), col("cluster_id"), lit("event").as("kind"),
        col("best.name").as("name"), col("etype"),
        lit(null).cast("string").as("link_target"), col("n_members"))
      .as[Prototype]
  }

  /** Participant names kept per event by [[namedFrames]]. */
  private val MaxParticipants = 16

  /** ID-insensitive named event frames for golden comparison: one row
    * per event cluster with the event type and the canonical (entity
    * prototype) names of its Subject / Object / Place arguments —
    * cluster ids are content hashes here and random in the reference
    * (update_kg/Updater.py:156-158), so parity is by content, the
    * same contract as [[graft.superedge.SuperEdges.namedTriples]]. */
  def namedFrames(keyed: DataFrame, eventArgs: DataFrame,
      entityMemberships: Dataset[Membership],
      entityPrototypes: Dataset[Prototype]): DataFrame = {
    val m = entityMemberships.toDF()
      .select(col("member_id").as("arg_id"), col("cluster_id").as("arg_cluster"))
    val pnames = entityPrototypes.toDF()
      .select(col("cluster_id").as("arg_cluster"), col("name").as("arg_name"))
    // Participant is LIST-valued (reference: per-type argument lists,
    // update_kg/Updater.py:329-345): collect a SORTED, RANK-GATED
    // sample per event — the rank window is bounded per (event, role),
    // and the `when` leaves rows past MaxParticipants as nulls that
    // collect_list skips, so a pathological mega-arity event can never
    // materialize an unbounded row (the 2GB-row hazard class)
    val w = Window.partitionBy(col("event_id"), col("role"))
      .orderBy(col("arg_name").asc, col("arg_id").asc)
    val argNames = eventArgs
      .join(m.hint("merge"), "arg_id")
      .join(pnames, "arg_cluster")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("event_id"))
      .agg(
        max(when(col("role") === "Subject", col("arg_name"))).as("subj"),
        max(when(col("role") === "Object", col("arg_name"))).as("obj"),
        max(when(col("role") === "Place", col("arg_name"))).as("place"),
        // array_distinct: two DISTINCT arg clusters can resolve to the
        // SAME prototype name (the reference's per-type entity lists
        // are name-level) — without it "A, A" leaks into the frame key
        nullif(array_join(array_distinct(array_sort(collect_list(
          when(col("role") === "Participant" && col("rn") <= MaxParticipants,
            col("arg_name"))))), ", "), lit("")).as("participants"))
    keyed.select(col("event_id"), col("cluster_id"), col("etype"))
      .join(argNames, "event_id")
      .groupBy(col("cluster_id"), col("etype"),
        col("subj"), col("obj"), col("place"), col("participants"))
      .agg(count(lit(1)).as("n_members"))
  }
}
