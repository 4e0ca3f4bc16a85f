package graft.canon

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.schema.{Membership, Mention, Prototype}

/**
 * Cluster-level justification/link aggregation — the reference's
 * run_all steps 7-8 (/root/reference/update_kg/Updater.py:246-256 and
 * the pandas fallback :360-521).
 *
 * A3 — informative justification: the best justification per
 * (cluster, source doc). The reference has TWO semantics: the SPARQL
 * path takes max over the justification IRI STRING (an admitted
 * workaround, update_kg/sparqls.py:244-270), the Python path takes
 * max CONFIDENCE per doc (update_kg/Updater.py:368-377). We implement
 * the confidence semantics only (documented divergence, SURVEY.md
 * §7.4.1).
 *
 * A4 — cluster links: best confidence per (cluster, link target)
 * (update_kg/sparqls.py:273-299; Python twin Updater.py:497-507).
 *
 * Both are single groupBy passes over the membership join — partial
 * aggregation absorbs hot clusters. The `…From` forms take the shared
 * [[annotatedMembers]] (or resolved-statement) frame, as
 * `Pipeline.stages` runs them.
 */
object Justifications {

  /** The shared member-annotation join every cluster-level
    * justification/link aggregate consumes: memberships ⋈ mentions on
    * unique member_id (1:1, skew-free). Callers producing several
    * outputs persist THIS once instead of re-joining per output
    * (membership carries its own constant `conf`, so only the keys are
    * kept and the mention-level conf is unambiguous).
    *
    * PRUNED to the union of what the three consumers read (cluster_id,
    * member_id, conv_id, turn_idx, span, conf, link_target): the
    * mention name/norm_name strings — the widest columns on the row —
    * never enter the persisted cache or its consumers' shuffles. */
  def annotatedMembers(memberships: Dataset[Membership],
      mentions: Dataset[Mention]): DataFrame =
    memberships.toDF().select(col("cluster_id"), col("member_id"))
      // merge hint: both sides corpus-scale, never broadcastable
      // (checkpoint stats undercount — see graft.superedge.SuperEdges)
      .join(mentions.toDF().withColumnRenamed("mention_id", "member_id")
        .select(col("member_id"), col("conv_id"), col("turn_idx"),
          col("start_off"), col("end_off"), col("conf"), col("link_target"))
        .hint("merge"),
        "member_id")

  /** A3, confidence semantics: one row per (cluster, conv) — the
    * member justification with max conf; ties broken by mention_id
    * (deterministic). */
  def informativeJustifications(memberships: Dataset[Membership],
      mentions: Dataset[Mention]): DataFrame =
    informativeJustificationsFrom(annotatedMembers(memberships, mentions))

  /** [[informativeJustifications]] over a precomputed (possibly
    * persisted) [[annotatedMembers]] join.
    *
    * ONE aggregate, not a window (guide §2.3 "aggregate before you
    * shuffle"): `min(struct(-conf, member_id, …))` is lexicographic —
    * max conf first, ties to the ASC-min member_id — exactly the old
    * `row_number() OVER (ORDER BY conf DESC, member_id ASC) = 1`, and
    * member_id is unique within a (cluster, conv) group (annotated is
    * a 1:1 join on unique member_id), so the winner is identical.
    * The groupBy's partial (map-side) aggregation collapses each
    * group to one row BEFORE the exchange, where the window shuffled
    * and sorted every member row. Equivalence holds because conf is
    * never null/NaN here (mention conf is a content-hash in
    * [0.75, 1.0); the oracle fixture's `value` column is ditto
    * non-null — both re-verified against the DuckDB oracle). */
  def informativeJustificationsFrom(annotated: DataFrame): DataFrame =
    annotated
      .groupBy(col("cluster_id"), col("conv_id"))
      .agg(min(struct((-col("conf")).as("nc"), col("member_id"),
        col("turn_idx"), col("start_off"), col("end_off"))).as("best"))
      .select(col("cluster_id"), col("conv_id"),
        col("best.member_id").as("member_id"),
        col("best.turn_idx").as("turn_idx"),
        col("best.start_off").as("start_off"),
        col("best.end_off").as("end_off"),
        (-col("best.nc")).as("conf"))

  /** A4: best link confidence per (cluster, link target) over a
    * precomputed [[annotatedMembers]] join; NILs excluded (DUMMY
    * semantics). */
  def clusterLinksFrom(annotated: DataFrame): DataFrame =
    annotated
      .filter(col("link_target").isNotNull)
      .groupBy(col("cluster_id"), col("link_target"))
      .agg(max(col("conf")).as("link_cv"))

  /** Prototype justification copy-back — the reference's `proto_justi`
    * (update_kg/sparqls.py:391-410): EVERY member's justification span
    * is copied onto the cluster prototype (one row per member, not an
    * argmax), over a precomputed [[annotatedMembers]]: a prototype-size
    * join on cluster_id — no skew surface. `broadcastProtos`: the
    * prototype side is one row per cluster — callers that measured the
    * cluster count under the broadcast gate set it so the member-scale
    * annotated side never shuffles (plan
    * capture showed Catalyst sort-merging 2.5M member rows against a
    * 483-row prototype table off checkpoint estimates). */
  def prototypeJustificationsFrom(annotated: DataFrame,
      prototypes: Dataset[Prototype],
      broadcastProtos: Boolean = false): DataFrame = {
    val p = prototypes.toDF().select(col("cluster_id"), col("prototype_id"))
    annotated
      .join(if (broadcastProtos) broadcast(p) else p,
        "cluster_id")
      .select(col("prototype_id"), col("cluster_id"), col("member_id"),
        col("conv_id"), col("turn_idx"), col("start_off"), col("end_off"),
        col("conf"))
  }

  /** Prototype INFORMATIVE justification copy-back — `proto_inf_just`
    * (update_kg/sparqls.py:413-430): the per-(cluster, doc) best
    * justification (A3) keyed by the prototype, over precomputed
    * [[informativeJustifications]] rows. */
  def prototypeInformativeJustificationsFrom(informative: DataFrame,
      prototypes: Dataset[Prototype]): DataFrame =
    informative
      .join(prototypes.toDF().select(col("cluster_id"), col("prototype_id")),
        "cluster_id")
      .select(col("prototype_id"), col("cluster_id"), col("conv_id"),
        col("member_id"), col("turn_idx"), col("start_off"), col("end_off"),
        col("conf"))

  /** Prototype TYPE-ASSERTION justification copy-back —
    * `proto_type_assertion_justi` (update_kg/sparqls.py:433-454): the
    * justification of each member's type assertion, carried with the
    * asserted type, copied onto the prototype. In the columnar model a
    * mention's type assertion is its (etype, span) pair. */
  def prototypeTypeAssertionJustifications(memberships: Dataset[Membership],
      mentions: Dataset[Mention], prototypes: Dataset[Prototype]): DataFrame =
    memberships.toDF().select(col("cluster_id"), col("member_id"))
      .join(mentions.toDF().withColumnRenamed("mention_id", "member_id")
        .select(col("member_id"), col("etype"), col("conv_id"),
          col("turn_idx"), col("start_off"), col("end_off"))
        .hint("merge"), "member_id")
      .join(prototypes.toDF().select(col("cluster_id"), col("prototype_id")),
        "cluster_id")
      .select(col("prototype_id"), col("cluster_id"), col("etype"),
        col("member_id"), col("conv_id"), col("turn_idx"),
        col("start_off"), col("end_off"))

  /** Superedge justification copy — `super_edge_justif`
    * (update_kg/sparqls.py:509-527): each superedge carries the
    * justification spans of ALL its member statements. A pure
    * projection of a PRECOMPUTED (checkpointed) resolved-statement
    * join ([[graft.superedge.SuperEdges.resolvedStatements]]); the
    * statements⋈memberships² subtree is shared with the superedge and
    * relation-cluster outputs (guide-§2.4 shuffle removal), and the
    * output key (subj_proto, pred, obj_proto) matches
    * [[graft.superedge.SuperEdges.superEdgesFromResolved]]. */
  def superEdgeJustificationsFromResolved(resolved: DataFrame): DataFrame =
    resolved
      .select(col("subj_cluster").as("subj_proto"), col("pred"),
        col("obj_cluster").as("obj_proto"),
        col("stmt_id"), col("conv_id"), col("turn_idx"),
        col("start_off"), col("end_off"), col("conf"))
}
