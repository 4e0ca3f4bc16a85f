package graft.schema

import java.sql.Timestamp

/**
 * Typed row schemas of the KG-construction pipeline.
 *
 * Table-per-concept columnar model replacing the reference's universal
 * RDF triple store (see SURVEY.md §1.5; reference data model at
 * /root/reference/update_kg/Updater.py:558-578 and
 * /root/reference/update_kg/sparqls.py:52-164). Every SPARQL query in
 * the reference targets a known triple shape, so fixed-schema Datasets
 * are both faithful and Catalyst-friendly (column pruning + predicate
 * pushdown reach the parquet scans).
 */

/** Primary input — one conversation turn (BASELINE.json input_hint).
  * `conv_id` plays the reference's `doc`/`sourceDocument` role
  * (reference: update_kg/Updater.py:328, sparqls.py:120-127). */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String, // nullable
    ts: Timestamp)

/** A detected knowledge-element mention — the analog of the
  * reference's entity/event "json head" rows
  * (update_kg/Updater.py:302-345, json_head/get_json_head.py:13-61).
  * `link_target` is null for NIL; NILs never block-match (the
  * reference's DUMMY:%d counter, json_head/get_json_head.py:18-20). */
final case class Mention(
    mention_id: String,
    conv_id: String,
    turn_idx: Int,
    kind: String, // entity | event | relation
    etype: String, // coarse type, namespaces.py:20-44 vocabulary
    name: String,
    norm_name: String,
    start_off: Int,
    end_off: Int,
    conf: Double,
    link_target: String)

/** Reified statement with justification provenance — the analog of
  * rdf:Statement {rdf:subject, rdf:predicate, rdf:object} +
  * aida:justifiedBy (reference: update_kg/sparqls.py:100-103,489-491,
  * 522-527). subj/obj are mention_ids pre-canonicalization.
  *
  * The argument mentions' SURFACE KEYS are carried denormalized from
  * extraction (round 6, same rationale as [[EventArg]]): a mention's
  * cluster is a pure function of its surface, so a broadcastable
  * dictionary resolves both argument clusters from their
  * [[graft.link.Linker.sid]]s —
  * [[graft.superedge.SuperEdges.resolvedStatementsViaDict]] — instead
  * of two corpus-scale membership sort-merges. Null-defaulted so
  * surface-less fixtures (the oracle fabrications, tests) keep the
  * membership-join path unchanged. */
final case class Statement(
    stmt_id: String,
    subj: String,
    pred: String,
    obj: String,
    conf: Double,
    conv_id: String,
    turn_idx: Int,
    start_off: Int,
    end_off: Int,
    subj_etype: String = null,
    subj_norm: String = null,
    subj_link: String = null,
    obj_etype: String = null,
    obj_norm: String = null,
    obj_link: String = null)

/** Typed event-argument edge: event mention → entity mention with a
  * role label — the analog of the reference's per-entity-type event
  * argument lists in the event json head
  * (update_kg/Updater.py:323-345: trigger `text[]` + typed argument
  * arrays keyed by entity type). Roles here: Subject | Object | Place.
  *
  * The arg mention's SURFACE KEY (etype, norm_name, link_target) is
  * carried denormalized from extraction (round 6, guide §8 "shuffle
  * keys and metadata instead of payloads"): membership of a mention is
  * a pure function of its surface, so a broadcastable surface
  * dictionary resolves the arg's cluster from its
  * [[graft.link.Linker.sid]] directly
  * — [[graft.canon.EventCoref.keyedEventsViaDict]] — instead of
  * sort-merging the arg table against corpus-scale memberships. */
final case class EventArg(
    event_id: String,
    role: String,
    arg_id: String,
    etype: String,
    norm_name: String,
    link_target: String)

/** Cross-mention match edge produced by the linker (blocking +
  * scoring); input to connected components. */
final case class MatchEdge(src: Long, dst: Long)

/** aida:ClusterMembership analog; conf is constant 1.0 in the
  * reference (update_kg/Updater.py:565). */
final case class Membership(cluster_id: String, member_id: String, conf: Double)

/** Canonical prototype node — name/type are the cluster mode with
  * max-tiebreak (reference proto_name/proto_type nested subqueries,
  * update_kg/sparqls.py:302-388). */
final case class Prototype(
    prototype_id: String,
    cluster_id: String,
    kind: String,
    name: String,
    etype: String,
    link_target: String,
    n_members: Long)

/** Cluster-level SuperEdge (reference: update_kg/sparqls.py:457-496):
  * count per (subjProto, pred, objProto), conf = 1 − 1/(2·cnt). */
final case class SuperEdge(
    subj_proto: String,
    pred: String,
    obj_proto: String,
    cnt: Long,
    conf: Double)

/** Final emitted corpus-level triple, the unit of the P/R≥0.95 parity
  * contract (BASELINE.json metric). */
final case class Triple(subj: String, pred: String, obj: String)
