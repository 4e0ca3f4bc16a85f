package graft.canon

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.link.Linker
import graft.schema.{Membership, Mention, Prototype}

/**
 * Cluster canonicalization: component → SameAsCluster + prototype.
 *
 * Reference semantics re-realized (SURVEY.md §2.4-2.5):
 *  - singleton synthesis: every surface not covered by a match edge
 *    becomes its own cluster (set-difference anti-join, J6 —
 *    /root/reference/update_kg/Updater.py:172-201); here expressed as
 *    a left-outer join + coalesce(component, sid), which is the same
 *    anti-join fused with the assignment.
 *  - deterministic IDs: cluster/prototype ids are md5 of the minimal
 *    member surface key, replacing the reference's
 *    `members[0]-cluster-<random10>` minting
 *    (update_kg/Updater.py:156-158,190; determinism per SURVEY §7.4).
 *  - prototype name/type = mode over members with max-tiebreak — the
 *    reference's 3-level nested subquery proto_name/proto_type
 *    (update_kg/sparqls.py:302-388) collapsed into one groupBy + one
 *    window argmax (A5).
 *  - membership confidence constant 1.0 (update_kg/Updater.py:565).
 *
 * Scale notes: the only mention-scale shuffle is the single
 * groupBy(cluster, name, etype, link) pre-aggregation; every mode is
 * then derived from that compact table. Hot clusters (skewed names)
 * are absorbed by partial aggregation (map-side combine) before the
 * shuffle.
 */
object Canonicalizer {

  /** Surface → cluster assignment with singleton synthesis.
    * Output: surf columns + cluster_id, prototype_id. */
  def surfaceClusters(surf: DataFrame, comp: DataFrame): DataFrame = {
    // merge hints: every side here scales with the surface dictionary
    // (10^8 rows at contract scale) — none may broadcast, and
    // checkpoint-derived size estimates undercount (see
    // graft.superedge.SuperEdges)
    val withComp = surf
      .join(comp.hint("merge"), Seq("sid"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("sid")))
    // deterministic representative: minimal surface key in the component
    val reps = withComp.groupBy(col("component")).agg(min(col("skey")).as("repkey"))
    withComp.join(reps.hint("merge"), "component")
      .withColumn("cluster_id", concat(lit("c:"), md5(col("repkey"))))
      .withColumn("prototype_id", concat(lit("p:"), md5(col("repkey"))))
      .drop("repkey")
  }

  /** The one surface-dictionary lookup: `df`'s rows whose surface id
    * `key` (by default the [[Linker.sid]] of `df`'s etype, norm_name
    * and link_target) is in `surfClusters`, plus the dictionary
    * columns `cols` — one `Long` equi-join against the dictionary's
    * `sid`. Exact: every key looked up is an entity surface, and
    * [[Linker.matchEdgesFrom]] fails on a `sid` collision.
    *
    * The broadcast hint (`broadcastDict`) matters: left to its own
    * stats Catalyst picked BuildLeft here — broadcasting the
    * corpus-scale MENTIONS side and streaming the dictionary, which
    * (a) OOMs outright at scale and (b) leaves the output with the
    * dictionary's (often 1) partition, serializing every consumer's
    * map side (profiled: one 136s task). But the hint is UNSAFE for an
    * oversized dictionary (forces a broadcast past the 8GB limit /
    * driver OOM where un-hinted Catalyst would fall back to shuffle),
    * so [[prototypes]] takes the size gate Pipeline.run uses — hint
    * only under [[graft.Pipeline.SaltedMembershipRows]]. */
  private[graft] def lookup(df: DataFrame, surfClusters: DataFrame, cols: Seq[Column],
      key: Column = Linker.sid(col("etype"), col("norm_name"), col("link_target")),
      broadcastDict: Boolean = true): DataFrame = {
    val d = surfClusters.select(col("sid") +: cols: _*)
    df.withColumn("sid", key).join(if (broadcastDict) broadcast(d) else d, "sid").drop("sid")
  }

  /** Mention-level memberships (conf = 1.0, reference constant); the
    * hot-key-safe form for an oversized dictionary is
    * [[membershipsSalted]]. */
  def memberships(mentions: Dataset[Mention], surfClusters: DataFrame): Dataset[Membership] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    lookup(mentions.toDF(), surfClusters, Seq(col("cluster_id")))
      .select(col("cluster_id"), col("mention_id").as("member_id"),
        lit(1.0).as("conf"))
      .as[Membership]
  }

  /** Prototypes with mode-name / mode-type / mode-link and member
    * counts — ONE single-consumer plan, no cache: the per-cluster
    * attribute counts are unpivoted to (cluster, attr, value, cnt)
    * rows, summed per value, and all three modes + n_members are read
    * off ONE final per-cluster aggregate (`max(struct(n, value))` =
    * most frequent value, ties to the max label — A5 semantics,
    * matching the reference's nested proto_name/proto_type subqueries,
    * update_kg/sparqls.py:302-388). Replaces a persist()ed 4-consumer
    * attrCnt + 3 window argmaxes + 3 joins — and with it the pinned
    * cache blocks the old shape leaked into long sessions.
    *
    * Scale shape: one mention-scale shuffle (the first groupBy, hot
    * keys absorbed by partial agg), then two compact aggregations over
    * ≤3 rows per (cluster, attr, value). `broadcastDict` as in
    * [[lookup]]. */
  def prototypes(mentions: Dataset[Mention], surfClusters: DataFrame,
      broadcastDict: Boolean = true): Dataset[Prototype] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    // prototype_id and kind are CONSTANT within a cluster (both ride
    // the dictionary row), so they are aggregated, not grouped —
    // the mention-scale hash aggregation hashes 4 key strings per row
    // instead of 6 (round 6; identical groups either way)
    val attrCnt = lookup(mentions.toDF(), surfClusters,
        Seq(col("cluster_id"), col("prototype_id"), col("kind").as("s_kind")),
        broadcastDict = broadcastDict)
      .groupBy(col("cluster_id"),
        col("name"), col("etype"), col("link_target"))
      .agg(count(lit(1)).as("cnt"),
        max(col("prototype_id")).as("prototype_id"),
        max(col("s_kind")).as("s_kind"))
    val unpivoted = attrCnt.select(
      col("cluster_id"), col("prototype_id"), col("s_kind"), col("cnt"),
      explode(array(
        struct(lit("name").as("attr"), col("name").as("value")),
        struct(lit("etype").as("attr"), col("etype").as("value")),
        struct(lit("link_target").as("attr"), col("link_target").as("value"))))
        .as("av"))
      .select(col("cluster_id"), col("prototype_id"), col("s_kind"),
        col("av.attr").as("attr"), col("av.value").as("value"), col("cnt"))
    val perValue = unpivoted
      .groupBy(col("cluster_id"), col("attr"), col("value"))
      .agg(sum(col("cnt")).as("n"),
        // constant within a cluster (both are md5 of the same repkey)
        max(col("prototype_id")).as("prototype_id"),
        max(col("s_kind")).as("s_kind"))
    def modeOf(attr: String) =
      max(when(col("attr") === attr && col("value").isNotNull,
        struct(col("n"), col("value")))).getField("value")
    perValue.groupBy(col("cluster_id"))
      .agg(
        max(col("prototype_id")).as("prototype_id"),
        max(col("s_kind")).as("kind"),
        modeOf("name").as("name"),
        modeOf("etype").as("etype"),
        modeOf("link_target").as("link_target"),
        // every member contributes exactly one `name` unpivot row
        // (null-valued groups included), so this sums to member count
        sum(when(col("attr") === "name", col("n"))).as("n_members"))
      .select(col("prototype_id"), col("cluster_id"), col("kind"),
        col("name"), col("etype"), col("link_target"), col("n_members"))
      .as[Prototype]
  }

  /** The [[Justifications.annotatedMembers]] frame realized DIRECTLY
    * from the surface dictionary (round 6, guide §2.4): memberships
    * are themselves a mention lookup ([[memberships]]), so the 1:1
    * member_id join-back the generic path pays — a corpus-scale
    * sort-merge of memberships against mentions — is algebraically
    * redundant. One broadcast dictionary lookup over mentions, zero
    * mention-scale shuffles, identical rows: (member_id, cluster_id,
    * mention conv/turn/span/conf/link_target). */
  def annotatedMembers(mentions: Dataset[Mention], surfClusters: DataFrame): DataFrame =
    lookup(mentions.toDF(), surfClusters, Seq(col("cluster_id")))
      .select(col("mention_id").as("member_id"), col("cluster_id"),
        col("conv_id"), col("turn_idx"), col("start_off"), col("end_off"),
        col("conf"), col("link_target"))

  /** Surface-level kind column for surfClusters. Surface clusters are
    * entity-kind BY CONSTRUCTION ([[graft.link.Linker.surfaces]]
    * filters kind="entity"); the reference's other two cluster kinds
    * have their own paths — events in [[EventCoref]] (kind="event"),
    * relations in [[RelationClusters]]. */
  def withKind(surfClusters: DataFrame): DataFrame =
    surfClusters.withColumn("kind", lit("entity"))

  /** Memberships via an EXPLICIT salted join — for deployments where
    * the surface dictionary exceeds the broadcast threshold and the
    * hot surface (one name in ~30% of turns) would otherwise land in
    * a single sort-merge partition (SURVEY.md §7.4.3; see
    * [[graft.link.SkewJoin]]). Salts the [[Linker.sid]] equi-join of
    * [[lookup]]. Result ≡ [[memberships]]. */
  def membershipsSalted(mentions: Dataset[Mention], surfClusters: DataFrame,
      salts: Int = 16): Dataset[Membership] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val large = mentions.toDF().select(col("mention_id"),
      Linker.sid(col("etype"), col("norm_name"), col("link_target")).as("sid"))
    val small = surfClusters.select(col("sid"), col("cluster_id"))
    graft.link.SkewJoin
      .salted(large, small, Seq("sid"), col("mention_id"), salts)
      .select(col("cluster_id"), col("mention_id").as("member_id"), lit(1.0).as("conf"))
      .as[Membership]
  }
}
