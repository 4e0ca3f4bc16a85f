package graft.superedge

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.canon.Canonicalizer
import graft.link.Linker
import graft.schema.{Membership, Prototype, Statement, SuperEdge, Triple}

/**
 * Cluster-level SuperEdge materialization — the reference's flagship
 * output (/root/reference/update_kg/sparqls.py:457-496):
 * statements ⋈ membership(subj) ⋈ membership(obj) → count per
 * (subjProto, pred, objProto), confidence = 1 − 1/(2·count).
 *
 * Scale notes (SURVEY.md §2.3 J9): both membership joins key on
 * mention_id, which is UNIQUE per membership row — the joins are 1:1
 * and skew-free by construction; the hot-cluster skew lands on the
 * groupBy, where Spark's partial (map-side) aggregation absorbs it.
 * The final prototype-name joins are against the compact prototypes
 * table and broadcast when small.
 */
object SuperEdges {

  /** The denormalized argument surface-key columns Statement carries
    * for the dictionary-resolution path — dropped from the resolved
    * frame either way (downstream consumers never read them). */
  private val SurfaceCols = Seq("subj_etype", "subj_norm", "subj_link",
    "obj_etype", "obj_norm", "obj_link")

  /** Statements with BOTH argument memberships resolved — the shared
    * precursor of superedges, relation clusters and superedge
    * justifications (all three need exactly this join; callers that
    * produce more than one of those outputs checkpoint THIS once
    * instead of re-running the two corpus-scale joins per output —
    * guide-§2.4 shuffle removal, measured in OPTIMIZATION_r06.md).
    * Output: every Statement column + subj_cluster, obj_cluster.
    *
    * EXPLICIT sort-merge: both sides are corpus-scale, so neither may
    * ever broadcast — but checkpointed inputs inherit their
    * pre-checkpoint size ESTIMATE (a few MB for a synth range plan),
    * and Catalyst compile-time-broadcast the 10^6-row statements side
    * (BuildLeft, profiled at 820 executor-s of the pipeline; at
    * contract scale it's a straight driver OOM). The merge hint pins
    * the always-safe spillable shuffle join on mention_id — unique per
    * membership row, so 1:1 and skew-free. */
  def resolvedStatements(statements: Dataset[Statement],
      memberships: Dataset[Membership]): DataFrame = {
    val m = memberships.toDF()
    statements.toDF().drop(SurfaceCols: _*)
      .join(m.select(col("member_id").as("subj"), col("cluster_id").as("subj_cluster"))
        .hint("merge"), "subj")
      .join(m.select(col("member_id").as("obj"), col("cluster_id").as("obj_cluster"))
        .hint("merge"), "obj")
  }

  /** [[resolvedStatements]] resolved through the broadcast surface
    * dictionary instead of corpus-scale memberships (round 6, guide
    * §8): a mention's cluster is a pure function of its surface, and
    * [[graft.schema.Statement]] carries both argument surface keys
    * from extraction, so under the caller's `dictFits` gate the two
    * membership sort-merges collapse to two broadcast [[Linker.sid]]
    * lookups ([[Canonicalizer.lookup]]). Result ≡ [[resolvedStatements]]
    * (PipelineGoldenSpec parity); callers whose statements carry no
    * surface keys (fixtures) must use the membership path. */
  def resolvedStatementsViaDict(statements: Dataset[Statement],
      surfClusters: DataFrame): DataFrame = {
    def resolve(df: DataFrame, arg: String): DataFrame =
      Canonicalizer.lookup(df, surfClusters, Seq(col("cluster_id").as(s"${arg}_cluster")),
        Linker.sid(col(s"${arg}_etype"), col(s"${arg}_norm"), col(s"${arg}_link")))
    resolve(resolve(statements.toDF(), "subj"), "obj").drop(SurfaceCols: _*)
  }

  /** SuperEdge aggregate over a precomputed [[resolvedStatements]]
    * frame — one compact groupBy (hot-cluster skew absorbed by
    * partial aggregation). */
  def superEdgesFromResolved(resolved: DataFrame): Dataset[SuperEdge] = {
    val spark = resolved.sparkSession
    import spark.implicits._
    resolved
      .select(col("subj_cluster").as("subj_proto"), col("pred"),
        col("obj_cluster").as("obj_proto"))
      .groupBy(col("subj_proto"), col("pred"), col("obj_proto"))
      .agg(count(lit(1)).as("cnt"))
      // reference confidence formula, update_kg/sparqls.py:479
      .withColumn("conf", lit(1.0) - lit(1.0) / (lit(2.0) * col("cnt")))
      .as[SuperEdge]
  }

  /** ID-insensitive corpus triples for golden P/R comparison:
    * prototype canonical names instead of cluster ids (cluster ids
    * are content hashes; the reference's are random —
    * update_kg/Updater.py:156-158 — so parity is by content,
    * SURVEY.md §5.1). */
  def namedTriples(superEdges: Dataset[SuperEdge], prototypes: Dataset[Prototype],
      broadcastNames: Boolean = false): Dataset[Triple] = {
    val spark = superEdges.sparkSession
    import spark.implicits._
    // `broadcastNames`: prototype cardinality = cluster count, which
    // can exceed the broadcast threshold at contract scale, and
    // checkpoint-descended estimates are unusable in both directions —
    // plan capture (plans/r06) showed Catalyst sort-merging this join
    // against a 483-row prototype table. Callers that MEASURED the
    // cluster count (Pipeline gates on nSurfaces) broadcast explicitly.
    val names0 = prototypes.toDF().select(col("cluster_id"), col("name"))
    val names = if (broadcastNames) broadcast(names0) else names0
    superEdges.toDF()
      .join(names.withColumnRenamed("cluster_id", "subj_proto")
        .withColumnRenamed("name", "subj"), Seq("subj_proto"))
      .join(names.withColumnRenamed("cluster_id", "obj_proto")
        .withColumnRenamed("name", "obj"), Seq("obj_proto"))
      .select(col("subj"), col("pred"), col("obj"))
      .distinct()
      .as[Triple]
  }
}
