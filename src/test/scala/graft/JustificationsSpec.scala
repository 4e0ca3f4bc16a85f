package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.canon.{Justifications, RelationClusters}
import graft.schema.{Membership, Mention, Statement}
import graft.superedge.SuperEdges

class JustificationsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def m(id: String, conv: String, conf: Double, link: String = null): Mention =
    Mention(id, conv, 0, "entity", "Person", "X", "x", 0, 1, conf, link)
  private def mem(c: String, id: String) = Membership(c, id, 1.0)

  test("A3 informative justification: max conf per (cluster, doc); tie → min member") {
    import spark.implicits._
    val mentions = Seq(
      m("m1", "doc1", 0.8), m("m2", "doc1", 0.9), m("m3", "doc2", 0.7),
      m("m4", "doc1", 0.9)).toDS()
    val ms = Seq(mem("c1", "m1"), mem("c1", "m2"), mem("c1", "m3"), mem("c1", "m4")).toDS()
    val ij = Justifications.informativeJustifications(ms, mentions).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(ij(("c1", "doc1")) == "m2") // 0.9 tie between m2/m4 → min id
    assert(ij(("c1", "doc2")) == "m3")
  }

  test("A4 cluster links: max cv per (cluster, target), NILs excluded") {
    import spark.implicits._
    val mentions = Seq(
      m("m1", "d", 0.5, "kb:A"), m("m2", "d", 0.9, "kb:A"),
      m("m3", "d", 0.7, "kb:B"), m("m4", "d", 0.99, null)).toDS()
    val ms = Seq("m1", "m2", "m3", "m4").map(mem("c1", _)).toDS()
    val links = Justifications.clusterLinksFrom(
      Justifications.annotatedMembers(ms, mentions)).collect()
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(links == Map("kb:A" -> 0.9, "kb:B" -> 0.7))
  }

  test("relation clustering: identical (pred, arg clusters) merge (§2.4)") {
    import spark.implicits._
    def st(id: String, s: String, o: String, p: String = "Rel") =
      Statement(id, s, p, o, 0.9, "d", 0, 0, 1)
    val ms = Seq(mem("cA", "a1"), mem("cA", "a2"), mem("cB", "b1"),
      mem("cC", "c1")).toDS()
    val stmts = Seq(
      st("s1", "a1", "b1"), st("s2", "a2", "b1"), // same (pred, cA, cB)
      st("s3", "a1", "c1"), // different obj cluster
      st("s4", "a1", "b1", "Other")).toDS() // different pred
    // the pipeline's composition: n_members comes from the superedge
    // aggregate over the shared resolved-statement frame
    val resolved = SuperEdges.resolvedStatements(stmts, ms)
    val clusters = RelationClusters.clusterFromResolved(resolved,
      SuperEdges.superEdgesFromResolved(resolved))
    val rows = clusters.collect()
    assert(rows.length == 4) // one row per MEMBER statement
    val byCluster = rows.groupBy(_.getString(0))
    assert(byCluster.size == 3)
    val merged = byCluster.values.find(_.map(_.getString(2)).toSet == Set("s1", "s2"))
    assert(merged.isDefined)
    assert(merged.get.forall(_.getLong(3) == 2)) // n_members on every row
    val summary = RelationClusters.summary(clusters).collect()
    assert(summary.length == 3)
    assert(summary.map(_.getLong(2)).sorted.toSeq == Seq(1L, 1L, 2L))
    // the superedge cnt is exactly the member-row count per relation
    // cluster — the re-aggregation it replaces
    byCluster.values.foreach(rs => assert(rs.forall(_.getLong(3) == rs.length.toLong)))
  }

  test("prototype justification copy-backs carry every member span (proto_justi)") {
    import spark.implicits._
    val mentions = Seq(m("m1", "doc1", 0.8), m("m2", "doc2", 0.9)).toDS()
    val ms = Seq(mem("c1", "m1"), mem("c1", "m2")).toDS()
    val protos = Seq(graft.schema.Prototype("p1", "c1", "entity", "X",
      "Person", null, 2L)).toDS()
    val annotated = Justifications.annotatedMembers(ms, mentions)
    val pj = Justifications.prototypeJustificationsFrom(annotated, protos).collect()
    assert(pj.length == 2) // one row per MEMBER, not an argmax
    assert(pj.forall(_.getString(0) == "p1"))
    assert(pj.map(_.getString(2)).toSet == Set("m1", "m2"))

    val pij = Justifications.prototypeInformativeJustificationsFrom(
      Justifications.informativeJustificationsFrom(annotated), protos).collect()
    assert(pij.length == 2) // one per (cluster, doc) — two docs here
    assert(pij.forall(_.getString(0) == "p1"))

    val ptj = Justifications
      .prototypeTypeAssertionJustifications(ms, mentions, protos).collect()
    assert(ptj.length == 2)
    assert(ptj.forall(_.getString(2) == "Person")) // asserted type carried
  }

  test("superedge justification copy: every member statement's span (super_edge_justif)") {
    import spark.implicits._
    def st(id: String, s: String, o: String) =
      Statement(id, s, "Rel", o, 0.9, "d", 0, 3, 9)
    val ms = Seq(mem("cA", "a1"), mem("cA", "a2"), mem("cB", "b1")).toDS()
    val stmts = Seq(st("s1", "a1", "b1"), st("s2", "a2", "b1")).toDS()
    val sj = Justifications.superEdgeJustificationsFromResolved(
      SuperEdges.resolvedStatements(stmts, ms)).collect()
    assert(sj.length == 2) // both member statements' justifications kept
    assert(sj.forall(r => r.getString(0) == "cA" && r.getString(2) == "cB"))
    assert(sj.map(_.getString(3)).toSet == Set("s1", "s2"))
    assert(sj.forall(r => r.getInt(6) == 3 && r.getInt(7) == 9))
  }
}
