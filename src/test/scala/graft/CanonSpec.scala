package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.Canonicalizer
import graft.link.Linker
import graft.schema.{Mention, Statement}
import graft.superedge.SuperEdges

class CanonSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def m(id: String, name: String, etype: String = "Person",
      link: String = null): Mention =
    Mention(id, "c0", 0, "entity", etype, name, name.toLowerCase, 0,
      name.length, 0.9, link)

  test("mode name with max tie-break (A5 reference semantics)") {
    import spark.implicits._
    // one cluster via shared link target; names: 2×Alpha, 2×Beta, 1×Gamma
    // → tie Alpha/Beta broken by max(name) = Beta
    val mentions = Seq(
      m("m1", "Alpha", link = "kb:X"), m("m2", "Alpha", link = "kb:X"),
      m("m3", "Beta", link = "kb:X"), m("m4", "Beta", link = "kb:X"),
      m("m5", "Gamma", link = "kb:X")).toDS()
    val surf = Linker.surfaces(mentions).localCheckpoint(true)
    val edges = Linker.matchEdgesFrom(surf)
    val comp = graft.cc.ConnectedComponents.run(edges.toDF())
    val sc = Canonicalizer.withKind(Canonicalizer.surfaceClusters(surf, comp))
    val protos = Canonicalizer.prototypes(mentions, sc).collect()
    assert(protos.length == 1)
    assert(protos.head.name == "Beta") // max among argmax
    assert(protos.head.n_members == 5)
  }

  test("singleton synthesis: unmatched surfaces become 1-member clusters (J6)") {
    import spark.implicits._
    val mentions = Seq(
      m("m1", "Unique One"), m("m2", "Wholly Different"),
      m("m3", "Unique One")).toDS()
    val surf = Linker.surfaces(mentions).localCheckpoint(true)
    val edges = Linker.matchEdgesFrom(surf)
    val comp = graft.cc.ConnectedComponents.run(edges.toDF())
    val sc = Canonicalizer.withKind(Canonicalizer.surfaceClusters(surf, comp))
    val protos = Canonicalizer.prototypes(mentions, sc).collect()
    assert(protos.length == 2)
    assert(protos.map(_.n_members).sorted.toSeq == Seq(1L, 2L))
    val ms = Canonicalizer.memberships(mentions, sc)
    assert(ms.count() == 3) // partition: total incl. singletons
    assert(ms.collect().forall(_.conf == 1.0)) // reference constant
  }

  test("superedge confidence formula: n=1→0.5, n=2→0.75, n=3→0.8333 (P12)") {
    import spark.implicits._
    def st(id: String, s: String, o: String) =
      Statement(id, s, "Rel", o, 0.9, "c0", 0, 0, 1)
    val mentions = Seq(m("a1", "Foo"), m("a2", "Foo"), m("a3", "Foo"),
      m("b1", "Bar"), m("c1", "Qux")).toDS()
    val surf = Linker.surfaces(mentions).localCheckpoint(true)
    val edges = Linker.matchEdgesFrom(surf)
    val comp = graft.cc.ConnectedComponents.run(edges.toDF())
    val sc = Canonicalizer.withKind(Canonicalizer.surfaceClusters(surf, comp))
    val ms = Canonicalizer.memberships(mentions, sc)
    val stmts = Seq(
      st("s1", "a1", "b1"), st("s2", "a2", "b1"), st("s3", "a3", "b1"),
      st("s4", "a1", "c1")).toDS()
    val se = SuperEdges.superEdgesFromResolved(
      SuperEdges.resolvedStatements(stmts, ms)).collect()
    val byCnt = se.map(e => e.cnt -> e.conf).toMap
    assert(byCnt(3L) == 1.0 - 1.0 / 6.0)
    assert(byCnt(1L) == 0.5)
  }
}
