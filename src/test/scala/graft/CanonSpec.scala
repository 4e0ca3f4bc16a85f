package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.{Canonicalizer, EventCoref}
import graft.link.Linker
import graft.schema.{EventArg, Membership, Mention, Statement}
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

  test("every dictionary lookup is the sid join: null links stay apart from \"\", null names resolve") {
    import spark.implicits._
    val nullNorm = Mention("m5", "c0", 0, "entity", "Person", "Alpha", null, 0, 5, 0.9, null)
    val ms = Seq(m("m1", "Alpha"), m("m2", "Alpha", link = ""), m("m3", "Alpha", link = "kb:A"),
      m("m4", "Alpha"), nullNorm, m("m6", "Alpha", etype = "Organization"))
    val mentions = ms.toDS()
    val surf = Linker.surfaces(mentions)
    // no match edges: every surface is its own cluster
    val comp = Seq.empty[(Long, Long)].toDF("sid", "component")
    val sc = Canonicalizer.withKind(Canonicalizer.surfaceClusters(surf, comp)).localCheckpoint(true)
    // the reference lookup: the three strings, null-safe on the link
    // target only, so it drops the null-norm_name mention
    val refJoin = mentions.toDF().as("m").join(sc.as("s"),
        col("m.etype") === col("s.etype") && col("m.norm_name") === col("s.norm_name") &&
          (col("m.link_target") <=> col("s.link_target")))
      .select(col("m.mention_id"), col("s.cluster_id")).as[(String, String)].collect().toMap
    assert(!refJoin.contains("m5"))
    val nullNormCluster = sc.filter(col("norm_name").isNull).select("cluster_id").as[String].head()
    val expected = refJoin + ("m5" -> nullNormCluster)
    assert(expected.size == ms.size)
    assert(expected("m1") == expected("m4"))
    assert(expected("m1") != expected("m2")) // null and "" link targets
    assert(expected.values.toSet.size == 5)

    val got = Canonicalizer.memberships(mentions, sc).collect()
      .map(x => x.member_id -> x.cluster_id).toMap
    assert(got == expected)
    val protoCounts = Canonicalizer.prototypes(mentions, sc).collect()
      .map(p => p.cluster_id -> p.n_members).toMap
    assert(protoCounts == expected.groupBy(_._2).map { case (c, xs) => c -> xs.size.toLong })

    def st(id: String, a: Mention, b: Mention) = Statement(id, a.mention_id, "Rel",
      b.mention_id, 0.9, "c0", 0, 0, 1, a.etype, a.norm_name, a.link_target,
      b.etype, b.norm_name, b.link_target)
    val pairs = for (a <- ms; b <- ms if a.mention_id < b.mention_id) yield (a, b)
    val stmts = pairs.map { case (a, b) => st(s"${a.mention_id}-${b.mention_id}", a, b) }.toDS()
    val resolved = SuperEdges.resolvedStatementsViaDict(stmts, sc)
      .select("stmt_id", "subj_cluster", "obj_cluster").as[(String, String, String)]
      .collect().toSet
    assert(resolved == pairs.map { case (a, b) =>
      (s"${a.mention_id}-${b.mention_id}", expected(a.mention_id), expected(b.mention_id)) }.toSet)

    val events = ms.map(a => Mention(s"e-${a.mention_id}", "c0", 0, "event", "Meet",
      "met", "met", 0, 3, 0.9, null)).toDS()
    val args = ms.flatMap(a => Seq("Subject", "Object").map(role => EventArg(s"e-${a.mention_id}",
      role, a.mention_id, a.etype, a.norm_name, a.link_target))).toDS().toDF()
    val refMs = expected.map { case (mid, c) => Membership(c, mid, 1.0) }.toSeq.toDS()
    def keys(k: org.apache.spark.sql.DataFrame) =
      k.select("event_id", "cluster_id").as[(String, String)].collect().toSet
    assert(keys(EventCoref.keyedEventsViaDict(events, args, sc)) ==
      keys(EventCoref.keyedEvents(events, args, refMs)))
  }
}
