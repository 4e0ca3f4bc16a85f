package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.link.Linker
import graft.schema.{MatchEdge, Mention}

class LinkerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def m(id: String, name: String, etype: String = "Person",
      link: String = null): Mention = {
    val norm = name.toLowerCase
    Mention(id, "c0", 0, "entity", etype, name, norm, 0, name.length, 0.9, link)
  }

  private def clusters(ms: Seq[Mention],
      cfg: Linker.Config = Linker.Config()): Set[Set[String]] = {
    import spark.implicits._
    val mentions = ms.toDS()
    val surf = Linker.surfaces(mentions).localCheckpoint(true)
    val edges = Linker.matchEdgesFrom(surf, cfg)
    val comp = graft.cc.ConnectedComponents.run(edges.toDF())
    val sc = graft.canon.Canonicalizer.withKind(
      graft.canon.Canonicalizer.surfaceClusters(surf, comp))
    graft.canon.Canonicalizer.memberships(mentions, sc)
      .collect().groupBy(_.cluster_id).values
      .map(_.map(_.member_id).toSet).toSet
  }

  test("typo (adjacent transposition) merges; unrelated names do not") {
    val got = clusters(Seq(
      m("m1", "Cyberdyne Group", "Organization"),
      m("m2", "Cybredyne Group", "Organization"),
      m("m3", "Initech Corp", "Organization")))
    assert(got == Set(Set("m1", "m2"), Set("m3")))
  }

  test("initial abbreviation merges only the matching first name") {
    val got = clusters(Seq(
      m("m1", "John Smith"), m("m2", "J. Smith"),
      m("m3", "Sofia Smith"), m("m4", "Maria Garcia")))
    assert(got.contains(Set("m1", "m2")))
    assert(got.contains(Set("m3")))
    assert(got.contains(Set("m4")))
  }

  test("shared last name alone does not merge distinct persons") {
    val got = clusters(Seq(
      m("m1", "John Smith"), m("m2", "Sofia Smith"), m("m3", "Hans Smith")))
    assert(got.size == 3)
  }

  test("non-NIL equal link target merges regardless of name") {
    val got = clusters(Seq(
      m("m1", "Big Apple", "GeopoliticalEntity", "kb:NYC"),
      m("m2", "New York", "GeopoliticalEntity", "kb:NYC"),
      m("m3", "Boston", "GeopoliticalEntity", "kb:BOS")))
    assert(got == Set(Set("m1", "m2"), Set("m3")))
  }

  test("NIL links never block-match (reference DUMMY semantics)") {
    val got = clusters(Seq(
      m("m1", "Alpha One", "Person", null),
      m("m2", "Beta Two", "Person", null)))
    assert(got.size == 2)
  }

  test("same name different etype stays separate (blocking within type)") {
    val got = clusters(Seq(
      m("m1", "Phoenix Rising", "Person"),
      m("m2", "Phoenix Rising", "Organization")))
    assert(got.size == 2)
  }

  test("oversized blocks are dropped (hot-key cap)") {
    // 26 surfaces sharing token "common" with maxBlock=10 → no pairs
    // (second tokens chosen anagram-free: "name12"/"name21" would
    // legitimately match on the sorted-char key)
    val ms = (0 until 26).map(i => m(s"m$i", s"Common Alias${('a' + i).toChar}x"))
    import spark.implicits._
    val mentions = ms.toDS()
    val surf = Linker.surfaces(mentions).localCheckpoint(true)
    val edges = Linker.matchEdgesFrom(surf, Linker.Config(maxBlock = 10))
    assert(edges.count() == 0)
  }

  test("a link group's edges are exactly its star, even with its shared tokens over maxBlock") {
    import spark.implicits._
    // the twelve shared tokens sit in blocks of four — the link group
    // and a NIL copy of its first name — over maxBlock = 3, so no
    // cosine candidate covers the group, though every pair in it
    // scores above the threshold
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    val ms = Seq(m("m1", shared, "Organization", "kb:Z"),
      m("m2", s"$shared mike", "Organization", "kb:Z"),
      m("m3", s"$shared november", "Organization", "kb:Z"),
      m("m4", shared, "Organization"))
    val cfg = Linker.Config(maxBlock = 3)
    val surf = Linker.surfaces(ms.toDS()).localCheckpoint(true)
    val edges = Linker.matchEdgesFrom(surf, cfg).collect().toSet
    val group = surf.filter($"link_target" === "kb:Z").select($"sid").as[Long].collect()
    val rep = group.min
    assert(edges == group.filter(_ != rep).map(MatchEdge(rep, _)).toSet)
    assert(clusters(ms, cfg) == Set(Set("m1", "m2", "m3"), Set("m4")))
  }

  test("surface ids are deterministic across runs") {
    import spark.implicits._
    val ms = Seq(m("m1", "Aa Bb"), m("m2", "Cc Dd"), m("m3", "Ee Ff")).toDS()
    val s1 = Linker.surfaces(ms).select("skey", "sid").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s2 = Linker.surfaces(ms.repartition(7)).select("skey", "sid").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1 == s2)
  }

  test("edges are the same whether Catalyst broadcasts or sort-merges") {
    import spark.implicits._
    val turns = graft.synth.TranscriptSynth.turnsDs(spark,
      graft.synth.TranscriptSynth.Config(nConvs = 40, turnsPerConv = 6))
    val mentions = graft.extract.MentionExtractor.extract(turns).flatMap(_.mentions)
    val surf = graft.util.Blocks.checkpoint(Linker.surfaces(mentions))._1
    def edges() = Linker.matchEdgesFrom(surf).collect().toSet
    val dflt = edges()
    assert(dflt.nonEmpty)
    assert(TestSpark.withoutBroadcast(edges()) == dflt)
  }
}
