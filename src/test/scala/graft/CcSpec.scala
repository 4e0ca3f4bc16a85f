package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cc.ConnectedComponents

class CcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def comps(edges: (Long, Long)*): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.run(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain collapses to min id") {
    val m = comps(1L -> 2L, 2L -> 3L, 3L -> 4L, 10L -> 11L)
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L && m(4L) == 1L)
    assert(m(10L) == 10L && m(11L) == 10L)
  }

  test("star and clique") {
    val m = comps(5L -> 1L, 5L -> 2L, 5L -> 3L, 7L -> 8L, 8L -> 7L)
    assert(Set(m(5L), m(1L), m(2L), m(3L)) == Set(1L))
    assert(m(7L) == 7L && m(8L) == 7L)
  }

  test("long path converges (O(log n) rounds)") {
    val edges = (0L until 63L).map(i => i -> (i + 1))
    val m = comps(edges: _*)
    assert(m.values.toSet == Set(0L))
    assert(m.size == 64)
  }

  test("self-loops and duplicates are harmless") {
    val m = comps(1L -> 1L, 1L -> 2L, 2L -> 1L, 1L -> 2L)
    assert(m(2L) == 1L)
  }

  test("result is independent of edge orientation") {
    val a = comps(3L -> 9L, 9L -> 4L, 4L -> 12L)
    val b = comps(9L -> 3L, 4L -> 9L, 12L -> 4L)
    assert(a == b)
  }

  test("a run that reaches maxIter unconverged throws instead of returning labels") {
    import spark.implicits._
    val edges = (0L until 63L).map(i => i -> (i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException](ConnectedComponents.run(edges, maxIter = 1))
    assert(e.getMessage.contains("maxIter=1"), e.getMessage)
    assert(e.getMessage.matches("(?s).*\\(\\d+ labels changed in the last round\\).*"),
      e.getMessage)
  }

  test("labels are the same whether Catalyst broadcasts or sort-merges the rounds") {
    // a seeded random graph: many components of mixed depth
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(1500)(rnd.nextInt(2000).toLong -> rnd.nextInt(2000).toLong)
    val dflt = comps(edges: _*)
    assert(dflt.values.toSet.size > 1)
    assert(TestSpark.withoutBroadcast(comps(edges: _*)) == dflt)
  }
}
