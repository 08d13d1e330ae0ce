package graft

import org.apache.spark.sql.DataFrame
import graft.graph._

/**
 * Golden micro-graph tests (FIXTURES.md §2): PageRank allclose 1e-6, CC exact,
 * triangles exact — the acceptance semantics of BASELINE.json:2,6,14.
 */
class GraphGoldenSpec extends SparkSpec {
  import spark.implicits._

  // G1 — 4 vertices, 6 directed edges, cyclic, no dangling
  val g1 = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L), (2L, 3L))
  val g1Golden = Map(
    0L -> 0.219913819637, 1L -> 0.130963373346,
    2L -> 0.429208987381, 3L -> 0.219913819637)

  // G2 — 6 vertices, dangling vertex 3, two components
  val g2 = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L), (2L, 3L), (4L, 5L), (5L, 4L))
  val g2Golden = Map(
    0L -> 0.108181084082, 1L -> 0.086302614313, 2L -> 0.159659836479,
    3L -> 0.108181084082, 4L -> 0.268837690522, 5L -> 0.268837690522)

  def edgeDf(es: Seq[(Long, Long)]): DataFrame = es.toDF("src", "dst")

  def rankMap(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  def assertAllClose(got: Map[Long, Double], want: Map[Long, Double], tol: Double = 1e-6): Unit = {
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < tol, s"vid=$k got=${got(k)} want=$v")
    }
  }

  test("G1 PageRank matches golden to 1e-6 and sums to 1") {
    val res = PageRank.run(spark, edgeDf(g1), PageRankConfig(eps = 1e-10, numPartitions = 4))
    val got = rankMap(res.ranks)
    assertAllClose(got, g1Golden)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    assert(res.metrics.nonEmpty && res.metrics.last.l1 < 1e-10)
  }

  test("G2 PageRank (dangling redistribution) matches golden; pr(0)==pr(3)") {
    val res = PageRank.run(spark, edgeDf(g2), PageRankConfig(eps = 1e-10, numPartitions = 4))
    val got = rankMap(res.ranks)
    assertAllClose(got, g2Golden)
    assert(math.abs(got(0L) - got(3L)) < 1e-9) // dangling canary (FIXTURES.md §2)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("G1/G2 connected components exact") {
    val cc1 = ConnectedComponents.run(spark, edgeDf(g1)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc1 == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    val cc2 = ConnectedComponents.run(spark, edgeDf(g2)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc2 == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L, 5L -> 4L))
  }

  test("G1/G2 triangle counts exact") {
    assert(Triangles.countTriangles(spark, edgeDf(g1)) == 1L)
    assert(Triangles.countTriangles(spark, edgeDf(g2)) == 1L)
  }

  test("label propagation is deterministic and labels both G2 components") {
    val lp1 = LabelPropagation.run(spark, edgeDf(g2)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lp2 = LabelPropagation.run(spark, edgeDf(g2)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp1 == lp2) // pinned schedule ⇒ identical output
    // the {4,5} component can never adopt a label from {0..3}
    assert(Set(lp1(4L), lp1(5L)).subsetOf(Set(4L, 5L)))
    assert(Set(0L, 1L, 2L, 3L).map(lp1).subsetOf(Set(0L, 1L, 2L, 3L)))
  }

  test("dangling vertices detected via anti-join") {
    val dang = GraphOps.danglingVertices(edgeDf(g2)).collect().map(_.getLong(0)).toSet
    assert(dang == Set(3L))
  }

  test("HashMin CC on an empty laid symmetric table returns an empty label frame") {
    val labels = ConnectedComponents.runLaid(spark, Laid.sym(edgeDf(Seq.empty)))
    assert(labels.collect().isEmpty)
  }
}
