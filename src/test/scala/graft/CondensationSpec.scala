package graft

import org.apache.spark.sql.functions._
import graft.graph.{Condensation, StronglyConnectedComponents}

/**
 * The condensation must contract each SCC to its min-id and keep exactly the
 * cross-component links; topological layering over it must assign each
 * component its longest-path depth from the DAG's sources (hand-computed on
 * a bowtie-shaped fixture) and be invariant to raising k beyond the depth.
 */
class CondensationSpec extends SparkSpec {
  import spark.implicits._

  // source 6 → cycle A {0,1,2} → cycle B {3,4} → sink 5; plus a shortcut
  // A→5 that the MAX-path layering must ignore in favor of the longer route
  private def bowtie = Seq(
    (6L, 0L),                       // source → A
    (0L, 1L), (1L, 2L), (2L, 0L),   // cycle A
    (2L, 3L), (3L, 4L), (4L, 3L),   // A → cycle B
    (4L, 5L),                       // B → sink
    (1L, 5L)                        // shortcut A → sink
  ).toDF("src", "dst")

  test("condense contracts cycles and keeps only cross-SCC links") {
    val scc = StronglyConnectedComponents.run(spark, bowtie)
    val ce = Condensation.condense(bowtie, scc)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ce == Set((6L, 0L), (0L, 3L), (3L, 5L), (0L, 5L)))
  }

  test("topoLayers equals the hand-computed longest-path depths") {
    // depths: 6→0, A→1, B→2, sink 5→3 (via the long route, not the shortcut)
    val want = Map(6L -> (6L, 0L), 0L -> (0L, 1L), 1L -> (0L, 1L), 2L -> (0L, 1L),
      3L -> (3L, 2L), 4L -> (3L, 2L), 5L -> (5L, 3L))
    for (k <- Seq(4, 8)) { // k beyond DAG depth: converged, k-invariant
      val got = Condensation.topoLayers(spark, bowtie, k)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want, s"layers diverged at k=$k:\ngot  $got\nwant $want")
    }
  }

  test("truncated k caps layers mid-propagation") {
    val got = Condensation.topoLayers(spark, bowtie, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // one superstep: every component with any predecessor sits at layer 1
    assert(got == Map(6L -> 0L, 0L -> 1L, 1L -> 1L, 2L -> 1L,
      3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("an empty edge table gives empty SCC and topo frames") {
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    val scc = StronglyConnectedComponents.run(spark, none)
    assert(scc.columns.toSeq == Seq("vid", "scc_id"))
    assert(scc.count() == 0)
    val topo = Condensation.topoLayers(spark, none, 3)
    assert(topo.columns.toSeq == Seq("vid", "scc_id", "layer3"))
    assert(topo.count() == 0)
  }
}
