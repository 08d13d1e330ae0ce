package graft

import org.apache.spark.sql.DataFrame

import graft.graph.{Condensation, ConnectedComponents, LabelPropagation,
  StronglyConnectedComponents, Superstep}
import graft.operators.DocGraph

/**
 * Every driver on the Superstep loops — the fixed-k DocGraph drivers and
 * topological layering (`fixedK`), CC, LP and SCC (`untilFixpoint`), capped
 * and to convergence — on a small graph with dangling vertices: the
 * broadcast and shuffle-hash regimes return identical rows, and a call
 * leaves no blocks behind but its result's checkpoints.
 */
class SuperstepSpec extends SparkSpec {
  import spark.implicits._

  // 250 vertices (PPR seeds 0/100/200, landmarks 0/97/194); sources with
  // i % 5 == 4 emit nothing, so those vertices are dangling
  private val edges: DataFrame =
    (0L until 250L).filter(_ % 5 != 4).flatMap { i =>
      (0L to i % 3).map(j => (i, (i * 2654435761L + j * 97L + 13L) % 250L))
    }.filter { case (a, b) => a != b }.distinct.toDF("src", "dst")

  private type Layout = (DataFrame, Long, Int)
  private val drivers: Seq[(String, DataFrame => Layout, Layout => DataFrame)] = Seq(
    ("pr", Laid.directed, DocGraph.prIterLaid(spark, _, 3)),
    ("ppr", Laid.directed, DocGraph.pprIterLaid(spark, _, 3)),
    ("hits", Laid.directed, DocGraph.hitsIterLaid(spark, _, 2)),
    ("salsa", Laid.directed, DocGraph.salsaIterLaid(spark, _, 2)),
    ("bfs", Laid.directed, DocGraph.bfsIterLaid(spark, _, 4)),
    ("sssp", Laid.directed, DocGraph.ssspIterLaid(spark, _, 4)),
    ("katz", Laid.directed, DocGraph.katzIterLaid(spark, _, 3)),
    ("mis", Laid.sym, DocGraph.misIterLaid(spark, _, 3)),
    ("color", Laid.sym, DocGraph.colorIterLaid(spark, _, 3)),
    ("match", Laid.und, DocGraph.matchIterLaid(spark, _, 3)),
    ("landmark", Laid.reversed, DocGraph.landmarkIterLaid(spark, _, 4)),
    ("kcore", Laid.sym, DocGraph.kcoreIterLaid(spark, _, 2, 3)),
    ("wpr", Laid.directed, DocGraph.wprIterLaid(spark, _, 2)),
    ("cc capped", Laid.sym, ConnectedComponents.runLaid(spark, _, 3)),
    ("cc", Laid.sym, ConnectedComponents.runLaid(spark, _)),
    ("lp capped", Laid.sym, LabelPropagation.runLaid(spark, _, 3)),
    ("lp", Laid.sym, LabelPropagation.runLaid(spark, _)),
    ("scc", Laid.directed,
      unpersisting(StronglyConnectedComponents.run(spark, _, assumeDistinct = true))),
    ("topo", Laid.directed,
      unpersisting(Condensation.topoLayers(spark, _, 3, assumeDistinct = true))))

  /** A driver that reads a laid table without owning it: the caller
    * unpersists the table once the driver returns, as the queries do. */
  private def unpersisting(run: DataFrame => DataFrame)(lay: Layout): DataFrame = {
    val out = run(lay._1)
    lay._1.unpersist(false)
    out
  }

  /** One call: its sorted rows, after checking what it left in the block manager. */
  private def rowsOf(name: String, lay: DataFrame => Layout, run: Layout => DataFrame): Seq[String] = {
    val before = blockRdds()
    val out = run(lay(edges))
    val leaked = blockRdds() -- before -- checkpointRdds(out)
    assert(leaked.isEmpty, s"$name left blocks of RDDs $leaked")
    out.collect().map(_.toString).toSeq.sorted
  }

  for ((name, lay, run) <- drivers)
    test(s"$name: broadcast and shuffle regimes agree; only the result's blocks remain") {
      val bc = rowsOf(name, lay, run)
      val shj = Superstep.withBroadcastMaxRows(0L)(rowsOf(name, lay, run))
      assert(bc.nonEmpty)
      assert(bc == shj, s"$name: the regimes disagree")
    }
}
