package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Synchronous label propagation for community detection (Raghavan, Albert,
 * Kumara 2007; mandated BASELINE.json:6). Exactness requires a fully pinned
 * schedule (SURVEY.md §7.3 #1):
 *
 *  - labels init to own vertex id;
 *  - **synchronous** supersteps (all vertices update from the previous
 *    iteration's labels — no async order-dependence);
 *  - new label = the most frequent label among undirected neighbors,
 *    deterministic tie-break = smallest label (built-in `max_by` over the
 *    ordering key `(count, -label)` — no UDAF, stays in codegen);
 *  - isolated vertices keep their own label;
 *  - fixed `maxIter` cap (synchronous LPA can 2-cycle on bipartite
 *    structures; the cap pins the output deterministically).
 */
object LabelPropagation {

  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 20): DataFrame =
    runLaid(spark, GraphOps.layoutForIteration(GraphOps.symmetrized(edges),
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt), maxIter)

  /** [[run]] core over a pre-laid-out symmetric edge table (cached,
    * src-hash-partitioned — e.g. DocGraph.laidSym's one-exchange layout).
    * The laid table is unpersisted on return. */
  private[graft] def runLaid(spark: SparkSession, laidSym: (DataFrame, Long, Int),
                             maxIter: Int = 20): DataFrame = {
    val (sym, _, parts) = laidSym
    // lazy: the |V| count below is the materializing action (r6)
    val labels = GraphOps.vertices(sym)
      .select(col("vid"), col("vid").as("label"))
      .repartition(parts, col("vid"))
      .localCheckpoint(false)

    // same broadcast-or-shuffle-hash selection as PageRank/CC: broadcast the
    // O(|V|) label side while it fits, co-partitioned SHJ beyond — never SMJ
    val pin = Superstep.pin(labels.count()) _

    // one synchronous LPA superstep: most frequent neighbor label, ties →
    // smallest, via an overflow-free descending key (~label is monotone-
    // decreasing over all longs — ANSI-safe, unlike -label on Long.MinValue)
    def superstep(st: DataFrame): DataFrame = {
      val nbr = sym.join(pin(st), sym("src") === st("vid"))
        .select(sym("dst").as("vid"), st("label"))
      val freq = nbr.groupBy("vid", "label").agg(count(lit(1)).as("cnt"))
      val winner = freq.groupBy("vid")
        .agg(max_by(col("label"),
          struct(col("cnt"), bitwise_not(col("label")).as("nl"))).as("newLabel"))
      st.join(pin(winner), Seq("vid"), "left")
        .select(col("vid"), coalesce(col("newLabel"), col("label")).as("label"),
          col("label").as("old"))
    }

    // a synchronous-LPA superstep at `changed == 0` is the identity, so the
    // strided stop test equals the per-superstep one; the exact `maxIter` is
    // load-bearing: a capped run (q_lp's maxIter = 10) must execute exactly
    // the oracle's superstep count
    val out = Superstep.untilFixpoint(labels, maxIter)(superstep)(_ =!= _)
    sym.unpersist(false)
    out
  }
}
