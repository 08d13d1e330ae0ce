package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.graph._
import graft.operators.DocGraph

/** Decomposes q_pagerank's cost at the bench scale: layout wall, per-superstep
  * wall distribution, and broadcast-vs-shuffle_hash strategy A/B — guide §1
  * (measure first) for the single biggest sweep query.
  *   sbt "runMain graft.tools.SuperstepProbe [sfDir] [iters] [cores]"
  */
object SuperstepProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val iters = if (args.length > 1) args(1).toInt else 40
    val cores = if (args.length > 2) args(2) else "32"
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // the join regime as a crossover (Superstep.withBroadcastMaxRows):
    // 0 rows forces shuffle-hash, Long.MaxValue broadcasts any |V|
    def once(tag: String, rows: Long): Unit = {
      val t0 = System.nanoTime()
      val e  = DocGraph.edges(spark, sfDir)
      val res = Superstep.withBroadcastMaxRows(rows)(PageRank.run(spark, e,
        PageRankConfig(eps = 0.0, maxIter = iters, ckptEvery = 0)))
      val n = res.ranks.count()
      val total = (System.nanoTime() - t0) / 1e9
      val walls = res.metrics.map(_.wallMs)
      val sorted = walls.sorted
      println(f"[probe] $tag crossover=$rows rows=$n total=$total%.2f s " +
        f"supersteps=${walls.size} sumstep=${walls.sum / 1000.0}%.2f s " +
        f"med=${sorted(sorted.size / 2)} ms min=${sorted.head} max=${sorted.last} ms " +
        f"layout+rest=${total - walls.sum / 1000.0}%.2f s")
      spark.catalog.clearCache()
    }
    val auto = Superstep.BroadcastMaxRows
    once("warm0", auto)
    once("auto1", auto); once("auto2", auto)
    once("shj1", 0L); once("shj2", 0L)
    once("bc1", Long.MaxValue); once("bc2", Long.MaxValue)
    spark.stop()
  }
}
