package graft.tools

import org.apache.spark.sql.SparkSession

import graft.graph.{PageRank, PageRankConfig, Superstep}
import graft.sources.PageSynth

/** Headline-scale strategy A/B under the Bench protocol (same graph, same
  * warmup, best-of-k): shuffle_hash (today's auto pick at 2M vertices) vs
  * broadcast + dst-laid edges (r6 zero-shuffle superstep).
  *   sbt "runMain graft.tools.HeadlineProbe [nPages] [iters] [cores]"
  */
object HeadlineProbe {
  def main(args: Array[String]): Unit = {
    val nPages = if (args.length > 0) args(0).toLong else 2000000L
    val iters  = if (args.length > 1) args(1).toInt else 8
    val cores  = if (args.length > 2) args(2) else "32"
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val edges  = PageSynth.edgeList(spark, nPages)
    val nEdges = edges.count()
    println(s"[probe] nPages=$nPages nEdges=$nEdges")

    // the join regime as a crossover (Superstep.withBroadcastMaxRows):
    // 0 rows forces shuffle-hash, Long.MaxValue broadcasts any |V|
    def leg(tag: String, rows: Long): Unit = {
      val r = Superstep.withBroadcastMaxRows(rows)(PageRank.run(spark, edges.toDF(),
        PageRankConfig(eps = 0.0, maxIter = iters, ckptEvery = 0)))
      val walls = r.metrics.map(_.wallMs).sorted
      val total = r.metrics.map(_.wallMs).sum / 1000.0
      println(f"[probe] $tag crossover=$rows sumstep=$total%.2f s " +
        f"med=${walls(walls.length / 2)} ms eps_med=${nEdges * 1000.0 / walls(walls.length / 2)}%.0f")
      spark.catalog.clearCache()
    }
    // warmup matching Bench (2 iters)
    PageRank.run(spark, edges.toDF(), PageRankConfig(eps = 0.0, maxIter = 2, ckptEvery = 0))
    val (shj, bc) = (0L, Long.MaxValue)
    leg("shj1", shj); leg("shj2", shj)
    leg("bc1", bc); leg("bc2", bc)
    leg("shj3", shj); leg("bc3", bc)
    spark.stop()
  }
}
