package graft.tools

import org.apache.spark.sql.SparkSession

import graft.graph.{StronglyConnectedComponents, Superstep}
import graft.operators.DocGraph

/** A/B: SCC propagate pins broadcast (default crossover) vs shuffle_hash
  * (crossover 0) at the bench scale — does the per-superstep
  * broadcast build earn its job?
  *   sbt "runMain graft.tools.SccPinProbe [sfDir] [cores]"
  */
object SccPinProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cores = if (args.length > 1) args(1) else "32"
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def leg(tag: String, bmr: Long): Unit = {
      val (laid, _, _) = DocGraph.laidDirected(spark, sfDir)
      val t0 = System.nanoTime()
      val n = Superstep.withBroadcastMaxRows(bmr) {
        StronglyConnectedComponents.run(spark, laid, assumeDistinct = true).count()
      }
      println(f"[probe] $tag bmr=$bmr rows=$n wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      laid.unpersist(false)
      spark.catalog.clearCache()
    }
    val bc = Superstep.BroadcastMaxRows
    leg("warm", bc)
    leg("bc1", bc); leg("bc2", bc)
    leg("shj1", 0L); leg("shj2", 0L)
    leg("bc3", bc); leg("shj3", 0L)
    spark.stop()
  }
}
