package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Ids of the RDDs holding blocks in the block manager: cached tables
    * and local checkpoints alike. */
  def blockRdds(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** The RDDs holding `df`'s own blocks when `df` is a checkpointed
    * result, a projection of one, or a union of such (SCC's per-round
    * checkpoints); empty for a lazy plan, whose inputs are not the result's. */
  def checkpointRdds(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Union}
    def leaves(p: LogicalPlan): Set[Int] = p match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Set(lr.rdd.id)
      case Project(_, child) => leaves(child)
      case u: Union => u.children.flatMap(leaves).toSet
      case _ => Set.empty
    }
    leaves(df.queryExecution.analyzed)
  }
}

/** Iteration layouts `(cached edges, |E|, parts)` of a small test edge
  * frame, in the orientations DocGraph's fixed-k drivers read — the same
  * shapes `DocGraph.laidDirected` / `laidReversed` / `laidSym` / `laidUnd`
  * build from the document corpus. */
object Laid {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.col
  import graft.graph.GraphOps

  private def longs(e: DataFrame): DataFrame =
    e.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
  private def lay(e: DataFrame): (DataFrame, Long, Int) =
    GraphOps.layoutForIteration(e,
      e.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  def directed(e: DataFrame): (DataFrame, Long, Int) = lay(longs(e))
  def reversed(e: DataFrame): (DataFrame, Long, Int) =
    lay(longs(e).select(col("dst").as("src"), col("src").as("dst")))
  def sym(e: DataFrame): (DataFrame, Long, Int) = lay(GraphOps.symmetrized(longs(e)))
  def und(e: DataFrame): (DataFrame, Long, Int) =
    lay(GraphOps.undirected(longs(e)).select(col("a").as("src"), col("b").as("dst")))
}
