package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * J4 — hub-vertex salting for the superstep contribution join
 * (BASELINE.json:6,14: "hub-vertex salting, AQE skew-join splits" — this is
 * the explicit layer; AQE skew-join is enabled in session conf as layer 2).
 *
 * AQE splits skewed *shuffle partitions* after the fact, but a single hot key
 * (a hub page with 10⁷ out-links) still hashes to one task. Salting fixes the
 * key itself: the hub's rank row is replicated `S` ways with an explicit salt
 * column, hub edges pick a deterministic salt from `xxhash64(dst)`, and the
 * join key becomes `(vid, salt)` — spreading one hot key over S tasks.
 *
 * Hub membership travels as a broadcast DataFrame semi-join, never as a
 * collected `isin` literal: a heavy-tailed 10¹²-vertex graph can put 10⁵–10⁶
 * vertices over any degree threshold, and a multi-megabyte literal predicate
 * serialized into every task is exactly the driver bottleneck the broadcast
 * avoids. Only hub keys are salted; the (vastly larger) non-hub edge set
 * takes the plain co-partitioned join with zero overhead. Salt values derive
 * from `xxhash64`, never `rand()` (determinism rule, SURVEY.md §7.4).
 */
object Salting {

  /**
   * Per-destination contribution SUMS `(dst, s)` of `edges ⋈ rankDeg on
   * src = vid`. `rankDeg` columns: (vid, w) where w = rank/outDeg. `hubs`
   * columns: (vid) — the hub vertex set; `hubCount` is its
   * (caller-materialized) size so the zero-hub fast path costs nothing.
   * `pin` is the superstep crossover (`Superstep.pin(|V|)`) applied to the
   * non-hub rank side: one broadcast hash relation for small rank tables,
   * a shuffle-hash join co-partitioned with the cached edge layout
   * otherwise — never the default SMJ, which would re-sort the full O(|E|)
   * edge side every superstep.
   *
   * The hub and non-hub branches are PRE-aggregated separately and merged
   * by union + re-aggregate (r6, guide §2.3 "aggregate before you
   * shuffle"): the former union-of-raw-contributions
   * shuffled O(|E|) rows; here each branch reduces to ≤|V| per-destination
   * partials first — on a dst-partitioned edge layout (the broadcast
   * regime's) both partial aggregations run exchange-free, and only the
   * merged partials cross the wire. The merge deliberately uses UNION, not
   * a join of the two aggregated branches: plan-stat estimation SUMS a
   * union's sizeInBytes but MULTIPLIES a join's, and a per-superstep join
   * of two subtrees that both reference the previous superstep's
   * checkpoint compounds the estimate exponentially across supersteps —
   * measured as a Catalyst planning livelock (minutes of BigInteger
   * arithmetic inside stats rewrite) by superstep ~20 when this merge was
   * first written as a full-outer join. Summation order differs from the
   * single-aggregate form by one extra add level per hub destination —
   * inside every caller's pinned tolerance (goldens 1e-9, e7/round-7
   * oracles).
   */
  def contribSums(edges: DataFrame, rankDeg0: DataFrame,
                  hubs: DataFrame, hubCount: Long, saltBuckets: Int,
                  pin: DataFrame => DataFrame): DataFrame = {
    if (hubCount == 0 || saltBuckets <= 1) {
      val rankDeg = pin(rankDeg0)
      edges.join(rankDeg, edges("src") === rankDeg("vid"))
        .select(edges("dst"), rankDeg("w"))
        .groupBy("dst").agg(sum(col("w")).as("s"))
    } else {
      val h = broadcast(hubs.select(col("vid").as("hub")))
      val hubEdges = edges.join(h, edges("src") === h("hub"), "left_semi")
        .withColumn("salt", pmod(xxhash64(col("dst")), lit(saltBuckets)).cast("int"))
      val restEdges = edges.join(h, edges("src") === h("hub"), "left_anti")
      val hubRanks = broadcast(
        rankDeg0.join(h, rankDeg0("vid") === h("hub"), "left_semi")
          .withColumn("salt", explode(sequence(lit(0), lit(saltBuckets - 1)))))
      val hubSums = hubEdges.join(hubRanks,
          hubEdges("src") === hubRanks("vid") && hubEdges("salt") === hubRanks("salt"))
        .select(hubEdges("dst"), hubRanks("w"))
        .groupBy("dst").agg(sum(col("w")).as("s"))
      val rankDeg = pin(rankDeg0)
      val restSums = restEdges.join(rankDeg, restEdges("src") === rankDeg("vid"))
        .select(restEdges("dst"), rankDeg("w"))
        .groupBy("dst").agg(sum(col("w")).as("s"))
      restSums.unionByName(hubSums)
        .groupBy("dst").agg(sum(col("s")).as("s"))
    }
  }
}
