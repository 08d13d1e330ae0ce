package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-partition lineage stat for one superstep (rows that landed in each
  * hash partition of the new rank state — BASELINE.json:6 "per-partition
  * lineage + iteration metrics"). */
final case class PartStat(pid: Int, rows: Long)

/** Per-superstep metrics (BASELINE.json:6 — checkpointed with the ranks). */
final case class IterMetrics(
    iter: Int,
    l1: Double,
    danglingMass: Double,
    edgesProcessed: Long,
    wallMs: Long,
    partStats: Seq[PartStat])

final case class PageRankResult(
    ranks: DataFrame,
    metrics: Seq[IterMetrics],
    iterations: Int,
    /** hub-salting evidence: how many sources crossed the (possibly derived)
      * out-degree threshold this run — non-zero means the salted join ran. */
    hubCount: Long = 0L,
    hubThreshold: Long = 0L)

final case class PageRankConfig(
    damping: Double = 0.85,
    eps: Double = 1e-9,
    maxIter: Int = 200,
    numPartitions: Int = 0,          // 0 → spark.sql.shuffle.partitions
    /** out-degree above which a source vertex is treated as a hub and salted
      * (J4). 0 → derived from the run's own degree stats (A8):
      * max(1024, |E| / (2·partitions)) — a key holding more than half an
      * average partition's edges is a genuine single-task skew source. */
    hubDegreeThreshold: Long = 0L,
    saltBuckets: Int = 8,
    /** durable checkpoint every k supersteps (resume point); lineage is truncated every superstep regardless. */
    ckptEvery: Int = 5)

/**
 * Damped power-iteration PageRank (d=0.85, dangling-mass redistribution,
 * L1-convergence epsilon) — BASELINE.json:6; golden values FIXTURES.md §2.
 *
 * Superstep = one shuffle-hash (or broadcast) join of ranks against the
 * cached, src-partitioned edge table, then a groupBy-destination sum with
 * map-side partial aggregation — the Spark-native form of the reference's
 * CSR gather + block reduction kernels [R].
 *
 * Scale design (SURVEY.md §4.2):
 *  - edges are hash-partitioned on `src` ONCE and persisted; every superstep
 *    join reuses that partitioning, so per-iteration shuffle traffic is
 *    O(|V|) ranks + O(|V|) partial sums, never O(|E|) edges;
 *  - dangling mass needs no extra anti-join pass: each non-dangling vertex
 *    transmits exactly its rank, so danglingMass = 1 − Σ(partial sums) —
 *    one scalar action per superstep, self-normalizing (Σ ranks stays 1);
 *  - hub sources (out-degree > threshold) are salted: their rank row is
 *    replicated S ways and edges join on (vid, salt) — on top of AQE's
 *    skew-join splits (both layers mandated by BASELINE.json:6);
 *  - lineage is truncated every superstep (localCheckpoint) and durably
 *    checkpointed every `ckptEvery` supersteps via the pluggable
 *    [[Checkpointer]], so a run resumes mid-iteration.
 */
object PageRank {

  /** Pluggable durable checkpoint (implemented by ckpt.IcebergLikeStore). */
  trait Checkpointer {
    /** Persist ranks+metrics for `iter`; return the re-read (lineage-free) ranks. */
    def save(iter: Int, ranks: DataFrame, metrics: Seq[IterMetrics]): DataFrame
    /** Most recent saved state, if any: (iter, ranks, metrics so far). */
    def latest(): Option[(Int, DataFrame, Seq[IterMetrics])]
  }

  /** No durability: truncate lineage in memory only. */
  object NoopCheckpointer extends Checkpointer {
    def save(iter: Int, ranks: DataFrame, metrics: Seq[IterMetrics]): DataFrame =
      ranks.localCheckpoint(true)
    def latest(): Option[(Int, DataFrame, Seq[IterMetrics])] = None
  }

  def run(spark: SparkSession, edges: DataFrame,
          cfg: PageRankConfig = PageRankConfig(),
          ckpt: Checkpointer = NoopCheckpointer): PageRankResult = {
    val typedEdges =
      edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))

    // --- static per-run state, partitioned for the iteration and cached ---
    // explicit numPartitions is honored exactly (the scaling bench pins it);
    // otherwise the width is right-sized from the materialized edge count so
    // tiny graphs don't pay confParts near-empty tasks per superstep stage
    val (eSrc, edgeCount, parts) =
      if (cfg.numPartitions > 0) {
        val e0 = GraphOps.partitionForIteration(typedEdges, cfg.numPartitions)
        (e0, e0.count(), cfg.numPartitions)
      } else {
        GraphOps.layoutForIteration(typedEdges,
          spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      }

    val outDeg = GraphOps.outDegrees(eSrc)
      .repartition(parts, col("vid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = GraphOps.vertices(eSrc)
      .repartition(parts, col("vid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = verts.count()
    require(n > 0, "empty graph")

    // hub sources for salting: threshold from the run's own degree stats when
    // not pinned (SURVEY.md §5.2); membership stays distributed as a DataFrame
    // (broadcast semi-joined per superstep — never a collected literal list)
    val hubThreshold =
      if (cfg.hubDegreeThreshold > 0) cfg.hubDegreeThreshold
      else math.max(1024L, edgeCount / (2L * parts))
    val hubs = outDeg.filter(col("outDeg") > hubThreshold).select("vid")
    val hubCount = hubs.count() // outDeg is cached — one cheap scan

    val d = cfg.damping
    // Superstep's crossover (BASELINE.json:6 "broadcast-or-shuffle hash
    // join") on |V|: broadcast the rank side below it, co-partitioned
    // shuffle-hash beyond — never SMJ, which would re-sort the O(|E|) cached
    // edge side every superstep
    val pin = Superstep.pin(n) _

    // r6 (guide §2.4 — remove shuffles outright): in the BROADCAST regime
    // the superstep join does not need src clustering (the rank side ships
    // as a hash relation), so the edges re-lay ONCE by `dst`: every
    // per-destination partial aggregation — including the salted path's
    // branch-wise hub/non-hub sums and their co-partitioned merge
    // (Salting.contribSums) — lands on the cached partitioning and the
    // superstep runs with NO shuffle at all: broadcast build + map-side
    // chain + the tiny closing aggregate. One extra edge shuffle up front
    // buys maxIter shuffle-free supersteps. The shuffle regime keeps the
    // src layout (its join streams the cached edge side); raising the
    // broadcast crossover past 500k rows was probed at the 2M-vertex
    // headline and REJECTED: the per-superstep driver-side broadcast build
    // (collect + hash relation of |V| rows) costs more than the
    // contribution shuffle it replaces (13.1 s vs 11.3 s
    // sum-of-supersteps, HeadlineProbe).
    val e =
      if (Superstep.broadcasts(n)) {
        val laid = eSrc.repartition(parts, col("dst")).sortWithinPartitions("dst")
          .persist(StorageLevel.MEMORY_AND_DISK)
        laid.count() // materialize from the cached src layout, then drop it
        eSrc.unpersist(false)
        laid
      } else eSrc

    // Ranks carry the static nullable out-degree column so each superstep is
    // ONE Spark job: the closing aggregate computes this iteration's L1 AND
    // the next iteration's transmitted mass (Σ rank over non-dangling
    // vertices) in the same pass that materializes the lineage-truncating
    // checkpoint. No separate dangling action, no persisted sums stage.
    def withDeg(r: DataFrame): DataFrame =
      r.join(outDeg, Seq("vid"), "left").select(col("vid"), col("rank"), col("outDeg"))

    // --- resume or cold start ---
    val (startIter, ranksInit, metrics0) = ckpt.latest() match {
      case Some((it, saved, ms)) => (it + 1, withDeg(saved), ms.toVector)
      case None =>
        (0, withDeg(verts.select(col("vid"), lit(1.0 / n).as("rank"))), Vector.empty[IterMetrics])
    }

    var ranks   = ranksInit.localCheckpoint(true)
    var metrics = metrics0
    var iter    = startIter
    var l1      = Double.MaxValue
    // transmitted mass of the CURRENT ranks (one bootstrap action per run)
    var transmitted = Option(
      ranks.filter(col("outDeg").isNotNull).agg(sum(col("rank"))).first().get(0))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)

    while (l1 >= cfg.eps && iter < cfg.maxIter) {
      val t0 = System.nanoTime()
      val dangling = math.max(0.0, 1.0 - transmitted)

      // rank/outDeg weights of transmitting vertices (outDeg column is local)
      val rankDeg = ranks.filter(col("outDeg").isNotNull)
        .select(col("vid"), (col("rank") / col("outDeg")).as("w"))

      // per-destination partial sums (J1 + A1), hub-salted when needed (J4);
      // branch-wise aggregation + co-partitioned merge (r6) so the broadcast
      // regime's dst layout carries the whole superstep shuffle-free
      val sums = Salting.contribSums(e, rankDeg, hubs, hubCount, cfg.saltBuckets, pin)

      val base = (1.0 - d) / n + d * dangling / n
      // both sides hash-partitioned on the key — pin SHJ so neither is sorted
      val newRank = lit(base) + lit(d) * coalesce(col("s"), lit(0.0))
      val next = ranks.join(sums.hint("shuffle_hash"), ranks("vid") === sums("dst"), "left")
        .select(ranks("vid"), newRank.as("rank"),
          abs(newRank - ranks("rank")).as("delta"), ranks("outDeg"))

      // lazy checkpoint: the closing aggregate below materializes it —
      // exactly one job per superstep
      val durable = cfg.ckptEvery > 0 && (iter + 1) % cfg.ckptEvery == 0
      val mat =
        if (durable) next.persist(StorageLevel.MEMORY_AND_DISK)
        else next.localCheckpoint(false)
      // ONE closing job per superstep: grouped by physical partition it yields
      // the per-partition lineage stats (row counts) AND the global L1 +
      // transmitted-mass sums (driver folds ≤`parts` partials), while
      // materializing the lazily-checkpointed new rank state in the same pass.
      val prows = mat.groupBy(spark_partition_id().as("pid"))
        .agg(count(lit(1)).as("rows"), sum(col("delta")).as("d"),
          sum(when(col("outDeg").isNotNull, col("rank"))).as("t"))
        .collect()
      l1 = prows.iterator.map(r => if (r.isNullAt(2)) 0.0 else r.getDouble(2)).sum
      transmitted = prows.iterator.map(r => if (r.isNullAt(3)) 0.0 else r.getDouble(3)).sum
      val partStats = prows.map(r => PartStat(r.getInt(0), r.getLong(1))).sortBy(_.pid).toSeq

      val wallMs = (System.nanoTime() - t0) / 1000000
      metrics = metrics :+ IterMetrics(iter, l1, dangling, edgeCount, wallMs, partStats)

      val newRanks =
        if (durable) {
          val r = withDeg(ckpt.save(iter, mat.select("vid", "rank"), metrics)).localCheckpoint(true)
          mat.unpersist(false)
          r
        } else mat.select("vid", "rank", "outDeg")

      // free the PREVIOUS superstep's checkpoint blocks now that the new
      // state is materialized — the ContextCleaner is too lazy for a tight loop
      GraphOps.freeCheckpoint(ranks)
      ranks = newRanks
      iter += 1
    }
    val finalRanks = ranks.select("vid", "rank")
    ranks = finalRanks

    // final state is always durably recorded (exact resume point = done)
    if (metrics.nonEmpty && !(cfg.ckptEvery > 0 && iter % cfg.ckptEvery == 0))
      ranks = ckpt.save(iter - 1, ranks, metrics)

    // release per-run caches (edge layout, degrees, vertex set) — the result
    // ranks are checkpoint-backed and independent of them
    e.unpersist(false)
    outDeg.unpersist(false)
    verts.unpersist(false)

    PageRankResult(ranks, metrics, iter, hubCount, hubThreshold)
  }
}
