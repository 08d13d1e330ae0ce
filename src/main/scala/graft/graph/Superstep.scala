package graft.graph

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, sum, when}

/**
 * The superstep shape every iterative driver shares (the Pregel / GraphX
 * vertex program, BASELINE.json:6): a broadcast-or-shuffle hash join of the
 * O(|V|) state against the cached edge layout, then a groupBy-destination
 * aggregate. This object owns the two decisions that shape has:
 *
 *  - the crossover — whether the state side ships as a broadcast hash
 *    relation or stays a co-partitioned shuffle-hash join (never SMJ: it
 *    would re-sort the cached O(|E|) edge side every superstep);
 *  - the loops — fixed-k and to a fixpoint: how supersteps chain their
 *    checkpoints, when state is materialized, and what is freed once the
 *    result exists.
 */
object Superstep {

  /** Rows up to which a superstep's state side broadcasts. Raising it was
    * probed at the 2M-vertex headline and rejected: the per-superstep
    * driver-side build of a |V|-row hash relation cost more than the
    * contribution shuffle it replaced (13.1 s vs 11.3 s, HeadlineProbe). */
  val BroadcastMaxRows: Long = 500000L

  private val maxRows = new DynamicVariable[Long](BroadcastMaxRows)

  /** Run `body` with another crossover — the one seam through which tests
    * force the shuffle regime (`0L`) on small graphs. Thread-local: the
    * crossover is read while `body` builds its plans on this thread. */
  private[graft] def withBroadcastMaxRows[T](rows: Long)(body: => T): T =
    maxRows.withValue(rows)(body)

  /** Whether a join whose state side is sized by `rows` broadcasts. Each
    * caller passes the quantity its crossover compares: |V| for state keyed
    * by vertex, or the laid |E| where that is the size at hand. */
  def broadcasts(rows: Long): Boolean = rows <= maxRows.value

  /** The crossover as a join hint on the state side of a superstep join. */
  def pin(rows: Long)(df: DataFrame): DataFrame =
    if (broadcasts(rows)) broadcast(df) else df.hint("shuffle_hash")

  /**
   * Exactly `k` supersteps from `init`, as one chain of local checkpoints.
   *
   *  - Every state is `localCheckpoint(false)`: the plan is cut each
   *    superstep (a self-referencing step would otherwise grow it — 2^k
   *    analysis cost for a union of the previous state), while execution
   *    waits for the ONE closing action, so a broadcast-regime run submits
   *    no job per superstep.
   *  - A step that attaches an in-plan scalar (GraphOps.attachScalar) passes
   *    its crossover quantity as `scalarRows`. Beyond the crossover its
   *    states are checkpointed EAGERLY: the scalar's broadcast build would
   *    otherwise be the job that materializes the whole previous superstep,
   *    inside `spark.sql.broadcastTimeout` (300 s) — a limit one superstep
   *    of a 100 TB graph can genuinely hit. There one driver action per
   *    superstep is noise against the superstep's own shuffle.
   *  - `out` projects the result from the last two states (the previous
   *    one serves drivers whose superstep is two half-steps). The result is
   *    checkpointed eagerly; then every intermediate state's blocks and the
   *    cached `inputs` are freed — the result no longer depends on them.
   *
   * `step` gets the current state and the 1-based superstep index.
   */
  def fixedK(k: Int, init: DataFrame, inputs: Seq[DataFrame],
             scalarRows: Option[Long] = None)
            (step: (DataFrame, Int) => DataFrame)
            (out: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val eager = scalarRows.exists(rows => !broadcasts(rows))
    val states = ArrayBuffer(init.localCheckpoint(false))
    for (i <- 1 to k) states += step(states.last, i).localCheckpoint(eager)
    val prev = states(math.max(0, states.length - 2))
    val res = out(prev, states.last).localCheckpoint(true)
    states.foreach(GraphOps.freeCheckpoint)
    inputs.foreach(_.unpersist(false))
    res
  }

  /**
   * Supersteps from `init` until no label changes, at most `maxIter` of
   * them. The state is `(vid, label)`; `step` maps it to the next state
   * plus `old`, each vertex's label in the state it was given. `init` must
   * be a local checkpoint: the loop frees it with the other states.
   *
   * STRIDED (r6): up to two supersteps per driver round-trip. The first
   * chains lazily (its `old` is projected away before the checkpoint); the
   * second carries its previous label as `old`, so the counting aggregate —
   * the ONE job of the pair — materializes both states and yields the exact
   * number of vertices where `changed(label, old)` holds. A HashMin, LP or
   * min/max-fold superstep at its fixpoint is the identity, so stopping on
   * the second step's zero count is the per-superstep stop test at half the
   * driver actions, for at most one redundant superstep per run. `maxIter`
   * is respected EXACTLY — the tail stride shrinks to 1 — so a capped run
   * executes the capped superstep count. The previous and the mid-pair
   * state are freed each round; the result is a projection of the last
   * state's checkpoint.
   */
  def untilFixpoint(init: DataFrame, maxIter: Int)
                   (step: DataFrame => DataFrame)
                   (changed: (Column, Column) => Column): DataFrame = {
    var st = init
    var iter = 0
    var n = 1L
    while (n > 0 && iter < maxIter) {
      val stride = math.min(2, maxIter - iter)
      val mid =
        if (stride < 2) st
        else step(st).select("vid", "label").localCheckpoint(false)
      val next = step(mid).localCheckpoint(false) // materialized by the count
      n = next.agg(coalesce(sum(when(changed(col("label"), col("old")), 1L)
        .otherwise(0L)), lit(0L))).first().getLong(0)
      GraphOps.freeCheckpoint(st)
      if (mid ne st) GraphOps.freeCheckpoint(mid)
      st = next.select("vid", "label")
      iter += stride
    }
    st
  }
}
