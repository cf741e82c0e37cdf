package graft.operators

import org.apache.spark.sql.DataFrame

/** Lifetimes of `localCheckpoint`-materialized frames.
  *
  * `Dataset.unpersist` is a no-op for a localCheckpoint'd frame: the
  * blocks live on the raw checkpoint RDD, which the session's
  * CacheManager never saw, so [[release]] unpersists that RDD directly.
  *
  * Every iterative operator (connected components, PageRank, TrustRank,
  * HITS, label propagation, k-core, BFS, Bellman-Ford, k-means, PQ
  * training) runs its loop through [[iterate]], which owns every
  * checkpoint the loop makes and releases each one exactly once:
  *  - a round's previous state, and every other checkpoint the round
  *    made, once the round's new state is materialized;
  *  - checkpoints made outside a round (loop-invariant inputs, the first
  *    state, a finishing frame) when the loop returns;
  *  - everything still live when the loop throws.
  * A release never precedes the materialization of a checkpoint that
  * reads the released frame: eager checkpoints are materialized when
  * made, and a deferred one by its round's `done` test. The loop returns
  * a checkpoint it made, not a projection over one, so the caller frees
  * the result with [[release]].
  */
object Checkpoints {

  /** Free the storage blocks behind a localCheckpoint'd frame. Only acts
    * when the frame IS the checkpoint — i.e. its analyzed plan's root is
    * the LogicalRDD the checkpoint produced. A frame merely DERIVED from
    * a checkpoint is left untouched: collecting a LogicalRDD from
    * anywhere inside such a plan could free a still-live upstream
    * checkpoint whose lineage is truncated, making every later use fail
    * unrecoverably ("checkpoint block not found"). */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Run `body`, which makes its checkpoints through the given [[Loop]]
    * and returns one of them, and release every other checkpoint it
    * made: all of them if it throws. */
  def iterate(body: Loop => DataFrame): DataFrame = {
    val loop = new Loop
    var out: DataFrame = null
    try {
      out = body(loop)
      require(loop.holds(out), "an iterative operator must return one of its checkpoints")
      out
    } finally loop.releaseAllBut(out)
  }

  /** The live checkpoints of one [[iterate]] call. */
  final class Loop private[Checkpoints] {
    private[this] var live = Vector.empty[DataFrame]
    private[this] var deferrable = false

    private[Checkpoints] def holds(df: DataFrame): Boolean = live.exists(_ eq df)
    private[Checkpoints] def releaseAllBut(keep: DataFrame): Unit =
      live.filterNot(_ eq keep).foreach(release)

    private def own(cp: DataFrame): DataFrame = { live :+= cp; cp }

    /** An eager checkpoint of `df`: one job, now. */
    def eager(df: DataFrame): DataFrame = own(df.localCheckpoint(true))

    /** A lazy checkpoint of `df`, made in a round with a `done` test:
      * that test is its first action, so one job materializes it and
      * decides convergence. */
    def deferred(df: DataFrame): DataFrame = {
      require(deferrable, "a deferred checkpoint needs its round's done test to materialize it")
      own(df.localCheckpoint(false))
    }

    /** `step(state, r)` for r = 1 to `n`, from `init` (a checkpoint of
      * this loop); returns the last state. With `done`, stops after the
      * first round whose `done(previous, next)` holds. Each step returns
      * a checkpoint it made; after the step (and its `done` test) the
      * previous state and the round's other checkpoints are released. */
    def rounds(n: Int, init: DataFrame,
               done: Option[(DataFrame, DataFrame) => Boolean] = None)
              (step: (DataFrame, Int) => DataFrame): DataFrame = {
      require(holds(init), "rounds must start from a checkpoint of their loop")
      var state = init
      var r = 0
      var stop = false
      while (!stop && r < n) {
        r += 1
        val mark = live.length
        deferrable = done.isDefined
        val next = step(state, r)
        deferrable = false
        val made = live.drop(mark)
        require(made.exists(_ eq next), "a round must return a checkpoint it made")
        stop = done.exists(_(state, next))
        val stale = (state +: made).filterNot(_ eq next)
        live = live.filterNot(cp => stale.exists(_ eq cp))
        stale.foreach(release)
        state = next
      }
      state
    }
  }
}
