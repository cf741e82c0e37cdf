package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}

/** How an operation's output is consumed.
  *
  * Like Spark's `noop` sink, every row of every column is produced, so
  * Catalyst cannot prune what the operation computes (a `count()` lets it
  * drop columns and whole aggregates). Unlike a `noop` write, the frame is
  * planned once: the write command would wrap the frame in a new query and
  * optimise the whole tree again, which would hide planning inside the
  * consuming action. Each row is hashed as it streams past, so every pass
  * yields an order-independent fingerprint of the full output at the cost
  * of one 64-bit hash per row. */
object Consume {
  final case class Digest(rows: Long, hash: Long)

  /** Forces Catalyst, graft's extension rules and physical planning. */
  def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** Runs the planned frame under its own SQL execution id, as a Dataset
    * action does, and folds the rows into a [[Digest]]. */
  def run(df: DataFrame): Digest = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graftbench")) {
      val schema = qe.executedPlan.schema
      val parts = qe.executedPlan.execute().mapPartitions { rows =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        rows.foreach { r =>
          val u = proj(r)
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator.single((n, h))
      }.collect()
      Digest(parts.map(_._1).sum, parts.map(_._2).sum)
    }
  }
}
