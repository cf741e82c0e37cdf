package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling over an edge list — the density-contour companion to
  * [[ConnectedComponents]] (membership) and [[Triangles]] (cliquishness):
  * the k-core is the maximal subgraph where every node keeps degree ≥ k,
  * the standard "dense kernel" extraction (community cores, spam-farm
  * detection, co-purchase basket cores).
  *
  * FIXED-round peeling, not peel-to-fixpoint: each round is one degree
  * aggregation + two semi-joins, and `rounds` bounds the job count the
  * way fixed-iteration PageRank does — the fixpoint is approached
  * monotonically from above, so R rounds give a deterministic,
  * engine-replayable over-approximation that a DuckDB CTE unroll can
  * mirror exactly (a data-dependent round count could not be gated).
  */
object KCore {

  /** Surviving nodes and their induced-subgraph degrees after `rounds`
    * peels at threshold `k` over the undirected graph given by `edges`
    * (self-loops and duplicate/reversed edges tolerated). */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one peel round")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    Checkpoints.iterate { loop =>
      val init = loop.eager(edges
        .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .distinct())
      val e = loop.rounds(rounds, init) { (e, _) =>
        val alive = degrees(e).filter(col("deg") >= k).select(col("n"))
        loop.eager(e
          .join(alive, e("u") === alive("n"), "left_semi")
          .join(alive, e("v") === alive("n"), "left_semi"))
      }
      loop.eager(degrees(e).select(col("n").as("node"), col("deg").as("degree")))
    }
  }
}
