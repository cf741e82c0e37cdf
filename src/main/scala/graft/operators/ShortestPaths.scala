package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round Bellman–Ford over a WEIGHTED edge list — [[Bfs]]'s
  * weighted sibling (hop count → cost distance): minimum path cost from
  * any seed within `rounds` relaxations, the routing / influence-cost /
  * affinity-distance primitive. Unlike frontier BFS, a settled node's
  * distance can still improve through a longer-but-cheaper path, so each
  * round re-relaxes EVERY edge out of the visited set (textbook
  * distributed Bellman–Ford, Pregel's SSSP): one join + one min
  * aggregation per round — associative, partitioning-independent integer
  * math that an unrolled CTE replays exactly. After R rounds the result
  * is the exact minimum over paths of ≤ R edges: the same fixed-round
  * determinism contract as fixed-point PageRank and [[KCore]].
  */
object ShortestPaths {

  /** (node, dist) minimum path cost over ≤ `rounds` edges from `seeds`
    * (hop-0 cost 0) across the UNDIRECTED weighted graph in `edges`;
    * unreached nodes are absent. Weights must be non-negative longs. */
  def bellmanFord(edges: DataFrame, srcCol: String, dstCol: String,
                  weightCol: String, seeds: DataFrame, seedCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one relaxation round")
    val e = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("t"), col(weightCol).cast("long").as("w"))
      .filter(col("s") =!= col("t"))
    // undirected: keep the MIN weight per direction-canonical pair, then
    // emit both directions (dup edges with differing weights tolerated)
    val und = e.select(least(col("s"), col("t")).as("u"),
        greatest(col("s"), col("t")).as("v"), col("w"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .select(col("u").as("s"), col("v").as("t"), col("w"))
    // s-partitioned edge checkpoint (one repartition, paid once — the
    // r20 PageRank / r21 LPA discipline, guide §2.4): each round's
    // relaxation join keys both.s against the distance state's node, so
    // only the state side shuffles per round; the edge frame never
    // moves again.
    Checkpoints.iterate { loop =>
      val both = loop.eager(
        und.unionAll(und.select(col("t").as("s"), col("s").as("t"), col("w")))
          .repartition(col("s")))
      val init = loop.eager(seeds.select(col(seedCol).cast("long").as("node")).distinct()
        .withColumn("dist", lit(0L)))
      loop.rounds(rounds, init) { (dist, _) =>
        val relaxed = both.join(dist, both("s") === dist("node"))
          .select(col("t").as("node"), (col("dist") + col("w")).as("dist"))
        loop.eager(dist.unionAll(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist")))
      }
    }
  }
}
