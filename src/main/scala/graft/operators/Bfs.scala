package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search over an edge list — the hop-distance
  * companion to [[ConnectedComponents]] (membership) and [[PageRank]]
  * (influence): minimum hop count from any seed node, the primitive
  * behind "distance to a trusted set" features (TrustRank-style spam
  * distance, catalog-to-seed reachability, blast-radius analysis).
  *
  * FIXED-round frontier expansion, the same determinism contract as
  * [[KCore.kCorePeel]] and fixed-point PageRank: `rounds` bounds the job
  * count, each round is one join + distinct + anti-join, and the result
  * after R rounds (all nodes within R hops, labeled with their exact
  * minimum hop) is engine-replayable by an unrolled CTE. The frontier —
  * not the visited set — drives the expansion join, so per-round cost is
  * O(edges touching the frontier), and the anti-join against the visited
  * set keeps every node's FIRST (minimal) hop: classic distributed BFS
  * (Pregel's SSSP specialization to unit weights).
  */
object Bfs {

  /** (node, hop) for every node reachable from `seeds` within `rounds`
    * hops over the UNDIRECTED graph given by `edges` (duplicate and
    * reversed edges tolerated; seeds get hop 0). */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one expansion round")
    val e = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    // Edge checkpoint HASH-PARTITIONED ON s (one repartition, paid once
    // — the r20 PageRank / r21 LPA discipline, guide §2.4): every
    // round's expansion join keys und.s against the frontier's node, so
    // with und laid out by s only the (small) frontier side ever
    // shuffles — the edge frame never moves again.
    Checkpoints.iterate { loop =>
      val und = loop.eager(e.unionAll(e.select(col("t").as("s"), col("s").as("t")))
        .distinct()
        .repartition(col("s")))
      val init = loop.eager(seeds.select(col(seedCol).cast("long").as("node")).distinct()
        .withColumn("hop", lit(0L)))
      loop.rounds(rounds, init) { (visited, r) =>
        val frontier = visited.filter(col("hop") === lit(r - 1L)).select(col("node"))
        val next = und.join(frontier, und("s") === frontier("node"))
          .select(col("t").as("node")).distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti")
          .withColumn("hop", lit(r.toLong))
        loop.eager(visited.unionAll(next))
      }
    }
  }
}
