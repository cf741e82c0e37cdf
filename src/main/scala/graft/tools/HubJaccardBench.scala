package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale evidence for the degree-capped wedge join (NodeSimilarity):
  * the co-purchase fixture is too benign to exercise hub safety (max
  * degree 71), so this builds a synthetic graph WITH a hub — cliques of
  * 6 plus one hub node adjacent to every node — and times
  * `jaccardPairs` at 1× and 100× nodes. Uncapped, the hub alone emits
  * |V|² wedge pairs (10¹² at the 100× size); capped, its center role is
  * skipped and cost stays Σ_{deg≤cap} deg² = O(|V|·36). Run:
  *   sbt "runMain graft.tools.HubJaccardBench"
  * Results are recorded in BASELINE.md (round 9). */
object HubJaccardBench {
  private def und(spark: SparkSession, nNodes: Long): DataFrame = {
    val ids = spark.range(1, nNodes).select(col("id"),
      (col("id") / 6L).cast("long").as("clique"))
    val cliqueEdges = ids.as("x").join(ids.as("y"), col("x.clique") === col("y.clique")
        && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    val hubEdges = spark.range(1, nNodes).select(lit(0L).as("a"), col("id").as("b"))
    val e = cliqueEdges.unionByName(hubEdges)
    e.select(col("a").as("n"), col("b").as("m"))
      .unionAll(e.select(col("b").as("n"), col("a").as("m")))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    def time(label: String, cap: Long, nNodes: Long): Unit = {
      val g = graft.QueryCaches.scoped(und(spark, nNodes))
      g.count() // materialize input outside the timed window
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = graft.operators.NodeSimilarity.jaccardPairs(g, 4, cap).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[hub-bench] $label%-24s cap=$cap%-8d pairs=$n%-10d $s%7.2f s")
        s
      }.sorted
      println(f"[hub-bench] $label%-24s MEDIAN ${runs(1)}%7.2f s")
      graft.QueryCaches.releaseAll()
    }
    def timeAdamic(label: String, cap: Long, nNodes: Long): Unit = {
      val g = graft.QueryCaches.scoped(und(spark, nNodes))
      g.count()
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = graft.operators.NodeSimilarity.adamicAdar(g, 4, cap).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[hub-bench] $label%-24s cap=$cap%-8d pairs=$n%-10d $s%7.2f s")
        s
      }.sorted
      println(f"[hub-bench] $label%-24s MEDIAN ${runs(1)}%7.2f s")
      graft.QueryCaches.releaseAll()
    }
    if (args.contains("--adamic")) {
      // round-13: the same adversarial fixture on the (now capped)
      // Adamic–Adar wedge join — uncapped control at the survivable 5k
      // size, capped at 1x and 100x
      timeAdamic("aa 1x (20k nodes)", 256, 20000L)
      timeAdamic("aa 100x (2M nodes)", 256, 2000000L)
      timeAdamic("aa uncapped 5k", Long.MaxValue, 5000L)
      timeAdamic("aa capped 5k", 256, 5000L)
    } else if (args.contains("--uncapped-20k")) {
      // the uncapped control at the 1x size: the hub alone emits
      // 20000² = 4×10⁸ wedge pairs — run separately, it dwarfs the rest
      time("uncapped 20k nodes", Long.MaxValue, 20000L)
    } else {
      time("1x (20k nodes)", 256, 20000L)
      time("100x (2M nodes)", 256, 2000000L)
      // uncapped control at a size where |V|² through the hub is just
      // barely survivable locally (25M wedge pairs from the hub alone)
      time("uncapped 5k nodes", Long.MaxValue, 5000L)
      time("capped 5k nodes", 256, 5000L)
    }
    spark.stop()
  }
}
