package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) over an edge
  * list — the lightweight community-detection companion to
  * [[ConnectedComponents]] (CC merges everything reachable; LPA splits a
  * connected graph into dense regions). Every node starts labeled with
  * itself; each round every node simultaneously adopts the most frequent
  * label among its neighbors, ties broken by the SMALLEST label — the
  * deterministic variant (classic LPA breaks ties randomly, which no
  * cross-engine gate could replay).
  *
  * FIXED rounds, not run-to-convergence, for the same reason as
  * [[KCore]]/[[PageRank]]: a bounded, engine-replayable job count (sync
  * LPA can oscillate on bipartite structures, so a convergence loop may
  * not even terminate). Each round is two keyed aggregations — count
  * labels over incident edges, then an argmax fold via struct-min
  * ((-count, label)) so no window over the node set is needed. The
  * symmetrized edge list is checkpointed ONCE and reused every round.
  * All shuffles key on node id — at 1000 executors each round is two
  * hash exchanges over (node, label) pairs, never adjacency payloads.
  */
object LabelPropagation {

  /** Community label per node after `rounds` synchronous updates over
    * the undirected graph given by `edges` (self-loops and
    * duplicate/reversed edges tolerated). Output: (node, community,
    * community_size). */
  def propagate(edges: DataFrame, srcCol: String, dstCol: String,
                rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one propagation round")
    val canon = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    // Edge checkpoint HASH-PARTITIONED ON dst (one repartition, paid
    // once — the r21 extension of PageRank's src-partitioned loop,
    // guide §2.4 "establish the partitioning once"): each round joins
    // und.dst against the label state's node key, and the state comes
    // out of a node-keyed aggregation, so with und laid out by dst the
    // per-round join is co-partitioned — zero edge shuffle per round
    // at forced-shuffle scale (locally the small label side broadcasts;
    // the plan shape is the 100 TB story).
    Checkpoints.iterate { loop =>
      val und = loop.eager(canon.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(canon.select(col("v").as("src"), col("u").as("dst")))
        .repartition(col("dst")))
      val init = loop.eager(und.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl")))
      val lbl = loop.rounds(rounds, init) { (lbl, _) =>
        // argmax label = argmin over (-count, label, label): identical
        // semantics to the min(struct((-c), l)).lb idiom but with a FLAT
        // buffer, so both aggregations hash-aggregate with whole-stage
        // codegen — the struct-buffer form planned a SortAggregate with a
        // Sort on each side of the exchange every round (r20 measurement;
        // see ArgExtremePairValue's scaladoc, which also records why the
        // two-phase and packed-long rewrites lost).
        // ONE exchange per round (r21): the join output repartitions by
        // the new node key alone, which satisfies the CLUSTERED
        // distribution of BOTH aggregations (n is a prefix of (n, l)),
        // so neither groupBy adds an exchange — previously each round
        // paid two, (n, l) then (n). The single exchange carries raw
        // (n, l) pairs instead of two combined passes; count and argmin
        // are partitioning-independent, so results are bit-identical.
        loop.eager(und.join(lbl, und("dst") === lbl("node"))
          .select(und("src").as("n"), lbl("lbl").as("l"))
          .repartition(col("n"))
          .groupBy(col("n"), col("l"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("n"))
          .agg(org.apache.spark.sql.graft.ArgExtremePairValue
            .argminValue(-col("c"), col("l"), col("l")).as("lbl"))
          .select(col("n").as("node"), col("lbl")))
      }
      val sizes = lbl.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
      loop.eager(lbl.join(sizes, "lbl")
        .select(col("node"), col("lbl").as("community"), col("community_size")))
    }
  }
}
