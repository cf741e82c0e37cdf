package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge list — the weighted-iteration graph operator
  * (connected components covers the label-propagation family; this is
  * the fixed-point mass-diffusion family: influence/centrality scoring
  * over citation, link or interaction graphs).
  *
  * Per round: contributions = rank/out-degree shipped along edges (one
  * hash join edges⋈ranks on src + one groupBy dst), then
  * rank' = (1-d)/n + d·(contributions + dangling mass/n). Dangling
  * nodes' mass redistributes uniformly (folded into the plan as a 1-row
  * broadcast, not a separate driver action), so total rank stays 1 and
  * the iteration is a proper stochastic fixed point. TWO jobs per
  * round, each shuffle paid once: the ranks⋈out-degree join is eagerly
  * checkpointed (both the dangling aggregate and the contributions read
  * its blocks), then the delta job materializes the lazily-checkpointed
  * next ranks while computing the L1 convergence scalar. Every variant
  * runs through [[Checkpoints.iterate]] and returns its last round's
  * checkpoint.
  *
  * Scale shape: state is one (node, rank) row per node; every round is
  * two shuffles hash-partitioned on node id. Spec-gated (not DuckDB-
  * hashable): distributed double summation is order-dependent, so
  * equality is asserted within tolerance against a sequential reference.
  */
object PageRank {

  /** Ranks for every node appearing in `edges` (directed src→dst).
    * Returns (node, rank) with ranks summing to 1. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               damping: Double = 0.85, tol: Double = 1e-8,
               maxIter: Int = 200): DataFrame = {
    // the L1 delta contracts geometrically at rate ~damping, so tol=1e-8
    // at d=0.85 needs ~log(tol)/log(d) ≈ 114 rounds on an ordinary graph
    // — the default budget leaves headroom (CC's 50 does NOT transfer:
    // star rounds converge in O(log n), diffusion converges at rate d)
    Checkpoints.iterate { loop =>
      val e = loop.eager(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct())
      val nodes = loop.eager(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      val n = nodes.count().toDouble
      require(n > 0, "pageRank needs at least one edge")
      val outDeg = loop.eager(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      var delta = Double.MaxValue
      // job 2 of each round: materializes the deferred next ranks AND
      // computes the L1 delta
      val l1 = (prev: DataFrame, next: DataFrame) => {
        delta = next.join(prev.withColumnRenamed("rank", "prev"), Seq("node"))
          .agg(sum(abs(col("rank") - col("prev")))).head().getDouble(0)
        delta <= tol
      }
      val ranks = loop.rounds(maxIter,
          loop.eager(nodes.select(col("node"), lit(1.0 / n).as("rank"))), Some(l1)) {
        (ranks, _) =>
          // job 1: materialize the join once; dangling agg and contribs
          // both read its blocks instead of re-running the shuffle
          val withDeg = loop.eager(
            ranks.join(outDeg, ranks("node") === outDeg("src"), "left"))
          // dangling nodes (no out-edges) donate their mass to everyone —
          // a 1-row broadcast INSIDE the plan, not a separate driver action
          val dangling = broadcast(withDeg.filter(col("deg").isNull)
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm")))
          val contribs = withDeg.filter(col("deg").isNotNull)
            .select(col("node"), (col("rank") / col("deg")).as("share"))
            .join(e, col("node") === col("src"))
            .groupBy(col("dst")).agg(sum(col("share")).as("inflow"))
          loop.deferred(nodes
            .join(contribs, nodes("node") === contribs("dst"), "left")
            .crossJoin(dangling)
            .select(nodes("node"),
              (lit((1.0 - damping) / n) +
                lit(damping) * (coalesce(col("inflow"), lit(0.0)) + col("dm") / lit(n)))
                .as("rank")))
      }
      require(delta <= tol, s"pageRank did not converge in $maxIter rounds (delta=$delta)")
      ranks
    }
  }

  /** Fixed-ITERATION, fixed-POINT-arithmetic PageRank — the oracle-gated
    * variant. Ranks are carried as BIGINT mass units out of `massUnit`
    * total (default 10^12), every per-round operation is integer
    * (truncating `div`, exact long sums), and the round count is fixed
    * rather than tolerance-converged — so the result is bit-identical in
    * ANY engine and under ANY partitioning/summation order, which a
    * floating-point rank never is (distributed double sums are
    * order-dependent; a convergence test can flap across engines).
    * Production systems use the same trick for reproducible centrality
    * scores. Mass conservation: truncation remainders (from init div,
    * share div and the damping div) are dropped deterministically, so
    * total mass decays by < n units per round — irrelevant at 10^12
    * granularity and identical in every engine.
    *
    * Loop shape (r20): the state frame carries (node, deg, rank_fp) —
    * out-degree is loop-invariant, joined in ONCE — and the edge
    * checkpoint is hash-partitioned on src, so each round is one eager
    * next-state job whose only exchange is the groupBy(dst) aggregation
    * (the state⋈edges and state⋈contribs joins are co-partitioned).
    * `dampNum/dampDen` is the rational damping factor (85/100 = 0.85).
    * Returns (node: long, rank_fp: long), the last round's checkpoint. */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                         iters: Int = 5, massUnit: Long = 1000000000000L,
                         dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampNum < dampDen,
      s"need iters >= 1 and 0 < dampNum < dampDen; got $iters, $dampNum/$dampDen")
    // Edges checkpoint HASH-PARTITIONED ON src (one repartition, paid
    // once): every round's contributions join keys the rank state (hash
    // on node) against e on node = src, so with e laid out by src the
    // join is co-partitioned — zero per-round edge shuffle. The round's
    // only exchange left is the groupBy(dst) aggregation (guide §2.4:
    // establish the partitioning once, reuse it every round).
    Checkpoints.iterate { loop =>
      val e = loop.eager(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct()
        .repartition(col("src")))
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val n = nodes.count()
      require(n > 0, "pageRankFixedPoint needs at least one edge")
      // (1-d)/n of the total mass, in units — driver-side long division,
      // matching the oracle's `((dampDen-dampNum)*massUnit) // (dampDen*n)`
      val base = (dampDen - dampNum) * massUnit / (dampDen * n)
      // State carries (node, deg, rank_fp): the out-degree is LOOP
      // INVARIANT, so joining it in once — instead of ranks⋈outDeg every
      // round (the r20-measured shape: one extra join + checkpoint job per
      // round) — removes a whole shuffle join from every iteration. deg is
      // NULL for dangling nodes, exactly the old withDeg contract.
      val init = loop.eager(nodes.join(outDeg, nodes("node") === outDeg("src"), "left")
        .select(nodes("node"), col("deg"), lit(massUnit / n).as("rank_fp")))
      // ONE job per round: the eager next-state checkpoint (its dangling
      // 1-row broadcast rides inside the same plan, reading the previous
      // state's blocks). The last round drops deg: the public (node,
      // rank_fp) shape is that round's checkpoint itself.
      loop.rounds(iters, init) { (ranks, r) =>
        val dangling = broadcast(ranks.filter(col("deg").isNull)
          .agg(coalesce(sum(col("rank_fp")), lit(0L)).as("dm")))
        val contribs = ranks.filter(col("deg").isNotNull)
          .select(col("node"), expr("rank_fp div deg").as("share"))
          .join(e, col("node") === col("src"))
          .groupBy(col("dst")).agg(sum(col("share")).as("inflow"))
        val rank = (lit(base) + expr(
          s"($dampNum * (coalesce(inflow, 0L) + dm div ${n}L)) div $dampDen")).as("rank_fp")
        loop.eager(ranks.select(col("node"), col("deg"))
          .join(contribs, col("node") === col("dst"), "left")
          .crossJoin(dangling)
          .select(col("node") +: (if (r < iters) Seq(col("deg"), rank) else Seq(rank)): _*))
      }
    }
  }

  /** Personalized PageRank / TrustRank (Gyöngyi, Garcia-Molina &
    * Pedersen, VLDB 2004) in the same fixed-iteration integer-mass
    * discipline as [[pageRankFixedPoint]]: the teleport term — and the
    * dangling mass — return ONLY to the trusted seed set instead of
    * uniformly, so rank measures "reachability from trust" (distance-
    * discounted), the statistic web-corpus curation uses to propagate
    * quality from a vetted whitelist into the crawl. Update rule per
    * node v:
    *   rank'(v) = [v∈S]·(1−d)·M/|S| + d·(inflow(v) + [v∈S]·dm/|S|)
    * carried in BIGINT mass units with truncating div throughout —
    * bit-identical under any partitioning and in any engine. Seeds not
    * present in the graph are ignored (|S| counts the intersection).
    * Same deg-in-state loop, one job per round, as the uniform variant.
    * Returns (node, is_seed, rank_fp), the last round's checkpoint. */
  def personalizedPageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                                     seeds: DataFrame, seedCol: String,
                                     iters: Int = 5, massUnit: Long = 1000000000000L,
                                     dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampNum < dampDen,
      s"need iters >= 1 and 0 < dampNum < dampDen; got $iters, $dampNum/$dampDen")
    // same src-partitioned edge checkpoint + deg-in-state loop shape as
    // [[pageRankFixedPoint]] — see the comments there
    Checkpoints.iterate { loop =>
      val e = loop.eager(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct()
        .repartition(col("src")))
      val sd = seeds.select(col(seedCol).cast("long").as("node"))
        .filter(col("node").isNotNull).distinct()
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .join(sd.withColumn("is_seed", lit(1L)), Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
      val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      // seed count BEFORE the state checkpoint (nodes' subtree runs twice,
      // once per action, reading e's blocks — cheaper than a third
      // checkpoint whose only reader is this count)
      val nS = nodes.filter(col("is_seed") === 1L).count()
      require(nS > 0, "personalizedPageRankFixedPoint needs >= 1 seed present in the graph")
      val base = (dampDen - dampNum) * massUnit / (dampDen * nS)
      // init: ALL mass on the seeds — the personalized stationary start;
      // is_seed AND deg ride in the state frame (loop invariants both)
      val init = loop.eager(nodes.join(outDeg, nodes("node") === outDeg("src"), "left")
        .select(nodes("node"), col("is_seed"), col("deg"),
          (col("is_seed") * lit(massUnit / nS)).as("rank_fp")))
      loop.rounds(iters, init) { (ranks, r) =>
        val dangling = broadcast(ranks.filter(col("deg").isNull)
          .agg(coalesce(sum(col("rank_fp")), lit(0L)).as("dm")))
        val contribs = ranks.filter(col("deg").isNotNull)
          .select(col("node"), expr("rank_fp div deg").as("share"))
          .join(e, col("node") === col("src"))
          .groupBy(col("dst")).agg(sum(col("share")).as("inflow"))
        val rank = (col("is_seed") * lit(base) + expr(
          s"($dampNum * (coalesce(inflow, 0L) + is_seed * (dm div ${nS}L))) div $dampDen"))
          .as("rank_fp")
        loop.eager(ranks.select(col("node"), col("is_seed"), col("deg"))
          .join(contribs, col("node") === col("dst"), "left")
          .crossJoin(dangling)
          .select(Seq(col("node"), col("is_seed")) ++
            (if (r < iters) Seq(col("deg"), rank) else Seq(rank)): _*))
      }
    }
  }
}
