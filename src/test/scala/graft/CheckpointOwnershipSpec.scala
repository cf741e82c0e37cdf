package graft

import org.apache.spark.sql.DataFrame
import graft.llm.Similarity
import graft.operators._

/** Every iterative operator owns the checkpoints it makes: once its
  * result is consumed and passed to `Checkpoints.release`, no RDD the
  * call persisted (`localCheckpoint` persists its RDD) stays persisted —
  * except the one final state that connected components' lazy labelling
  * and the PQ trainer's codebook row still read. A call that throws
  * leaves nothing behind. */
class CheckpointOwnershipSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDD ids the call left persisted after its result was consumed and
    * released */
  private def leftBehind(run: => DataFrame): Set[Int] = {
    val before = persisted
    val out = run
    out.collect()
    Checkpoints.release(out)
    persisted -- before
  }

  private def edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 2L), (2L, 5L),
    (3L, 5L), (4L, 1L), (6L, 7L)).toDF("a", "b")
  private def seeds = Seq(1L).toDF("s")
  private def corpus = Seq(
    (1L, Seq(1f, 0f, 0f, 1f)), (2L, Seq(0.9f, 0.1f, 0f, 1f)), (3L, Seq(0f, 1f, 1f, 0f)),
    (4L, Seq(0.1f, 0.9f, 1f, 0.2f)), (5L, Seq(0.5f, 0.5f, 0.5f, 0.5f))
  ).toDF("vec_id", "embedding")

  Seq[(String, () => DataFrame)](
    ("pageRank", () => PageRank.pageRank(edges, "a", "b", tol = 1e-6)),
    ("pageRankFixedPoint", () => PageRank.pageRankFixedPoint(edges, "a", "b", iters = 3)),
    ("personalizedPageRankFixedPoint", () =>
      PageRank.personalizedPageRankFixedPoint(edges, "a", "b", seeds, "s", iters = 3)),
    ("hitsFixedPoint", () => Hits.hitsFixedPoint(edges, "a", "b", iters = 2)),
    ("propagate", () => LabelPropagation.propagate(edges, "a", "b", rounds = 2)),
    ("bfsHops", () => Bfs.bfsHops(edges, "a", "b", seeds, "s", rounds = 2)),
    ("bellmanFord", () => ShortestPaths.bellmanFord(edges.withColumn("w", $"a" + 1L),
      "a", "b", "w", seeds, "s", rounds = 2)),
    ("kCorePeel", () => KCore.kCorePeel(edges, "a", "b", k = 2, rounds = 2)),
    ("kmeansCentroids", () => Similarity.kmeansCentroids(corpus, k = 2, iters = 2))
  ).foreach { case (name, run) =>
    test(s"$name: a released result leaves nothing") {
      val left = leftBehind(run())
      assert(left.isEmpty, s"$name left persisted RDDs $left")
    }
  }

  test("connectedComponents: only the labelled final state stays") {
    val left = leftBehind(ConnectedComponents.connectedComponents(edges, "a", "b"))
    assert(left.size == 1, s"persisted RDDs left: $left")
  }

  test("trainedPqCodebook: only the codebook row's final state stays") {
    val left = leftBehind {
      val cb = Similarity.trainedPqCodebook(corpus, m = 2, ksub = 2, iters = 2)
      cb.collect()
      // the subvector frame is a query-scoped cache, not a checkpoint:
      // its owner is QueryCaches.releaseAll
      QueryCaches.releaseAll()
      cb
    }
    assert(left.size == 1, s"persisted RDDs left: $left")
  }

  /** RDD ids a call that throws left persisted */
  private def leftOnError(run: => DataFrame): Set[Int] = {
    val before = persisted
    intercept[Exception](run)
    persisted -- before
  }

  private def path = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")

  test("connectedComponents that does not converge leaves nothing") {
    val left = leftOnError(ConnectedComponents.connectedComponents(path, "a", "b", maxIter = 1))
    assert(left.isEmpty, s"persisted RDDs left: $left")
  }

  test("pageRank that does not converge leaves nothing") {
    val left = leftOnError(PageRank.pageRank(edges, "a", "b", maxIter = 1))
    assert(left.isEmpty, s"persisted RDDs left: $left")
  }

  test("hitsFixedPoint failing mid-loop leaves nothing") {
    // a mass unit this large overflows the first half-round's L1 total
    val left = leftOnError(Hits.hitsFixedPoint(edges, "a", "b", massUnit = Long.MaxValue))
    assert(left.isEmpty, s"persisted RDDs left: $left")
  }
}
