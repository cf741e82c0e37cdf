package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CosineSimilarity.cosineSim

/** Approximate-nearest-neighbor search over an embedding column
  * (extension phase, SURVEY.md §7.9 / BASELINE.json north_star).
  *
  * Baseline: brute-force cosine top-k (query set × corpus, ranked by a
  * keyed window). Scale paths:
  *
  *  - `lshTopK`: k-bit hyperplane LSH. Plane i separates on
  *    `emb[2i] > emb[2i+1]` (normal = e_{2i} − e_{2i+1}) — comparison-only,
  *    so the bucket is bit-identical in any engine, and 2^k buckets shrink
  *    the join from |Q|×|N| to |Q|×|N|/2^k. Queries multi-probe every
  *    bucket within Hamming radius 2 (1 + k + C(k,2) probes) to recover
  *    boundary losses; corpus rows hash once. A probed bucket join is a
  *    plain shuffle/broadcast equi join — no window over the cross
  *    product.
  *  - `ivfTopK`: inverted-file cells with `ceil(sqrt(|corpus|))` centroids
  *    (the standard IVF sizing). Assignment is a per-row argmax fold over
  *    a broadcast centroid array: one map-side pass, no shuffle, no
  *    per-vector window.
  *
  * Ranking is deterministic: (round(cosine,6) DESC, vec_id ASC) — the
  * rounding makes cross-engine rank stable under last-ulp differences.
  */
object Similarity {

  /** k-bit hyperplane bucket: bit i is set iff
    * `emb[startDim + 2i] > emb[startDim + 2i + 1]` (0-based dims;
    * element_at is 1-based). Pure comparisons — no float arithmetic — so
    * every engine computes the identical bucket. Vectors shorter than
    * startDim + 2·nBits dims leave the missing bits 0 (the size guard
    * short-circuits before element_at, keeping ANSI mode happy).
    * Distinct `startDim`s give independent bucketings for banded LSH. */
  def hyperplaneBucket(emb: Column, nBits: Int, startDim: Int = 0): Column =
    (0 until nBits).map { i =>
      val a = startDim + 2 * i
      when(size(emb) > a + 1 &&
        element_at(emb, a + 1) > element_at(emb, a + 2), 1 << i).otherwise(0)
    }.reduce(_ + _)

  /** Brute-force cosine top-k neighbors for each query vector. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosineSim(col("qe"), col("ce")), 6))
    rankTopK(scored, k)
  }

  /** XOR masks of Hamming weight ≤ `radius` over `nBits` bits, ordered
    * (weight, value) — the multi-probe ring shared by [[lshTopK]] and its
    * oracle SQL (LlmQueries builds the DuckDB probe list from the same
    * function, so the two sides cannot drift). */
  def probeMasks(nBits: Int, radius: Int): Seq[Int] =
    (0 until (1 << nBits)).filter(m => Integer.bitCount(m) <= radius)
      .sortBy(m => (Integer.bitCount(m), m))

  /** LSH-bucketed top-k: corpus rows hash to one bucket; each query probes
    * every bucket within Hamming distance `probeRadius` of its own
    * (radius 2 with the 6-bit default = 1+6+15 = 22 probes — the second
    * ring lifts measured top-5 recall on the harness embeddings from
    * 0.36 to 0.64; llm_ann_recall_floor gates it). Each (query, neighbor)
    * pair joins at most once (probe buckets are distinct and a neighbor
    * has one bucket). Recall < 1 by design; the fan-out is query-side
    * only — queries are the small side, so it is cheap at scale, and the
    * probed bucket join stays a plain equi join. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nBits: Int = 6, probeRadius: Int = 2): DataFrame = {
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      hyperplaneBucket(col("embedding"), nBits).as("bucket"))
    val qb = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
      hyperplaneBucket(col("embedding"), nBits).as("qbucket"))
    val probes = array(probeMasks(nBits, probeRadius).map(m =>
      col("qbucket").bitwiseXOR(lit(m))): _*)
    val q = qb.select(col("query_id"), col("qe"), explode(probes).as("bucket"))
    val scored = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosineSim(col("qe"), col("ce")), 6))
    rankTopK(scored, k)
  }

  /** Banded hyperplane LSH top-k: `nBands` INDEPENDENT `nBits`-bit
    * bucketings (band t consumes dims [2·nBits·t, 2·nBits·(t+1))); a
    * corpus row is a candidate if it shares ANY band's bucket with the
    * query. Per-plane agreement for a pair at angle θ is p = 1 − θ/π, so
    * candidate recall is 1 − (1 − p^nBits)^nBands — the OR over bands is
    * what single-bucket [[lshTopK]] (p^nBits, plus Hamming-1 probes)
    * cannot reach at low-similarity thresholds; the 4×8 default is the
    * measured harness tuning (see Dedup.embeddingNearDupPairs). Shape:
    * both sides explode to (band, bucket) signatures and meet in ONE
    * equi-join — the minhash banded-candidate pattern — then pair dedup
    * and exact rescoring. Corpus fan-out is nBands× of (id, bucket)
    * signatures in the shuffle, not payloads; the out-of-range guard
    * keeps a short vector from hashing every band to bucket 0 and
    * degenerating the join. */
  def lshTopKBanded(queries: DataFrame, corpus: DataFrame, k: Int,
                    nBits: Int = 4, nBands: Int = 8): DataFrame = {
    def banded(df: DataFrame, idAs: String, embAs: String): DataFrame =
      df.select(col("vec_id").as(idAs), col("embedding").as(embAs),
          explode(array((0 until nBands).map { t =>
            struct(lit(t).as("band"),
              hyperplaneBucket(col("embedding"), nBits, 2 * nBits * t).as("bucket"),
              (size(col("embedding")) > 2 * nBits * t + 1).as("in_range"))
          }: _*)).as("bb"))
        .filter(col("bb.in_range"))
        .select(col(idAs), col(embAs),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val q = banded(queries, "query_id", "qe")
    val c = banded(corpus, "neighbor_id", "ce")
    val scored = q.join(c, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // every copy of a pair carries the same (qe, ce), so the arbitrary
      // survivor of the dedup is value-deterministic
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", round(cosineSim(col("qe"), col("ce")), 6))
    rankTopK(scored, k)
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * k most-similar vectors with a DIFFERENT label — close in embedding
    * space (hard) yet semantically negative, the pairs that move a
    * contrastive loss most. Candidates come from the same banded-LSH
    * band-collision join as [[lshTopKBanded]] (never all-pairs); the
    * label-inequality prune runs ON the collision join output before any
    * scoring, so same-label (easy-positive) collisions never reach the
    * cosine. Labels re-attach after ranking via two id-keyed joins so the
    * ranking shuffle carries only (id, score) pairs. */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int,
                    nBits: Int = 4, nBands: Int = 8): DataFrame = {
    def banded(df: DataFrame, idAs: String, embAs: String, lblAs: String): DataFrame =
      df.select(col("vec_id").as(idAs), col("embedding").as(embAs),
          col("label").as(lblAs),
          explode(array((0 until nBands).map { t =>
            struct(lit(t).as("band"),
              hyperplaneBucket(col("embedding"), nBits, 2 * nBits * t).as("bucket"),
              (size(col("embedding")) > 2 * nBits * t + 1).as("in_range"))
          }: _*)).as("bb"))
        .filter(col("bb.in_range"))
        .select(col(idAs), col(embAs), col(lblAs),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val q = banded(anchors, "query_id", "qe", "albl")
    val c = banded(corpus, "neighbor_id", "ce", "nlbl")
    val scored = q.join(c, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id") && col("albl") =!= col("nlbl"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", round(cosineSim(col("qe"), col("ce")), 6))
    rankTopK(scored, k)
      .join(anchors.select(col("vec_id").as("query_id"), col("label").as("anchor_label")),
        "query_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("label").as("neighbor_label")),
        "neighbor_id")
      .select(col("query_id"), col("anchor_label"), col("neighbor_id"),
        col("neighbor_label"), col("cosine"), col("rank"))
  }

  /** Symmetric per-dimension int8 scalar quantization — the embedding
    * compression that turns a 100 TB float32 corpus into ~25 TB of int8
    * codes (4× smaller scans, shuffles and cache residency) at a small
    * recall cost: `code_d = round(x_d / max|x_d| * 127)`. The per-dim
    * scales are a ≤dim-row broadcast computed in one pass (max is
    * order-independent, so the scales are partitioning-exact); codes are
    * exact integers, so every downstream dot product is engine- and
    * partitioning-exact — no float summation order anywhere. Returns
    * (vec_id, codes, norm2). */
  def quantizeInt8(vectors: DataFrame): DataFrame = {
    // consumed twice (scales + the code join): scoped-cache, or the
    // posexplode of the whole corpus runs once per consumer
    val dims = graft.QueryCaches.scoped(vectors.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("pos", "x"))))
    val scales = dims.groupBy(col("pos"))
      .agg(max(abs(col("x").cast(org.apache.spark.sql.types.DoubleType))).as("s"))
    dims.join(broadcast(scales), "pos")
      .select(col("vec_id"), col("pos"),
        when(col("s") > 0,
          round(col("x").cast(org.apache.spark.sql.types.DoubleType) / col("s") * 127).cast(org.apache.spark.sql.types.LongType))
          .otherwise(0L).as("code"))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("code")))),
        e => e.getField("code")).as("codes"))
      .withColumn("norm2",
        aggregate(col("codes"), lit(0L), (acc, c) => acc + c * c))
  }

  /** Top-k over int8 codes: banded-LSH candidates (same family as
    * [[lshTopKBanded]]) scored with integer code dot products — the
    * compressed-corpus search path. The float cosine re-attaches per
    * SURVIVOR only (k rows per query), so the gated output shows the
    * quantization error directly while the hot path never touches
    * float payloads. */
  def int8TopK(anchors: DataFrame, corpus: DataFrame, k: Int,
               nBits: Int = 4, nBands: Int = 8): DataFrame = {
    def banded(df: DataFrame, idAs: String): DataFrame =
      df.select(col("vec_id").as(idAs),
          explode(array((0 until nBands).map { t =>
            struct(lit(t).as("band"),
              hyperplaneBucket(col("embedding"), nBits, 2 * nBits * t).as("bucket"),
              (size(col("embedding")) > 2 * nBits * t + 1).as("in_range"))
          }: _*)).as("bb"))
        .filter(col("bb.in_range"))
        .select(col(idAs), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cand = banded(anchors, "query_id")
      .join(banded(corpus, "neighbor_id"), Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    // Quantize over anchors ∪ corpus so an anchor row absent from the
    // corpus still gets codes (corpus-only lookup would silently drop
    // it); when anchors ⊆ corpus the union is the corpus and the scales
    // are unchanged. A vec_id present on both sides keeps one row.
    // consumed twice (query-side + neighbor-side join): scoped-cache, or
    // the full quantization pipeline (explode → scales → collect) runs
    // once per side
    val codes = graft.QueryCaches.scoped(quantizeInt8(
      anchors.select(col("vec_id"), col("embedding"))
        .unionByName(corpus.select(col("vec_id"), col("embedding")))
        .dropDuplicates("vec_id")))
    val scored = cand
      .join(codes.select(col("vec_id").as("query_id"),
        col("codes").as("ca"), col("norm2").as("na")), "query_id")
      .join(codes.select(col("vec_id").as("neighbor_id"),
        col("codes").as("cb"), col("norm2").as("nb")), "neighbor_id")
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("dot",
        aggregate(zip_with(col("ca"), col("cb"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .withColumn("cosine", round(col("dot").cast(org.apache.spark.sql.types.DoubleType) /
        (sqrt(col("na").cast(org.apache.spark.sql.types.DoubleType)) * sqrt(col("nb").cast(org.apache.spark.sql.types.DoubleType))), 6))
    rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("cosine")), k)
      .join(anchors.select(col("vec_id").as("query_id"), col("embedding").as("fa")),
        "query_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("fb")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("cos_int8"),
        round(cosineSim(col("fa"), col("fb")), 6).as("cos_float"), col("rank"))
  }

  /** the one-row broadcastable centroid list frame */
  private def centsFrame(centroids: DataFrame): DataFrame =
    broadcast(centroids.agg(
      collect_list(struct(col("cell_id"), col("centroid"))).as("cents")))

  /** per-row argmax-fold cell assignment against a broadcast centroid
    * list — map-side, tie-break on smaller cell_id so the result is
    * independent of the collect_list order. The fold is interpreted:
    * `ArrayAggregate` and `ZipWith` are `CodegenFallback` in Spark 4.1. */
  private def assignCells(df: DataFrame, embCol: String, cents: DataFrame): DataFrame =
    df.crossJoin(cents) // one-row broadcast: a map-side pass
      .withColumn("cell_id",
        aggregate(col("cents"),
          struct(lit(-2.0).as("cos"), lit(Long.MaxValue).as("cell")),
          (acc, x) => {
            val cos = round(cosineSim(col(embCol), x.getField("centroid")), 6)
            val cell = x.getField("cell_id")
            when(cos > acc.getField("cos") ||
                (cos === acc.getField("cos") && cell < acc.getField("cell")),
              struct(cos.as("cos"), cell.as("cell"))).otherwise(acc)
          },
          acc => acc.getField("cell")))
      .drop("cents")

  /** Lloyd-iteration k-means over the embedding column, returning
    * (cell_id, centroid) — trained centroids for [[ivfTopK]] instead of
    * its first-k-vectors default (better-balanced cells → better recall
    * per probe). Deterministic AND partition-layout-independent: init is
    * the k lowest vec_ids, assignment is the shared tie-broken argmax
    * fold, and the mean update accumulates in DECIMAL (order-independent
    * exact sums — a float sum would make the trained centroids depend on
    * shuffle order). Each iteration is one map-side assignment pass plus
    * one (cell, dim)-keyed aggregation; per-iteration checkpoints
    * ([[graft.operators.Checkpoints.iterate]]) keep the plan from growing
    * with the iteration count. Empty cells drop out (standard Lloyd
    * behavior). Returns the last iteration's checkpoint. */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int = 5): DataFrame = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got k=$k iters=$iters")
    val base = corpus.select(col("vec_id"), col("embedding"))
    graft.operators.Checkpoints.iterate { loop =>
      val init = loop.eager(base.orderBy("vec_id").limit(k)
        .select(col("vec_id").as("cell_id"), col("embedding").as("centroid")))
      loop.rounds(iters, init) { (cents, _) =>
        loop.eager(assignCells(base, "embedding", centsFrame(cents))
          .select(col("cell_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("cell_id"), col("pos"))
          .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(27, 10))) /
            count(lit(1))).cast(org.apache.spark.sql.types.FloatType).as("m"))
          .groupBy(col("cell_id"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            x => x.getField("m")).as("centroid")))
      }
    }
  }

  /** IVF top-k. Centroids are the first `nCells` corpus vectors by vec_id
    * (deterministic; `nCells <= 0` → ceil(sqrt(|corpus|)), the standard
    * IVF sizing — note the sizing count() runs eagerly at call time, a
    * metadata-only job on parquet sources; pass nCells explicitly to keep
    * construction fully lazy). Cell assignment is an argmax fold over the broadcast
    * centroid list — tie-break on smaller cell_id, so the result is
    * independent of the collect_list order — evaluated per row (an
    * interpreted fold, see [[assignCells]]): no shuffle and no window
    * over corpus×cells. Queries probe
    * their `nProbe` nearest cells (multi-probe recovers boundary recall;
    * the probe ranking explodes query×cells, but queries are the small
    * side by definition, so that window never touches corpus volume). A
    * corpus vector lives in exactly one cell, so a (query, neighbor) pair
    * joins at most once even with nProbe > 1. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nCells: Int = 0,
              nProbe: Int = 1, centroids: Option[DataFrame] = None): DataFrame = {
    val centroidDf = centroids.getOrElse {
      val cells =
        if (nCells > 0) nCells
        else math.ceil(math.sqrt(corpus.count().toDouble)).toInt.max(1)
      corpus.orderBy("vec_id").limit(cells)
        .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
    }
    val cents = centsFrame(centroidDf)
    def assign(df: DataFrame, ec: String): DataFrame = assignCells(df, ec, cents)
    val qSel = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val q =
      if (nProbe <= 1) assign(qSel, "qe")
      else {
        val pw = Window.partitionBy(col("query_id"))
          .orderBy(col("pc").desc, col("cell_id").asc)
        qSel.crossJoin(cents)
          .select(col("query_id"), col("qe"), explode(col("cents")).as("cent"))
          .select(col("query_id"), col("qe"),
            col("cent.cell_id").as("cell_id"),
            round(cosineSim(col("qe"), col("cent.centroid")), 6).as("pc"))
          .withColumn("crank", row_number().over(pw))
          .filter(col("crank") <= nProbe)
          .select(col("query_id"), col("qe"), col("cell_id"))
      }
    val c = assign(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")), "ce")
    val scored = q.join(c, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosineSim(col("qe"), col("ce")), 6))
    rankTopK(scored, k)
  }

  /** One broadcastable codebook row for product quantization: the
    * embedding splits into `m` contiguous `dsub`-dim subspaces and each
    * subspace gets the subvectors of the `ksub` lowest-vec_id corpus
    * vectors as its codewords (code id = source vec_id) — deterministic
    * and engine-replayable, mirroring [[ivfTopK]]'s untrained-centroid
    * default; production recall would train per-subspace codebooks with
    * [[kmeansCentroids]] over the subvector columns instead. */
  private def pqCodebook(corpus: DataFrame, m: Int, dsub: Int, ksub: Int): DataFrame =
    broadcast(corpus.orderBy("vec_id").limit(ksub)
      .select(col("vec_id").as("code"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("embedding"))
      .select(col("sub"), col("code"),
        slice(col("embedding"), col("sub") * lit(dsub) + lit(1), lit(dsub)).as("cw"))
      .agg(collect_list(struct(col("sub"), col("code"), col("cw"))).as("cbs")))

  private val D = org.apache.spark.sql.types.DoubleType
  private val L = org.apache.spark.sql.types.LongType

  /** round(L2², 6) with each float element cast to double before the
    * subtraction and a sequential array-order fold — the shape the
    * DuckDB oracle's unnest sum replays bit-for-bit */
  private def l2sq(a: Column, b: Column): Column =
    round(aggregate(zip_with(a, b,
        (p, q) => (p.cast(D) - q.cast(D)) * (p.cast(D) - q.cast(D))),
      lit(0.0), (x, t) => x + t), 6)

  /** (vec_id, sub, sv): each embedding exploded into its m subvectors */
  private def pqSubvectors(corpus: DataFrame, m: Int, dsub: Int): DataFrame =
    corpus.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("embedding"))
      .select(col("vec_id"), col("sub"),
        slice(col("embedding"), col("sub") * lit(dsub) + lit(1), lit(dsub)).as("sv"))

  /** Trained PQ codebooks — [[kmeansCentroids]]' product-quantization
    * sibling: every subspace independently Lloyd-trains its `ksub`
    * codewords over the corpus subvectors under L2 (the metric PQ
    * encodes with), which is what closes the distortion gap the
    * first-ksub-vectors default leaves open. All m subspaces train in
    * ONE (sub, code)-keyed frame, so an iteration costs one map-side
    * assignment pass plus one aggregation regardless of m. Deterministic
    * and layout-independent for the same reasons as kmeansCentroids:
    * lowest-vec_id init, round(L2²,6)+smaller-code tie-broken argmin,
    * DECIMAL mean accumulation, per-iteration checkpoints. Empty
    * codewords drop out (standard Lloyd). Returns the one-row
    * broadcastable `cbs` frame [[ivfPqTopK]] accepts via `codebook`: a
    * lazy row over the last iteration's checkpoint, which stays live for
    * it (one per call). */
  def trainedPqCodebook(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
                        iters: Int = 5): DataFrame = {
    val dim = corpus.select(size(col("embedding")).as("d")).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val sv = graft.QueryCaches.scoped(pqSubvectors(
      corpus.select(col("vec_id"), col("embedding")), m, dsub))
    // the final codebook stays live: the returned row reads it
    val cb = graft.operators.Checkpoints.iterate { loop =>
      val init = loop.eager(corpus.orderBy("vec_id").limit(ksub)
        .select(col("vec_id").as("code"),
          explode(sequence(lit(0), lit(m - 1))).as("sub"), col("embedding"))
        .select(col("sub"), col("code"),
          slice(col("embedding"), col("sub") * lit(dsub) + lit(1), lit(dsub)).as("cw")))
      loop.rounds(iters, init) { (cb, _) =>
        // per-sub codeword slot instead of an m·ksub filter per row (the
        // pqEncode r21 layout): element_at is an O(1) lookup on the
        // broadcast side's pre-split array
        val cbRow = perSubCodebook(broadcast(cb.agg(
          collect_list(struct(col("sub"), col("code"), col("cw"))).as("cbs"))), m)
        val assigned = sv.crossJoin(cbRow) // one-row broadcast, map-side
          .withColumn("code", aggregate(
            element_at(col("cbss"), col("sub").cast("int") + 1),
            struct(lit(Double.MaxValue).as("d"), lit(Long.MaxValue).as("c")),
            (acc, x) => {
              val d = l2sq(col("sv"), x.getField("cw"))
              val c = x.getField("code").cast(L)
              when(d < acc.getField("d") ||
                  (d === acc.getField("d") && c < acc.getField("c")),
                struct(d.as("d"), c.as("c"))).otherwise(acc)
            },
            acc => acc.getField("c")))
          .drop("cbs").drop("cbss")
        loop.eager(assigned
          .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
          .groupBy(col("sub"), col("code"), col("pos"))
          .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(27, 10))) /
            count(lit(1))).cast(org.apache.spark.sql.types.FloatType).as("mv"))
          .groupBy(col("sub"), col("code"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
            x => x.getField("mv")).as("cw")))
      }
    }
    broadcast(cb.agg(
      collect_list(struct(col("sub"), col("code"), col("cw"))).as("cbs")))
  }

  /** total quantization distortion Σ min-codeword L2² — the objective
    * Lloyd minimizes; the trained-vs-default comparison number */
  def pqDistortion(corpus: DataFrame, cbRow: DataFrame, m: Int, dsub: Int): Double =
    pqSubvectors(corpus.select(col("vec_id"), col("embedding")), m, dsub)
      .crossJoin(perSubCodebook(cbRow, m)) // per-sub slot, not a per-row filter
      .select(aggregate(
        element_at(col("cbss"), col("sub").cast("int") + 1),
        lit(Double.MaxValue),
        (acc, x) => least(acc, l2sq(col("sv"), x.getField("cw")))).as("d"))
      .agg(sum(col("d"))).head().getDouble(0)

  /** The one-row `cbs` codebook re-laid-out for PER-ROW encoding: slot
    * `sub+1` of `cbss` holds that subspace's codeword entries (cbs order
    * preserved — the argmin folds are tie-broken, so order never matters).
    * Computed ONCE on the broadcast side: the old shape re-filtered the
    * full m·ksub entry array per subspace PER CORPUS ROW (m·m·ksub
    * interpreted predicate evaluations each — HOFs are interpreted, the
    * r20 shingle lesson), which is the encode path's per-row hot loop at
    * 100 TB. */
  private def perSubCodebook(cb: DataFrame, m: Int): DataFrame =
    broadcast(cb.select(col("cbs"),
      transform(sequence(lit(0), lit(m - 1)), s =>
        filter(col("cbs"), x => x.getField("sub") === s)).as("cbss")))

  /** codes[sub] = argmin codeword by round(L2², 6), tie-break smaller
    * code — a map-side fold over the broadcast codebook (the IVF
    * [[assignCells]] discipline per subspace): no shuffle, no window.
    * The squared-distance fold casts each float element to double before
    * subtracting and sums in array order, so the oracle's sequential
    * unnest sum replays it bit-for-bit.
    *
    * r21 shape (per-task work, guide §1.2): the subvectors are sliced
    * ONCE per row into a bound `__svs` column (the old inline
    * slice(embedding, …) inside the fold re-sliced per CODEWORD — m·ksub
    * array copies per row), and each subspace's codewords come from the
    * pre-split `cbss` slot instead of an m·ksub-entry filter per
    * subspace. Same l2sq on the same operands in the same fold —
    * bit-identical codes. */
  private def pqEncode(df: DataFrame, cb: DataFrame, m: Int, dsub: Int): DataFrame =
    df.crossJoin(perSubCodebook(cb, m)) // one-row broadcast
      .withColumn("__svs", transform(sequence(lit(0), lit(m - 1)), sub =>
        slice(col("embedding"), sub * lit(dsub) + lit(1), lit(dsub))))
      .withColumn("codes", zip_with(col("__svs"), col("cbss"), (sv, entries) =>
        aggregate(entries,
          struct(lit(Double.MaxValue).as("d"), lit(Long.MaxValue).as("c")),
          (acc, x) => {
            val d = l2sq(sv, x.getField("cw"))
            val c = x.getField("code").cast(L)
            when(d < acc.getField("d") ||
                (d === acc.getField("d") && c < acc.getField("c")),
              struct(d.as("d"), c.as("c"))).otherwise(acc)
          },
          acc => acc.getField("c"))))
      .drop("cbs").drop("cbss").drop("__svs")

  /** IVF-PQ top-k (Jégou, Douze & Schmid, IEEE PAMI 2011): the
    * billion-scale composition — IVF cells prune the corpus to `nProbe`
    * probed cells per query, PQ codes compress each corpus vector to `m`
    * small integers, and candidate scoring is asymmetric-distance
    * computation (ADC): the query precomputes one m×ksub lookup table of
    * scaled-BIGINT dot-product contributions (`round(dot(q_sub, cw)·1e6)`
    * — rounded ONCE, then only integer adds), so scoring a candidate
    * sums m table hits and NEVER touches the neighbor's float embedding.
    * What shuffles per candidate is (query_id, neighbor_id, m codes) —
    * at 100 TB the float corpus stays in cold storage while the scoring
    * join moves ~m bytes/vector, the same ~16-32× wire compression that
    * makes IVFADC the standard billion-vector layout. The top
    * `refine·k` by approximate score (mergeable [[TopKAgg]], integer
    * exact) re-score exactly against the float corpus — `refine·k` rows
    * per query, the recall-restoring re-rank — and the final rank is by
    * (round(cosine,6) DESC, neighbor ASC). `approx_dot` stays in the
    * output as the quantization-error audit next to the exact cosine. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                m: Int = 8, ksub: Int = 16, nCells: Int = 0, nProbe: Int = 2,
                refine: Int = 4, codebook: Option[DataFrame] = None): DataFrame = {
    val dim = corpus.select(size(col("embedding")).as("d")).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val cells =
      if (nCells > 0) nCells
      else math.ceil(math.sqrt(corpus.count().toDouble)).toInt.max(1)
    val cents = centsFrame(corpus.orderBy("vec_id").limit(cells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid")))
    // default: subvectors of the first ksub vectors (oracle-replayable);
    // pass trainedPqCodebook(...) for the Lloyd-trained production path
    val cb = codebook.getOrElse(pqCodebook(corpus, m, dsub, ksub))

    // corpus side: cell + codes, floats dropped — consumed once by the
    // candidate join; the float embedding re-enters only at the re-rank
    val enc = graft.QueryCaches.scoped(
      pqEncode(assignCells(corpus.select(col("vec_id"), col("embedding")),
        "embedding", cents), cb, m, dsub)
        .select(col("vec_id"), col("cell_id"), col("codes")))

    // query side: nProbe nearest cells (the ivfTopK probe window — query
    // count × cells rows, never corpus volume) + the ADC lookup table
    val qSel = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("pc").desc, col("cell_id").asc)
    val qprobes = qSel.crossJoin(cents)
      .select(col("query_id"), col("qe"), explode(col("cents")).as("cent"))
      .select(col("query_id"), col("cent.cell_id").as("cell_id"),
        round(cosineSim(col("qe"), col("cent.centroid")), 6).as("pc"))
    val probed =
      (if (nProbe <= 1) qprobes.withColumn("crank", row_number().over(pw))
         .filter(col("crank") === 1)
       else qprobes.withColumn("crank", row_number().over(pw))
         .filter(col("crank") <= nProbe))
        .select(col("query_id"), col("cell_id"))
    val lut = broadcast(qSel.crossJoin(cb)
      .select(col("query_id"), col("qe"), explode(col("cbs")).as("w"))
      .select(col("query_id"), col("w.sub").as("sub"), col("w.code").as("code"),
        round(aggregate(zip_with(
            slice(col("qe"), col("w.sub") * lit(dsub) + lit(1), lit(dsub)),
            col("w.cw"), (p, q) => p.cast(D) * q.cast(D)),
          lit(0.0), (a, t) => a + t) * 1e6).cast(L).as("term")))

    val approx = probed.join(enc, Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(lut, Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("term")).as("approx_dot"))
    val shortlist = approx.groupBy(col("query_id"))
      .agg(org.apache.spark.sql.graft.TopKAgg(
        col("approx_dot").cast(D), col("neighbor_id"), refine * k).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e.payload").as("neighbor_id"),
        col("e.score").cast(L).as("approx_dot"))
    val rescored = shortlist
      .join(qSel.select(col("query_id"), col("qe")), "query_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce")), "neighbor_id")
      .withColumn("cosine", round(cosineSim(col("qe"), col("ce")), 6))
      .select(col("query_id"), col("neighbor_id"), col("approx_dot"), col("cosine"))
    rankTopK(rescored.select(col("query_id"), col("neighbor_id"), col("cosine")), k)
      .join(rescored.select(col("query_id"), col("neighbor_id"), col("approx_dot")),
        Seq("query_id", "neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("approx_dot"),
        col("cosine"), col("rank"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication over embeddings. The corpus is partitioned into
    * ~sqrt(n) cells (first-k-vectors centroids, the deterministic
    * [[ivfTopK]] scheme), cosine comparisons run ONLY within a cell —
    * the quadratic all-pairs cost collapses to sum-of-cell-size² — and
    * groups of semantic duplicates (round(cos,6) ≥ tau, transitively
    * closed via [[graft.operators.ConnectedComponents]]) keep exactly
    * one representative: the min vec_id. Output is one row per corpus
    * vector with its cell, duplicate-cluster id/size, and the keep flag
    * (singletons keep themselves). Cross-cell near-dups are missed by
    * construction — that is SemDeDup's stated approximation, traded for
    * a plan whose only corpus-wide shuffles are the cell-keyed self-join
    * and the id-only CC rounds; embeddings never join beyond their cell.
    * At 100 TB the cell count scales with sqrt(corpus) so cells stay
    * bounded; a pathologically hot cell is the same skew problem (and
    * fix: salt or split the cell) as any hot LSH bucket. */
  def semDedup(embeddings: DataFrame, tau: Double, nCells: Int = 0): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val cells =
      if (nCells > 0) nCells
      else math.ceil(math.sqrt(e.count().toDouble)).toInt.max(1)
    val centroidDf = e.orderBy("vec_id").limit(cells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
    // cached: feeds both sides of the within-cell join AND the final output
    val assigned = graft.QueryCaches.scoped(
      assignCells(e, "embedding", centsFrame(centroidDf)))
    val pairs = assigned
      .select(col("cell_id"), col("vec_id").as("a"), col("embedding").as("ea"))
      .join(assigned.select(col("cell_id"), col("vec_id").as("b"),
        col("embedding").as("eb")), Seq("cell_id"))
      .filter(col("a") < col("b"))
      .filter(round(cosineSim(col("ea"), col("eb")), 6) >= tau)
      .select(col("a"), col("b"))
    val comp = graft.operators.ConnectedComponents
      .connectedComponents(pairs, "a", "b")
    val withCluster = assigned.select(col("vec_id"), col("cell_id"))
      .join(comp.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("component"), col("vec_id")))
    val sizes = withCluster.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    withCluster.join(sizes, "cluster_id")
      .select(col("vec_id"), col("cell_id"), col("cluster_id"),
        col("cluster_size"), (col("vec_id") === col("cluster_id")).as("is_kept"))
  }

  /** Incremental top-k maintenance: fold a NEW corpus batch into an
    * existing per-query top-k WITHOUT rescoring the old corpus (the
    * incremental-session idea of the top-k literature, e.g. EDBT 2020's
    * incremental top-k similarity framework). Scores |Q|×|batch| fresh
    * candidates, unions the k existing rows per query, re-ranks — cost
    * scales with the batch, not the corpus. Exact: a row in the true
    * top-k over (old ∪ batch) is in the old top-k or in the batch. */
  def incrementalTopK(existing: DataFrame, queries: DataFrame, batch: DataFrame,
                      k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = batch.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val fresh = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosineSim(col("qe"), col("ce")), 6))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    rankTopK(existing.select(col("query_id"), col("neighbor_id"), col("cosine"))
      .unionByName(fresh), k)
  }

  /** Per-query top-k via the native mergeable TopKAgg heap aggregate:
    * partial k-heaps combine map-side, so the shuffle moves at most k
    * candidates per query per partition — the window idiom this replaces
    * (row_number over (cosine DESC, neighbor_id ASC)) shuffled and sorted
    * EVERY scored candidate. Ordering and output schema are identical to
    * the window form (TopKAggSpec pins the equivalence).
    *
    * Contract: `cosine` and `neighbor_id` must be non-null and
    * `neighbor_id` integral (it is carried as Long). The aggregate SKIPS
    * null inputs, where the window form would rank nulls last and still
    * emit them when a group has < k non-null candidates — all in-module
    * callers construct both columns non-null (cosineSim of non-null
    * arrays; ids from vec_id), so the two forms agree here. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(org.apache.spark.sql.graft.TopKAgg(col("cosine"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.payload").as("neighbor_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast(org.apache.spark.sql.types.IntegerType).as("rank"))
}
