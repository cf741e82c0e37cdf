package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Fns.{md5hi58, md5lo58, md5long63}
import org.apache.spark.sql.graft.CosineSimilarity.cosineSim

/** Deduplication operators for LLM training-data pipelines: exact
  * (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine
  * near-dup. (Extension phase, SURVEY.md §7.9 / BASELINE.json north_star.)
  *
  * Scale design notes:
  *  - Exact dedup is a single hash aggregation on md5(text) — the digest
  *    (16 bytes) shuffles instead of the document body.
  *  - Candidate generation for the pairwise operators is always inverted-
  *    index style (explode → join on shingle/band/bucket), never a cross
  *    join; hot shingles are capped (`maxShingleFreq`) the way web-scale
  *    dedup pipelines drop stop-shingles, so one viral n-gram cannot
  *    produce a quadratic bucket.
  *  - Verification (true Jaccard / hamming / cosine) runs only on the
  *    candidate pairs.
  */
object Dedup {

  /** Exact duplicate groups: one row per text with >1 occurrence,
    * canonical = min doc_id (keep-first policy). */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Distinct keep-set under exact dedup: the min doc_id per text. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  /** Per-document distinct shingle ARRAY over a MATERIALIZED word-array
    * column. Dedup happens inside the row (array_distinct) — shingle-set
    * semantics need uniqueness per doc only, so no cross-partition
    * shuffle is ever required for it.
    *
    * `ws` must be a bound ATTRIBUTE (the split projected in a prior
    * select), never an inline `split(text)`: transform()'s lambda body
    * re-evaluates non-leaf outer expressions per array element (HOFs are
    * interpreted, no cross-invocation subexpression elimination), so an
    * inline split makes shingling O(words²) per document — the r20
    * measurement on the bigram sibling was 2.7x end-to-end. */
  private def shingleArrayOf(ws: Column, n: Int): Column =
    array_distinct(
      when(size(ws) >= n,
        transform(sequence(lit(0), size(ws) - n),
          i => array_join(slice(ws, i + 1, lit(n)), " ")))
        .otherwise(array().cast(ArrayType(StringType))))

  /** (doc_id, shingle) pairs: distinct word n-grams per document. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(col("doc_id"), explode(shingleArrayOf(col("__ws"), n)).as("shingle"))

  /** Hashed shingle set: (doc_id, lo, hi) with the shingle replaced by its
    * two 58-bit md5 folds. All downstream dedup joins/aggregations then
    * shuffle 16 bytes of longs instead of the shingle text — the difference
    * between shuffling the corpus and shuffling fingerprints at 100 TB.
    * Hash collisions are shared with the DuckDB oracle by construction, so
    * results stay bit-identical. */
  def hashedShingles(docs: DataFrame, n: Int = 3): DataFrame =
    shingles(docs, n)
      .select(col("doc_id"), md5lo58(col("shingle")).as("lo"), md5hi58(col("shingle")).as("hi"))

  /** Candidate pairs sharing ≥1 shingle, with exact Jaccard similarity
    * over the PRUNED shingle space: `maxShingleFreq` drops stop-shingles
    * (present in more docs than the cap — bounds the worst bucket at
    * scale), and both intersections AND set sizes are computed after
    * pruning so the ratio is self-consistent. The hot set (shingles above
    * the cap) is what gets broadcast — it is tiny by construction, where
    * the rare set is ~the whole vocabulary. Jaccard is an exact integer
    * division; the threshold test is cross-multiplied (no FP rounding). */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, minJaccard: Double = 0.6,
                        maxShingleFreq: Long = 1000): DataFrame = {
    val sh = hashedShingles(docs, n)
    val hot = sh.groupBy("lo", "hi").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleFreq)
    val pruned = graft.QueryCaches.scoped(
      sh.join(broadcast(hot.select("lo", "hi")), Seq("lo", "hi"), "left_anti"))
    val sizes = pruned.groupBy("doc_id").agg(count(lit(1)).as("sz"))

    val inter = pruned.select(col("doc_id").as("a"), col("lo"), col("hi"))
      .join(pruned.select(col("doc_id").as("b"), col("lo"), col("hi")), Seq("lo", "hi"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))

    val num = lit((minJaccard * 1e6).round)
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      // jaccard >= minJaccard  ⟺  inter * 1e6 >= uni * round(minJaccard*1e6)
      .filter(col("inter") * 1000000L >= col("uni") * num)
      .select(col("a"), col("b"),
        col("inter").cast(DoubleType)./(col("uni").cast(DoubleType)).as("jaccard"))
  }

  /** Training-data DECONTAMINATION: flag corpus documents that share at
    * least `minHits` distinct n-gram shingles with the benchmark/eval
    * SET AS A WHOLE (hits count against the union of all benchmark
    * shingles, not per benchmark document — tune `minHits` accordingly).
    * The benchmark shingle set is distinct-projected and broadcast —
    * eval suites are
    * tiny next to a 100 TB corpus, so the corpus side never shuffles:
    * this is a map-side semi join plus a keyed count. Returns
    * (doc_id, bench_hits) for flagged documents. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 3,
                    minHits: Long = 2): DataFrame = {
    val c = hashedShingles(corpus, n)
    val b = broadcast(hashedShingles(benchmark, n).select("lo", "hi").distinct())
    c.join(b, Seq("lo", "hi"))
      .groupBy("doc_id").agg(count(lit(1)).as("bench_hits"))
      .filter(col("bench_hits") >= minHits)
  }

  /** MinHash signatures: k hash functions from a 2-seed tabulation family
    * h_i(s) = lo58(s) + i*hi58(s) — ONE md5 per shingle (not k), all-long
    * arithmetic, one aggregation pass computes all k mins. lo58/hi58 fold
    * DuckDB's md5_number_lower/upper, keeping LSH oracle-checkable. */
  def minhashSignatures(sh: DataFrame, k: Int): DataFrame =
    sh.groupBy("doc_id").agg(
      min(col("lo")).as("mh0"),
      (1 until k).map(i =>
        min(col("lo") + lit(i.toLong) * col("hi")).as(s"mh$i")): _*)

  /** Banded minhash signature rows (doc_id, band, bh) — the LSH INDEX: at
    * cluster scale this is what gets persisted (bucketed by (band, bh))
    * and what incremental batches probe. */
  def bandedMinhash(sh: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = k / bands
    minhashSignatures(sh, k).select(col("doc_id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            md5(concat_ws("|", (0 until rows).map(r => col(s"mh${b * rows + r}").cast(StringType)): _*)).as("bh"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bh"))
  }

  /** Exact-Jaccard verification of candidate (a, b) pairs against the two
    * sides' shingle sets. Integer-exact threshold (cross-multiplied), and
    * the output jaccard is a single integer-over-integer double division
    * — engine-stable. */
  private def jaccardVerified(cand: DataFrame, shA: DataFrame, shB: DataFrame,
                              minJaccard: Double): DataFrame = {
    val sizesA = shA.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val sizesB = shB.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(shA.select(col("doc_id").as("a"), col("lo"), col("hi")), Seq("a"))
      .join(shB.select(col("doc_id").as("b"), col("lo"), col("hi")), Seq("b", "lo", "hi"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    val num = lit((minJaccard * 1e6).round)
    inter
      .join(sizesA.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizesB.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .filter(col("inter") * 1000000L >= col("uni") * num)
      .select(col("a"), col("b"),
        col("inter").cast(DoubleType)./(col("uni").cast(DoubleType)).as("jaccard"))
  }

  /** MinHash-LSH near-dup pairs: band the k-row signature into `bands`
    * groups, bucket-join on (band index, band hash), then verify candidates
    * with exact Jaccard ≥ minJaccard. */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, k: Int = 16, bands: Int = 4,
                      minJaccard: Double = 0.5): DataFrame = {
    val sh = graft.QueryCaches.scoped(hashedShingles(docs, n))
    // cached: the banded signature is tiny (doc_id + band + 16-byte hash,
    // bands rows/doc) but its subtree — shingle scan + k min-aggregates —
    // is the expensive part, and the self-join below would compute it
    // twice otherwise (at cluster scale you would persist it the same
    // way). Registered QueryCaches.scoped — the returned plan still
    // references the cache so it cannot be unpersisted HERE; the harness
    // mains release all scoped caches after each query's final action.
    val banded = graft.QueryCaches.scoped(bandedMinhash(sh, k, bands))
    val cand = banded.select(col("doc_id").as("a"), col("band"), col("bh"))
      .join(banded.select(col("doc_id").as("b"), col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    jaccardVerified(cand, sh, sh, minJaccard)
  }

  /** Asymmetric shingle CONTAINMENT over the banded candidates — the
    * near-containment detector Jaccard misses: a short doc fully quoted
    * inside a long one has Jaccard ≈ |short|/|long| (tiny) but
    * containment ≈ 1. Same band candidate generation as
    * [[minhashLshPairs]]; verification computes |A∩B|/|A| and |A∩B|/|B|
    * in exact integer ppm, keeping pairs where either side is
    * ≥ `minContainPpm` contained. */
  def containmentPairs(docs: DataFrame, n: Int = 3, k: Int = 16,
                       bands: Int = 4,
                       minContainPpm: Long = 700000L): DataFrame = {
    val sh = graft.QueryCaches.scoped(hashedShingles(docs, n))
    val banded = graft.QueryCaches.scoped(bandedMinhash(sh, k, bands))
    val cand = banded.select(col("doc_id").as("a"), col("band"), col("bh"))
      .join(banded.select(col("doc_id").as("b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("a"), col("lo"), col("hi")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("lo"), col("hi")),
        Seq("b", "lo", "hi"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sz_a")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("sz_b")), Seq("b"))
      .select(col("a"), col("b"), col("inter"), col("sz_a"), col("sz_b"),
        expr("inter * 1000000 DIV sz_a").as("cont_ab_ppm"),
        expr("inter * 1000000 DIV sz_b").as("cont_ba_ppm"))
      .filter(col("cont_ab_ppm") >= minContainPpm ||
        col("cont_ba_ppm") >= minContainPpm)
  }

  /** INCREMENTAL near-dup: new `batch` documents probed against the
    * existing `corpus` — the daily-crawl-vs-index shape. Candidates come
    * from the batch's band signatures equi-joined against the corpus's
    * band INDEX ([[bandedMinhash]] — precomputed and bucket-stored in
    * production, recomputed here), so cost scales with the batch and the
    * matched buckets, never a corpus self-join; the corpus never
    * re-pairs with itself. Returns (a = batch doc, b = corpus doc,
    * jaccard ≥ minJaccard), exact-verified like [[minhashLshPairs]]. */
  def incrementalNearDupPairs(corpus: DataFrame, batch: DataFrame, n: Int = 3,
                              k: Int = 16, bands: Int = 4,
                              minJaccard: Double = 0.5): DataFrame = {
    val shB = graft.QueryCaches.scoped(hashedShingles(batch, n))
    val shC = graft.QueryCaches.scoped(hashedShingles(corpus, n))
    val cand = bandedMinhash(shB, k, bands)
      .select(col("doc_id").as("a"), col("band"), col("bh"))
      .join(bandedMinhash(shC, k, bands)
        .select(col("doc_id").as("b"), col("band"), col("bh")), Seq("band", "bh"))
      .select("a", "b").distinct()
    jaccardVerified(cand, shB, shC, minJaccard)
  }

  /** 63-bit SimHash per document: token-frequency-weighted bit votes over
    * md5-derived word hashes (bit j of the fingerprint is the sign of the
    * weighted vote sum). One groupBy(doc, word) + one groupBy(doc). */
  def simhash(docs: DataFrame, bits: Int = 63): DataFrame = {
    val wordCounts = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .withColumn("h", md5long63(col("word")))
    val votes = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"v$j")
    }
    val voted = wordCounts.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val fp = (0 until bits).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    voted.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance ≤ maxHamming via
    * bit_count(xor). Candidates come from matching any of 9 7-bit key
    * chunks: by pigeonhole, two fingerprints within hamming distance h
    * MUST agree on at least one chunk whenever h < number of chunks, so
    * 9 chunks make the candidate set complete for the default
    * maxHamming = 8 (4×16-bit chunking would silently miss pairs whose
    * differing bits spread across all four chunks).
    *
    * REJECTED ALTERNATIVE (measured, do not retry): Manku et al. (WWW'07)
    * wide keys — 10 6-bit chunks keyed on the C(10,2)=45 chunk PAIRS
    * (12-bit keys, complete for h ≤ 8). On real fingerprints at 100×
    * harness scale it generates 3.4× fewer candidate rows (3.1B vs
    * 10.8B) yet runs SLOWER end-to-end: 20.7 s vs 15.9 s at 100×, and
    * 1.17 s vs 0.44 s at sf0.1. Sort-merge join streams the long
    * ~n/128-row matching runs of the coarse scheme faster per row than
    * the 45-table layout's short runs, and the 5× larger exploded/cached
    * side adds fixed cost (shuffled-hash hint: 49 s — worse; uncached
    * explode: 87 s — much worse). Wide keys only pay off once per-bucket
    * candidates dominate wall-clock, i.e. corpora well beyond 10⁶ docs
    * per partition-group; revisit then, with a hot-bucket cap. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 8): DataFrame = {
    val nChunks = 9; val chunkBits = 7 // 9*7 = 63 bits
    require(maxHamming < nChunks, s"chunk LSH is only complete for maxHamming < $nChunks")
    val fp = simhash(docs)
    val chunkMask = (1L << chunkBits) - 1
    // cached: 9 small rows/doc, but the simhash subtree (word explode +
    // 63 bit votes) is expensive and the self-join would run it twice
    val chunks = graft.QueryCaches.scoped(fp.select(col("doc_id"), col("simhash"),
        explode(array((0 until nChunks).map(c =>
          struct(lit(c).as("chunk"),
            shiftright(col("simhash"), c * chunkBits).bitwiseAND(chunkMask).as("key"))): _*)).as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk"), col("ck.key")))
    chunks.select(col("doc_id").as("a"), col("simhash").as("fa"), col("chunk"), col("key"))
      .join(chunks.select(col("doc_id").as("b"), col("simhash").as("fb"), col("chunk"), col("key")),
        Seq("chunk", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), bit_count(col("fa").bitwiseXOR(col("fb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** IMAGE near-duplicate pairs from 64-bit perceptual hashes
    * ([[Multimodal.imageDHash]]): chunk LSH over 8 disjoint 8-bit
    * bands — a pair with Hamming distance ≤ maxHamming < 8 shares at
    * least one whole band (pigeonhole: complete, not probabilistic),
    * so candidates come from per-band equi joins and the exact
    * bit_count verifies — never an all-pairs join. The brightness/
    * contrast-shifted copies a crawl accumulates hash identically
    * (distance 0) and pair here without touching a pixel twice. */
  def phashNearDupPairs(hashes: DataFrame, maxHamming: Int = 7): DataFrame = {
    val nChunks = 8; val chunkBits = 8 // 8*8 = 64 bits
    require(maxHamming < nChunks,
      s"chunk LSH is only complete for maxHamming < $nChunks")
    val chunkMask = (1L << chunkBits) - 1
    val chunks = graft.QueryCaches.scoped(
      hashes.select(col("media_id"), col("dhash"),
          explode(array((0 until nChunks).map(c =>
            struct(lit(c).as("chunk"),
              shiftright(col("dhash"), c * chunkBits).bitwiseAND(chunkMask)
                .as("key"))): _*)).as("ck"))
        .select(col("media_id"), col("dhash"), col("ck.chunk"), col("ck.key")))
    chunks.select(col("media_id").as("a"), col("dhash").as("fa"),
        col("chunk"), col("key"))
      .join(chunks.select(col("media_id").as("b"), col("dhash").as("fb"),
        col("chunk"), col("key")), Seq("chunk", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-duplicate pairs above `minCosine`, via the
    * native CosineSimilarity expression. The DEFAULT candidate generation
    * is BANDED hyperplane LSH: `nBands` independent 2^nBits-bucket
    * hashings over disjoint dimension ranges; a pair is a candidate when
    * ANY band agrees (union of per-band equi joins + distinct — the
    * minhash band-OR construction, so recall rises with nBands while
    * every join stays an equi join that survives a 100 TB corpus).
    * Candidates are then verified with the exact cosine.
    * `exhaustive = true` opts into the full a<b theta join (cartesian —
    * small corpora only).
    *
    * Tuning: a pair at angle θ agrees on one hyperplane with p = 1 − θ/π,
    * on a band with p^nBits, and on ≥1 of nBands bands with
    * 1 − (1 − p^nBits)^nBands. The defaults (6 bits × 3 bands) prune hard
    * and suit real near-dup thresholds (cosine ≥ 0.8, p ≥ 0.79/plane →
    * ~60-80% band recall). For LOW thresholds (~0.5 → θ ≈ 60°, p ≈ 2/3)
    * no hyperplane family prunes hard — use 4 bits × 8 bands (measured
    * 13/14 recall on the harness embeddings vs 3/14 for the default) and
    * accept the larger candidate volume. */
  def embeddingNearDupPairs(embeddings: DataFrame, minCosine: Double = 0.5,
                            exhaustive: Boolean = false, nBits: Int = 6,
                            nBands: Int = 3,
                            maxBucket: Int = 256): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val pairs =
      if (exhaustive)
        e.select(col("vec_id").as("a"), col("embedding").as("ea"))
          .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), col("a") < col("b"))
      else {
        // explode to (vec_id, band, bucket) and self-join ONCE on
        // (band, bucket) — the minhash banded-candidate shape: one
        // shuffle instead of nBands separate self-joins. The size guard
        // drops bands whose dims lie past the vector end: without it an
        // out-of-range band would hash EVERY vector to bucket 0 and its
        // join would degenerate to the full a<b cross product.
        //
        // BUCKET-SIZE GUARD (`maxBucket`): a band-bucket's candidate
        // volume is |bucket|²/2, and with 2^nBits fixed buckets the
        // occupancy grows LINEARLY with n — so candidates grow
        // quadratically (the r20 full-registry 100× session measured
        // the low-threshold 4-bit tuning degenerating to ~10 billion
        // candidate pairs at 200k vectors and OOM-ing the session).
        // Buckets past the cap SUBDIVIDE with extra sign-hyperplane
        // bits (odd-aligned dim pairs — deterministic pure
        // comparisons, a different hyperplane family from the band's
        // own even-aligned pairs), enough bits to bring the expected
        // sub-bucket under the cap. Candidate volume is then bounded
        // by ~n·maxBucket·nBands/2 — LINEAR in n. Near pairs split
        // across sub-buckets of a dense region are the recall price,
        // the standard LSH remedy at scale; buckets at or under the
        // cap take zero extra bits, so small-corpus results (and the
        // DuckDB oracle at harness SFs) are bit-identical.
        val maxExtraBits = 10
        val bandedRaw = e.select(col("vec_id"), col("embedding"),
            explode(array((0 until nBands).map { t =>
              struct(lit(t).as("band"),
                Similarity.hyperplaneBucket(col("embedding"), nBits, 2 * nBits * t).as("bucket"),
                (size(col("embedding")) > 2 * nBits * t + 1).as("in_range"))
            }: _*)).as("bb"))
          .filter(col("bb.in_range"))
          .select(col("vec_id"), col("embedding"), col("bb.band"), col("bb.bucket"))
        val bucketSizes = bandedRaw.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("bn")) // ≤ nBands·2^nBits rows: broadcast
        val extraBits = when(col("bn") <= maxBucket, lit(0)).otherwise(
          least(lit(maxExtraBits),
            ceil(log(2.0, col("bn").cast("double") / maxBucket)).cast("int")))
        def oddPairBit(i: Int): Column = {
          val a = 2 * i + 1 // odd-aligned pair (dims a, a+1), 0-based
          when(size(col("embedding")) > a + 1 &&
            element_at(col("embedding"), a + 1) >
              element_at(col("embedding"), a + 2), 1 << i).otherwise(0)
        }
        val subBucket = (0 until maxExtraBits).map(i =>
          when(lit(i) < col("extra_bits"), oddPairBit(i)).otherwise(0))
          .reduce(_ + _)
        val banded = graft.QueryCaches.scoped(bandedRaw
          .join(org.apache.spark.sql.functions.broadcast(bucketSizes),
            Seq("band", "bucket"))
          .withColumn("extra_bits", extraBits)
          .select(col("vec_id"), col("band"), col("bucket"),
            subBucket.as("sub")))
        val cand = banded.select(col("vec_id").as("a"), col("band"),
            col("bucket"), col("sub"))
          .join(banded.select(col("vec_id").as("b"), col("band"),
            col("bucket"), col("sub")), Seq("band", "bucket", "sub"))
          .filter(col("a") < col("b"))
          .select("a", "b").distinct()
        cand
          .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")), Seq("a"))
          .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), Seq("b"))
      }
    pairs.withColumn("cosine", round(cosineSim(col("ea"), col("eb")), 6))
      .filter(col("cosine") >= minCosine)
      .select("a", "b", "cosine")
  }

  /** Span-level repetition coverage — the document-internal view of
    * Lee et al., ACL 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): for each document, the fraction of its word n-gram
    * POSITIONS whose n-gram also occurs in at least one OTHER document.
    * Whole-doc dedup (exactDedup / minhashLshPairs) misses boilerplate
    * stitched into otherwise-unique pages; this measures it so a pipeline
    * can drop or trim high-coverage docs.
    *
    * Scale shape: positional grams explode once; the shared-gram set is a
    * hash aggregation on the gram (count distinct docs, partial-agg
    * map-side) filtered to n_docs > 1, then rejoined LEFT SEMI — only
    * grams that are actually shared flow through the second shuffle, and
    * the per-doc rollup shuffles (doc_id, count) longs. Nothing ever
    * shuffles document text except the gram strings themselves; at 100 TB
    * swap the gram string for its md5 fold (same plan shape, 8-byte keys)
    * — kept textual here so the DuckDB oracle is byte-identical.
    * Output: (doc_id, n_grams, n_repeated, dup_frac) for docs with >= n
    * words; dup_frac divides two exact longs (engine-identical double). */
  def repeatedSpanCoverage(docs: DataFrame, n: Int = 5): DataFrame = {
    // split materialized before the lambda — see shingleArrayOf
    val ws = col("__ws")
    val eligible = docs
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .filter(size(ws) >= n)
    val grams = eligible.select(col("doc_id"),
      explode(transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + 1, lit(n)), " "))).as("gram"))
    val shared = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select(col("gram"))
    val repeated = grams.join(shared, Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_repeated"))
    eligible
      .select(col("doc_id"), (size(ws) - (n - 1)).cast(LongType).as("n_grams"))
      .join(repeated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"))
      .withColumn("dup_frac",
        col("n_repeated").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  /** Paragraph-level dedup, the CCNet/Dolma cleaning shape: dedup at a
    * sub-document grain and REASSEMBLE the documents from the surviving
    * pieces (vs whole-doc dedup, which keeps or drops entire docs). The
    * grain here is fixed `blockWords`-word blocks (the synthetic corpus
    * has no newline paragraph marks; a real corpus would split on "\n\n"
    * upstream — everything below is grain-agnostic). The FIRST global
    * occurrence of each distinct block survives — "first" by the
    * deterministic (doc_id, position) total order, never arrival order,
    * so the result is partitioning-independent. One hash aggregation
    * over block digests picks keepers; one equi-join marks instances;
    * one per-doc aggregation stitches survivors back in position order.
    * The output IS the cleaned corpus, so the corpus text crossing the
    * shuffle once is inherent; the keeper election itself moves only
    * (digest, (doc_id, pos) struct) pairs. */
  def paragraphDedup(docs: DataFrame, blockWords: Int = 16): DataFrame = {
    val blocks = TextStats.chunkDocuments(docs, size = blockWords, overlap = 0)
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("pos"),
        col("chunk_text").as("blk"))
      .withColumn("h", md5(col("blk")))
    // lexicographic (doc_id, pos) min, NOT a packed doc_id*C+pos long — a
    // packed key collides for docs with ≥C blocks and misorders for
    // negative ids. As two FLAT aggregates instead of min(struct): the
    // struct-typed buffer planned a SortAggregate with a Sort on each
    // side of the exchange over the corpus-scale block frame (r21
    // measurement, plans/r21/llm_paragraph_dedup_before.txt); min(doc_id)
    // + ArgExtremePairValue.argminValue(doc_id, pos, pos) — pos of the
    // row minimizing (doc_id, pos), i.e. exactly struct-min's pair since
    // min pos within the min doc_id IS the lexicographic minimum —
    // hash-aggregate with whole-stage codegen and map-side combine. doc_id/pos are non-null
    // by construction (generated), so the aggregates' skip-null contract
    // matches struct-min here.
    val keeper = blocks.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_doc"),
        org.apache.spark.sql.graft.ArgExtremePairValue
          .argminValue(col("doc_id"), col("pos"), col("pos")).as("keep_pos"))
    blocks.join(keeper, "h")
      .withColumn("kept",
        col("doc_id") === col("keep_doc") && col("pos") === col("keep_pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("kept").cast(LongType)).as("n_kept"),
        // array_sort on (pos, …) makes the collect order deterministic;
        // a doc whose every block lost elsewhere reassembles to ""
        array_join(transform(
          filter(array_sort(collect_list(struct(col("pos"), col("kept"), col("blk")))),
            x => x.getField("kept")),
          x => x.getField("blk")), " ").as("kept_text"))
  }
}
