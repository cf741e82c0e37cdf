package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{BandKeys, Pruning, SnapshotTable}

/** Join-driven dynamic FILE skipping on the snapshot table — the
  * dynamic-partition-pruning idea applied to the manifest's skipping
  * index. Spark's own DPP and runtime bloom filters prune PARTITIONS
  * (of partitioned file sources) and ROWS (post-scan); neither can drop
  * whole snapshot-table files, because the manifest's bands and blooms
  * are invisible to the optimizer. For the 100 TB shape
  * `fact ⋈ selective-dim`, this operator closes that gap by composition:
  * resolve the dim side's distinct join keys FIRST (they are
  * dim-selectivity-sized — the same bounded set a broadcast join ships
  * to every executor), then plan the fact read through the manifest's
  * per-key band + bloom pruning, so files provably holding no dim key
  * are never opened.
  *
  * Soundness: equi-joins are null-rejecting, and a file is pruned only
  * when NO dim key lands in its [min,max] band (and, when the table
  * opts into `write.bloom.cols`, its bloom filter) — every fact row
  * that could match some dim key survives, so
  * `prunedFact(...).join(dim, key)` ≡ `fact.read().join(dim, key)`
  * exactly. Lossy band keys (STRING prefix, v1 floor-second timestamps)
  * stay sound for equality: a matching row's key equals the dim value's
  * key under the same mapping.
  *
  * Scale posture: the dim keys are collected BOUNDED (`maxKeys`, the
  * broadcast-sized assumption made explicit). Past the cap — or when a
  * key type derives no band key — the operator falls back to the keys'
  * distributed min/max HULL, which still prunes a fact clustered on the
  * join key (the common layout: `write.cluster.by` / compact-by-key
  * tables) and never collects more than one row. An underivable hull
  * degrades to the plain read — pruning is an optimization lane, never
  * a correctness dependency.
  */
object JoinSkipping {

  /** The fact table's manifest-pruned read against `dim`'s distinct
    * join-key set: a SUPERSET of the fact rows that can equi-join `dim`
    * on `factKey = dimKey`, planned without opening non-matching files.
    * Join the result to `dim` as usual; the join re-applies the exact
    * predicate. */
  def prunedFact(fact: SnapshotTable, factKey: String, dim: DataFrame,
                 dimKey: String, maxKeys: Int = 10000,
                 version: Long = -1L): DataFrame = {
    require(maxKeys >= 0, "maxKeys must be non-negative")
    val v = if (version < 0) fact.latestVersion() else version
    val bandsV = fact.snapshot(v).bandsV
    // NULL dim keys never equi-join: drop them before deriving anything
    val keysDf = dim.select(col(dimKey)).na.drop().distinct()
    val sample = keysDf.limit(maxKeys + 1).collect()
    if (sample.isEmpty) return fact.read(v).limit(0) // nothing can join
    val vals = sample.iterator.map(_.get(0)).toIndexedSeq
    val keys = vals.flatMap(x => BandKeys.valueKey(x, bandsV).map(_._1))
    if (sample.length <= maxKeys && keys.length == vals.length)
      // per-key pruning: a file survives iff SOME dim key lands in its
      // band AND (when present) its bloom filter admits that key
      fact.readPruned(Pruning(points = Map(factKey -> keys.distinct)), v)._1
    else {
      // hull fallback: one distributed min/max, zero unbounded collects.
      // Band keys are (at least weakly) monotonic per type, so
      // [key(min), key(max)] covers every dim key's band key.
      val row = keysDf.agg(min(col(dimKey)), max(col(dimKey))).head()
      val hull = for {
        lo <- Option(row.get(0)).flatMap(BandKeys.valueKey(_, bandsV))
        hi <- Option(row.get(1)).flatMap(BandKeys.valueKey(_, bandsV))
      } yield (lo._1, hi._1)
      hull match {
        case Some((lo, hi)) =>
          fact.readPruned(Pruning(bands = Map(factKey -> ((lo, hi)))), v)._1
        case None => fact.read(v) // underivable key type: no pruning lane
      }
    }
  }
}
