package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sync.DimSync

/** Dimension-sync algebra queries (SURVEY.md §2.3 J5-J7, §2.4 A1-A2, §3.2):
  * the set-based re-expression of sync_data.py's row-at-a-time loops. The
  * "dimension" is simulated as a subset of the source values so both the
  * insert path (new names) and delete path (stale names) are non-empty. */
object SyncQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.registry(
    // J6: source values missing from the dim → idempotent insert set
    "sync_insert_missing" -> ((s, d) => {
      val customer = Tables.customer(s, d)
      val dim = customer.filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_name").as("name")).distinct()
      DimSync.insertMissing(customer, "c_name", dim)
    }),
    // J7: dim values absent from the source → stale delete set
    "sync_delete_stale" -> ((s, d) => {
      val customer = Tables.customer(s, d)
      val dim = customer.select(col("c_name").as("name")).distinct()
      DimSync.deleteStale(dim, customer.filter(col("c_custkey") % 7 =!= 0), "c_name")
    }),
    // A2+J5+A4: distinct combination tuples, names resolved to ids through
    // broadcast dims; combinations whose supplier is filtered out drop (the
    // pandas inner-merge semantics).
    // Names are the dimension identity (reference dims are (id, name,
    // company_id) keyed by name): dim id = min source key per name.
    "sync_combinations" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val part = Tables.part(s, d)
      val pDim = part.groupBy(col("p_name").as("name"))
        .agg(min(col("p_partkey")).as("id")).select(col("id"), col("name"))
      val sDim = Tables.supplier(s, d).filter(col("s_suppkey") % 10 =!= 0)
        .groupBy(col("s_name").as("name"))
        .agg(min(col("s_suppkey")).as("id")).select(col("id"), col("name"))
      val main = li
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_name"), col("s_name"), col("l_returnflag"))
      DimSync.resolveCombinations(main, Seq("p_name", "s_name", "l_returnflag"), Map(
        "p_name" -> pDim, "s_name" -> sDim))
        .withColumnRenamed("p_name_id", "part_id")
        .withColumnRenamed("s_name_id", "supplier_id")
        .withColumnRenamed("l_returnflag", "returnflag")
    }),

    // SCD2 APPLY: one snapshot load folded into a versioned history.
    // The fixture derives both sides from `customer` so all four cases
    // occur: %7==0 keys are new (absent from history), %3==0 keys changed
    // (history carries a stale balance), %11==0 keys were deleted
    // (absent from the snapshot), the rest are unchanged pass-throughs.
    "sync_scd2_apply" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val history = c.filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).as("bal"),
          lit(0L).as("valid_from"),
          lit(null).cast("long").as("valid_to"))
      val snapshot = c.filter(col("c_custkey") % 11 =!= 0)
        .select(col("c_custkey"), col("c_acctbal").as("bal"))
      DimSync.scd2Apply(history, snapshot,
        keyCols = Seq("c_custkey"), attrCols = Seq("bal"), asOf = 100L)
    }),

    // CDC snapshot diff: the fixture derives both snapshots from
    // `customer` so every op occurs — %97==3 keys are absent from the
    // old snapshot (I), %89==5 keys absent from the new (D), %13==0
    // keys moved balance and %17==0 keys switched segment (U, with
    // changed_cols naming one or both). Everything else is unchanged
    // and must NOT appear.
    "sync_cdc_diff" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val oldSnap = c.filter(col("c_custkey") % 97 =!= 3)
      val newSnap = c.filter(col("c_custkey") % 89 =!= 5)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 13 === 0, col("c_acctbal") + lit(10.0))
            .otherwise(col("c_acctbal")))
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 17 === 0, lit("REASSIGNED"))
            .otherwise(col("c_mktsegment")))
      DimSync.cdcDiff(oldSnap, newSnap, "c_custkey",
        Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    }),

    // Bucketed checksum table compare: the O(1)-shuffle sync validator —
    // each side scans once into 64 (count, xor-of-row-hash) buckets; the
    // fixture perturbs orders (%997 keys deleted, %613 priorities
    // corrupted) so some buckets mismatch and the rest prove in_sync.
    // Hashed columns are int/string only: double→string rendering is not
    // engine-stable, so a real deployment routes doubles through
    // moneyStr (DECIMAL→string) exactly like the surrogate-key path.
    "sync_checksum_compare" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_orderdate")
      val dst = orders.filter(col("o_orderkey") % 997 =!= 0)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 613 === 0, lit("X-CORRUPTED"))
            .otherwise(col("o_orderpriority")))
      DimSync.checksumCompare(orders, dst, cols, buckets = 64)
    }),

    // Point-in-time (PIT) join — the SCD2 story's QUERY side (history
    // build: stream_scd2_history; incremental apply: sync_scd2_apply;
    // this is how facts consume the result): each order joins the
    // dimension VERSION that was valid at o_orderdate, not today's row.
    // The fixture gives every %3==0 customer two versions split at
    // 1997-06-01 (+50 balance after), everyone else one open-ended row.
    // Shape: EQUI-join on the key with the validity interval as a
    // residual filter — per-key fan-out is bounded by the version count
    // (2 here, rarely >10 in practice), so this stays a hash/SMJ join at
    // 100 TB; a range-only join here would be the scale mistake.
    "sync_pit_join" -> ((s, d) => {
      import org.apache.spark.sql.types.TimestampType
      val c = Tables.customer(s, d)
      val splitTs = lit("1997-06-01 00:00:00").cast(TimestampType)
      val lo = lit("1900-01-01 00:00:00").cast(TimestampType)
      val v1 = c.select(col("c_custkey"), col("c_acctbal").as("bal"),
        lo.as("valid_from"),
        when(col("c_custkey") % 3 === 0, splitTs)
          .otherwise(lit(null).cast(TimestampType)).as("valid_to"),
        lit(1L).as("version_no"))
      val v2 = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 50.0).as("bal"),
          splitTs.as("valid_from"),
          lit(null).cast(TimestampType).as("valid_to"),
          lit(2L).as("version_no"))
      val dim = v1.unionByName(v2)
      val facts = Tables.orders(s, d).filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      facts.join(dim, facts("o_custkey") === dim("c_custkey") &&
          dim("valid_from") <= facts("o_orderdate") &&
          (dim("valid_to").isNull || facts("o_orderdate") < dim("valid_to")))
        .select(col("o_orderkey"), col("o_custkey"), col("version_no"), col("bal"))
    }),

    // Blocked fuzzy record linkage — the entity-resolution core of any
    // catalog merge (reference: sync_data.py's name-keyed dims assume
    // EXACT name equality; this is the step that finds the near-misses
    // that assumption silently splits). Shape: collapse the catalog to
    // distinct names with row support and a canonical key, derive a
    // BLOCKING key (here the type noun — the last token), and run edit
    // distance only WITHIN blocks. Candidate cost is Σ|block|², never
    // |catalog|² — the only ER join shape that survives a 100 TB
    // catalog; at scale the block key just gets more selective
    // (type+brand composite, or minhash bands for textual blocks).
    // levenshtein is the classic ER scorer and is identically defined
    // in Spark and DuckDB, so the gate is integer-exact.
    "sync_entity_resolution" -> ((s, d) => {
      val names = Tables.part(s, d)
        .groupBy(col("p_name"))
        .agg(count(lit(1)).as("n_rows"), min(col("p_partkey")).as("canon_key"))
        .withColumn("block_key", expr("split_part(p_name, ' ', 2)"))
      val a = names.select(col("p_name").as("name_a"), col("n_rows").as("rows_a"),
        col("canon_key").as("key_a"), col("block_key"))
      val b = names.select(col("p_name").as("name_b"), col("n_rows").as("rows_b"),
        col("canon_key").as("key_b"), col("block_key"))
      a.join(b, Seq("block_key"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("lev", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("lev") <= 4L)
        .select(col("name_a"), col("name_b"), col("block_key"), col("lev"),
          col("rows_a"), col("rows_b"), col("key_a"), col("key_b"))
    }),

    // Incremental JOIN maintenance (Meta.incrementalJoinMerge) — the
    // join sibling of meta_ivm_agg, completing the IVM family. The
    // maintained view is orders ⋈ customer; the delta upserts every
    // %97 order's priority and inserts a shifted-key clone of every
    // %89 order. Maintenance = anti join of the view against the
    // BROADCAST delta keys ∪ broadcast-delta ⋈ customer — V and B
    // scanned once, nothing shuffles, A never rejoined. The oracle
    // recomputes the view from the merged base, pinning
    // delete+insert == full recompute exactly.
    "sync_ivm_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      val b = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_nationkey"))
      val v0 = o.join(b, Seq("o_custkey")) // current view state
      val delta = o.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_orderpriority", lit("IVM-UPDATED"))
        .unionByName(o.filter(col("o_orderkey") % 89 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
          .withColumn("o_orderpriority", lit("IVM-NEW")))
      graft.models.Meta.incrementalJoinMerge(v0, delta, b,
          deltaKeys = Seq("o_orderkey"), joinKeys = Seq("o_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          col("c_name"), col("c_nationkey"))
    }),

    // C5 transactional — the reference's flagship multi-table blue-green
    // swap (taico_facebook_data_etl_dag.py:136-222 staging→production
    // with backup/rollback; dags/etl.py:143-190 syncs 9 dims + the
    // relations bridge as one unit) done ATOMICALLY: three dimension
    // tables staged as snapshot versions, published all-or-nothing
    // through one root transaction manifest CAS. The leg sequence:
    // v1 cut published → full-refresh staged+promoted (validated, sticks)
    // → a BROKEN refresh (empty dims) staged+promoted, validator rejects,
    // ONE rollback transaction restores all three pins. Final contents =
    // the good refresh, replayed exactly by DuckDB; the txn_log row pins
    // the audit trail (4 transactions, rollback restored the good cut).
    "sync_promote_txn" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_txnpromote")
      val tx = new graft.sources.TableTransactions(s, root.getAbsolutePath)
      val nation = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))
      val region = Tables.region(s, d)
        .select(col("r_regionkey").cast("long").as("id"), col("r_name").as("name"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("id"), col("c_name").as("name"))
      val tn = tx.table("dim_nation"); val tr = tx.table("dim_region")
      val tc = tx.table("dim_customer")
      // Each phase stages THREE tables whose commits are fully
      // independent (disjoint manifest chains, disjoint data dirs) —
      // submit them from a small thread pool so the write + stats
      // read-back jobs of one table back-fill the driver/scheduler gaps
      // of another (guide §2.6 "overlap independent jobs"); r21
      // JobProfile: 23 sequential driver actions, job-sum 1.4 s of a
      // 3.3 s wall. Per-table versions and contents are unchanged —
      // only the submission overlaps — so the published cuts, the
      // validation outcomes and every leg below are bit-identical.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      def staged(fs: Seq[(String, () => Long)]): Map[String, Long] = {
        import scala.concurrent.duration._
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fs.map { case (n, f) =>
            scala.concurrent.Future(n -> f()) }), 10.minutes).toMap
      }
      // rows>0 validation of a published cut, the three probes overlapped
      // the same way (order-independent conjunction)
      def allNonEmpty(m: Map[String, Long]): Boolean = {
        import scala.concurrent.duration._
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(m.toSeq.map { case (t, v) =>
            scala.concurrent.Future(
              tx.table(t).read(v).limit(1).count() > 0L) }),
          10.minutes).forall(identity)
      }
      try {
        // v1 cut: partial dims
        tx.commit(staged(Seq(
          "dim_nation" -> (() => tn.commitAppend(nation.filter(col("id") % 2 === 0))),
          "dim_region" -> (() => tr.commitAppend(region.filter(col("id") < 3))),
          "dim_customer" -> (() => tc.commitAppend(cust.filter(col("id") % 10 === 0))))))
        // good refresh: stage all three, promote atomically, validate rows>0
        val good = staged(Seq(
          "dim_nation" -> (() => tn.commitOverwrite(nation)),
          "dim_region" -> (() => tr.commitOverwrite(region)),
          "dim_customer" -> (() => tc.commitOverwrite(cust.filter(col("id") % 5 === 0)))))
        val goodStuck = tx.promoteAll(good, allNonEmpty)
        // broken refresh: empty dims — validation fails, rollback restores
        val broken = staged(Seq(
          "dim_nation" -> (() => tn.commitOverwrite(nation.filter(lit(false)))),
          "dim_region" -> (() => tr.commitOverwrite(region.filter(lit(false)))),
          "dim_customer" -> (() => tc.commitOverwrite(cust.filter(lit(false))))))
        val brokenStuck = tx.promoteAll(broken, allNonEmpty)
        def leg(t: String) = tx.readPublished(t)
          .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("key_sum"))
          .select(lit(t).as("tbl"), col("n_rows"), col("key_sum"))
        val audit = s.range(1).select(lit("txn_log").as("tbl"),
          lit(tx.latestTxn()).as("n_rows"),
          lit(if (goodStuck && !brokenStuck &&
            tx.published() == good) 1L else 0L).as("key_sum"))
        leg("dim_nation").unionByName(leg("dim_region"))
          .unionByName(leg("dim_customer")).unionByName(audit)
      } finally pool.shutdown()
    })
  )

  val oracle: Map[String, String] = graft.SparkEntry.registry(
    "sync_pit_join" -> """
WITH dim AS (
  SELECT c_custkey, c_acctbal AS bal,
         TIMESTAMP '1900-01-01 00:00:00' AS valid_from,
         CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '1997-06-01 00:00:00'
              ELSE CAST(NULL AS TIMESTAMP) END AS valid_to,
         CAST(1 AS BIGINT) AS version_no
  FROM customer
  UNION ALL
  SELECT c_custkey, c_acctbal + 50.0,
         TIMESTAMP '1997-06-01 00:00:00',
         CAST(NULL AS TIMESTAMP),
         CAST(2 AS BIGINT)
  FROM customer WHERE c_custkey % 3 = 0)
SELECT o.o_orderkey, o.o_custkey, d.version_no, d.bal
FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
  AND d.valid_from <= o.o_orderdate
  AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
WHERE o.o_orderkey % 7 = 0""",

    "sync_entity_resolution" -> """
WITH n AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(min(p_partkey) AS BIGINT) AS canon_key,
         split_part(p_name, ' ', 2) AS block_key
  FROM part GROUP BY p_name)
SELECT x.p_name AS name_a, y.p_name AS name_b, x.block_key,
       CAST(levenshtein(x.p_name, y.p_name) AS BIGINT) AS lev,
       x.n_rows AS rows_a, y.n_rows AS rows_b,
       x.canon_key AS key_a, y.canon_key AS key_b
FROM n x JOIN n y ON x.block_key = y.block_key AND x.p_name < y.p_name
WHERE levenshtein(x.p_name, y.p_name) <= 4""",

    "sync_insert_missing" -> """
SELECT DISTINCT c_name AS name FROM customer
WHERE c_name IS NOT NULL
  AND c_name NOT IN (SELECT c_name FROM customer WHERE c_custkey % 7 <> 0)""",

    "sync_delete_stale" -> """
SELECT DISTINCT c_name AS name FROM customer
WHERE c_name NOT IN (SELECT c_name FROM customer WHERE c_custkey % 7 <> 0 AND c_name IS NOT NULL)""",

    "sync_combinations" -> """
WITH pdim AS (SELECT p_name AS name, min(p_partkey) AS id FROM part GROUP BY p_name),
     sdim AS (SELECT s_name AS name, min(s_suppkey) AS id FROM supplier
              WHERE s_suppkey % 10 <> 0 GROUP BY s_name),
     main AS (SELECT DISTINCT p.p_name, s.s_name, l.l_returnflag
              FROM lineitem l
              JOIN part p ON l.l_partkey = p.p_partkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey)
SELECT DISTINCT pd.id AS part_id, sd.id AS supplier_id, m.l_returnflag AS returnflag
FROM main m
JOIN pdim pd ON m.p_name = pd.name
JOIN sdim sd ON m.s_name = sd.name""",

    "sync_scd2_apply" -> """
WITH history AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS bal,
         CAST(0 AS BIGINT) AS valid_from,
         CAST(NULL AS BIGINT) AS valid_to
  FROM customer WHERE c_custkey % 7 <> 0),
snap AS (
  SELECT c_custkey, c_acctbal AS bal FROM customer WHERE c_custkey % 11 <> 0),
j AS (
  SELECT coalesce(h.c_custkey, s.c_custkey) AS c_custkey,
         h.bal AS h_bal, h.valid_from AS h_vf,
         s.bal AS s_bal,
         h.c_custkey IS NOT NULL AS in_hist,
         s.c_custkey IS NOT NULL AS in_snap
  FROM history h FULL JOIN snap s ON h.c_custkey = s.c_custkey)
SELECT c_custkey, h_bal AS bal, h_vf AS valid_from, CAST(NULL AS BIGINT) AS valid_to
FROM j WHERE in_hist AND in_snap AND NOT (h_bal IS DISTINCT FROM s_bal)
UNION ALL
SELECT c_custkey, h_bal AS bal, h_vf AS valid_from, CAST(100 AS BIGINT) AS valid_to
FROM j WHERE in_hist AND (NOT in_snap OR h_bal IS DISTINCT FROM s_bal)
UNION ALL
SELECT c_custkey, s_bal AS bal, CAST(100 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
FROM j WHERE in_snap AND (NOT in_hist OR h_bal IS DISTINCT FROM s_bal)""",

    "sync_cdc_diff" -> """
WITH old_snap AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 97 <> 3),
new_snap AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + CAST(10.0 AS DOUBLE)
              ELSE c_acctbal END AS c_acctbal,
         CASE WHEN c_custkey % 17 = 0 THEN 'REASSIGNED'
              ELSE c_mktsegment END AS c_mktsegment
  FROM customer WHERE c_custkey % 89 <> 5)
SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'I'
            WHEN n.c_custkey IS NULL THEN 'D'
            ELSE 'U' END AS op,
       CASE WHEN o.c_custkey IS NULL OR n.c_custkey IS NULL THEN ''
            ELSE concat_ws(',',
              CASE WHEN o.c_name IS DISTINCT FROM n.c_name THEN 'c_name' END,
              CASE WHEN o.c_nationkey IS DISTINCT FROM n.c_nationkey THEN 'c_nationkey' END,
              CASE WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'c_acctbal' END,
              CASE WHEN o.c_mktsegment IS DISTINCT FROM n.c_mktsegment THEN 'c_mktsegment' END)
       END AS changed_cols
FROM old_snap o FULL JOIN new_snap n ON o.c_custkey = n.c_custkey
WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
   OR o.c_name IS DISTINCT FROM n.c_name
   OR o.c_nationkey IS DISTINCT FROM n.c_nationkey
   OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
   OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment""",

    "sync_checksum_compare" -> {
      def rh(rel: String) = s"""
  SELECT CAST(CAST(md5_number_lower(concat_ws('|',
           coalesce(CAST(o_orderkey AS VARCHAR), ''),
           coalesce(CAST(o_custkey AS VARCHAR), ''),
           coalesce(o_orderstatus, ''),
           coalesce(o_orderpriority, ''),
           coalesce(CAST(o_orderdate AS VARCHAR), ''))) AS HUGEINT)
         % CAST(9223372036854775808 AS HUGEINT) AS BIGINT) AS rh
  FROM $rel"""
      s"""
WITH dst AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 613 = 0 THEN 'X-CORRUPTED'
              ELSE o_orderpriority END AS o_orderpriority,
         o_orderdate
  FROM orders WHERE o_orderkey % 997 <> 0),
sh AS (${rh("orders")}),
dh AS (${rh("dst")}),
sa AS (SELECT rh % 64 AS bucket, CAST(count(*) AS BIGINT) AS src_rows,
              bit_xor(rh) AS src_xor FROM sh GROUP BY 1),
da AS (SELECT rh % 64 AS bucket, CAST(count(*) AS BIGINT) AS dst_rows,
              bit_xor(rh) AS dst_xor FROM dh GROUP BY 1)
SELECT coalesce(sa.bucket, da.bucket) AS bucket,
       CAST(coalesce(src_rows, 0) AS BIGINT) AS src_rows,
       CAST(coalesce(dst_rows, 0) AS BIGINT) AS dst_rows,
       CAST(coalesce(src_xor, 0) AS BIGINT) AS src_xor,
       CAST(coalesce(dst_xor, 0) AS BIGINT) AS dst_xor,
       coalesce(src_rows, 0) = coalesce(dst_rows, 0)
         AND coalesce(src_xor, 0) = coalesce(dst_xor, 0) AS in_sync
FROM sa FULL JOIN da ON sa.bucket = da.bucket"""
    },

    // full recompute from the merged base — must equal the incremental
    // delete+insert maintenance exactly
    "sync_ivm_join" -> """
WITH b AS (SELECT c_custkey AS o_custkey, c_name, c_nationkey FROM customer),
a0 AS (SELECT o_orderkey, o_custkey, o_orderpriority FROM orders),
delta AS (
  SELECT o_orderkey, o_custkey, 'IVM-UPDATED' AS o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, 'IVM-NEW'
  FROM orders WHERE o_orderkey % 89 = 0),
merged AS (
  SELECT * FROM a0 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
  UNION ALL SELECT * FROM delta)
SELECT m.o_orderkey, m.o_custkey, m.o_orderpriority, b.c_name, b.c_nationkey
FROM merged m JOIN b USING (o_custkey)""",

    // Final published cut = the GOOD full refresh (the broken promote
    // rolled back); txn_log pins 4 transactions and a restored cut.
    "sync_promote_txn" -> """
SELECT 'dim_nation' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum FROM nation
UNION ALL
SELECT 'dim_region', CAST(count(*) AS BIGINT),
       CAST(sum(r_regionkey) AS BIGINT) FROM region
UNION ALL
SELECT 'dim_customer', CAST(count(*) AS BIGINT),
       CAST(sum(c_custkey) AS BIGINT) FROM customer WHERE c_custkey % 5 = 0
UNION ALL
SELECT 'txn_log', CAST(4 AS BIGINT), CAST(1 AS BIGINT)"""
  )
}
