package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Temporal

/** Remaining small operators (SURVEY.md §2.6 L1/L2, §2.7 U1): top-k with a
  * pinned order (the reference's bare LIMIT is nondeterministic — the
  * deterministic variant is the oracle-checkable one), limited projection
  * fetch (S7), and UNION ALL (U1). */
object MiscQueries {

  /** One date-partitioned copy of lineitem per (session, sfDir) — the
    * layout misc_dpp_join scans. Memoized: the write is setup, not the
    * operator under test, so bench warm-up + timed runs must not repeat
    * it. 84 ship months → 84 partitions (TPC-H 1992-1998). */
  private val dppFactMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private[graft] def dppFactPath(s: SparkSession, d: String): String =
    dppFactMemo.getOrElseUpdate((s.sparkContext.applicationId, d), {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_dpp_fact_${s.sparkContext.applicationId}_${d.replaceAll("[^A-Za-z0-9]", "_")}")
        .getAbsolutePath
      Tables.lineitem(s, d)
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(path)
      path
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.registry(
    // L1 + ordering: top-10 orders by value. Spark executes this as a
    // TakeOrderedAndProject (per-partition heap + driver merge, no sort).
    "misc_topk_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // Exact global quantiles WITHOUT a total sort: histogram-refinement
    // selection (operators/Selection) — a handful of aggregation passes,
    // never a range-partitioned sort, which is the only exact-percentile
    // shape that survives 100 TB. collectCap is set below sf0.01's row
    // count so the refinement loop itself is what the gate exercises.
    // The interpolation formula is textually mirrored in the oracle so
    // the double arithmetic is engine-identical.
    "misc_exact_quantiles" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("v"))
      val ps = graft.operators.Selection.quantileCont(
        li, "v", Seq(0.25, 0.5, 0.75, 0.99), collectCap = 10000)
      val n = Tables.lineitem(s, d).count()
      import s.implicits._
      Seq((n, ps(0), ps(1), ps(2), ps(3)))
        .toDF("n", "p25", "p50", "p75", "p99")
    }),

    // S7: projected, bounded fetch (selected_fields + max_results).
    "misc_limited_fetch" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_brand"), col("p_type"), col("p_partkey"))
        .orderBy(col("p_partkey").asc)
        .limit(10)),

    // ORC round trip, driver-gated (r8 shipped this spec-only): write an
    // orders projection to ORC, read it back, bucket-checksum the content
    // against the parquet original (DimSync.checksumCompare — 63-bit md5
    // row hashes, xor-folded per bucket). The oracle hashes the SAME
    // parquet rows on both sides of the compare, so any row/value the ORC
    // sink or scan loses or alters hash-fails the round. The write is
    // per-session-unique tmp (concurrent Verify/Bench/test JVMs never
    // clash) and re-executed per call — it IS the sink under test.
    "misc_orc_roundtrip" -> ((s, d) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_orderdate")
      val src = Tables.orders(s, d).select(cols.map(col): _*)
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_orc_rt_${s.sparkContext.applicationId}").getAbsolutePath
      graft.sources.Sources.writeOrc(src, dir)
      graft.sync.DimSync.checksumCompare(
        src, graft.sources.Sources.readOrc(s, dir), cols, buckets = 64)
    }),

    // Materialized-view rewrite, driver-gated: build + register a
    // (returnflag, linestatus) summary of lineitem, then aggregate over
    // the FACT PATH — MatViewRewriteRule silently swaps the scan for the
    // dims-cardinality summary (MatViewRewriteSpec pins that the swap
    // actually fires on this very query), and the oracle recomputes from
    // the raw fact in DuckDB, so the rewrite's EXACTNESS is what this row
    // gates. sum(l_quantity) is integer-valued (exact in double at any
    // order); price is min/max only (order-independent) — no
    // order-sensitive float sums cross the engine boundary.
    "misc_mv_rewrite" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      // the registered fact is a PRIVATE copy, never the shared harness
      // path — the registry is session-global, and hijacking
      // $d/lineitem.parquet would silently reroute every other eligible
      // lineitem aggregate in the registry run through this MV
      val tmp = System.getProperty("java.io.tmpdir")
      val appId = s.sparkContext.applicationId
      val factPath = new java.io.File(tmp, s"graft_mv_fact_$appId").getAbsolutePath
      val mvPath = new java.io.File(tmp, s"graft_mv_$appId").getAbsolutePath
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 3 === 0)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice"))
        .write.mode("overwrite").parquet(factPath)
      graft.operators.MatViews.create(s, factPath,
        dims = Seq("l_returnflag", "l_linestatus"),
        measures = Seq("l_quantity", "l_extendedprice"), mvPath = mvPath)
      s.read.parquet(factPath)
        .filter(col("l_returnflag") =!= "N")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
    }),

    // DYNAMIC PARTITION PRUNING, driver-gated: the fact is laid out
    // date-partitioned (ship_month directories), the dim side is a month
    // dimension DERIVED FROM A DIFFERENT RELATION (so no static filter
    // can reach the fact scan), and the dim's quarter filter prunes the
    // fact at RUNTIME via the broadcast-reusing dynamicpruning subquery —
    // the single most common real-cluster scan optimization (the
    // reference's watermark scan-avoidance generalized to layout: a
    // 100 TB date-partitioned fact reads 3 months, not 84). DppSpec pins
    // that the plan carries the dynamicpruning partition filter and that
    // exactly 3 of 84 partitions are read; this row gates the VALUES
    // against DuckDB's unpartitioned recompute.
    "misc_dpp_join" -> ((s, d) => {
      val fact = s.read.parquet(dppFactPath(s, d))
      val dim = Tables.orders(s, d)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
        .distinct()
        .withColumn("yr", substring(col("ship_month"), 1, 4))
        .withColumn("qtr",
          ((substring(col("ship_month"), 6, 2).cast("int") - 1) / 3 + 1).cast("int"))
      fact.join(broadcast(dim.filter(col("yr") === "1995" && col("qtr") === 1)
          .select(col("ship_month"))), Seq("ship_month"))
        .groupBy(col("ship_month"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
    }),

    // The IVM-MAINTAINED summary path under the oracle gate: the MV is
    // built over two thirds of the fact, the last third arrives as an
    // append-only delta folded in via MatViews.maintain (no fact
    // rescan), and the final aggregate — including a count(DISTINCT dim)
    // exercising the distinct-dims rewrite — reads the maintained
    // summary. DuckDB recomputes over the FULL fact, so any maintenance
    // drift (missed delta rows, wrong min/max merge, stale registration)
    // hash-fails the round.
    "misc_mv_maintained" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val tmp = System.getProperty("java.io.tmpdir")
      val appId = s.sparkContext.applicationId
      val factPath = new java.io.File(tmp, s"graft_mvm_fact_$appId").getAbsolutePath
      val mvPath = new java.io.File(tmp, s"graft_mvm_$appId").getAbsolutePath
      val dims = Seq("l_returnflag", "l_linestatus")
      val measures = Seq("l_quantity", "l_extendedprice")
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"), col("l_extendedprice"))
      li.filter(col("l_orderkey") % 3 < 2)
        .write.mode("overwrite").parquet(factPath)
      graft.operators.MatViews.create(s, factPath, dims, measures, mvPath)
      val delta = li.filter(col("l_orderkey") % 3 === 2)
      delta.write.mode("append").parquet(factPath)
      graft.operators.MatViews.maintain(s, factPath, mvPath, dims, measures, delta)
      s.read.parquet(factPath)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_linestatus")).as("n_status"),
          sum(col("l_quantity")).as("sum_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
    }),

    // The DSv2 connector under the oracle gate: rows are a pure function
    // of event_id, so DuckDB replays the generator from range() and any
    // drift in the connector's partitioning/pruning/pushdown (the range
    // filter here pushes into generation — SyntheticEventsSourceSpec
    // pins the plan) hash-fails the round. min/max/long-sum outputs only
    // (no order-sensitive double sums).
    "misc_dsv2_source" -> ((s, d) =>
      s.read.format("graft-events")
        .option("rows", 5000L).option("partitions", 8).load()
        .filter(col("event_id") >= 1000L && col("event_id") < 4000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_user"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))),

    // COMPLETE aggregate pushdown through the connector: the ungrouped
    // count/min/max over a pushed id range folds to O(1) arithmetic AT
    // THE SOURCE (SyntheticEventsAggScan — `.explain` shows
    // PushedAggregates; SyntheticEventsSourceSpec pins the plan and the
    // pushed==unpushed equality). DuckDB replays the same range.
    "misc_dsv2_agg_pushdown" -> ((s, d) =>
      s.read.format("graft-events")
        .option("rows", 5000L).option("partitions", 8).load()
        .filter(col("event_id") >= 1000L && col("event_id") < 4000L)
        .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))),

    // DSv2 WRITE path under the oracle gate: orders flows out through
    // the graft-sink connector's staged-commit protocol and back in
    // through its manifest-gated scan; DuckDB aggregates the original
    // table, so any row/value the sink loses or alters hash-fails.
    // Exact outputs only (long sum, double min/max — the codec
    // round-trips doubles via Double.toString exactly). The write is
    // per-session tmp and re-executed per call — it IS the sink under
    // test (the ORC round-trip discipline).
    "misc_dsv2_sink" -> ((s, d) => {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_sink_rt_${s.sparkContext.applicationId}").getAbsolutePath
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .write.format("graft-sink").mode("overwrite").save(path)
      s.read.format("graft-sink").load(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
    }),

    // Snapshot-versioned table format end-to-end (SnapshotTable):
    // append → append → overwrite → roll-forward rollback, then TIME
    // TRAVEL back through all four versions and aggregate each one.
    // Every version's (rows, exact cents) must equal DuckDB's replay of
    // the same orderkey%4 slices — gating that appends are cumulative,
    // overwrite replaces, rollback restores v2 bit-for-bit, and that a
    // version's read is STABLE after later commits (v1/v2 are re-read
    // last, after v3/v4 exist). Appends publish manifests only (no data
    // rewrite) — the O(batch) daily-commit shape a 100 TB fact needs.
    // Named refs under the oracle gate — the write-audit-publish flow:
    // tag the first commit, fork a branch, stage a second slice on it
    // (invisible to main), fast-forward, and read every state back.
    // 'ff_zero_rewrite' pins file identity (the fast-forward manifest
    // re-lists the branch's files — no data rewrite) and the
    // 'fastforward' action as 1/1 literals the oracle hard-codes.
    "misc_snapshot_refs" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snaprefs")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 3 === 0)) // v1 = main
      t.createTag("base", 1L)
      t.createBranch("wap")
      val b = t.branch("wap")
      b.commitAppend(o.filter(col("o_orderkey") % 3 === 1)) // staged
      val branchFiles = b.snapshot(b.latestVersion()).files.toSet
      val ff = t.fastForward("wap")
      val ffSnap = t.snapshot(ff)
      def leg(label: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
          .select(lit(label).as("label"), col("n_rows"), col("total_cents"))
      leg("tag_base", t.readTag("base"))
        .unionByName(leg("branch_staged", b.read()))
        .unionByName(leg("main_pre_publish", t.read(1L)))
        .unionByName(leg("main_after_ff", t.read(ff)))
        .unionByName(s.range(1).select(lit("ff_zero_rewrite").as("label"),
          lit(if (ffSnap.files.toSet == branchFiles) 1L else 0L).as("n_rows"),
          lit(if (ffSnap.action == "fastforward") 1L else 0L).as("total_cents")))
    }),

    "misc_snapshot_travel" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snap")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 4 === 0))
      val v2 = t.commitAppend(o.filter(col("o_orderkey") % 4 === 1))
      t.commitOverwrite(o.filter(col("o_orderkey") % 4 >= 2))
      t.rollbackTo(v2)
      t.history().map { snap =>
        t.read(snap.version)
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // Diverged-branch MERGE on the snapshot format (the WAP story's
    // last verb): main appends a third, a branch stages another third,
    // main diverges with the final third — fastForward would refuse —
    // then merge() replays the branch's post-fork appends onto the
    // moved main as one file-disjoint commit. Every version's
    // (rows, cents) replays in DuckDB from the key arithmetic, gating
    // that the merge is the union of both sides' work and that the
    // pre-merge versions stay readable.
    "misc_snapshot_merge" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapmerge")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 3 === 0))
      t.createBranch("wap")
      val b = t.branch("wap")
      b.commitAppend(o.filter(col("o_orderkey") % 3 === 1)) // staged
      t.commitAppend(o.filter(col("o_orderkey") % 3 === 2)) // main diverges
      val mv = t.merge("wap")
      t.history().map { snap =>
        t.read(snap.version)
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // Row-level DML on the snapshot format: append → MERGE-by-key
    // (doubling the cents of every 8th key) → DELETE WHERE, then read
    // back through the version history. Each version's (rows, cents)
    // replays exactly in DuckDB from the same key arithmetic — gating
    // that upsert updates matched keys in place, delete removes its
    // predicate's rows, and the pre-DML versions stay readable.
    "misc_snapshot_dml" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapdml")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 4 === 0).withColumn("w", lit(1L)))
      t.commitUpsert(
        o.filter(col("o_orderkey") % 8 === 0)
          .select(col("o_orderkey"), (col("cents") * 2).as("cents"), lit(2L).as("w")),
        uniqueKey = Seq("o_orderkey"), watermarkCol = "w")
      t.commitDelete(col("o_orderkey") % 8 === 4)
      t.history().map { snap =>
        t.read(snap.version)
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // Merge-on-read DELETE on the snapshot format: append → equality
    // delete (keys %8==0 — a MANIFEST-ONLY commit; readers anti-join
    // the key file) → re-append the deleted keys at doubled cents
    // (sequencing: the delete applies only to files committed before
    // it, so the re-insert SURVIVES) → a second stacked delete
    // (%16==4) → compact (materializes both deletes). Every version's
    // (rows, cents) replays in DuckDB from key arithmetic — gating the
    // anti-join semantics, the strict-sequence rule, delete stacking,
    // and compaction's content-neutrality. This is the DELETE shape
    // that holds at 100 TB: O(keys) commit, no table rewrite until
    // maintenance chooses to.
    "misc_snapshot_mor" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapmor")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 4 === 0))
      t.commitDeleteByKey(
        o.filter(col("o_orderkey") % 8 === 0).select("o_orderkey"), Seq("o_orderkey"))
      t.commitAppend(o.filter(col("o_orderkey") % 8 === 0)
        .select(col("o_orderkey"), (col("cents") * 2).as("cents")))
      t.commitDeleteByKey(
        o.filter(col("o_orderkey") % 16 === 4).select("o_orderkey"), Seq("o_orderkey"))
      t.compact(targetRowsPerFile = 1000000L)
      t.history().map { snap =>
        t.read(snap.version)
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // The raw incremental-read primitive under the oracle gate:
    // readAppendedBetween over three appends and a ROLLBACK — each
    // (from, to] window delivers exactly its delta's rows, the full
    // window is the whole table, and the rollback window is EMPTY
    // (re-listed files never re-deliver; emitted as a zero row via the
    // count aggregate). This is the consumer cost model a 100 TB fact
    // depends on: a day's catch-up reads the day's files, never the
    // table.
    "misc_snapshot_incremental" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapincr")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 3 === 0))
      val v2 = t.commitAppend(o.filter(col("o_orderkey") % 3 === 1))
      val v3 = t.commitAppend(o.filter(col("o_orderkey") % 3 === 2))
      val v4 = t.rollbackTo(v2)
      def win(tag: String, a: Long, b: Long): DataFrame =
        t.readAppendedBetween(a, b)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(tag).as("win"), col("n_rows"), col("total_cents"))
      win("v0_v2", 0L, v2)
        .unionByName(win("v2_v3", v2, v3))
        .unionByName(win("v0_v3", 0L, v3))
        .unionByName(win("v3_v4_rollback", v3, v4))
    }),

    // DESCRIBE HISTORY as SQL (snapshot_history TVF): the audit trail of
    // an append → MOR delete → re-append → compact sequence queried as a
    // relation — per-version action, EXACT row count (the MOR delete's
    // manifest-only commit must still report the post-delete count), and
    // the dataChange flag that tells feed consumers what to skip.
    "misc_snapshot_history" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val root = Tables.freshTmpDir(s, "graft_snaphist")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 4 === 0))
      t.commitDeleteByKey(
        o.filter(col("o_orderkey") % 8 === 0).select("o_orderkey"), Seq("o_orderkey"))
      t.commitAppend(o.filter(col("o_orderkey") % 8 === 0))
      t.compact(targetRowsPerFile = 1000000L)
      s.sql(s"""SELECT version, action, n_rows, data_change
                FROM snapshot_history('${root.getAbsolutePath}')""")
    }),

    // The files metadata table as SQL (snapshot_files TVF — Iceberg's
    // `db.tbl.files` idea): three single-file appends with known key
    // ranges, then a MOR equality delete. The TVF's per-file rows
    // aggregate to (content, commit_seq, n_files, min/max band key,
    // null count) — all replayable in DuckDB because BIGINT band keys
    // are the values themselves and repartition(1) pins one file per
    // commit. The delete leg pins the GROUP's presence (content/seq);
    // its file count is a layout detail the spec pins instead.
    "misc_snapshot_files" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val root = Tables.freshTmpDir(s, "graft_snapfiles")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath,
        statsCols = Seq("o_orderkey"))
      val o = SharedFrames.ordersCents(s, d)
      (0 to 2).foreach(i =>
        t.commitAppend(o.filter(col("o_orderkey") % 3 === i).repartition(1)))
      t.commitDeleteByKey(
        o.filter(col("o_orderkey") % 30 === 0).select("o_orderkey"),
        Seq("o_orderkey"))
      s.sql(s"""SELECT content, commit_seq,
                       CASE WHEN content = 'data' THEN count(*) END AS n_files,
                       min(element_at(min_key, 'o_orderkey')) AS min_k,
                       max(element_at(max_key, 'o_orderkey')) AS max_k,
                       sum(element_at(null_count, 'o_orderkey')) AS n_nulls
                FROM snapshot_files('${root.getAbsolutePath}')
                GROUP BY content, commit_seq""")
    }),

    // TIMESTAMP AS OF on the snapshot format: two commits bracketing a
    // captured wall-clock instant (10 ms guard sleeps make the commit
    // timestamps strictly straddle it), then readAsOf resolves the
    // instant to v1 and now to v2 — content replayed in DuckDB. The
    // timestamps themselves never reach the output (nondeterministic);
    // only the version resolution they drive is gated.
    "misc_snapshot_asof" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapasof")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 2 === 0))
      Thread.sleep(10)
      val instant = System.currentTimeMillis()
      Thread.sleep(10)
      t.commitAppend(o.filter(col("o_orderkey") % 2 === 1))
      Seq(("as_of_instant", t.readAsOf(instant)),
          ("as_of_now", t.readAsOf(System.currentTimeMillis()))).map {
        case (tag, df) =>
          df.agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
            .select(lit(tag).as("read"), col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // Atomic range replacement (Delta's replaceWhere) on the snapshot
    // format: thirds land range-clustered (one file each), then the
    // MIDDLE third is replaced by its even keys at doubled cents in ONE
    // commit. With clustered layout the replace is file-surgical: the
    // outer thirds are re-listed untouched (no rewrite — pinned via
    // file-name survival count in the output), so a daily partition
    // reload costs O(batch), not O(table). Each version's (rows, cents)
    // replays in DuckDB.
    "misc_snapshot_replace" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snaprepl")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath,
        statsCols = Seq("o_orderkey"))
      val o = SharedFrames.ordersCents(s, d)
      val m = o.agg(max(col("o_orderkey"))).head.getLong(0)
      val (t1, t2) = ((m + 1) / 3, 2 * (m + 1) / 3)
      t.commitAppend(o.filter(col("o_orderkey") < t1).repartition(1))
      t.commitAppend(o.filter(col("o_orderkey") >= t1 &&
        col("o_orderkey") < t2).repartition(1))
      val v3 = t.commitAppend(o.filter(col("o_orderkey") >= t2).repartition(1))
      val beforeFiles = t.snapshot(v3).files
      val v4 = t.commitReplaceWhere(
        o.filter(col("o_orderkey") >= t1 && col("o_orderkey") < t2 &&
          col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), (col("cents") * 2).as("cents")),
        t1, t2 - 1)
      val untouched = beforeFiles.count(t.snapshot(v4).files.contains)
      t.history().map { snap =>
        t.read(snap.version)
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            lit(untouched).as("files_untouched"), col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // SQL time travel via the snapshot_at TVF (injectTableFunction):
    // two appends, then pure-SQL reads of v1, v2, and the default
    // (latest) version — `VERSION AS OF` as a table function, resolving
    // to the manifest-planned (and MOR-aware) read. The MOR delete
    // before the final read proves SQL sees the anti-joined view.
    "misc_snapshot_sql" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val root = Tables.freshTmpDir(s, "graft_snapsql")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 2 === 0))
      t.commitAppend(o.filter(col("o_orderkey") % 2 === 1))
      t.commitDeleteByKey(
        o.filter(col("o_orderkey") % 6 === 3).select("o_orderkey"), Seq("o_orderkey"))
      val p = root.getAbsolutePath
      s.sql(s"""
        SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
               sum(cents) AS total_cents FROM snapshot_at('$p', 1)
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*), sum(cents) FROM snapshot_at('$p', 2)
        UNION ALL
        SELECT CAST(3 AS BIGINT), count(*), sum(cents) FROM snapshot_at('$p')""")
    }),

    // Change data feed on the snapshot format: append → MOR delete →
    // upsert of previously-DELETED keys, then readChangeFeed over the
    // whole range aggregated by (version, change type). Gates the three
    // CDF derivations — appends as manifest-only inserts, MOR deletes
    // as pre-image retractions (one pruned scan), rewrites as exceptAll
    // diffs — and that a deleted-then-upserted key surfaces as a fresh
    // insert, not an update of a ghost row.
    "misc_snapshot_cdf" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapcdf")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 4 === 0).withColumn("w", lit(1L)))
      t.commitDeleteByKey(
        o.filter(col("o_orderkey") % 8 === 0).select("o_orderkey"), Seq("o_orderkey"))
      t.commitUpsert(
        o.filter(col("o_orderkey") % 16 === 0)
          .select(col("o_orderkey"), (col("cents") * 3).as("cents"), lit(2L).as("w")),
        uniqueKey = Seq("o_orderkey"), watermarkCol = "w")
      t.readChangeFeed(0L, t.latestVersion())
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
    }),

    // The change feed as SQL — snapshot_changes(root, from [, to])
    // (Delta's table_changes as a TVF): two appends and a MOR delete
    // replayed by version/type through plain SQL; the second leg reads
    // a PARTIAL window (from v1, `to` defaulting to the tip), the
    // incremental-consumer shape ("give me everything since my last
    // checkpoint") without the streaming source.
    "misc_snapshot_changes_tvf" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val root = Tables.freshTmpDir(s, "graft_snapchtvf").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 2 === 0))
      t.commitAppend(o.filter(col("o_orderkey") % 2 === 1))
      t.commitDeleteByKey(
        o.filter(col("o_orderkey") % 6 === 3).select("o_orderkey"), Seq("o_orderkey"))
      s.sql(s"""
        SELECT 'full' AS leg, _commit_version AS version,
               _change_type AS change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM snapshot_changes('$root', 0)
        GROUP BY _commit_version, _change_type
        UNION ALL
        SELECT 'since_v1', _commit_version, _change_type,
               CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        FROM snapshot_changes('$root', 1)
        GROUP BY _commit_version, _change_type""")
    }),

    // Manifest min/max data skipping on the snapshot format: three
    // commits land disjoint orderkey thirds as one file each, then a
    // range lookup inside the middle third PLANS exactly one of the
    // three files (pinned in the output row, zorder-pruning precedent)
    // while the row content replays exactly in DuckDB. The skipping
    // index is the manifest — a point lookup on a 100 TB fact opens the
    // files that can match, not every footer.
    // Multi-column Z-ORDER compaction under the oracle gate: shuffled
    // appends (full-range bands, nothing prunes), then one
    // compact(clusterByCols = x,y) — after which selective range reads
    // on EITHER clustering column plan fewer files than the table holds
    // (the pruned_flag 1-literals; exact counts are partitioner-shaped
    // and pinned in LayoutSpec) while both reads replay exactly.
    "misc_snapshot_zorder" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapzorder")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath,
        statsCols = Seq("xk", "yk"))
      val o = Tables.orders(s, d).select(
        (col("o_orderkey") % 3).as("slice"),
        (col("o_orderkey") % 97).as("xk"),
        (col("o_custkey") % 89).as("yk"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      (0 to 2).foreach(k =>
        t.commitAppend(o.filter(col("slice") === k).drop("slice").repartition(4)))
      val rows = t.snapshot(t.latestVersion()).rows
      t.compact(math.max(1L, rows / 16), Seq("xk", "yk"))
      val total = t.read().inputFiles.length
      def leg(dim: String, q: org.apache.spark.sql.DataFrame) =
        q.agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
          .select(lit(dim).as("dim"),
            lit(if (q.inputFiles.length < total) 1L else 0L).as("pruned_flag"),
            col("n_rows"), col("total_cents"))
      leg("xk", t.readRange("xk", 10L, 20L, -1L))
        .unionByName(leg("yk", t.readRange("yk", 5L, 15L, -1L)))
    }),

    // Per-file point-lookup BLOOM index under the oracle gate: four
    // commits with residue-interleaved order keys (every file's band
    // spans the whole key range — bands alone prune NOTHING, proven by
    // the spec), then an equality lookup plans fewer files than the
    // table holds (pruned_flag) and replays exactly; a key outside the
    // table plans zero rows. Keyspace capped below 6000 so every file
    // holds well under the filter's 2048-item budget at ANY sf — the
    // false-positive probability of the flag is ~1e-14, not sf-shaped.
    "misc_snapshot_bloom" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapbloom")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath,
        statsCols = Seq("o_orderkey"))
      t.setTableProperties(Map("write.bloom.cols" -> "o_orderkey"))
      val o = Tables.orders(s, d).filter(col("o_orderkey") < 6000)
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      (0 to 3).foreach(k =>
        t.commitAppend(o.filter(col("o_orderkey") % 4 === k).repartition(1)))
      val total = t.read().inputFiles.length
      val mk = o.agg(max(col("o_orderkey"))).head.getLong(0)
      val hit = t.readRange("o_orderkey", mk, mk, -1L)
      val miss = t.readRange("o_orderkey", mk + 1, mk + 1, -1L)
      def leg(name: String, q: org.apache.spark.sql.DataFrame) =
        q.agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(name).as("leg"),
            lit(if (q.inputFiles.length < total) 1L else 0L).as("pruned_flag"),
            col("n_rows"), col("total_cents"))
      leg("hit", hit).unionByName(leg("miss", miss))
    }),

    "misc_snapshot_skipping" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapskip")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath,
        statsCols = Seq("o_orderkey"))
      val o = SharedFrames.ordersCents(s, d)
      val m = o.agg(max(col("o_orderkey"))).head.getLong(0)
      val (t1, t2) = ((m + 1) / 3, 2 * (m + 1) / 3)
      t.commitAppend(o.filter(col("o_orderkey") < t1).repartition(1))
      t.commitAppend(o.filter(col("o_orderkey") >= t1 &&
        col("o_orderkey") < t2).repartition(1))
      t.commitAppend(o.filter(col("o_orderkey") >= t2).repartition(1))
      val pruned = t.readRange(t1, t2 - 1)
      pruned.agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(t.read().inputFiles.length).as("files_total"),
          lit(pruned.inputFiles.length).as("files_planned"),
          col("n_rows"), col("total_cents"))
    }),

    // The batch DSv2 connector under the oracle gate:
    // spark.read.format("graft-snapshot") with VERSION AS OF options and
    // the default (latest) view — resolved through the manifest-planned,
    // MOR-aware scan, so a non-Scala reader sees exactly what the Scala
    // API and the snapshot_at TVF see. Four legs: two pinned versions,
    // the latest view THROUGH a MOR delete (no rewrite happened — the
    // connector must anti-join), and a stats-band range read whose
    // filter prunes files off the manifest before Spark re-evaluates it
    // (the pruning itself is pinned in SnapshotConnectorSpec; the values
    // replay here).
    "misc_snapshot_batch_read" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapbatch").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root,
        statsCols = Seq("o_orderkey"))
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 2 === 0))
      t.commitAppend(o.filter(col("o_orderkey") % 2 === 1))
      t.commitDeleteByKey(
        o.filter(col("o_orderkey") % 6 === 3).select("o_orderkey"), Seq("o_orderkey"))
      val m = o.agg(max(col("o_orderkey"))).head.getLong(0)
      val (t1, t2) = ((m + 1) / 3, 2 * (m + 1) / 3)
      def rd(opts: (String, String)*): DataFrame =
        opts.foldLeft(s.read.format("graft-snapshot"))(
          (r, kv) => r.option(kv._1, kv._2)).load(root)
      Seq(
        ("v1", rd("versionAsOf" -> "1")),
        ("v2", rd("versionAsOf" -> "2")),
        ("latest", rd()),
        ("range", rd().filter(col("o_orderkey").between(t1, t2 - 1)))
      ).map { case (leg, df) =>
        df.agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
          .select(lit(leg).as("leg"), col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // The V2 CATALOG surface under the oracle gate: a snapshot table
    // driven purely through SQL identifiers — CREATE TABLE (with the
    // stats_cols skipping index as a TBLPROPERTY), two INSERT INTO
    // SELECTs (each a distributed DSv2 write: executors write parquet +
    // fold stats inline, the driver publishes the manifest), then SQL
    // time travel with `VERSION AS OF` against the catalog name. v1 is
    // the CREATE's empty snapshot, so the inserts are versions 2 and 3.
    "misc_catalog_sql" -> ((s, d) => {
      Tables.freshCatalog(s, "gsql", "graft_catsql")
      SharedFrames.ordersCents(s, d)
        .createOrReplaceTempView("catsql_src")
      s.sql("CREATE TABLE gsql.db.orders_cat (o_orderkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_orderkey')")
      s.sql("INSERT INTO gsql.db.orders_cat " +
        "SELECT * FROM catsql_src WHERE o_orderkey % 2 = 0")
      s.sql("INSERT INTO gsql.db.orders_cat " +
        "SELECT * FROM catsql_src WHERE o_orderkey % 2 = 1")
      s.sql("""
        SELECT 'v2' AS leg, count(*) AS n_rows, sum(cents) AS total_cents
        FROM gsql.db.orders_cat VERSION AS OF 2
        UNION ALL
        SELECT 'v3', count(*), sum(cents) FROM gsql.db.orders_cat VERSION AS OF 3
        UNION ALL
        SELECT 'latest', count(*), sum(cents) FROM gsql.db.orders_cat""")
    }),

    // Manifest-served COUNT pushdown on the DSv2 read: count(*) and
    // count(col) fold to the snapshot's maintained row count (and
    // per-file null counts) — zero files opened, a 100 TB table answers
    // in one manifest parse. Legs: pre-delete counts (both pushed),
    // post-MOR-delete count(*) (still pushed — rows are maintained
    // through deletes) and count(col) (falls back to the real scan,
    // null counts can't see deleted rows; value must still be exact).
    // The plan shapes are pinned in SnapshotWriteSpec; values replay
    // here.
    "misc_snapshot_count" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapcount").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("o_orderkey"))
      val o = Tables.orders(s, d).select(
        when(col("o_orderkey") % 7 === 0, lit(null).cast("bigint"))
          .otherwise(col("o_orderkey")).as("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      t.commitAppend(o)
      def rd() = s.read.format("graft-snapshot").load(root)
      val pre = rd().agg(count(lit(1)).as("n"), count(col("o_orderkey")).as("nk"))
      t.commitDeleteByKey(
        o.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"), Seq("o_orderkey"))
      val post = rd().agg(count(lit(1)).as("n"), count(col("o_orderkey")).as("nk"))
      pre.select(lit("pre_delete").as("leg"), col("n"), col("nk"))
        .unionByName(post.select(lit("post_delete").as("leg"), col("n"), col("nk")))
    }),

    // Manifest-served MIN/MAX: per-file bands are exact write-time
    // values, so min-of-mins/max-of-maxs answers `min(k)`/`max(k)` on
    // a BIGINT stats column with ZERO data read (SELECT max(id) on a
    // 100 TB table = one manifest). The post-delete leg pins the
    // decline: a MOR delete may have removed the extremum, so the
    // same aggregate must fall back to a real scan — if the band were
    // (wrongly) still served, the deleted %3 max would leak back.
    "misc_snapshot_minmax" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapminmax").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("o_orderkey"))
      val o = Tables.orders(s, d).select(
        when(col("o_orderkey") % 7 === 0, lit(null).cast("bigint"))
          .otherwise(col("o_orderkey")).as("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      t.commitAppend(o)
      def rd() = s.read.format("graft-snapshot").load(root)
      def legs(df: org.apache.spark.sql.DataFrame) = df.agg(
        count(lit(1)).as("n"),
        min(col("o_orderkey")).as("mn"), max(col("o_orderkey")).as("mx"))
      val pre = legs(rd())
      t.commitDeleteByKey(
        o.filter(col("o_orderkey") % 3 === 0).select("o_orderkey"), Seq("o_orderkey"))
      val post = legs(rd())
      pre.select(lit("pre_delete").as("leg"), col("n"), col("mn"), col("mx"))
        .unionByName(post.select(lit("post_delete").as("leg"), col("n"), col("mn"), col("mx")))
    }),

    // Typed (DATE) stats bands — the daily-reload pruning shape the
    // reference's models are keyed on (fb_meta_ads_transformed.sql:6,
    // mms_lb_staged.sql:1 both date-keyed): a date-clustered snapshot
    // table plans 1 of 3 files for a mid-range date predicate
    // (days-since-epoch bands via the shared BandKeys mapping, pinned
    // in files_planned), and the row values replay in DuckDB.
    "misc_snapshot_date_skipping" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapdateskip")
      val t = new graft.sources.SnapshotTable(s, root.getAbsolutePath,
        statsCols = Seq("day"))
      val o = SharedFrames.ordersDayCents(s, d)
      val (d1, d2) = (java.sql.Date.valueOf("1997-01-01"),
        java.sql.Date.valueOf("1999-01-01"))
      t.commitAppend(o.filter(col("day") < lit(d1)).repartition(1))
      t.commitAppend(o.filter(col("day") >= lit(d1) && col("day") < lit(d2))
        .repartition(1))
      t.commitAppend(o.filter(col("day") >= lit(d2)).repartition(1))
      val pruned = t.readRange("day", d1.toLocalDate.toEpochDay,
        d2.toLocalDate.toEpochDay - 1, -1L)
      pruned.agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(t.read().inputFiles.length).as("files_total"),
          lit(pruned.inputFiles.length).as("files_planned"),
          col("n_rows"), col("total_cents"))
    }),

    // DISJUNCTIVE file skipping — the `day < lo OR day >= hi` time-union
    // (retention sweep + fresh probe in one read) that conjunctive bands
    // cannot serve: the OR's hull covers every file, but per-branch
    // pruning plans exactly the two edge files of three. Engine leg:
    // readRanges (union-of-ranges manifest planning, files pinned via
    // inputFiles). DSv2 leg: the same predicate as a real Spark filter —
    // pushFilters keeps the OR, orAltsOf derives the branch bands, and
    // plannedFiles pins that the connector scan plans the same two files
    // (values replayed by DuckDB either way).
    "misc_snapshot_or_skipping" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snaporskip").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("day"))
      val o = SharedFrames.ordersDayCents(s, d)
      val (c1, c2) = (java.sql.Date.valueOf("1997-01-01"),
        java.sql.Date.valueOf("1999-01-01"))
      t.commitAppend(o.filter(col("day") < lit(c1)).repartition(1))
      t.commitAppend(o.filter(col("day") >= lit(c1) && col("day") < lit(c2))
        .repartition(1))
      t.commitAppend(o.filter(col("day") >= lit(c2)).repartition(1))
      val total = t.read().inputFiles.length
      val (loD, hiD) = (java.sql.Date.valueOf("1996-01-01"),
        java.sql.Date.valueOf("2000-01-01"))
      val engine = t.readRanges("day", Seq(
        (Long.MinValue, loD.toLocalDate.toEpochDay - 1),
        (hiD.toLocalDate.toEpochDay, Long.MaxValue)))
      val dsv2 = s.read.format("graft-snapshot").load(root)
        .filter(col("day") < lit(loD) || col("day") >= lit(hiD))
      // the connector's planned-file evidence: push the OR through the
      // builder exactly as Spark does and count what the scan plans
      val builder = new graft.sources.GraftSnapshotScanBuilder(
        s, t, t.latestVersion(), t.read().schema)
      builder.pushFilters(Array(org.apache.spark.sql.sources.Or(
        org.apache.spark.sql.sources.LessThan("day", loD),
        org.apache.spark.sql.sources.GreaterThanOrEqual("day", hiD))))
      val dsv2Planned = builder.build()
        .asInstanceOf[graft.sources.GraftSnapshotScan].plannedFiles.length
      def leg(name: String, q: DataFrame, planned: Int) =
        q.agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(name).as("leg"), lit(total).as("files_total"),
            lit(planned).as("files_planned"), col("n_rows"), col("total_cents"))
      leg("engine", engine, engine.inputFiles.length)
        .unionByName(leg("dsv2", dsv2, dsv2Planned))
    }),

    // Filtered COUNT from the manifest's per-file row counts: the
    // "how many events in this window" probe on a date-clustered table
    // answers from metadata, scanning ONLY straddling files — the
    // aligned leg scans zero files, the straddling leg scans exactly
    // the two boundary files, and both counts replay in DuckDB.
    "misc_snapshot_count_range" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapcountrange").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("day"))
      val o = Tables.orders(s, d).select(to_date(col("o_orderdate")).as("day"))
      val (c1, c2) = (java.sql.Date.valueOf("1997-01-01"),
        java.sql.Date.valueOf("1999-01-01"))
      t.commitAppend(o.filter(col("day") < lit(c1)).repartition(1))
      t.commitAppend(o.filter(col("day") >= lit(c1) && col("day") < lit(c2))
        .repartition(1))
      t.commitAppend(o.filter(col("day") >= lit(c2)).repartition(1))
      def day(x: String) = java.sql.Date.valueOf(x).toLocalDate.toEpochDay
      // aligned exactly to the middle file's band: metadata-only
      val (na, scanA) = t.countRangeDetailed("day",
        day("1997-01-01"), day("1999-01-01") - 1, -1L)
      // straddles both edges: scans exactly the two boundary files
      val (ns, scanS) = t.countRangeDetailed("day",
        day("1996-06-01"), day("1999-06-30"), -1L)
      import s.implicits._
      Seq(("aligned", scanA.length, na), ("straddle", scanS.length, ns))
        .toDF("leg", "files_scanned", "n_rows")
        .select(col("leg"), col("files_scanned").cast("int").as("files_scanned"),
          col("n_rows"))
    }),

    // Join-driven dynamic FILE skipping — the DPP idea applied to the
    // manifest: `fact ⋈ selective-dim` resolves the dim's bounded key
    // set first, then plans the fact read through per-key band pruning,
    // so fact files provably holding no dim key are never opened.
    // Fact: orders custkey-clustered into 4 range files; dim: customers
    // in the low/high eighths of the key space. Points leg plans exactly
    // the 2 edge files; the hull fallback (maxKeys=0 forces the
    // bounded-collect cap) spans the key space and plans all 4 — both
    // joins replay identically in DuckDB (pruning is a superset, the
    // join re-applies the exact predicate).
    "misc_snapshot_join_skipping" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapjoinskip").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("o_custkey"))
      val o = SharedFrames.ordersCustCents(s, d)
      val m = o.agg(max(col("o_custkey"))).head.getLong(0)
      val qs = Seq(0L, (m + 1) / 4, (m + 1) / 2, 3 * (m + 1) / 4, m + 1)
      (0 until 4).foreach(i => t.commitAppend(
        o.filter(col("o_custkey") >= qs(i) && col("o_custkey") < qs(i + 1))
          .repartition(1)))
      val total = t.read().inputFiles.length
      val dim = Tables.customer(s, d)
        .filter(col("c_custkey") <= m / 8 || col("c_custkey") > m - m / 8)
        .select(col("c_custkey"))
      val points = graft.operators.JoinSkipping.prunedFact(
        t, "o_custkey", dim, "c_custkey")
      val hull = graft.operators.JoinSkipping.prunedFact(
        t, "o_custkey", dim, "c_custkey", maxKeys = 0)
      def leg(name: String, fact: DataFrame) =
        fact.join(dim, col("o_custkey") === col("c_custkey"))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(name).as("leg"), lit(total).as("files_total"),
            lit(fact.inputFiles.length).as("files_planned"),
            col("n_rows"), col("total_cents"))
      leg("points", points).unionByName(leg("hull", hull))
    }),

    // The unified maintenance entrypoint under the oracle gate: a
    // mixed-debris table (one big + three small files + two MOR delete
    // commits) drains to clean via repeated maintain(), each step the
    // cheapest applicable — compact_deletes (delete bytes are tiny)
    // before compact_files before none — with table CONTENTS invariant
    // across every step. The per-step totals replay in DuckDB.
    "misc_catalog_maintain" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_catmaint").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("day"))
      val o = SharedFrames.ordersDayCents(s, d)
      val cut = java.sql.Date.valueOf("1998-01-01")
      t.commitAppend(o.filter(col("day") < lit(cut)).repartition(1)) // big
      Seq("1998-01-01", "1998-06-01", "1999-01-01").zip(
        Seq("1998-06-01", "1999-01-01", "9999-01-01")).foreach { case (lo, hi) =>
        t.commitAppend(o.filter(col("day") >= lit(java.sql.Date.valueOf(lo)) &&
          col("day") < lit(java.sql.Date.valueOf(hi))).repartition(1)) // small
      }
      t.commitDeleteByKey(s.sql("SELECT DATE'1995-03-15' AS day"), Seq("day"))
      t.commitDeleteByKey(s.sql("SELECT DATE'1996-07-04' AS day"), Seq("day"))
      val policy = graft.sources.MaintainPolicy(deleteFilesAt = 2,
        smallFilesAt = 3, smallFileBytes = 64L * 1024 * 1024, overlapAt = 99)
      val steps = (Iterator.continually(t.maintain(policy))
        .takeWhile(_.action != "none").map(_.action).toVector :+ "none")
      steps.zipWithIndex.map { case (a, i) =>
        t.read().agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(i + 1).as("step"), lit(a).as("action"),
            col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // AUTOMATIC join-driven file skipping — the same DPP-on-the-manifest
    // idea as misc_snapshot_join_skipping, but with NO API call: a plain
    // spark.sql fact⋈dim over the catalog fires JoinSkippingRule, which
    // resolves the dim's bounded key set at planning time and folds it
    // into the DSv2 scan as a point lane. files_pruned pins that the
    // optimized plan covers strictly fewer fact files than the manifest
    // holds; the join values replay identically in DuckDB (pruning is a
    // superset — the join re-applies the exact predicate).
    "misc_snapshot_join_auto" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val wh = Tables.freshCatalog(s, "gja", "graft_snapjoinauto")
      s.sql("CREATE TABLE gja.db.fact (o_custkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_custkey')")
      val o = SharedFrames.ordersCustCents(s, d)
      val m = o.agg(max(col("o_custkey"))).head.getLong(0)
      val qs = Seq(0L, (m + 1) / 4, (m + 1) / 2, 3 * (m + 1) / 4, m + 1)
      // quartile-clustered files through the engine handle (shared
      // manifest with the catalog table): band-disjoint by construction
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/fact",
        statsCols = Seq("o_custkey"))
      (0 until 4).foreach(i => t.commitAppend(
        o.filter(col("o_custkey") >= qs(i) && col("o_custkey") < qs(i + 1))
          .repartition(1)))
      Tables.customer(s, d)
        .filter(col("c_custkey") <= m / 8 || col("c_custkey") > m - m / 8)
        .select(col("c_custkey"))
        .createOrReplaceTempView("joinauto_dim")
      val q = s.sql("SELECT f.o_custkey, f.cents FROM gja.db.fact f " +
        "JOIN joinauto_dim d ON f.o_custkey = d.c_custkey")
      val scan = q.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper] =>
          r.scan.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper]
            .v1Scan.asInstanceOf[graft.sources.GraftSnapshotScan]
      }
      val total = t.snapshot(t.latestVersion()).files.length
      val planned = scan.map(_.plannedFiles.length).getOrElse(total)
      q.agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
        .select(lit(planned < total && planned >= 1).as("files_pruned"),
          col("n_rows"), col("total_cents"))
    }),

    // Per-file NDV sketches in the manifest (mergeable HLL over band
    // keys — Iceberg's puffin-ndv idea): the distinct-count estimate is
    // served from METADATA (zero files opened) and must land within the
    // lgK=9 error envelope of the exact answer, full-table and
    // post-pruning both. The exact counts replay in DuckDB; the
    // estimate-within-bound flags pin the sketch quality.
    "misc_snapshot_ndv" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapndv").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("day"))
      val o = Tables.orders(s, d).select(to_date(col("o_orderdate")).as("day"),
        col("o_custkey"))
      val (c1, c2) = (java.sql.Date.valueOf("1997-01-01"),
        java.sql.Date.valueOf("1999-01-01"))
      t.commitAppend(o.filter(col("day") < lit(c1)).repartition(1))
      t.commitAppend(o.filter(col("day") >= lit(c1) && col("day") < lit(c2))
        .repartition(1))
      t.commitAppend(o.filter(col("day") >= lit(c2)).repartition(1))
      def day(x: String) = java.sql.Date.valueOf(x).toLocalDate.toEpochDay
      val est = t.estimateDistinct("day")
      val estPruned = t.plannedColumnNdvs(t.admitted(graft.sources.Pruning(bands =
        Map("day" -> ((day("1997-01-01"), day("1999-01-01") - 1)))), -1L)).get("day")
      def leg(name: String, filter: org.apache.spark.sql.Column,
              estimate: Option[Long]) = {
        val exact = t.read().filter(filter).agg(
          countDistinct(col("day")).as("n_distinct"))
        exact.select(lit(name).as("leg"), col("n_distinct"),
          lit(estimate.isDefined).as("estimated"),
          (col("n_distinct") * 80 <= lit(estimate.getOrElse(0L)) * 100 &&
            col("n_distinct") * 120 >= lit(estimate.getOrElse(0L)) * 100)
            .as("estimate_close"))
      }
      leg("full", lit(true), est)
        .unionByName(leg("pruned",
          col("day") >= lit(c1) && col("day") < lit(c2), estPruned))
    }),

    // INGEST-VOLUME anomaly detection over the table's OWN history: a
    // data platform watches rows-per-commit; five modulus-class "daily"
    // loads then a full-reload spike, and a commit whose added rows
    // exceed 3x the mean (exact integer cross-multiplication, no
    // doubles) is flagged. snapshot_history is the input relation —
    // the format's audit log doing the monitoring work.
    "misc_history_anomaly" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val root = Tables.freshTmpDir(s, "graft_histanom").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("k"))
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"))
      (0 until 5).foreach(m => t.commitAppend(o.filter(col("k") % 20 === m)))
      t.commitAppend(o) // the anomalous full load
      val w = org.apache.spark.sql.expressions.Window.orderBy("version")
      val h = s.sql(s"SELECT version, n_rows FROM snapshot_history('$root')")
        .select(col("version"),
          (col("n_rows") - coalesce(lag("n_rows", 1).over(w), lit(0L)))
            .as("added"))
      val tot = broadcast(h.agg(sum(col("added")).as("t"),
        count(lit(1)).as("c")))
      h.crossJoin(tot).select(col("version"), col("added"),
        (col("added") * col("c") > lit(3L) * col("t")).as("anomalous"))
    }),

    // The stats surface as ONE SQL call: snapshot_stats(root) — ANALYZE
    // without a scan, served from one manifest parse. Exact bounds and
    // null census must equal DuckDB's own aggregates; the NDV estimate
    // is pinned within the sketch envelope (ndv_close), never exact.
    "misc_snapshot_stats_tvf" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val root = Tables.freshTmpDir(s, "graft_snapstats").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root,
        statsCols = Seq("k", "cents", "tag"))
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 10 === 0, lit(null).cast("bigint"))
          .otherwise(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("cents"),
        concat(lit("cat_"), (col("o_orderkey") % 7).cast("string")).as("tag"))
      t.commitAppend(o)
      val exact = o.agg(countDistinct(col("k")).as("dk"),
        countDistinct(col("cents")).as("dc"),
        countDistinct(col("tag")).as("dt")).head
      // the STRING row pins BOTH bound kinds: min/max_key are the
      // 8-byte-prefix band keys (the oracle pins the documented key
      // encoding as a format contract) and min/max_value the exact
      // typed bounds the manifest records for lossy-key columns
      s.sql(s"SELECT * FROM snapshot_stats('$root')")
        .withColumn("exact_distinct",
          when(col("column") === "k", lit(exact.getLong(0)))
            .when(col("column") === "cents", lit(exact.getLong(1)))
            .otherwise(lit(exact.getLong(2))))
        .select(col("column").as("col_name"), col("n_rows"), col("min_key"),
          col("max_key"), col("min_value"), col("max_value"),
          col("null_count"),
          (col("ndv_est") * 100 >= col("exact_distinct") * 80 &&
            col("ndv_est") * 100 <= col("exact_distinct") * 120)
            .as("ndv_close"))
    }),

    // Manifest-fed CBO column statistics: the DSv2 scan reports EXACT
    // min/max (band keys typed back — injective for integrals) and the
    // exact null census straight from the manifest vectors, zero files
    // opened; with CBO on they land in the logical plan's
    // attributeStats, and must equal DuckDB's own min/max/null-count
    // over the same rows. The V2 path, not a side API.
    "misc_snapshot_cbo_bounds" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      Tables.freshCatalog(s, "gcbs", "graft_cbobounds")
      s.sql("CREATE TABLE gcbs.db.t (k BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k,cents')")
      Tables.orders(s, d).select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 10 === 0, lit(null).cast("bigint"))
          .otherwise(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
        .createOrReplaceTempView("cbobounds_src")
      s.sql("INSERT INTO gcbs.db.t SELECT * FROM cbobounds_src")
      s.conf.set("spark.sql.cbo.enabled", "true")
      try {
        val st = s.table("gcbs.db.t").queryExecution.optimizedPlan.stats
        def of(name: String) = st.attributeStats.find(_._1.name == name).get._2
        val (k, c) = (of("k"), of("cents"))
        s.range(1).select(
          lit(k.min.get.asInstanceOf[Long]).as("k_min"),
          lit(k.max.get.asInstanceOf[Long]).as("k_max"),
          lit(k.nullCount.get.toLong).as("k_nulls"),
          lit(c.min.get.asInstanceOf[Long]).as("cents_min"),
          lit(c.max.get.asInstanceOf[Long]).as("cents_max"),
          lit(c.nullCount.get.toLong).as("cents_nulls"))
      } finally s.conf.unset("spark.sql.cbo.enabled")
    }),

    // The automatic rule's HULL degradation under the oracle gate: the
    // dim's distinct keys exceed the rule's cap (forced to 8 here), so
    // instead of a point lane the optimizer folds the dim's [min,max]
    // band into the scan — one distributed aggregate, no unbounded
    // collect — which still prunes the custkey-clustered fact.
    // files_pruned pins it; values replay as the plain join.
    "misc_snapshot_join_hull" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val wh = Tables.freshCatalog(s, "gjh", "graft_snapjoinhull")
      s.sql("CREATE TABLE gjh.db.fact (o_custkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_custkey')")
      val o = SharedFrames.ordersCustCents(s, d)
      val m = o.agg(max(col("o_custkey"))).head.getLong(0)
      val qs = Seq(0L, (m + 1) / 4, (m + 1) / 2, 3 * (m + 1) / 4, m + 1)
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/fact",
        statsCols = Seq("o_custkey"))
      (0 until 4).foreach(i => t.commitAppend(
        o.filter(col("o_custkey") >= qs(i) && col("o_custkey") < qs(i + 1))
          .repartition(1)))
      // dim: every customer key in the LOWEST quarter — far more than
      // the forced cap, hull spans only the first file's band
      Tables.customer(s, d).filter(col("c_custkey") < qs(1))
        .select(col("c_custkey")).createOrReplaceTempView("joinhull_dim")
      s.conf.set("spark.graft.joinSkipping.maxKeys", "8")
      try {
        val q = s.sql("SELECT f.o_custkey, f.cents FROM gjh.db.fact f " +
          "JOIN joinhull_dim d ON f.o_custkey = d.c_custkey")
        val scan = q.queryExecution.optimizedPlan.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
              if r.scan.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper] =>
            r.scan.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper]
              .v1Scan.asInstanceOf[graft.sources.GraftSnapshotScan]
        }
        val total = t.snapshot(t.latestVersion()).files.length
        val planned = scan.map(_.plannedFiles.length).getOrElse(total)
        q.agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(planned < total && planned >= 1).as("files_pruned"),
            col("n_rows"), col("total_cents"))
      } finally s.conf.unset("spark.graft.joinSkipping.maxKeys")
    }),

    // Manifest-served MIN/MAX over a DATE stats column: the freshness
    // probe every date-keyed pipeline runs (`SELECT max(event_date)`)
    // answers from one manifest parse — DATE's band key is its exact
    // days-since-epoch value, so min-of-mins/max-of-maxs IS the answer.
    // The post-delete leg pins the decline (a MOR delete may remove the
    // extremum → real scan); plan shapes pinned in TypedBandsSpec.
    "misc_snapshot_date_minmax" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapdatemm").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("day"))
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("day"))
      t.commitAppend(o)
      def rd() = s.read.format("graft-snapshot").load(root)
      def legs(df: DataFrame) = df.agg(count(lit(1)).as("n"),
        min(col("day")).as("mn"), max(col("day")).as("mx"))
      val pre = legs(rd())
      t.commitDeleteByKey(o.filter(year(col("day")) >= 2000)
        .select("o_orderkey"), Seq("o_orderkey"))
      val post = legs(rd())
      pre.select(lit("pre_delete").as("leg"), col("n"), col("mn"), col("mx"))
        .unionByName(post.select(lit("post_delete").as("leg"),
          col("n"), col("mn"), col("mx")))
    }),

    // Date-range SQL DELETE as a METADATA-ONLY commit — the retention
    // drop (`DELETE WHERE day < cutoff`) on a date-clustered table is a
    // manifest re-list: every dropped file's DATE band lies fully
    // inside the predicate (exact days-since-epoch keys), no file is
    // read or written. metadata_only pins file identity across the
    // statement; the version history replays in DuckDB.
    "misc_catalog_dml_date" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gdd", "graft_catdmldate")
      SharedFrames.ordersDayCents(s, d)
        .createOrReplaceTempView("catdmldate_src")
      s.sql("CREATE TABLE gdd.db.daily (day DATE, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='day')")
      s.sql("INSERT INTO gdd.db.daily SELECT * FROM catdmldate_src " +
        "WHERE day < DATE'1997-01-01'")
      s.sql("INSERT INTO gdd.db.daily SELECT * FROM catdmldate_src " +
        "WHERE day >= DATE'1997-01-01' AND day < DATE'1999-01-01'")
      s.sql("INSERT INTO gdd.db.daily SELECT * FROM catdmldate_src " +
        "WHERE day >= DATE'1999-01-01'")
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/daily", Seq("day"))
      val before = t.snapshot(t.latestVersion())
      s.sql("DELETE FROM gdd.db.daily WHERE day < DATE'1997-01-01'")
      val after = t.snapshot(t.latestVersion())
      val metadataOnly = after.action == "delete" &&
        after.files.forall(before.files.contains)
      t.history().map { snap =>
        t.read(snap.version).agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            lit(metadataOnly).as("metadata_only"), col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // Exactly-once file ingestion (the COPY INTO shape): CALL
    // ingest_files lands each matched source file as ONE ingest version
    // keyed by its path — the commit IS the ledger, so the second CALL
    // skips all three sources and publishes nothing (tip version pinned
    // equal across legs via the ingested/skipped counts and identical
    // row totals). The cron-retry/backfill-overlap contract of every
    // ELT loader, on the snapshot format.
    "misc_catalog_ingest" -> ((s, d) => {
      val base = Tables.freshTmpDir(s, "graft_catingest").getAbsolutePath
      val o = SharedFrames.ordersKCents(s, d)
      (0 until 3).foreach(i => o.filter(col("k") % 3 === i)
        .repartition(1).write.parquet(s"$base/in/src_$i"))
      s.conf.set("spark.sql.catalog.gin", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gin.warehouse", s"$base/wh")
      s.sql("CREATE NAMESPACE IF NOT EXISTS gin.db")
      s.sql("CREATE TABLE gin.db.t (k BIGINT, cents BIGINT) USING `graft-snapshot`")
      def call() = s.sql(
        s"CALL gin.system.ingest_files('db.t', '$base/in/src_*/*.parquet')")
        .collect().head
      def leg(name: String, r: org.apache.spark.sql.Row) =
        s.table("gin.db.t").agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(name).as("leg"), lit(r.getLong(0)).as("ingested"),
            lit(r.getLong(1)).as("skipped"), col("n_rows"), col("total_cents"))
      val first = leg("first", call())
      val second = leg("second", call())
      first.unionByName(second)
    }),

    // MULTI-RANGE SQL DELETE as a METADATA-ONLY commit — the
    // keep-the-middle retention shape (`DELETE WHERE day < lo OR
    // day >= hi`) that a single contiguous band cannot express: the OR's
    // disjuncts each reduce to an exact DATE band, the union classifies
    // every file fully-inside-or-outside, and the statement drops the
    // two edge files off the manifest with zero files read or written
    // (metadata_only pins file identity). Versions replay in DuckDB.
    "misc_catalog_dml_or" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gor", "graft_catdmlor")
      SharedFrames.ordersDayCents(s, d)
        .createOrReplaceTempView("catdmlor_src")
      s.sql("CREATE TABLE gor.db.daily (day DATE, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='day')")
      s.sql("INSERT INTO gor.db.daily SELECT * FROM catdmlor_src " +
        "WHERE day < DATE'1997-01-01'")
      s.sql("INSERT INTO gor.db.daily SELECT * FROM catdmlor_src " +
        "WHERE day >= DATE'1997-01-01' AND day < DATE'1999-01-01'")
      s.sql("INSERT INTO gor.db.daily SELECT * FROM catdmlor_src " +
        "WHERE day >= DATE'1999-01-01'")
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/daily", Seq("day"))
      val before = t.snapshot(t.latestVersion())
      s.sql("DELETE FROM gor.db.daily WHERE day < DATE'1997-01-01' " +
        "OR day >= DATE'1999-01-01'")
      val after = t.snapshot(t.latestVersion())
      val metadataOnly = after.action == "delete" &&
        after.files.forall(before.files.contains)
      t.history().map { snap =>
        t.read(snap.version).agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            lit(metadataOnly).as("metadata_only"), col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // Timestamp-range SQL DELETE as a METADATA-ONLY commit — the
    // retention drop on a TIMESTAMP-clustered ingest table (the shape a
    // 100 TB event stream actually has: timestamp-keyed before it is
    // date-keyed). bandsV-2 tables key timestamps as epoch-MICROS —
    // injective, so the band is the predicate's exact truth set and
    // every dropped file is provably fully inside: no file read or
    // written. metadata_only pins file identity across the statement;
    // the version history replays in DuckDB.
    "misc_catalog_dml_ts" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gts", "graft_catdmlts")
      Tables.events(s, d).select(col("ts"),
        expr("CAST(round(coalesce(value, 0) * 100) AS BIGINT)").as("cents"))
        .createOrReplaceTempView("catdmlts_src")
      s.sql("CREATE TABLE gts.db.ingest (ts TIMESTAMP, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='ts')")
      s.sql("INSERT INTO gts.db.ingest SELECT * FROM catdmlts_src " +
        "WHERE ts < TIMESTAMP'2024-01-10 00:00:00'")
      s.sql("INSERT INTO gts.db.ingest SELECT * FROM catdmlts_src " +
        "WHERE ts >= TIMESTAMP'2024-01-10 00:00:00' AND ts < TIMESTAMP'2024-01-20 00:00:00'")
      s.sql("INSERT INTO gts.db.ingest SELECT * FROM catdmlts_src " +
        "WHERE ts >= TIMESTAMP'2024-01-20 00:00:00'")
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/ingest", Seq("ts"))
      val before = t.snapshot(t.latestVersion())
      s.sql("DELETE FROM gts.db.ingest WHERE ts < TIMESTAMP'2024-01-10 00:00:00'")
      val after = t.snapshot(t.latestVersion())
      val metadataOnly = after.action == "delete" &&
        after.files.forall(before.files.contains)
      t.history().map { snap =>
        t.read(snap.version).agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            lit(metadataOnly).as("metadata_only"), col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // File-disjoint optimistic concurrency for pruned row-level DML:
    // two UPDATEs race on DISJOINT date bands of a clustered table —
    // the first parks mid-scan on a latch (base pinned), the second
    // commits underneath it, and on release the first AUTO-REBASES onto
    // the new tip instead of erroring (its read-and-replaced file set is
    // provably disjoint from the rival's). both_committed pins that two
    // update versions published; every version's contents replay in
    // DuckDB as the two updates applied sequentially — exactly what
    // many-writer snapshot isolation promises on a shared 100 TB table.
    "misc_catalog_dml_concurrent" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gcc", "graft_catdmlcc")
      SharedFrames.ordersDayCents(s, d)
        .createOrReplaceTempView("catdmlcc_src")
      s.sql("CREATE TABLE gcc.db.daily (day DATE, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='day')")
      s.sql("INSERT INTO gcc.db.daily SELECT * FROM catdmlcc_src " +
        "WHERE day < DATE'1997-01-01'")
      s.sql("INSERT INTO gcc.db.daily SELECT * FROM catdmlcc_src " +
        "WHERE day >= DATE'1997-01-01' AND day < DATE'1999-01-01'")
      s.sql("INSERT INTO gcc.db.daily SELECT * FROM catdmlcc_src " +
        "WHERE day >= DATE'1999-01-01'")
      // the gated statement pins its base version, parks in its SET
      // expression, and loses the publish race to the inline rival.
      // ONLY THE FIRST gate evaluation parks (one task, one slot) —
      // parking every row of every task would starve the rival's jobs
      // of task slots under FIFO scheduling at scale (livelock: proceed
      // never fires), while one parked task leaves the cluster free
      val entered = new java.util.concurrent.CountDownLatch(1)
      val proceed = new java.util.concurrent.CountDownLatch(1)
      DmlRaceGate.entered = entered
      DmlRaceGate.proceed = proceed
      DmlRaceGate.fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      s.udf.register("catdmlcc_gate", (v: Long) => {
        if (DmlRaceGate.fired.compareAndSet(false, true)) {
          DmlRaceGate.entered.countDown()
          DmlRaceGate.proceed.await(120, java.util.concurrent.TimeUnit.SECONDS)
        }
        v
      })
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val gated = Future(s.sql("UPDATE gcc.db.daily SET " +
        "cents = catdmlcc_gate(cents) + 7 WHERE day < DATE'1997-01-01'"))
      entered.await(120, java.util.concurrent.TimeUnit.SECONDS)
      s.sql("UPDATE gcc.db.daily SET cents = cents + 11 " +
        "WHERE day >= DATE'1999-01-01'")
      proceed.countDown()
      Await.result(gated, 20.minutes)
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/daily", Seq("day"))
      val bothCommitted = t.history().map(_.action) ==
        Seq("overwrite", "append", "append", "append", "update", "update")
      t.history().map { snap =>
        t.read(snap.version).agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            lit(bothCommitted).as("both_committed"), col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // MERGE-ON-READ flavor of the optimistic-concurrency story: a delta
    // UPDATE (equality-delete keys + replacement rows, no data file
    // rewritten) parks mid-statement, a rival INSERT of a NON-MATCHED
    // row commits underneath, and on release the update AUTO-REBASES —
    // the tip recount proving the concurrent append holds none of its
    // keys. both_committed pins the two versions; every version replays
    // in DuckDB as the insert then the update applied sequentially.
    "misc_catalog_mor_concurrent" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gmcq", "graft_catmorcc")
      Tables.orders(s, d).select(col("o_orderkey").as("id"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .createOrReplaceTempView("catmorcc_src")
      val m = s.table("catmorcc_src").agg(max(col("id"))).head.getLong(0)
      s.sql("CREATE TABLE gmcq.db.t (id BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id', " +
        "'write.update.mode'='merge-on-read', 'write.delete.key'='id')")
      s.sql(s"INSERT INTO gmcq.db.t SELECT * FROM catmorcc_src WHERE id <= ${m / 3}")
      s.sql("INSERT INTO gmcq.db.t SELECT * FROM catmorcc_src " +
        s"WHERE id > ${m / 3} AND id <= ${2 * m / 3}")
      s.sql(s"INSERT INTO gmcq.db.t SELECT * FROM catmorcc_src WHERE id > ${2 * m / 3}")
      val entered = new java.util.concurrent.CountDownLatch(1)
      val proceed = new java.util.concurrent.CountDownLatch(1)
      DmlRaceGate.entered = entered
      DmlRaceGate.proceed = proceed
      DmlRaceGate.fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      s.udf.register("catmorcc_gate", (v: Long) => {
        if (DmlRaceGate.fired.compareAndSet(false, true)) {
          DmlRaceGate.entered.countDown()
          DmlRaceGate.proceed.await(120, java.util.concurrent.TimeUnit.SECONDS)
        }
        v
      })
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val gated = Future(s.sql("UPDATE gmcq.db.t SET " +
        s"cents = catmorcc_gate(cents) + 7 WHERE id <= ${m / 3}"))
      entered.await(120, java.util.concurrent.TimeUnit.SECONDS)
      s.sql(s"INSERT INTO gmcq.db.t VALUES (${m + 1000000}, 11)") // non-matched key
      proceed.countDown()
      Await.result(gated, 20.minutes)
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/t", Seq("id"))
      val bothCommitted = t.history().map(_.action) ==
        Seq("overwrite", "append", "append", "append", "append", "update_mor")
      t.history().map { snap =>
        t.read(snap.version).agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            lit(bothCommitted).as("both_committed"), col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // Zero-rewrite type widening through SQL DDL: `ALTER COLUMN cents
    // TYPE BIGINT` publishes a schema-only version (file identity pinned
    // by metadata_only — zero bytes rewritten), the parquet readers
    // upcast the INT files under the pinned wider schema, and the next
    // INSERT lands values beyond int range. Every version replays in
    // DuckDB; time travel below the DDL still reads the narrow type
    // (dtype pinned in TypeWideningSpec).
    "misc_catalog_widen" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gwd", "graft_catwiden")
      // k folds into INT range (pmod, not a raw cast): the 100× fixture
      // scales orderkeys past Int.MaxValue and an ANSI cast would fail
      // the INSERT — the r20 full-registry 100× session caught exactly
      // that. The oracle only reads counts/cents, so the fold is free.
      Tables.orders(s, d)
        .select(pmod(col("o_orderkey"), lit(1000000000L)).cast("int").as("k"),
          expr("CAST(round(o_totalprice * 100) AS INT)").as("cents"))
        .createOrReplaceTempView("catwiden_src")
      s.sql("CREATE TABLE gwd.db.w (k INT, cents INT) USING `graft-snapshot` " +
        "TBLPROPERTIES('stats_cols'='k')")
      s.sql("INSERT INTO gwd.db.w SELECT * FROM catwiden_src")
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/w", Seq("k"))
      val before = t.snapshot(t.latestVersion())
      s.sql("ALTER TABLE gwd.db.w ALTER COLUMN cents TYPE BIGINT")
      val after = t.snapshot(t.latestVersion())
      val metadataOnly = after.action == "alter" && !after.dataChange &&
        after.files == before.files
      s.sql("INSERT INTO gwd.db.w " +
        "SELECT k, CAST(cents AS BIGINT) * 1000 FROM catwiden_src")
      t.history().map { snap =>
        t.read(snap.version).agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents").cast("long")), lit(0L)).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            lit(metadataOnly).as("metadata_only"), col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // Manifest-served MIN/MAX over TIMESTAMP and STRING stats columns:
    // the freshness probe (`SELECT max(ingest_ts)`) answers from one
    // manifest parse on a bandsV-2 table (epoch-micros keys are the
    // stored value), and `min/max(source)` serves from the TYPED
    // per-file bounds the manifest records alongside the lossy prefix
    // keys. The post-delete leg pins the decline: a MOR delete removed
    // the extrema, so the same aggregates must fall back to a real scan
    // — a wrongly-served band would leak the deleted max back and
    // hash-fail. Plan shapes pinned in TypedBandsSpec.
    "misc_snapshot_ts_minmax" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snaptsmm").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root,
        statsCols = Seq("ts", "source"))
      val e = Tables.events(s, d).select(col("event_id"), col("ts"),
        col("event_type").as("source"))
      t.commitAppend(e)
      def rd() = s.read.format("graft-snapshot").load(root)
      def legs(df: DataFrame) = df.agg(count(lit(1)).as("n"),
        min(col("ts")).as("mn_ts"), max(col("ts")).as("mx_ts"),
        min(col("source")).as("mn_src"), max(col("source")).as("mx_src"))
      val pre = legs(rd())
      t.commitDeleteByKey(
        e.filter(col("ts") >= to_timestamp(lit("2024-01-25 00:00:00")) ||
          (col("source") <=> "view")).select("event_id"),
        Seq("event_id"))
      val post = legs(rd())
      pre.select(lit("pre_delete").as("leg"), col("n"), col("mn_ts"),
          col("mx_ts"), col("mn_src"), col("mx_src"))
        .unionByName(post.select(lit("post_delete").as("leg"), col("n"),
          col("mn_ts"), col("mx_ts"), col("mn_src"), col("mx_src")))
    }),

    // Write-time clustering as CONFIGURATION: write.cluster.by='day'
    // routes every catalog INSERT through a range distribution on day,
    // so three appends that each span the FULL date range (deliberately
    // hash-shuffled input) still land as day-disjoint files — a
    // one-year read prunes most of the table with NO compact in
    // between. files_pruned pins that the planned set is a strict
    // subset (exact counts would pin the range partitioner's sampling,
    // which is an implementation detail); the values replay in DuckDB.
    "misc_catalog_cluster" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gcl", "graft_catcluster")
      Tables.orders(s, d).select(col("o_orderkey").as("k"),
        to_date(col("o_orderdate")).as("day"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .createOrReplaceTempView("catcluster_src")
      s.sql("CREATE TABLE gcl.db.fact (k BIGINT, day DATE, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k,day', " +
        "'write.cluster.by'='day')")
      (0 to 2).foreach(m =>
        s.sql("INSERT INTO gcl.db.fact SELECT * FROM catcluster_src " +
          s"WHERE k % 3 = $m DISTRIBUTE BY hash(k)"))
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/fact", Seq("k", "day"))
      val (d1, d2) = (java.sql.Date.valueOf("1997-01-01"),
        java.sql.Date.valueOf("1997-12-31"))
      val (pruned, planned) = t.readPruned(graft.sources.Pruning(bands =
        Map("day" -> ((d1.toLocalDate.toEpochDay, d2.toLocalDate.toEpochDay)))),
        t.latestVersion())
      val total = t.snapshot(t.latestVersion()).files.length
      pruned.filter(col("day").between(lit(d1), lit(d2)))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(planned.length < total).as("files_pruned"),
          lit(total >= 3).as("multi_file"), col("n_rows"), col("total_cents"))
    }),

    // Table integrity check (the format's fsck) under the oracle gate:
    // CALL check_table(deep) on a healthy MOR-bearing table — every
    // listed file exists with its recorded length, metadata vectors
    // align, and the deep recount through the equality delete reconciles
    // with the manifest's row count. The post-migration / pre-promote
    // audit as one SQL call.
    "misc_catalog_fsck" -> ((s, d) => {
      Tables.freshCatalog(s, "gfk", "graft_catfsck")
      SharedFrames.ordersKCents(s, d)
        .createOrReplaceTempView("catfsck_src")
      s.sql("CREATE TABLE gfk.db.t (k BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k', " +
        "'write.delete.mode'='merge-on-read', 'write.delete.key'='k')")
      s.sql("INSERT INTO gfk.db.t SELECT * FROM catfsck_src")
      s.sql("DELETE FROM gfk.db.t WHERE k % 10 = 3")
      val r = s.sql("CALL gfk.system.check_table('db.t', true)")
      // rows_lo/rows_hi: the metadata-mode MOR reconciliation window
      // [Σfrows − Σdrows, Σfrows] — tight here (nothing absorbed), so
      // rows_lo == rows_recorded and rows_hi == the pre-delete total
      r.select(col("version"), col("missing"), col("length_mismatches"),
        col("misaligned_vectors"), col("rows_recorded"), col("rows_checked"),
        col("rows_lo"), col("rows_hi"), col("ok"))
    }),

    // DISASTER RECOVERY: `CALL repair_table` re-lists the tip WITHOUT
    // the file storage lost — three band-disjoint single-file appends;
    // the middle band's file is deleted from disk (picked BY ITS BAND,
    // never by name — deterministic across runs); the dry run reports
    // without committing, the repair drops exactly that file with
    // metadata-served row accounting, reads recover, and fsck is green.
    // Surviving contents equal DuckDB's replay of the two kept ranges.
    "misc_catalog_repair" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "grpr", "graft_catrepair")
      s.sql("CREATE TABLE grpr.db.t (k BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k')")
      val src = SharedFrames.ordersKCents(s, d)
      val m = src.agg(max(col("k"))).head.getLong(0)
      val (c1, c2) = (m / 3, 2 * m / 3)
      // one file per band range (repartition(1)) so the damage set is
      // exactly one file — the raw handle commits into the catalog root
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/t", Seq("k"))
      t.commitAppend(src.filter(col("k") <= c1).repartition(1))
      t.commitAppend(src.filter(col("k") > c1 && col("k") <= c2).repartition(1))
      t.commitAppend(src.filter(col("k") > c2).repartition(1))
      val snap = t.snapshot(t.latestVersion())
      val victim = snap.files(
        snap.stats.head.mins.indexWhere(mn => mn > c1 && mn <= c2))
      assert(new java.io.File(new java.io.File(s"$wh/db/t", "data"), victim)
        .delete(), "fixture must delete the victim file")
      val dry = s.sql("CALL grpr.system.repair_table('db.t')").head
      val run = s.sql(
        "CALL grpr.system.repair_table('db.t', dry_run => false)").head
      val fsckOk = s.sql("CALL grpr.system.check_table('db.t')")
        .select(col("ok")).head.getBoolean(0)
      s.table("grpr.db.t")
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(dry.getLong(1)).as("dry_dropped"),
          lit(dry.isNullAt(5)).as("dry_uncommitted"),
          lit(run.getLong(1)).as("dropped_files"),
          lit(run.getLong(4)).as("rows_after"),
          lit(fsckOk).as("fsck_ok"), col("n_rows"), col("total_cents"))
    }),

    // BAND-SCOPED compaction (OPTIMIZE WHERE): one cold file plus three
    // hot-window micro-files; compact_range folds ONLY the hot band —
    // the cold file survives BY IDENTITY (pinned), values identical
    // across the fold, dataChange=false. Hot-partition maintenance that
    // never touches cold data, off the manifest's recorded row counts.
    "misc_snapshot_compact_range" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_comprange").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("day"))
      val o = Tables.orders(s, d).select(to_date(col("o_orderdate")).as("day"),
        col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val cut = java.sql.Date.valueOf("1999-01-01")
      t.commitAppend(o.filter(col("day") < lit(cut)).repartition(1)) // cold
      (0 to 2).foreach(m => t.commitAppend( // hot micro-files
        o.filter(col("day") >= lit(cut) && col("k") % 3 === m).repartition(1)))
      val before = t.snapshot(t.latestVersion())
      val v = t.compactRange("day", cut.toLocalDate.toEpochDay, Long.MaxValue,
        targetRowsPerFile = 1000000L)
      val after = t.snapshot(v)
      val coldKept = after.files.contains(before.files.head) && !after.dataChange
      def leg(name: String, snap: graft.sources.Snapshot) =
        t.read(snap.version).agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).as("total_cents"))
          .select(lit(name).as("leg"),
            lit(snap.files.length).as("n_files"),
            lit(coldKept).as("cold_kept"), col("n_rows"), col("total_cents"))
      leg("before", before).unionByName(leg("after", after))
    }),

    // SELECTIVE small-file compaction: the 100 TB maintenance op — one
    // big file plus three small appends (the streaming-sink debris
    // shape); compactFiles rewrites ONLY the sub-threshold files off
    // the manifest's recorded lengths and re-lists the big file BY
    // IDENTITY (big_untouched pinned). files 4 -> 2, values identical
    // across the fold, dataChange=false.
    "misc_snapshot_small_compact" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_smallcomp").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("k"))
      val o = SharedFrames.ordersKCents(s, d)
      // the big file: everything except the three tiny fixed key slices
      t.commitAppend(o.filter(col("k") % 4 =!= 0 || col("k") >= 600)
        .repartition(1))
      (0 to 2).foreach(m => // three small debris files, deterministic keys
        t.commitAppend(o.filter(col("k") % 4 === 0 && col("k") < 600 &&
          col("k") % 3 === m).repartition(1)))
      val before = t.snapshot(t.latestVersion())
      val bigFile = before.files.head
      def legs(tag: String, files: Int, untouched: Boolean) =
        t.read().agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
          .select(lit(tag).as("leg"), lit(files).as("n_files"),
            lit(untouched).as("big_untouched"), col("n_rows"), col("total_cents"))
      val pre = legs("before", before.files.length, untouched = true)
      val v = t.compactFiles(minFileBytes = 32 * 1024,
        targetFileBytes = 128L * 1024 * 1024)
      val after = t.snapshot(v)
      val post = legs("after", after.files.length,
        after.files.contains(bigFile) && !after.dataChange)
      pre.unionByName(post)
    }),

    // MINOR compaction of MOR delete files: four equality-delete
    // statements accrue four delete files every reader anti-joins;
    // compactDeletes folds them to ONE with no data file touched
    // (files_untouched pins identity) and identical contents — the
    // before/after legs must agree on every value while the pinned
    // delete-file counts drop 4 -> 1.
    "misc_snapshot_mor_compact" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_morcomp").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("k"))
      val o = SharedFrames.ordersKCents(s, d)
      t.commitAppend(o)
      (1 to 4).foreach(m =>
        t.commitDeleteByKey(o.filter(col("k") % 10 === m).select("k"), Seq("k")))
      val before = t.snapshot(t.latestVersion())
      def legs(tag: String, delFiles: Int, untouched: Boolean) =
        t.read().agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
          .select(lit(tag).as("leg"), lit(delFiles).as("delete_files"),
            lit(untouched).as("files_untouched"), col("n_rows"), col("total_cents"))
      val pre = legs("before_fold", before.deletes.length, untouched = true)
      val v = t.compactDeletes()
      val after = t.snapshot(v)
      val post = legs("after_fold", after.deletes.length,
        after.files == before.files)
      pre.unionByName(post)
    }),

    // IS NULL file pruning off the manifest's null counts: the "find
    // the rows that never got a key" audit sweep opens only the files
    // that ever WROTE a null (known-zero null counts prune; unknown
    // read conservatively). Three clustered commits, one carrying the
    // nulls — files_planned pins 1 of 3; values replay in DuckDB.
    "misc_snapshot_null_skipping" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapnull").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("k"))
      val o = SharedFrames.ordersCents(s, d)
      def slice(m: Int, nullify: Boolean) = {
        val base = o.filter(col("o_orderkey") % 3 === m)
        val keyed =
          if (!nullify) base.select(col("o_orderkey").as("k"), col("cents"))
          else base.select(
            when(col("o_orderkey") % 7 === 0, lit(null).cast("bigint"))
              .otherwise(col("o_orderkey")).as("k"), col("cents"))
        keyed.repartition(1)
      }
      t.commitAppend(slice(1, nullify = false))
      t.commitAppend(slice(2, nullify = true))
      t.commitAppend(slice(0, nullify = false))
      val (pruned, planned) =
        t.readPruned(graft.sources.Pruning(nullCols = Set("k")), t.latestVersion())
      pruned.filter(col("k").isNull)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(t.read().inputFiles.length).as("files_total"),
          lit(planned.length).as("files_planned"),
          col("n_rows"), col("total_cents"))
    }),

    // STRING stats bands: the order-preserving 8-byte-prefix key prunes
    // source-clustered document shards on a LIKE-prefix predicate (the
    // "one crawl source went bad, reprocess it" lookup) — lossy keys are
    // pruning-only, Spark re-evaluates rows, so values stay exact.
    "misc_snapshot_string_prefix" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_snapstrpre").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root, statsCols = Seq("source"))
      val docs = Tables.documents(s, d).select(col("source"), col("n_chars"))
      t.commitAppend(docs.filter(col("source") < "src2").repartition(1))
      t.commitAppend(docs.filter(col("source") >= "src2" && col("source") < "src5")
        .repartition(1))
      t.commitAppend(docs.filter(col("source") >= "src5").repartition(1))
      val prefix = graft.sources.Pruning.of(Seq(
        org.apache.spark.sql.sources.StringStartsWith("source", "src3")),
        t.tableBandsV)
      val (pruned, planned) = t.readPruned(prefix, t.latestVersion())
      pruned.filter(col("source").startsWith("src3"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(t.read().inputFiles.length).as("files_total"),
          lit(planned.length).as("files_planned"),
          col("n_docs"), col("sum_chars"))
    }),

    // ALTER TABLE RENAME COLUMN as a ZERO-REWRITE schema commit (column
    // mapping): inserts land on both sides of the rename (old files keep
    // their physical name, new files write it too), a CoW UPDATE reads
    // through the mapping, time travel below the rename shows the OLD
    // name. zero_rewrite pins file identity across the ALTER; every
    // leg's values replay in DuckDB.
    "misc_catalog_rename" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "grn", "graft_catrename")
      Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("amount"))
        .createOrReplaceTempView("catrename_src")
      s.sql("CREATE TABLE grn.db.led (o_orderkey BIGINT, amount BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_orderkey')")
      s.sql("INSERT INTO grn.db.led SELECT * FROM catrename_src WHERE o_orderkey % 2 = 0")
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/led")
      val before = t.snapshot(t.latestVersion())
      s.sql("ALTER TABLE grn.db.led RENAME COLUMN amount TO cents")
      val alter = t.snapshot(t.latestVersion())
      val zeroRewrite = alter.files == before.files
      s.sql("INSERT INTO grn.db.led SELECT * FROM catrename_src WHERE o_orderkey % 2 = 1")
      s.sql("UPDATE grn.db.led SET cents = 0 WHERE o_orderkey % 10 = 3")
      def leg(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_rows"), sum(col("value")).as("total"))
          .select(lit(name).as("leg"), lit(zeroRewrite).as("zero_rewrite"),
            col("n_rows"), col("total"))
      leg("pre_rename",
          s.sql("SELECT amount AS value FROM grn.db.led VERSION AS OF 2"))
        .unionByName(leg("tip",
          s.sql("SELECT cents AS value FROM grn.db.led")))
    }),

    // Overwrite-by-filter on a catalog table — the daily-partition-
    // reload shape through pure DSv2: three clustered INSERTs land
    // disjoint orderkey thirds, then writeTo(...).overwrite(band)
    // replaces ONLY the middle third (commitWrittenReplaceWhere:
    // containment proven from executor-folded stats, outer files
    // re-listed untouched — `outer_untouched` pins the file-surgical
    // claim, not just the row values). Versions replay in DuckDB.
    "misc_catalog_replace" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "grw", "graft_catrw")
      val base = SharedFrames.ordersCents(s, d)
      base.createOrReplaceTempView("catrw_src")
      val m = base.agg(max(col("o_orderkey"))).head.getLong(0)
      val (t1, t2) = ((m + 1) / 3, 2 * (m + 1) / 3)
      s.sql("CREATE TABLE grw.db.orders_rw (o_orderkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_orderkey')")
      s.sql(s"INSERT INTO grw.db.orders_rw SELECT * FROM catrw_src WHERE o_orderkey < $t1")
      s.sql("INSERT INTO grw.db.orders_rw SELECT * FROM catrw_src " +
        s"WHERE o_orderkey >= $t1 AND o_orderkey < $t2")
      s.sql(s"INSERT INTO grw.db.orders_rw SELECT * FROM catrw_src WHERE o_orderkey >= $t2")
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/orders_rw")
      val before = t.snapshot(t.latestVersion())
      base.filter(col("o_orderkey").between(t1, t2 - 1))
        .select(col("o_orderkey"), (col("cents") * 2).as("cents"))
        .writeTo("grw.db.orders_rw")
        .overwrite(col("o_orderkey") >= t1 && col("o_orderkey") <= t2 - 1)
      val after = t.snapshot(t.latestVersion())
      // every pre-replace file whose band lies OUTSIDE [t1, t2-1] must
      // survive by IDENTITY (manifest re-list, no rewrite)
      val outerSurvived = {
        val bandsOf = before.statsCols.indexOf("o_orderkey")
        before.files.indices.forall { i =>
          val mn = before.stats(bandsOf).mins(i)
          val mx = before.stats(bandsOf).maxs(i)
          val outside = mx < t1 || mn > t2 - 1
          !outside || after.files.contains(before.files(i))
        }
      }
      t.history().map { snap =>
        t.read(snap.version)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            lit(outerSurvived).as("outer_untouched"),
            col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // SQL maintenance via CALL procedures: clustered compaction (a
    // dataChange=false version — feeds skip it, contents identical) and
    // roll-forward rollback, both reachable as
    // `CALL <catalog>.system.<proc>(...)`. The version history replays
    // in DuckDB; data_change pins compaction's feed-invisibility.
    "misc_catalog_maintenance" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gmt", "graft_catmt")
      SharedFrames.ordersCents(s, d)
        .createOrReplaceTempView("catmt_src")
      s.sql("CREATE TABLE gmt.db.orders_mt (o_orderkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_orderkey')")
      s.sql("INSERT INTO gmt.db.orders_mt SELECT * FROM catmt_src WHERE o_orderkey % 2 = 0")
      s.sql("INSERT INTO gmt.db.orders_mt SELECT * FROM catmt_src WHERE o_orderkey % 2 = 1")
      s.sql("CALL gmt.system.compact('db.orders_mt', 1000000, 'o_orderkey')")
      s.sql("CALL gmt.system.rollback('db.orders_mt', 2)")
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/orders_mt")
      t.history().map { snap =>
        t.read(snap.version)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            lit(snap.dataChange).as("data_change"),
            col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // SQL row-level DML on a catalog-resolved snapshot table — the full
    // statement set as atomic versions: INSERT (append), UPDATE (group
    // rewrite), DELETE (group rewrite), MERGE (matched update + not
    // matched insert), each committed with snapshot-isolation validation
    // via commitWrittenReplaceAtBase. The version history replays in
    // DuckDB from key arithmetic, gating the statements' row-level
    // semantics AND that every pre-DML version stays readable.
    // Write-time CHECK constraints under the oracle gate: a constrained
    // table accepts conforming inserts, REJECTS a violating batch whole
    // (nothing commits — version count and totals prove it), accepts a
    // NULL (SQL CHECK: unknown passes), and rejects a violating UPDATE
    // through the merge-on-read DML writer. The rejected_* literals are
    // Scala-side caught-exception pins the oracle hard-codes.
    "misc_catalog_constraints" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gctr", "graft_catconstr")
      SharedFrames.ordersCents(s, d)
        .createOrReplaceTempView("catconstr_src")
      s.sql("CREATE TABLE gctr.db.oc (o_orderkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES(" +
        "'constraint.nonneg'='cents >= 0'," +
        "'write.update.mode'='merge-on-read','write.delete.key'='o_orderkey')")
      s.sql("INSERT INTO gctr.db.oc " +
        "SELECT * FROM catconstr_src WHERE o_orderkey % 4 = 0")
      val rejectedInsert =
        try { s.sql("INSERT INTO gctr.db.oc SELECT o_orderkey, -cents " +
          "FROM catconstr_src WHERE o_orderkey % 4 = 1 AND cents > 0"); 0L }
        catch { case _: Exception => 1L }
      val rejectedUpdate =
        try { s.sql("UPDATE gctr.db.oc SET cents = -1 " +
          "WHERE o_orderkey % 8 = 0"); 0L }
        catch { case _: Exception => 1L }
      s.sql("INSERT INTO gctr.db.oc VALUES (1000000007, NULL)") // NULL passes
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/oc")
      t.read().agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
        .select(lit(rejectedInsert).as("rejected_insert"),
          lit(rejectedUpdate).as("rejected_update"),
          lit(t.latestVersion()).as("n_versions"),
          col("n_rows"), col("total_cents"))
    }),

    "misc_catalog_dml" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gdml", "graft_catdml")
      val base = SharedFrames.ordersCents(s, d)
      base.createOrReplaceTempView("catdml_src")
      base.filter(col("o_orderkey") % 6 === 0)
        .select(col("o_orderkey"), (col("cents") * 5).as("cents"))
        .createOrReplaceTempView("catdml_merge_src")
      s.sql("CREATE TABLE gdml.db.orders_dml (o_orderkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_orderkey')")
      s.sql("INSERT INTO gdml.db.orders_dml " +
        "SELECT * FROM catdml_src WHERE o_orderkey % 4 = 0")
      s.sql("UPDATE gdml.db.orders_dml SET cents = cents * 2 WHERE o_orderkey % 8 = 0")
      s.sql("DELETE FROM gdml.db.orders_dml WHERE o_orderkey % 8 = 4")
      s.sql("""
        MERGE INTO gdml.db.orders_dml t USING catdml_merge_src s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET cents = s.cents
        WHEN NOT MATCHED THEN INSERT (o_orderkey, cents) VALUES (s.o_orderkey, s.cents)""")
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/orders_dml")
      t.history().map { snap =>
        t.read(snap.version)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // Predicate-PRUNED SQL row-level DML: three clustered INSERTs land
    // disjoint orderkey thirds; a selective DELETE of the middle third
    // and an UPDATE of the top third each rewrite ONLY the files whose
    // stats bands can match (SnapshotDmlScanBuilder pushes the
    // statement's condition into the DML scan; the commit re-lists the
    // rest via commitWrittenRewriteFiles). `untouched_kept` pins the
    // file-identity claim — every out-of-band file survives the
    // statement UNREWRITTEN — and `noop_skipped` pins that a statement
    // matching no file publishes no version at all. The version chain
    // replays in DuckDB.
    "misc_catalog_dml_pruned" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gdmlp", "graft_catdmlp")
      val base = SharedFrames.ordersCents(s, d)
      base.createOrReplaceTempView("catdmlp_src")
      val m = base.agg(max(col("o_orderkey"))).head.getLong(0)
      val (t1, t2) = ((m + 1) / 3, 2 * (m + 1) / 3)
      s.sql("CREATE TABLE gdmlp.db.orders_dmlp (o_orderkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_orderkey')")
      s.sql(s"INSERT INTO gdmlp.db.orders_dmlp SELECT * FROM catdmlp_src WHERE o_orderkey < $t1")
      s.sql("INSERT INTO gdmlp.db.orders_dmlp SELECT * FROM catdmlp_src " +
        s"WHERE o_orderkey >= $t1 AND o_orderkey < $t2")
      s.sql(s"INSERT INTO gdmlp.db.orders_dmlp SELECT * FROM catdmlp_src WHERE o_orderkey >= $t2")
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/orders_dmlp")
      // out-of-band files must survive a statement BY IDENTITY
      def untouchedSurvive(before: graft.sources.Snapshot,
                           after: graft.sources.Snapshot,
                           lo: Long, hi: Long): Boolean = {
        val c = before.statsCols.indexOf("o_orderkey")
        before.files.indices.forall { i =>
          val outside = before.stats(c).maxs(i) < lo || before.stats(c).mins(i) > hi
          !outside || after.files.contains(before.files(i))
        }
      }
      val v4 = t.snapshot(t.latestVersion())
      s.sql(s"DELETE FROM gdmlp.db.orders_dmlp WHERE o_orderkey >= $t1 AND o_orderkey < $t2")
      val v5 = t.snapshot(t.latestVersion())
      val kept1 = untouchedSurvive(v4, v5, t1, t2 - 1)
      s.sql(s"UPDATE gdmlp.db.orders_dmlp SET cents = cents * 3 WHERE o_orderkey >= $t2")
      val v6 = t.snapshot(t.latestVersion())
      val kept2 = untouchedSurvive(v5, v6, t2, Long.MaxValue)
      // a fully-pruned statement is a no-op: no version published
      s.sql("DELETE FROM gdmlp.db.orders_dmlp WHERE o_orderkey < 0")
      val noopSkipped = t.latestVersion() == v6.version
      t.history().map { snap =>
        t.read(snap.version)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            lit(kept1 && kept2).as("untouched_kept"),
            lit(noopSkipped).as("noop_skipped"),
            col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // SQL DELETE via MERGE-ON-READ: the table opts in with
    // write.delete.mode='merge-on-read' + write.delete.key, and
    // `DELETE FROM … WHERE …` publishes `delete_mor` versions (key
    // files + manifest re-list, NO data rewrite — the row delta
    // GraftSnapshotDeltaRowOperation, with no data rows). The chain
    // exercises the equality-delete sequencing rule (a re-inserted key
    // survives the earlier delete) and `cdf_deletes` pins the change
    // feed's retraction replay. Actions in the history output prove the SQL
    // statements took the MOR path. Replayed in DuckDB by key
    // arithmetic.
    "misc_catalog_dml_mor" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gmor", "graft_catmor")
      SharedFrames.ordersCents(s, d)
        .createOrReplaceTempView("catmor_src")
      s.sql("CREATE TABLE gmor.db.orders_mor (o_orderkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_orderkey', " +
        "'write.delete.mode'='merge-on-read', 'write.delete.key'='o_orderkey')")
      s.sql("INSERT INTO gmor.db.orders_mor " +
        "SELECT * FROM catmor_src WHERE o_orderkey % 3 = 0")
      s.sql("DELETE FROM gmor.db.orders_mor WHERE o_orderkey % 9 = 0")
      // re-insert a slice of the deleted keys at 7c: they must SURVIVE
      // the earlier equality delete (strictly-smaller-sequence rule)
      s.sql("INSERT INTO gmor.db.orders_mor SELECT o_orderkey, cents * 7 " +
        "FROM catmor_src WHERE o_orderkey % 18 = 0")
      s.sql("DELETE FROM gmor.db.orders_mor WHERE o_orderkey % 6 = 3")
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/orders_mor")
      val cdfDeletes = t.readChangeFeed(1, t.latestVersion())
        .filter(col("_change_type") === "delete").count()
      t.history().map { snap =>
        t.read(snap.version)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            lit(cdfDeletes).as("cdf_deletes"),
            col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // SQL UPDATE/MERGE via MERGE-ON-READ deltas: the table opts in with
    // write.update.mode / write.merge.mode = 'merge-on-read' (+ the
    // shared write.delete.key), and UPDATE / MERGE publish
    // `update_mor` / `merge_mor` versions — equality-delete key files +
    // fresh data files in ONE commit, NO existing data file rewritten
    // (GraftSnapshotDeltaRowOperation). The chain double-touches the
    // same keys (v3, v4) to exercise the sequencing rule (each
    // statement's delete applies only to strictly older files, so the
    // previous update's replacement is removed while the new one
    // survives); `files_kept` pins the no-rewrite claim (every v2 data
    // file survives v5 BY IDENTITY), `noop_skipped` pins that a
    // no-match UPDATE publishes nothing, and `cdf_deletes` pins the
    // change feed's retraction replay. Replayed in DuckDB by key
    // arithmetic.
    "misc_catalog_update_mor" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gumor", "graft_catumor")
      val base = SharedFrames.ordersCents(s, d)
      base.filter(col("o_orderkey") % 3 === 0)
        .createOrReplaceTempView("catumor_src")
      base.filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), (col("cents") * 5).as("cents"))
        .createOrReplaceTempView("catumor_merge_src")
      s.sql("CREATE TABLE gumor.db.orders_umor (o_orderkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_orderkey', " +
        "'write.update.mode'='merge-on-read', 'write.merge.mode'='merge-on-read', " +
        "'write.delete.key'='o_orderkey')")
      s.sql("INSERT INTO gumor.db.orders_umor SELECT * FROM catumor_src")
      s.sql("UPDATE gumor.db.orders_umor SET cents = cents * 2 WHERE o_orderkey % 9 = 0")
      // touch the SAME keys again: the second update's equality delete
      // must remove the first update's replacement rows, not resurrect
      s.sql("UPDATE gumor.db.orders_umor SET cents = cents + 5 WHERE o_orderkey % 9 = 0")
      s.sql("""
        MERGE INTO gumor.db.orders_umor t USING catumor_merge_src s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET cents = s.cents
        WHEN NOT MATCHED THEN INSERT (o_orderkey, cents) VALUES (s.o_orderkey, s.cents)""")
      val t = new graft.sources.SnapshotTable(s, s"$wh/db/orders_umor")
      val tip = t.latestVersion()
      // no data file rewritten: every v2 file is still listed at the tip
      val v2files = t.snapshot(2).files.toSet
      val filesKept = v2files.subsetOf(t.snapshot(tip).files.toSet)
      // a no-match UPDATE publishes no version at all
      s.sql("UPDATE gumor.db.orders_umor SET cents = 0 WHERE o_orderkey < 0")
      val noopSkipped = t.latestVersion() == tip
      // the change-feed delete count rides the final plan as a 1-row
      // broadcast (computed once, ReusedExchange across the union legs)
      // instead of a separate eager .count() action — r21 JobProfile: the
      // standalone count was a 0.74 s action re-reading every version's
      // files; folded in, the value and the output rows are identical
      val cdfDeletes = broadcast(t.readChangeFeed(1, tip)
        .filter(col("_change_type") === "delete")
        .agg(count(lit(1)).as("cdf_deletes")))
      t.history().map { snap =>
        t.read(snap.version)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .crossJoin(cdfDeletes)
          .select(lit(snap.version).as("version"), lit(snap.action).as("action"),
            col("cdf_deletes"),
            lit(filesKept).as("files_kept"),
            lit(noopSkipped).as("noop_skipped"),
            col("n_rows"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // Three-way MERGE with WHEN NOT MATCHED BY SOURCE (the full ANSI /
    // Spark 3.4+ clause set) through the snapshot format's row-level
    // writers, in BOTH write modes: the copy-on-write group rewrite and
    // the merge-on-read delta (equality deletes + fresh rows in one
    // merge_mor version, NO data file rewritten — pinned by file
    // identity in the flags leg). Same statement, same replay: matched
    // keys take the source value, unmatched source keys insert,
    // target-only keys conditionally delete (k%9=0) or bump (+7) —
    // the dimension-sync shape (sync full table, retire stale rows)
    // as ONE statement instead of DimSync's three-legged plan.
    "misc_catalog_merge_source" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gmbsq", "graft_catmbs")
      val base = SharedFrames.ordersKCents(s, d)
      base.filter(col("k") % 2 === 0)
        .select(col("k"), (col("cents") * 2).as("cents"))
        .createOrReplaceTempView("catmbs_src")
      val mergeSql = (t: String) => s"""
        MERGE INTO $t t USING catmbs_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET cents = s.cents
        WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.cents)
        WHEN NOT MATCHED BY SOURCE AND t.k % 9 = 0 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET cents = cents + 7"""
      base.filter(col("k") % 3 === 0).createOrReplaceTempView("catmbs_tgt")
      s.sql("CREATE TABLE gmbsq.db.cow (k BIGINT, cents BIGINT) " +
        "USING `graft-snapshot`")
      s.sql("INSERT INTO gmbsq.db.cow SELECT * FROM catmbs_tgt")
      s.sql(mergeSql("gmbsq.db.cow"))
      s.sql("CREATE TABLE gmbsq.db.mor (k BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES(" +
        "'write.merge.mode'='merge-on-read','write.delete.key'='k')")
      s.sql("INSERT INTO gmbsq.db.mor SELECT * FROM catmbs_tgt")
      val morT = new graft.sources.SnapshotTable(s, s"$wh/db/mor")
      val preFiles = morT.snapshot(morT.latestVersion()).files.toSet
      s.sql(mergeSql("gmbsq.db.mor"))
      val tipSnap = morT.snapshot(morT.latestVersion())
      val filesKept = preFiles.subsetOf(tipSnap.files.toSet)
      val isMor = tipSnap.action == "merge_mor"
      def leg(label: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(label).as("label"), col("n_rows"), col("total_cents"))
      leg("cow_after", s.table("gmbsq.db.cow"))
        .unionByName(leg("mor_after", s.table("gmbsq.db.mor")))
        .unionByName(s.range(1).select(lit("mor_delta_pins").as("label"),
          lit(if (filesKept) 1L else 0L).as("n_rows"),
          lit(if (isMor) 1L else 0L).as("total_cents")))
    }),

    // Zero-copy table clone (Delta SHALLOW CLONE / Iceberg snapshot-ref
    // tables): `CALL clone(src, dst, version)` publishes ONE manifest
    // referencing the source's files by absolute path — cloning a 100 TB
    // table costs a metadata write, never a copy — and pins the cloned
    // version on the source with a clone-v<N> tag so source
    // vacuum/expire can never reclaim the shared files (the coupling
    // Delta documents as a caveat is closed structurally). The legs gate:
    // the clone equals the source AT the cloned version, divergence is
    // independent in BOTH directions (clone insert invisible to source,
    // source delete invisible to clone), a deep clone replays the fork
    // content with zero absolute references, and the zero_copy/pin_tag
    // flags are Scala-side structural pins the oracle hard-codes.
    "misc_catalog_clone" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gcln", "graft_catclone")
      SharedFrames.ordersCents(s, d)
        .createOrReplaceTempView("catclone_src")
      s.sql("CREATE TABLE gcln.db.src (o_orderkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_orderkey')")
      s.sql("INSERT INTO gcln.db.src SELECT * FROM catclone_src WHERE o_orderkey % 2 = 0")
      s.sql("INSERT INTO gcln.db.src SELECT * FROM catclone_src WHERE o_orderkey % 2 = 1")
      s.sql("CALL gcln.system.clone('db.src', 'db.fork', 2)") // evens only
      s.sql("INSERT INTO gcln.db.fork SELECT * FROM catclone_src WHERE o_orderkey % 4 = 1")
      s.sql("DELETE FROM gcln.db.src WHERE o_orderkey % 4 = 0")
      s.sql("CALL gcln.system.clone('db.fork', 'db.deep', NULL, true)")
      val srcT = new graft.sources.SnapshotTable(s, s"$wh/db/src")
      val forkT = new graft.sources.SnapshotTable(s, s"$wh/db/fork")
      val zeroCopy = forkT.snapshot(2L).files.nonEmpty &&
        forkT.snapshot(2L).files.forall(f =>
          new org.apache.hadoop.fs.Path(f).isAbsolute)
      val pinned = srcT.tags().get("clone-v2").contains(2L)
      def leg(label: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
          .select(lit(label).as("label"), col("n_rows"), col("total_cents"))
      leg("fork_at_clone", forkT.read(2L))
        .unionByName(leg("fork_tip", s.table("gcln.db.fork")))
        .unionByName(leg("src_tip", s.table("gcln.db.src")))
        .unionByName(leg("deep_tip", s.table("gcln.db.deep")))
        .unionByName(s.range(1).select(lit("zero_copy_pinned").as("label"),
          lit(if (zeroCopy) 1L else 0L).as("n_rows"),
          lit(if (pinned) 1L else 0L).as("total_cents")))
    }),

    // S5: the universal SQL-text extract primitive (client.query(q)) —
    // spark.sql over a registered view; the result stays distributed
    // instead of collapsing to the driver as the reference's to_dataframe.
    "misc_sql_extract" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      Tables.events(s, d).createOrReplaceTempView("events_v")
      s.sql("""SELECT event_type, surrogate_key(event_type) AS type_key,
                      count(*) AS n, min(user_id) AS min_user
               FROM events_v WHERE event_type IS NOT NULL
               GROUP BY event_type""")
    }),

    // SQL TABLE function (injectTableFunction): date_spine — dbt_utils'
    // date-spine macro as a native TVF planned as Range+Project (a
    // generated relation, parallel + codegen'd, no driver-built list),
    // driving the canonical gap-filled-calendar join: every day of Q1
    // 1995 present with its order count, zero-days included.
    "misc_date_spine" -> ((s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      Tables.orders(s, d).createOrReplaceTempView("orders_spine_v")
      s.sql("""SELECT d.day_date, count(o.o_orderkey) AS n_orders
               FROM date_spine(DATE'1995-01-01', DATE'1995-03-31') d
               LEFT JOIN orders_spine_v o ON o.o_orderdate = d.day_date
               GROUP BY d.day_date""")
    }),

    // As-of join: each purchase matched to the user's most recent prior
    // (or simultaneous) click — one shuffle, no range cross product.
    "temporal_asof_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_id").as("click_event_id"), col("ts").as("click_ts"))
      Temporal.asofJoin(purchases, clicks,
          key = "user_id", tsCol = "ts", seqCol = "event_id",
          rightCols = Seq("click_event_id", "click_ts"))
        .select(col("event_id"), col("user_id"), col("click_event_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
    }),

    // Forward as-of: the next click at-or-after each purchase — the
    // mirror of temporal_asof_join, checked against DuckDB's native
    // forward ASOF (l.ts <= r.ts).
    "temporal_asof_forward" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_id").as("click_event_id"), col("ts").as("click_ts"))
      Temporal.asofJoinForward(purchases, clicks,
          key = "user_id", tsCol = "ts", seqCol = "event_id",
          rightCols = Seq("click_event_id", "click_ts"))
        .select(col("event_id"), col("user_id"), col("click_event_id"),
          (unix_micros(col("click_ts")) - unix_micros(col("ts"))).as("gap_us"))
    }),

    // Value-based window frame (RANGE, not ROWS): trailing-90-day spend
    // per customer — the frame bound is a DOMAIN distance, so a customer
    // with sparse orders still gets exactly the last 90 days, not the
    // last N rows. One keyed sort, decimal-exact running sums.
    "misc_window_range_frame" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 2)
      val day = datediff(col("o_orderdate").cast(org.apache.spark.sql.types.DateType),
        lit("1995-01-01").cast(org.apache.spark.sql.types.DateType))
        .cast(org.apache.spark.sql.types.LongType)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("__day").asc)
        .rangeBetween(-90L, 0L)
      Tables.orders(s, d)
        .withColumn("__day", day)
        .withColumn("trailing_90d_spend",
          sum(col("o_totalprice").cast(dec)).over(w)
            .cast(org.apache.spark.sql.types.DoubleType))
        .withColumn("trailing_90d_orders", count(lit(1)).over(w))
        .select(col("o_orderkey"), col("o_custkey"), col("__day").as("order_day"),
          col("trailing_90d_spend"), col("trailing_90d_orders"))
    }),

    // Retention cohorts: users grouped by first-active week, activity
    // counted per week-offset — the classic triangle matrix. Weeks are
    // exact integer day-counts div 7 (engine-identical), never a
    // date_trunc whose week-start convention could differ. Two keyed
    // aggregations + one join; the distinct shrinks the fact to
    // (user, week) before anything else touches it.
    "misc_retention_cohorts" -> ((s, d) => {
      val week = floor(datediff(col("ts").cast(org.apache.spark.sql.types.DateType),
        lit("1995-01-01").cast(org.apache.spark.sql.types.DateType)) / 7)
      val userWeeks = Tables.events(s, d)
        .select(col("user_id"), week.as("week")).distinct()
      val cohorts = userWeeks.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      userWeeks.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_index"))
        .agg(countDistinct(col("user_id")).as("active_users"))
    }),

    // Time-series gap fill: the sparse hourly series per event type is
    // densified onto the full hourly grid (sequence-explode between each
    // type's min and max hour — generated, never scanned) and gaps carry
    // the last observed value forward (keyed window, last ignoreNulls).
    // Sums aggregate in DECIMAL; the hour grid is exact timestamps.
    "misc_gap_fill" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 2)
      val hour = date_trunc("hour", col("ts"))
      val sparse = Tables.events(s, d)
        // thin the series so real gaps exist on the hourly grid
        .filter(col("event_id") % 19 === 0)
        .groupBy(col("event_type"), hour.as("hour_ts"))
        .agg(sum(col("value").cast(dec)).cast(org.apache.spark.sql.types.DoubleType)
          .as("obs_value"))
      val grid = sparse.groupBy(col("event_type"))
        .agg(min(col("hour_ts")).as("lo"), max(col("hour_ts")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour_ts"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("hour_ts").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      grid.join(sparse, Seq("event_type", "hour_ts"), "left")
        .withColumn("filled_value", last(col("obs_value"), ignoreNulls = true).over(w))
        .withColumn("was_observed", col("obs_value").isNotNull)
        .select(col("event_type"), col("hour_ts"), col("filled_value"), col("was_observed"))
    }),

    // Sessionization: 30-minute inactivity gap per user.
    "temporal_sessionize" -> ((s, d) =>
      Temporal.sessionize(Tables.events(s, d), "user_id", "ts", "event_id", 1800)
        .select(col("event_id"), col("user_id"), col("session_seq"))),

    // BI-TEMPORAL join: valid time × transaction time, composed from
    // two existing surfaces — an SCD-2 dimension (valid_from/valid_to
    // intervals, Temporal.scd2Lookup: ONE equi-join with the interval
    // residual, no range cross product) stored in a snapshot table
    // whose VERSIONS are the transaction axis (time travel). tx v2
    // publishes a correction (even customers' tier switch moves
    // 1995→1996 and renames); querying both versions shows each fact
    // joined to what the database KNEW then, valid at the fact's own
    // order date. The matrix replays in DuckDB from pure date/key
    // arithmetic.
    "temporal_bitemporal_join" -> ((s, d) => {
      val root = new java.io.File(Tables.freshTmpDir(s, "graft_bitemporal"),
        "dim").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root)
      val cust = Tables.customer(s, d).select(col("c_custkey"))
      def dim(switchDate: String, lateTier: String) = {
        val even = cust.filter(col("c_custkey") % 2 === 0)
        even.select(col("c_custkey").as("custkey"),
            lit("1990-01-01").cast("date").as("valid_from"),
            lit(switchDate).cast("date").as("valid_to"),
            lit("early").as("tier"))
          .unionByName(even.select(col("c_custkey").as("custkey"),
            lit(switchDate).cast("date").as("valid_from"),
            lit(null).cast("date").as("valid_to"),
            lit(lateTier).as("tier")))
          .unionByName(cust.filter(col("c_custkey") % 2 === 1)
            .select(col("c_custkey").as("custkey"),
              lit("1990-01-01").cast("date").as("valid_from"),
              lit(null).cast("date").as("valid_to"),
              lit("flat").as("tier")))
      }
      t.commitOverwrite(dim("1995-01-01", "late"))   // tx v1: first knowledge
      t.commitOverwrite(dim("1996-01-01", "late2"))  // tx v2: the correction
      val facts = Tables.orders(s, d).select(col("o_custkey").as("custkey"),
        col("o_orderdate"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      Seq(1L, 2L).map { txv =>
        Temporal.scd2Lookup(facts, t.read(txv), "custkey", "o_orderdate",
            dimCols = Seq("tier"))
          .groupBy(col("tier"))
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
          .select(lit(txv).as("tx_version"), col("tier"),
            col("n_orders"), col("total_cents"))
      }.reduce(_.unionByName(_))
    }),

    // Session-path mining: the first three event types of every 30-min
    // session, concatenated into a path signature and counted — funnel
    // DISCOVERY (which journeys happen) where stream_funnel measures a
    // fixed journey. Reuses Temporal.sessionize; the path string is
    // assembled by the array_sort(struct(rn, …)) fold so collect order
    // never matters. Path space is bounded (|event types|³), so the
    // final aggregation is tiny at any scale.
    "misc_session_paths" -> ((s, d) => {
      val sess = Temporal.sessionize(Tables.events(s, d), "user_id", "ts", "event_id", 1800)
      val w = Window.partitionBy(col("user_id"), col("session_seq"))
        .orderBy(col("ts").asc, col("event_id").asc)
      sess.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
    }),

    // Conversion latency: per user, first click → first subsequent
    // purchase; the funnel's time dimension as one row of robust stats
    // (exact percentiles over integral seconds; integer-ppm conversion
    // rate). Two filtered aggregations + one keyed join — no window.
    "misc_time_to_convert" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("fc_us"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      val per = clicks.join(purch, Seq("user_id"), "left")
        .groupBy(col("user_id"))
        .agg(min(col("fc_us")).as("fc_us"),
          min(when(col("p_us") >= col("fc_us"), col("p_us"))).as("fp_us"))
        .withColumn("delta_sec", expr("(fp_us - fc_us) DIV 1000000"))
      per.agg(count(lit(1)).as("n_clickers"), count(col("fp_us")).as("n_converted"),
          round(expr("percentile(delta_sec, 0.5D)"), 6).as("median_sec"),
          round(expr("percentile(delta_sec, 0.9D)"), 6).as("p90_sec"))
        .select(col("n_clickers"), col("n_converted"),
          expr("n_converted * 1000000 DIV n_clickers").as("conv_ppm"),
          col("median_sec"), col("p90_sec"))
    }),

    // JSON landing-shape extraction (Airbyte payloads land as JSON text):
    // typed from_json struct access, codegen-friendly.
    "misc_json_extract" -> ((s, d) =>
      Tables.events(s, d).select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType))))("k").as("k_val"))),

    // The VARIANT twin of misc_json_extract — Spark 4's semi-structured
    // type: props parsed ONCE into the binary Variant encoding
    // (parse_json), fields then extracted with variant_get at
    // column-access cost instead of per-access JSON re-parsing — the
    // right landing-zone shape when payload schemas drift (Airbyte-style
    // ingestion at 100 TB parses each payload once, not once per query
    // predicate). Extracted scalars only at the output boundary
    // (VariantType itself is driver-unhashable by the banned-type gate).
    "misc_variant_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          variant_get(parse_json(col("props")), "$.k", "int")
            .cast(org.apache.spark.sql.types.LongType).as("k_val"),
          col("value"))
        .withColumn("k_bucket", expr("k_val div 10"))
        .groupBy(col("k_bucket"))
        .agg(count(lit(1)).as("n_events"),
          min(col("k_val")).as("k_min"), max(col("k_val")).as("k_max"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(org.apache.spark.sql.types.DoubleType).as("total_value"))),

    // CUBE over the order dims: all four grouping-set combinations in one
    // pass (Expand + partial agg — no re-scan per set), with GROUPING()
    // flags so downstream can tell a subtotal row from a real NULL group.
    "misc_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping(col("o_orderstatus")).cast(org.apache.spark.sql.types.IntegerType).as("g_status"),
          grouping(col("o_orderpriority")).cast(org.apache.spark.sql.types.IntegerType).as("g_prio"),
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(org.apache.spark.sql.types.DoubleType).as("total"))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("g_status"), col("g_prio"), col("n_orders"), col("total"))),

    // The ranking-window family over one keyed sort: rank, dense_rank,
    // percent_rank, cume_dist, ntile — all five share a single window
    // (one shuffle + one sort, per-nation partitions). The order key is
    // (acctbal, custkey) so ties cannot make percent_rank/ntile
    // nondeterministic.
    "misc_window_ranks" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          rank().over(w).cast(org.apache.spark.sql.types.LongType).as("rnk"),
          dense_rank().over(w).cast(org.apache.spark.sql.types.LongType).as("drnk"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"),
          ntile(4).over(w).as("quartile"))
    }),

    // Hierarchical totals: ROLLUP over (returnflag, linestatus) — the
    // grouping-sets family; decimal-exact aggregation, DOUBLE at the
    // output boundary (cross-engine-stable).
    "misc_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"))),

    // Fact-fact join over BUCKETED tables: both sides land pre-hashed on
    // the join key (8 buckets, sorted), so the sort-merge join needs NO
    // shuffle exchange — the layout that makes a repeated 100 TB
    // fact⋈fact join affordable. Tables are written once per session
    // into the (gitignored) warehouse; the merge hint keeps the join
    // SMJ so the bucket layout, not a broadcast, is what's exercised.
    "misc_bucketed_join" -> ((s, d) => {
      val tag = new java.io.File(d).getName.replaceAll("[^a-zA-Z0-9]", "_")
      val ot = s"graft_orders_bkt_$tag"; val lt = s"graft_lineitem_bkt_$tag"
      // a fresh JVM has an empty in-memory catalog but the previous run's
      // warehouse directory may remain — clear the orphan or saveAsTable
      // fails with LOCATION_ALREADY_EXISTS
      def ensure(table: String, df: => org.apache.spark.sql.DataFrame,
                 bucketCol: String): Unit =
        if (!s.catalog.tableExists(table)) {
          val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
          val loc = new java.io.File(wh, table)
          if (loc.exists()) {
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
            }
            rm(loc)
          }
          graft.sources.Sources.writeBucketed(df, table, bucketCol, 8, Some(bucketCol))
        }
      ensure(ot, Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        "o_orderkey")
      ensure(lt, Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_extendedprice"), col("l_discount")), "l_orderkey")
      val dec = org.apache.spark.sql.types.DecimalType(18, 2)
      val o = s.table(ot); val l = s.table(lt)
      o.hint("merge").join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(dec) *
            (lit(BigDecimal(1).setScale(2)) - col("l_discount").cast(dec)))
            .cast(org.apache.spark.sql.types.DoubleType).as("revenue"))
    }),

    // GROUPING SETS beyond what ROLLUP can express (the middle set keeps
    // linestatus, not the rollup prefix), with grouping_id disambiguating
    // aggregated-away NULLs from data NULLs.
    "misc_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs_v")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem_gs_v
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""")
    }),

    // Interval-OVERLAP join (RangeJoin.intervalOverlap): concurrent open
    // orders per customer — both sides explode to covering bins, hash
    // join on (customer, bin), first-shared-bin claim keeps it
    // duplicate-free with no distinct. The plain formulation of this
    // self-join (equi + two inequalities) Catalyst handles fine WITH the
    // customer key; the binned operator is for the keyless case where
    // that plan degenerates — the oracle pins the binned path to the
    // naive semantics.
    "misc_interval_overlap" -> ((s, d) => {
      val iv = Tables.orders(s, d).select(
        col("o_custkey").as("cust"),
        col("o_orderkey"),
        datediff(col("o_orderdate").cast(org.apache.spark.sql.types.DateType),
          lit("1995-01-01").cast(org.apache.spark.sql.types.DateType))
          .cast(org.apache.spark.sql.types.LongType).as("lo"))
        .withColumn("hi", col("lo") + 30L)
      val l = iv.select(col("cust"), col("o_orderkey").as("k1"),
        col("lo").as("lo1"), col("hi").as("hi1"))
      val r = iv.select(col("cust"), col("o_orderkey").as("k2"),
        col("lo").as("lo2"), col("hi").as("hi2"))
      graft.operators.RangeJoin
        .intervalOverlap(l, r, "lo1", "hi1", "lo2", "hi2",
          binWidth = 32L, keyCols = Seq("cust"))
        .filter(col("k1") < col("k2"))
        .select(col("cust"), col("k1"), col("k2"),
          (least(col("hi1"), col("hi2")) - greatest(col("lo1"), col("lo2")) + 1L)
            .as("overlap_days"))
    }),

    // Native top-k AGGREGATE (TopKAgg): per-group bounded heaps that
    // combine map-side and merge at reduce time — the shuffle carries at
    // most k entries per group per partition, vs the window idiom's
    // full-group shuffle+sort. The oracle IS the window idiom, so this
    // row pins aggregate == window exactly (deterministic via the
    // payload tiebreak).
    "misc_topk_aggregate" -> ((s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(org.apache.spark.sql.graft.TopKAgg(
          col("c_acctbal"), col("c_custkey"), 3).as("tk"))
        .select(col("c_nationkey"), posexplode(col("tk")))
        .select(col("c_nationkey"), (col("pos") + 1).cast(org.apache.spark.sql.types.LongType).as("rnk"),
          col("col.payload").as("c_custkey"), col("col.score").as("c_acctbal"))),

    // Re-aggregatable sketch rollup: per-nation HLL sketches UNIONED up
    // to regions — the two-level pattern that lets a 100 TB distinct
    // count pre-aggregate per partition/day and merge later, instead of
    // re-scanning raw keys at every rollup level. The oracle pins the
    // exact counts; the sketch estimate is asserted in-tolerance as a
    // boolean (sketches are approximate by contract, not a hash-match).
    "misc_sketch_rollup" -> ((s, d) => {
      val perNation = Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(hll_sketch_agg(col("c_custkey")).as("sk"),
          countDistinct(col("c_custkey")).as("exact_n"))
      perNation
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
          // customers belong to exactly one nation, so the exact region
          // distinct is the sum of per-nation distincts — integer-exact
          sum(col("exact_n")).as("exact_customers"))
        .select(col("r_name"), col("exact_customers"),
          (abs(col("est") - col("exact_customers")) * 100 <= col("exact_customers") * 5)
            .as("union_est_within_5pct"))
    }),

    // Sketch aggregates: approximate distinct + quantiles. Engine sketches
    // differ by design, so the oracle-checkable contract is the error
    // BOUND, not the estimate: emit the exact answers plus booleans
    // asserting each sketch landed inside its tolerance (HLL ±15% ≈ 3σ at
    // the default rsd=0.05 — a 1σ band would flip red on a healthy sketch
    // for ~1/3 of datasets; percentile_approx within the exact
    // p45..p55 / p98..p99.5 value bands at accuracy=1000). The oracle
    // states the same row with the bounds as literal true — a sketch
    // regression flips a green row.
    "misc_approx_sketch" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_orderkey")).as("acd"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50a"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(1000)).as("p99a"),
        expr("percentile(l_extendedprice, array(0.45D, 0.55D, 0.98D, 0.995D))").as("pex"))
      .select(col("exact_orders"),
        (abs(col("acd") - col("exact_orders")) * 100 <= col("exact_orders") * 15)
          .as("approx_distinct_within_15pct"),
        (col("p50a") >= element_at(col("pex"), 1) &&
          col("p50a") <= element_at(col("pex"), 2)).as("p50_in_band"),
        (col("p99a") >= element_at(col("pex"), 3) &&
          col("p99a") <= element_at(col("pex"), 4)).as("p99_in_band"))),

    // Skyline (Pareto frontier): cheapest-AND-earliest orders — rows no
    // other row beats on both price and date. Two-phase distributed
    // operator (per-partition frontier, then global pass over the tiny
    // union); the oracle states the same set as a quadratic NOT EXISTS,
    // restricted to a 1/13 slice to keep the oracle's nested loop cheap.
    "misc_skyline" -> ((s, d) =>
      // the native Catalyst operator path (SkylineNode/SkylineExec);
      // SkylineSpec proves it equal to the portable mapPartitions path
      graft.operators.Skyline.skylineNative(
        Tables.orders(s, d)
          .filter(col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey"), col("o_totalprice"),
            unix_micros(col("o_orderdate")
              .cast(org.apache.spark.sql.types.TimestampType)).as("order_date_us")),
        minimize = Seq("o_totalprice", "order_date_us"))),

    // Heavy hitters via the native Misra-Gries imperative aggregate
    // (constant memory, mergeable across partitions). The oracle-checkable
    // contract is the sketch's GUARANTEE, not its layout-dependent
    // candidate set: every term with freq > n/k is captured, and every
    // reported estimate sits in [true - n/k, true] — emitted as booleans
    // alongside the exact counts (same posture as misc_approx_sketch).
    // click+view are collapsed to one ~40% term so the capture guarantee
    // actually binds at k=4.
    "misc_heavy_hitters" -> ((s, d) => {
      val k = 4
      val e = Tables.events(s, d).filter(col("event_type").isNotNull)
        .select(when(col("event_type").isin("click", "view"), lit("engage"))
          .otherwise(col("event_type")).as("term"))
      val total = e.agg(count(lit(1)).as("n"))
      val cands = e.agg(org.apache.spark.sql.graft.MisraGries(col("term"), k).as("cs"))
        .select(explode(col("cs")).as("c"))
        .select(col("c.term").as("term"), col("c.est").as("est"))
      e.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .join(cands, Seq("term"), "left")
        .select(col("term"), col("cnt"),
          (col("cnt") * k <= col("n") || col("est").isNotNull).as("hh_captured"),
          (col("est").isNull ||
            (col("est") <= col("cnt") && col("est") * k + col("n") >= col("cnt") * k))
            .as("est_ok"))
    }),

    // Salted two-phase aggregation (Skew.saltedAggregate): the hot-key
    // insurance for a 100 TB groupBy — partial sums per (key, salt)
    // spread a hot key over 16 reducers, the final pass folds 16 rows
    // per key. The oracle is the PLAIN group-by: green means the salted
    // plan is bit-identical to the unsalted one (exact DECIMAL partials
    // make the two-stage sum order-independent; DOUBLE only at the
    // output boundary).
    "misc_salted_agg" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 2)
      val li = Tables.lineitem(s, d).select(
        col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
        col("l_quantity").cast(dec).as("qty"),
        col("l_extendedprice").cast(dec).as("price"))
      graft.operators.Skew.saltedAggregate(li,
          keys = Seq("l_returnflag", "l_linestatus"), spread = col("l_orderkey"),
          sums = Map("sum_qty" -> "qty", "sum_price" -> "price"),
          countCol = Some("n"), saltBuckets = 16)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty").cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"),
          col("sum_price").cast(org.apache.spark.sql.types.DoubleType).as("sum_price"),
          col("n"))
    }),

    // Salted replicated join (Skew.replicatedSaltedJoin): the dimension
    // is exploded once per salt, the fact salted deterministically, the
    // join runs on (key, salt) — a hot orderkey spreads over 8 reducers.
    // Oracle = the plain join: green proves replication changes nothing.
    "misc_salted_join" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 2)
      val fact = Tables.lineitem(s, d).select(
        col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
      val dim = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.replicatedSaltedJoin(fact, dim, Seq("o_orderkey"),
          spread = struct(col("o_orderkey"), col("l_linenumber")), saltBuckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(dec) *
            (lit(BigDecimal(1).setScale(2)) - col("l_discount").cast(dec)))
            .cast(org.apache.spark.sql.types.DoubleType).as("revenue"))
    }),

    // Z-order pruning evidence (Layout.zValue2): simulate the file
    // layout both ways — linear (x, y) sort vs Morton-interleaved — cut
    // into 64 equal files (ntile), and count the files a min-side
    // predicate on x, on y, and on both would have to read from their
    // min/max footer stats. Green + zorder's files_y < linear's is the
    // driver-visible proof that the interleaved layout prunes on EITHER
    // column where a linear sort only prunes its prefix. (The global
    // ntile is the SIMULATION's device so DuckDB can replay the exact
    // assignment; the real write path, Layout.writeZOrdered, uses
    // repartitionByRange — no global window — and stays covered by
    // LayoutSpec.)
    "misc_zorder_pruning" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, d).select(
        col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"),
        (col("l_orderkey").cast("long") * 10 + col("l_linenumber")).as("rid"))
      // cached (query-scoped): both stats() branches consume this frame,
      // and its two global window sorts are the query's dominant cost —
      // uncached they re-run once per branch (same lesson as the curation
      // funnel's stage frames); the harness releases it after the action
      val filed = graft.QueryCaches.scoped(li
        .withColumn("z", graft.operators.Layout.zValue2(col("x"), col("y")))
        .withColumn("f_lin",
          ntile(64).over(w.orderBy(col("x").asc, col("y").asc, col("rid").asc)))
        .withColumn("f_z", ntile(64).over(w.orderBy(col("z").asc, col("rid").asc))))
      val bounds = broadcast(li.agg(
        expr("max(x) div 8").as("hx"), expr("max(y) div 8").as("hy")))
      def stats(fcol: String, layout: String): DataFrame =
        filed.groupBy(col(fcol).as("f"))
          .agg(min("x").as("min_x"), min("y").as("min_y"))
          .withColumn("layout", lit(layout))
      stats("f_lin", "linear").unionByName(stats("f_z", "zorder"))
        .crossJoin(bounds)
        .groupBy(col("layout"))
        .agg(count(lit(1)).as("files_total"),
          sum(when(col("min_x") <= col("hx"), 1L).otherwise(0L)).as("files_x"),
          sum(when(col("min_y") <= col("hy"), 1L).otherwise(0L)).as("files_y"),
          sum(when(col("min_x") <= col("hx") && col("min_y") <= col("hy"), 1L)
            .otherwise(0L)).as("files_xy"))
    }),

    // Bloom-filter pre-join (BloomJoin.bloomFiltered): the selective-dim
    // runtime filter — a bloom over the dim keys broadcasts in KBs and
    // drops non-matching fact rows MAP-SIDE before the join shuffle.
    // Oracle = the plain join: green proves no-false-negatives (every
    // true match survives the bloom) and that the trailing equi join
    // scrubs the false positives — the result is identical, only the
    // shuffled volume changes.
    "misc_bloom_prejoin" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 2)
      val dim = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val fact = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"))
      graft.operators.BloomJoin
        .bloomFiltered(fact, "l_orderkey", dim, "o_orderkey", expectedItems = 100000L)
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(dec))
            .cast(org.apache.spark.sql.types.DoubleType).as("sum_price"))
    }),

    // PageRank, oracle-gated: the fixed-iteration FIXED-POINT variant
    // (PageRank.pageRankFixedPoint) over the customer→supplier purchase
    // graph (distinct (o_custkey, l_suppkey) pairs; ids disambiguated as
    // 2k / 2k+1). Ranks are BIGINT mass units with truncating integer
    // division throughout, so the result is bit-identical across engines
    // and partitionings — no FP summation-order dependence, no
    // convergence flap. Every supplier node is DANGLING (no out-edges),
    // so the uniform dangling-mass redistribution — the part of the
    // operator a naive implementation drops — carries half the graph's
    // mass every round and is fully exercised by the gate. The
    // tolerance-converged double variant stays spec-gated (PageRankSpec,
    // == sequential reference within 1e-6).
    "misc_pagerank" -> ((s, d) =>
      graft.operators.PageRank.pageRankFixedPoint(
        bipartiteEdges(s, d), "src", "dst", iters = 5)),

    // HITS hubs & authorities (Kleinberg, JACM 1999) on the same
    // customer→supplier bipartite graph: customers are pure hubs (who
    // curates well), suppliers pure authorities (who is endorsed) — the
    // mutually-recursive centrality pair one diffusion cannot express.
    // Same fixed-iteration BIGINT mass discipline as misc_pagerank with
    // L1 normalization per side (L2 needs a square root no integer
    // replay has); 3 unrolled rounds replayed by the oracle.
    "misc_hits" -> ((s, d) =>
      graft.operators.Hits.hitsFixedPoint(
        bipartiteEdges(s, d), "src", "dst", iters = 3)),

    // TrustRank / personalized PageRank (Gyöngyi et al., VLDB 2004) on
    // the same customer→supplier bipartite graph: teleport and dangling
    // mass return ONLY to the trusted seed customers (custkey % 97 == 0
    // ⇒ node % 194 == 0 — odd supplier nodes can never match), so
    // rank_fp measures distance-discounted reachability from trust — the
    // propagation web-corpus curation uses to extend a vetted whitelist.
    // Same fixed-iteration BIGINT mass discipline as misc_pagerank;
    // 5 unrolled rounds replayed by the oracle.
    "misc_trustrank" -> ((s, d) => {
      val edges = bipartiteEdges(s, d)
      val seeds = edges.filter(col("src") % 194 === 0).select(col("src").as("seed"))
      graft.operators.PageRank.personalizedPageRankFixedPoint(
        edges, "src", "dst", seeds, "seed", iters = 5)
    }),

    // Degree-ordered triangle counting (operators/Triangles, Suri &
    // Vassilvitskii WWW 2011) over the co-purchase graph: parts
    // co-ordered in the same 1995 order are linked; per-part triangle
    // counts measure basket cliquishness. The orientation bounds the
    // wedge intermediate at O(m^1.5) regardless of hub parts — the shape
    // that survives a power-law co-purchase graph at 100 TB. The (deg,
    // id) total order is mirrored by DuckDB row comparison, so the
    // enumeration is engine-identical and integer-exact.
    "misc_triangle_count" -> ((s, d) =>
      graft.operators.Triangles.triangleCounts(coPurchaseEdges(s, d), "a", "b")),

    // Local clustering coefficient — triangle_count's per-node ratio
    // form: cc(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)), the standard
    // "how complete is this node's neighborhood" statistic (Watts &
    // Strogatz). Reported in exact integer ppm (no float division), over
    // EVERY node of degree ≥ 2 — triangle-free nodes appear with cc 0,
    // which is the signal (a high-degree cc≈0 part is a pure hub; a
    // cc≈1 clique member is a bundle). Cost adds one left join over the
    // degree frame to the O(m^1.5) oriented triangle enumeration.
    "misc_clustering_coefficient" -> ((s, d) => {
      val e = graft.QueryCaches.scoped(coPurchaseEdges(s, d).distinct())
      val tri = graft.operators.Triangles.triangleCounts(e, "a", "b")
      val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("degree"))
        .filter(col("degree") >= 2)
      deg.join(tri.select(col("node").as("n"), col("triangles")), Seq("n"), "left")
        .select(col("n").as("node"), col("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"),
          expr("coalesce(triangles, 0) * 2 * 1000000 DIV (degree * (degree - 1))")
            .as("cc_ppm"))
    }),

    // k-core peeling (operators/KCore) on the same co-purchase graph:
    // 6 fixed peel rounds at threshold 12 extract the dense basket
    // kernel. Fixed rounds — not peel-to-fixpoint — keep the job count
    // bounded and the DuckDB unroll exact (kcoreIterCte), the same
    // determinism contract as misc_pagerank.
    "misc_kcore" -> ((s, d) =>
      graft.operators.KCore.kCorePeel(coPurchaseEdges(s, d), "a", "b",
        k = 12, rounds = 6)),

    // Neighbor-set Jaccard similarity — the classic link-prediction /
    // item-item collaborative-filtering statistic: pairs sharing ≥ 4
    // common neighbors, scored common/|N(a) ∪ N(b)| in exact integer
    // ppm. HUB-SAFE: wedge centers are degree-capped at 256 (see
    // NodeSimilarity — a single 100k-degree hub would otherwise emit
    // 10^10 wedge pairs); the cap is a no-op on this fixture (max
    // co-purchase degree 71 at sf0.1) and cited in the output.
    "misc_node_jaccard" -> ((s, d) => {
      val e = graft.QueryCaches.scoped(coPurchaseEdges(s, d).distinct())
      val und = e.select(col("a").as("n"), col("b").as("m"))
        .unionAll(e.select(col("b").as("n"), col("a").as("m")))
      graft.operators.NodeSimilarity.jaccardPairs(und,
        minCommon = 4, centerDegCap = 256)
    }),

    // Adamic–Adar link prediction — node_jaccard's frequency-weighted
    // sibling: common neighbors weighted 1/ln(deg(w)), so sharing a rare
    // neighbor counts more than sharing a hub. Same hub-capped wedge
    // join as misc_node_jaccard (centers bounded at degree 256 — the
    // |hub|² safety the r9 experiment measured; the cap excludes exactly
    // the wedges Adamic–Adar discounts to ~nothing), weights rounded
    // ONCE per center to a scaled BIGINT for engine-exact sums.
    "misc_adamic_adar" -> ((s, d) => {
      val e = graft.QueryCaches.scoped(coPurchaseEdges(s, d).distinct())
      val und = e.select(col("a").as("n"), col("b").as("m"))
        .unionAll(e.select(col("b").as("n"), col("a").as("m")))
      graft.operators.NodeSimilarity.adamicAdar(und,
        minCommon = 4, centerDegCap = 256)
    }),

    // Deterministic synchronous label propagation (min-label tie-break),
    // 4 fixed rounds over the 1995 co-purchase graph — community
    // structure where CC would collapse to one giant component.
    "misc_label_propagation" -> ((s, d) =>
      graft.operators.LabelPropagation.propagate(coPurchaseEdges(s, d),
        "a", "b", rounds = 4)),

    // Multi-source BFS hop distance (operators/Bfs) from the seed part
    // set (every 97th part) over the 1995 co-purchase graph — the
    // "distance to a trusted set" feature (TrustRank-style). 3 fixed
    // frontier expansions, same unrolled-replay determinism contract as
    // misc_pagerank/misc_kcore; the frontier (not the visited set)
    // drives each expansion join, integer hops throughout.
    "misc_bfs_hops" -> ((s, d) =>
      graft.operators.Bfs.bfsHops(coPurchaseEdges(s, d), "a", "b",
        Tables.part(s, d).filter(col("p_partkey") % 97 === 0),
        "p_partkey", rounds = 3)),

    // Log₂-bucketed degree distribution of the co-purchase graph — the
    // power-law sanity readout every graph pipeline should ship (it is
    // what justifies the degree-ordered Triangles orientation and the
    // skew tooling). floor(log₂ deg) comes from the BINARY STRING length
    // (bin/printf('%b')), never from float log2 — exact at power-of-two
    // boundaries on both engines.
    "misc_degree_distribution" -> ((s, d) => {
      val e = coPurchaseEdges(s, d).distinct()
      val und = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      und.groupBy(col("n")).agg(count(lit(1)).as("deg"))
        .withColumn("bucket",
          (length(expr("bin(deg)")) - 1).cast(org.apache.spark.sql.types.LongType))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
          max(col("deg")).as("max_deg"))
    }),

    // Weighted single-source shortest paths (operators/ShortestPaths,
    // fixed-round Bellman–Ford) from the same seed set over the
    // co-purchase graph, weighted by affinity distance (1e6 DIV
    // co-order count — frequently co-bought parts are "close"). Each
    // round re-relaxes every edge out of the visited set — min is
    // associative, so the integer result is partitioning-exact and the
    // 3-round unroll replays in DuckDB; paths of ≤ 3 edges, a longer-
    // but-cheaper 2-hop path beats a heavy direct edge.
    "misc_sssp" -> ((s, d) => {
      val wedges = coPurchaseEdges(s, d).groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("a"), col("b"), expr("1000000 DIV cnt").as("w"))
      graft.operators.ShortestPaths.bellmanFord(wedges, "a", "b", "w",
        Tables.part(s, d).filter(col("p_partkey") % 97 === 0),
        "p_partkey", rounds = 3)
    }),

    // Peak concurrency per day — the endpoint-sweep interval statistic
    // (max simultaneous sessions; licensing/capacity readout). Sessions
    // come from the 30-min sessionizer; the ±1 sweep runs over SESSION
    // endpoints (two rows per session — orders of magnitude below event
    // grain), with a unique (ts, delta, user, seq) total order so the
    // running sum is engine-identical; starts at an instant count as
    // overlapping ends (delta DESC puts +1 first).
    "misc_peak_concurrency" -> ((s, d) => {
      val sess = graft.operators.Temporal
        .sessionize(Tables.events(s, d), "user_id", "ts", "event_id", 1800)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
      val pts = sess.select(col("st").as("ts"), lit(1L).as("delta"),
          col("user_id"), col("session_seq"))
        .unionAll(sess.select(col("en").as("ts"), lit(-1L).as("delta"),
          col("user_id"), col("session_seq")))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("ts").asc, col("delta").desc, col("user_id").asc,
          col("session_seq").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      pts.withColumn("conc", sum(col("delta")).over(w))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(max(col("conc")).as("peak_concurrency"),
          sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_sessions_started"))
    }),

    // Grouped Pearson correlation + sample covariance from EXACT decimal
    // moments: one scan, six map-combinable partial aggregates (n, Σx,
    // Σy, Σx², Σy², Σxy) — the only statistics shape that holds at
    // 100 TB (partials merge associatively; no second pass, no
    // centering). Spark's built-in corr() accumulates doubles, whose
    // summation order is partitioning-dependent; exact DECIMAL moments
    // are order-independent, and the closed-form double arithmetic on
    // top is textually mirrored by the oracle, so the result is
    // engine-identical AND partitioning-identical.
    "misc_correlation" -> ((s, d) => {
      val dt = org.apache.spark.sql.types.DecimalType(18, 2)
      val x = col("l_quantity").cast(dt)
      val y = col("l_extendedprice").cast(dt)
      val dbl = (c: String) => col(c).cast(org.apache.spark.sql.types.DoubleType)
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          ((dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")) /
            (sqrt(dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")) *
              sqrt(dbl("n") * dbl("syy") - dbl("sy") * dbl("sy"))))
            .as("corr_qty_price"),
          ((dbl("sxy") - dbl("sx") * dbl("sy") / dbl("n")) / (dbl("n") - lit(1.0)))
            .as("cov_qty_price"))
    }),

    // U1: UNION ALL of two incremental slices (column-name aligned).
    "misc_union_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .unionByName(
          o.filter(col("o_orderstatus") === "O")
            .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
    })
  )

  /** The 1995 co-purchase graph shared by the graph-analytics queries:
    * parts co-ordered in the same order are linked (distinct canonical
    * pairs; per-order fan-out is bounded by basket size, so edge
    * generation is a shuffle join on orderkey, never quadratic in parts). */
  /** Unscoped session cache (the retail raw/fct pattern): ten graph
    * queries build this same projection — the cache manager plan-matches
    * them to ONE materialization per session instead of re-running the
    * orders⋈lineitem join + self-join per query. Id-pair rows only
    * (~20k at sf0.1), so holding it for the session is free.
    * MEMORY_AND_DISK_SER (r21): at 100 TB the edge list is corpus-scale;
    * serialized residency + byte-priced eviction, same plan. */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00")
        .cast(org.apache.spark.sql.types.TimestampType) &&
        col("o_orderdate") < lit("1996-01-01 00:00:00")
          .cast(org.apache.spark.sql.types.TimestampType))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
  }

  /** The customer→supplier bipartite interaction graph shared by the
    * mass-diffusion queries (misc_pagerank / misc_hits / misc_trustrank).
    * Unscoped session cache (the coPurchaseEdges / retail raw pattern):
    * the three queries build the identical projection, so the cache
    * manager plan-matches them to ONE materialization per session
    * instead of re-running the orders⋈lineitem join per query per run.
    * Id-pair longs only (~600k rows at sf0.1), session-resident is
    * free; the operators' own distinct/repartition still run per call.
    * MEMORY_AND_DISK_SER (r21): edge lists are corpus-scale at 100 TB;
    * serialized residency + byte-priced eviction, same plan. */
  private def bipartiteEdges(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** The co-purchase edge CTEs shared by the graph-analytics oracles
    * (mirrors coPurchaseEdges; `e` is the canonical distinct pair set). */
  private val coPurchaseCte: String = """li AS (
  SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
    AND o.o_orderdate < TIMESTAMP '1996-01-01'),
e AS MATERIALIZED (
  SELECT DISTINCT x.pk AS u, y.pk AS v
  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk)"""

  /** One unrolled peel round of the fixed-round k-core replay (DuckDB
    * side of misc_kcore): degree count, survivor filter, induced edges. */
  private def kcoreIterCte(prev: String, cur: String, k: Int): String = s"""
kd_$cur AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT u AS n FROM $prev UNION ALL SELECT v AS n FROM $prev) GROUP BY n),
ka_$cur AS (SELECT n FROM kd_$cur WHERE deg >= $k),
$cur AS MATERIALIZED (SELECT p.u, p.v FROM $prev p
         JOIN ka_$cur au ON au.n = p.u JOIN ka_$cur av ON av.n = p.v)"""

  /** One unrolled synchronous update round of the label-propagation
    * replay (DuckDB side of misc_label_propagation): count neighbor
    * labels, adopt the most frequent, ties to the smallest label. */
  private def lpaIterCte(prev: String, cur: String): String = s"""
$cur AS MATERIALIZED (
  SELECT src AS node, lbl FROM (
    SELECT src, lbl, row_number() OVER (PARTITION BY src
             ORDER BY c DESC, lbl ASC) AS rn
    FROM (SELECT d.src, l.lbl, count(*) AS c
          FROM und d JOIN $prev l ON l.node = d.dst
          GROUP BY d.src, l.lbl)) WHERE rn = 1)"""

  /** One unrolled frontier-expansion round of the fixed-round BFS replay
    * (DuckDB side of misc_bfs_hops): expand the hop-(r−1) frontier over
    * the undirected edges, keep only unvisited targets at hop r. */
  private def bfsIterCte(prev: String, cur: String, r: Int): String = s"""
$cur AS MATERIALIZED (
  SELECT * FROM $prev UNION ALL
  SELECT node, CAST($r AS BIGINT) AS hop FROM (
    SELECT DISTINCT d.t AS node FROM bund d
    JOIN $prev f ON d.s = f.node AND f.hop = ${r - 1}
    WHERE d.t NOT IN (SELECT node FROM $prev)))"""

  /** One unrolled relaxation round of the fixed-round Bellman–Ford
    * replay (DuckDB side of misc_sssp): merge current distances with
    * every one-edge extension, keep the min per node. */
  private def ssspIterCte(prev: String, cur: String): String = s"""
$cur AS MATERIALIZED (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM $prev
    UNION ALL
    SELECT e.t AS node, d.dist + e.w AS dist
    FROM wboth e JOIN $prev d ON e.s = d.node) GROUP BY node)"""

  /** One unrolled rank-diffusion round of the fixed-point PageRank
    * replay (DuckDB side of misc_pagerank). Unrolled plain CTEs instead
    * of a recursive CTE: the update step must reference the previous
    * iteration three times (node list, inflow aggregate, dangling
    * aggregate), which recursive-CTE semantics don't allow — and the
    * iteration count is fixed anyway. All arithmetic is BIGINT with
    * truncating `//`, mirroring Spark's `div` exactly. */
  /** One unrolled HITS round: authorities from incoming hub mass, hubs
    * from outgoing authority mass, each L1-normalized in integer mass
    * units — mirrors [[graft.operators.Hits.hitsFixedPoint]]'s update
    * exactly (non-negative BIGINTs, so `//` floor == `div` truncate). */
  private def hitsIterCte(prevHub: String, i: Int): String = s"""
ar$i AS (SELECT e.dst, CAST(sum(h.hub_fp) AS BIGINT) AS raw
        FROM pr_edges e JOIN $prevHub h ON h.node = e.src GROUP BY e.dst),
sa$i AS (SELECT CAST(sum(raw) AS BIGINT) AS s FROM ar$i),
a$i AS (SELECT dst AS node, CAST((raw * 1000000) // s AS BIGINT) AS auth_fp
       FROM ar$i, sa$i),
hr$i AS (SELECT e.src, CAST(sum(a.auth_fp) AS BIGINT) AS raw
        FROM pr_edges e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
sh$i AS (SELECT CAST(sum(raw) AS BIGINT) AS s FROM hr$i),
h$i AS (SELECT src AS node, CAST((raw * 1000000) // s AS BIGINT) AS hub_fp
       FROM hr$i, sh$i)"""

  private def pagerankIterCte(prev: String, cur: String): String = s"""
$cur AS (
  SELECT nd.node,
         CAST(pr_base.b + (85 * (COALESCE(fl.inflow, 0) + dg.dm // pr_n.n)) // 100 AS BIGINT) AS rank_fp
  FROM pr_nodes nd
  CROSS JOIN pr_n
  CROSS JOIN pr_base
  CROSS JOIN (SELECT CAST(COALESCE(sum(p.rank_fp), 0) AS BIGINT) AS dm
              FROM $prev p LEFT JOIN pr_outdeg od ON od.src = p.node
              WHERE od.src IS NULL) dg
  LEFT JOIN (SELECT e.dst, CAST(sum(p.rank_fp // od.deg) AS BIGINT) AS inflow
             FROM $prev p JOIN pr_outdeg od ON od.src = p.node
             JOIN pr_edges e ON e.src = p.node
             GROUP BY e.dst) fl ON fl.dst = nd.node)"""

  /** One unrolled round of the TrustRank replay — [[pagerankIterCte]]
    * with the teleport and dangling terms gated by is_seed and divided
    * by the SEED count, mirroring personalizedPageRankFixedPoint's
    * integer update exactly. */
  private def trustrankIterCte(prev: String, cur: String): String = s"""
$cur AS (
  SELECT nd.node, nd.is_seed,
         CAST(nd.is_seed * tr_base.b
              + (85 * (COALESCE(fl.inflow, 0) + nd.is_seed * (dg.dm // tr_ns.ns))) // 100
              AS BIGINT) AS rank_fp
  FROM tr_nodes nd
  CROSS JOIN tr_ns
  CROSS JOIN tr_base
  CROSS JOIN (SELECT CAST(COALESCE(sum(p.rank_fp), 0) AS BIGINT) AS dm
              FROM $prev p LEFT JOIN tr_outdeg od ON od.src = p.node
              WHERE od.src IS NULL) dg
  LEFT JOIN (SELECT e.dst, CAST(sum(p.rank_fp // od.deg) AS BIGINT) AS inflow
             FROM $prev p JOIN tr_outdeg od ON od.src = p.node
             JOIN tr_edges e ON e.src = p.node
             GROUP BY e.dst) fl ON fl.dst = nd.node)"""

  val oracle: Map[String, String] = graft.SparkEntry.registry(
    // seed-teleport fixed-point replay, 5 unrolled rounds — see
    // trustrankIterCte
    "misc_trustrank" -> s"""
WITH tr_edges AS (
  SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
                  CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
tr_nodes AS (
  SELECT node, CAST(CASE WHEN node % 194 = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_seed
  FROM (SELECT src AS node FROM tr_edges UNION SELECT dst FROM tr_edges)),
tr_ns AS (SELECT CAST(sum(is_seed) AS BIGINT) AS ns FROM tr_nodes),
tr_outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM tr_edges GROUP BY src),
tr_base AS (SELECT CAST(15000000000000 // (100 * ns) AS BIGINT) AS b FROM tr_ns),
tr0 AS (SELECT node, is_seed,
               CAST(is_seed * (1000000000000 // tr_ns.ns) AS BIGINT) AS rank_fp
        FROM tr_nodes CROSS JOIN tr_ns),
${(0 until 5).map(i => trustrankIterCte(s"tr$i", s"tr${i + 1}")).mkString(",")}
SELECT node, is_seed, rank_fp FROM tr5""",

    // fixed-point PageRank replay: same graph, same integer update rule,
    // 5 unrolled rounds — see pagerankIterCte
    "misc_pagerank" -> s"""
WITH pr_edges AS (
  SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
                  CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
pr_nodes AS (SELECT src AS node FROM pr_edges UNION SELECT dst FROM pr_edges),
pr_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pr_nodes),
pr_outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM pr_edges GROUP BY src),
pr_base AS (SELECT CAST(15000000000000 // (100 * n) AS BIGINT) AS b FROM pr_n),
pr0 AS (SELECT node, CAST(1000000000000 // pr_n.n AS BIGINT) AS rank_fp
        FROM pr_nodes CROSS JOIN pr_n),
${(0 until 5).map(i => pagerankIterCte(s"pr$i", s"pr${i + 1}")).mkString(",")}
SELECT node, rank_fp FROM pr5""",

    // 3 unrolled HITS rounds: integer mass, L1-normalized per side
    "misc_hits" -> s"""
WITH pr_edges AS (
  SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
                  CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
pr_nodes AS (SELECT src AS node FROM pr_edges UNION SELECT dst FROM pr_edges),
pr_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pr_nodes),
h0 AS (SELECT node, CAST(1000000 // pr_n.n AS BIGINT) AS hub_fp
       FROM pr_nodes CROSS JOIN pr_n),
${(1 to 3).map(i => hitsIterCte(s"h${i - 1}", i)).mkString(",")}
SELECT nd.node, CAST(COALESCE(h.hub_fp, 0) AS BIGINT) AS hub_fp,
       CAST(COALESCE(a.auth_fp, 0) AS BIGINT) AS auth_fp
FROM pr_nodes nd
LEFT JOIN h3 h ON h.node = nd.node
LEFT JOIN a3 a ON a.node = nd.node""",

    // exact-decimal moments, identical closed-form double arithmetic
    "misc_correlation" -> """
WITH m AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
       (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS corr_qty_price,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) /
       (CAST(n AS DOUBLE) - 1.0) AS cov_qty_price
FROM m""",

    // degree-ordered triangle enumeration replay: same (deg, id) total
    // order via row comparison, same one-wedge-per-triangle closure
    "misc_triangle_count" -> s"""
WITH $coPurchaseCte,
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n),
de AS (
  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN dv.deg ELSE du.deg END AS dkd,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS dki
  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
tri AS (
  SELECT w1.src AS x, w1.dki AS y, w2.dki AS z
  FROM de w1 JOIN de w2 ON w1.src = w2.src AND (w1.dkd, w1.dki) < (w2.dkd, w2.dki)
  JOIN de c ON c.src = w1.dki AND c.dkd = w2.dkd AND c.dki = w2.dki),
corners AS (SELECT x AS node FROM tri UNION ALL SELECT y AS node FROM tri
            UNION ALL SELECT z AS node FROM tri)
SELECT c.node, d.deg AS degree, CAST(count(*) AS BIGINT) AS triangles
FROM corners c JOIN deg d ON d.n = c.node GROUP BY c.node, d.deg""",

    // triangle replay + per-node ratio in exact integer ppm; deg >= 2
    // universe with triangle-free nodes at cc 0
    "misc_clustering_coefficient" -> s"""
WITH $coPurchaseCte,
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n),
de AS (
  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN dv.deg ELSE du.deg END AS dkd,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS dki
  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
tri AS (
  SELECT w1.src AS x, w1.dki AS y, w2.dki AS z
  FROM de w1 JOIN de w2 ON w1.src = w2.src AND (w1.dkd, w1.dki) < (w2.dkd, w2.dki)
  JOIN de c ON c.src = w1.dki AND c.dkd = w2.dkd AND c.dki = w2.dki),
corners AS (SELECT x AS node FROM tri UNION ALL SELECT y AS node FROM tri
            UNION ALL SELECT z AS node FROM tri),
tc AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM corners GROUP BY node)
SELECT d.n AS node, d.deg AS degree,
       CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
       CAST(coalesce(t.triangles, 0) * 2 * 1000000 // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_ppm
FROM deg d LEFT JOIN tc t ON t.node = d.n
WHERE d.deg >= 2""",

    // six unrolled peel rounds at k=12 — see kcoreIterCte
    "misc_kcore" -> s"""
WITH $coPurchaseCte,
${(0 until 6).map(i => kcoreIterCte(if (i == 0) "e" else s"ke$i", s"ke${i + 1}", 12)).mkString(",")}
SELECT n AS node, CAST(count(*) AS BIGINT) AS degree
FROM (SELECT u AS n FROM ke6 UNION ALL SELECT v AS n FROM ke6) GROUP BY n""",

    // hub-capped wedge join (centers degree 2..256, identical cap to
    // the Spark side) weighted by round(1e9/ln(deg(w))) scaled ints
    "misc_adamic_adar" -> s"""
WITH $coPurchaseCte,
und AS MATERIALIZED (
  SELECT u AS n, v AS m FROM e UNION ALL SELECT v AS n, u AS m FROM e),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY n),
ctr AS (
  SELECT x.n, x.m,
         CAST(round(1e9 / ln(CAST(dw.deg AS DOUBLE))) AS BIGINT) AS aa9
  FROM und x JOIN deg dw ON dw.n = x.n AND dw.deg BETWEEN 2 AND 256),
wedges AS (
  SELECT x.m AS a, y.m AS b, x.aa9
  FROM ctr x JOIN ctr y ON x.n = y.n AND x.m < y.m)
SELECT a, b, CAST(count(*) AS BIGINT) AS common,
       CAST(sum(aa9) AS BIGINT) AS aa_e9,
       CAST(sum(aa9) AS DOUBLE) / 1e9 AS adamic_adar,
       CAST(256 AS BIGINT) AS center_deg_cap
FROM wedges GROUP BY a, b HAVING count(*) >= 4""",

    // wedge join for common neighbors; integer-ppm Jaccard. Wedge centers
    // degree-capped at 256 (hub safety) — identical cap to the Spark side.
    "misc_node_jaccard" -> s"""
WITH $coPurchaseCte,
und AS MATERIALIZED (
  SELECT u AS n, v AS m FROM e UNION ALL SELECT v AS n, u AS m FROM e),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY n),
ctr AS (SELECT x.n, x.m FROM und x JOIN deg dw ON dw.n = x.n AND dw.deg <= 256),
common AS (
  SELECT x.m AS a, y.m AS b, CAST(count(*) AS BIGINT) AS common
  FROM ctr x JOIN ctr y ON x.n = y.n AND x.m < y.m
  GROUP BY 1, 2 HAVING count(*) >= 4)
SELECT c.a, c.b, c.common, da.deg AS deg_a, db.deg AS deg_b,
       CAST(c.common * 1000000 // (da.deg + db.deg - c.common) AS BIGINT) AS jaccard_ppm,
       CAST(256 AS BIGINT) AS center_deg_cap
FROM common c JOIN deg da ON da.n = c.a JOIN deg db ON db.n = c.b""",

    // 4 unrolled synchronous min-label LPA rounds — see lpaIterCte
    "misc_label_propagation" -> s"""
WITH $coPurchaseCte,
und AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM e UNION ALL SELECT v AS src, u AS dst FROM e),
lp0 AS (SELECT DISTINCT src AS node, src AS lbl FROM und),
${(0 until 4).map(i => lpaIterCte(s"lp$i", s"lp${i + 1}")).mkString(",")}
SELECT l.node, l.lbl AS community, CAST(s.n AS BIGINT) AS community_size
FROM lp4 l
JOIN (SELECT lbl, count(*) AS n FROM lp4 GROUP BY lbl) s ON s.lbl = l.lbl""",

    // 3 unrolled frontier expansions — see bfsIterCte
    "misc_bfs_hops" -> s"""
WITH $coPurchaseCte,
bund AS MATERIALIZED (
  SELECT u AS s, v AS t FROM e UNION SELECT v AS s, u AS t FROM e),
bh0 AS (SELECT CAST(p_partkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS hop
        FROM part WHERE p_partkey % 97 = 0),
${(0 until 3).map(i => bfsIterCte(s"bh$i", s"bh${i + 1}", i + 1)).mkString(",")}
SELECT node, hop FROM bh3""",

    // floor(log2 deg) via binary-string length, exact at boundaries
    "misc_degree_distribution" -> s"""
WITH $coPurchaseCte,
und AS (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY n)
SELECT CAST(length(printf('%b', deg)) - 1 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(deg) AS BIGINT) AS min_deg, CAST(max(deg) AS BIGINT) AS max_deg
FROM deg GROUP BY 1""",

    // 3 unrolled Bellman–Ford relaxations — see ssspIterCte
    "misc_sssp" -> s"""
WITH $coPurchaseCte,
wcnt AS (SELECT x.pk AS u, y.pk AS v, CAST(count(*) AS BIGINT) AS cnt
         FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk GROUP BY 1, 2),
wedges AS (SELECT u, v, CAST(1000000 // cnt AS BIGINT) AS w FROM wcnt),
wboth AS MATERIALIZED (
  SELECT u AS s, v AS t, w FROM wedges
  UNION ALL SELECT v AS s, u AS t, w FROM wedges),
sd0 AS (SELECT CAST(p_partkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
        FROM part WHERE p_partkey % 97 = 0),
${(0 until 3).map(i => ssspIterCte(s"sd$i", s"sd${i + 1}")).mkString(",")}
SELECT node, dist FROM sd3""",

    // session endpoints ±1 sweep; unique total order on ties
    "misc_peak_concurrency" -> """
WITH sz AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) IS NULL
                  OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events)),
sess AS (SELECT user_id, session_seq, min(ts) AS st, max(ts) AS en
         FROM sz GROUP BY 1, 2),
pts AS (SELECT st AS ts, CAST(1 AS BIGINT) AS delta, user_id, session_seq FROM sess
        UNION ALL
        SELECT en AS ts, CAST(-1 AS BIGINT) AS delta, user_id, session_seq FROM sess),
run AS (SELECT ts, delta,
               CAST(sum(delta) OVER (ORDER BY ts ASC, delta DESC, user_id ASC, session_seq ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
        FROM pts)
SELECT CAST(ts AS DATE) AS day, CAST(max(conc) AS BIGINT) AS peak_concurrency,
       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions_started
FROM run GROUP BY 1""",

    "misc_topk_orders" -> """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",

    "misc_limited_fetch" -> """
SELECT p_brand, p_type, p_partkey FROM part ORDER BY p_partkey ASC LIMIT 10""",

    // The round trip is faithful ⇔ both sides of the compare hash the
    // same parquet rows: one bucketed hash emitted as src AND dst.
    "misc_orc_roundtrip" -> """
WITH rh AS (
  SELECT CAST(CAST(md5_number_lower(concat_ws('|',
           coalesce(CAST(o_orderkey AS VARCHAR), ''),
           coalesce(CAST(o_custkey AS VARCHAR), ''),
           coalesce(o_orderstatus, ''),
           coalesce(o_orderpriority, ''),
           coalesce(CAST(o_orderdate AS VARCHAR), ''))) AS HUGEINT)
         % CAST(9223372036854775808 AS HUGEINT) AS BIGINT) AS rh
  FROM orders),
agg AS (SELECT rh % 64 AS bucket, CAST(count(*) AS BIGINT) AS n,
               bit_xor(rh) AS x FROM rh GROUP BY 1)
SELECT bucket, n AS src_rows, n AS dst_rows, x AS src_xor, x AS dst_xor,
       TRUE AS in_sync
FROM agg""",

    // Interpolation formula textually mirrors Selection.quantileCont:
    // x[frn+1] + (rn - frn) * (x[frn+2] - x[frn+1]); when rn lands on an
    // integer rank the (rn - frn) factor is exactly 0.0 and the formula
    // collapses to x[frn+1] in both engines.
    "misc_exact_quantiles" -> """
WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
             row_number() OVER (ORDER BY l_extendedprice) AS rn
      FROM lineitem),
k AS (SELECT q, CAST(q * (n - 1) AS DOUBLE) AS rnq,
             floor(CAST(q * (n - 1) AS DOUBLE)) AS frn
      FROM c, (SELECT CAST(0.25 AS DOUBLE) AS q UNION ALL
               SELECT CAST(0.5 AS DOUBLE) UNION ALL
               SELECT CAST(0.75 AS DOUBLE) UNION ALL
               SELECT CAST(0.99 AS DOUBLE))),
p AS (SELECT k.q, lo.v + (k.rnq - k.frn) * (hi.v - lo.v) AS pv
      FROM k
      JOIN s lo ON lo.rn = CAST(k.frn AS BIGINT) + 1
      JOIN s hi ON hi.rn = CAST(k.frn AS BIGINT) + 2)
SELECT c.n,
       (SELECT pv FROM p WHERE q = 0.25) AS p25,
       (SELECT pv FROM p WHERE q = 0.5)  AS p50,
       (SELECT pv FROM p WHERE q = 0.75) AS p75,
       (SELECT pv FROM p WHERE q = 0.99) AS p99
FROM c""",

    "misc_sql_extract" -> """
SELECT event_type, md5(concat_ws('-', coalesce(CAST(event_type AS VARCHAR), ''))) AS type_key,
       count(*) AS n, min(user_id) AS min_user
FROM events WHERE event_type IS NOT NULL GROUP BY event_type""",

    "temporal_asof_join" -> """
WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase'),
     c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, c.event_id AS click_event_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""",

    "temporal_asof_forward" -> """
WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase'),
     c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, c.event_id AS click_event_id,
       epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts""",

    "misc_gap_fill" -> """
WITH sparse AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS obs_value
  FROM events WHERE event_id % 19 = 0
  GROUP BY 1, 2),
grid AS (
  SELECT event_type, unnest(generate_series(min(hour_ts), max(hour_ts), INTERVAL 1 HOUR)) AS hour_ts
  FROM sparse GROUP BY event_type)
SELECT g.event_type, g.hour_ts,
       last_value(s.obs_value IGNORE NULLS)
         OVER (PARTITION BY g.event_type ORDER BY g.hour_ts ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       s.obs_value IS NOT NULL AS was_observed
FROM grid g LEFT JOIN sparse s
  ON g.event_type = s.event_type AND g.hour_ts = s.hour_ts""",

    "misc_retention_cohorts" -> """
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(floor(date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) / 7) AS BIGINT) AS week
  FROM events),
coh AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id)
SELECT c.cohort_week, u.week - c.cohort_week AS week_index,
       CAST(count(DISTINCT u.user_id) AS BIGINT) AS active_users
FROM uw u JOIN coh c USING (user_id)
GROUP BY c.cohort_week, u.week - c.cohort_week""",

    "misc_window_range_frame" -> """
SELECT o_orderkey, o_custkey,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS order_day,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey
                    ORDER BY CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
                    RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_90d_spend,
       CAST(count(*) OVER (PARTITION BY o_custkey
                    ORDER BY CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
                    RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_90d_orders
FROM orders""",

    // first-3 path per 30-min session, ordered string_agg
    "misc_session_paths" -> """
WITH sess AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM (
    SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
           CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) IS NULL
                  OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events)),
r AS (SELECT user_id, session_seq, event_type,
        row_number() OVER (PARTITION BY user_id, session_seq
          ORDER BY ts ASC, event_id ASC) AS rn
      FROM sess),
p AS (SELECT user_id, session_seq,
        string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id, session_seq)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p GROUP BY path""",

    // first click → first subsequent purchase, exact percentiles
    "misc_time_to_convert" -> """
WITH c AS (SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS fc_us
           FROM events WHERE event_type = 'click' GROUP BY user_id),
p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      FROM events WHERE event_type = 'purchase'),
per AS (SELECT c.user_id, min(c.fc_us) AS fc_us,
               min(CASE WHEN p.p_us >= c.fc_us THEN p.p_us END) AS fp_us
        FROM c LEFT JOIN p ON p.user_id = c.user_id GROUP BY c.user_id),
d AS (SELECT user_id, fp_us, (fp_us - fc_us) // 1000000 AS delta_sec FROM per)
SELECT CAST(count(*) AS BIGINT) AS n_clickers,
       CAST(count(fp_us) AS BIGINT) AS n_converted,
       CAST(count(fp_us) * 1000000 // count(*) AS BIGINT) AS conv_ppm,
       round(quantile_cont(delta_sec, 0.5), 6) AS median_sec,
       round(quantile_cont(delta_sec, 0.9), 6) AS p90_sec
FROM d""",

    // bi-temporal replay by pure arithmetic: at tx v1 even customers
    // switch tiers at 1995-01-01 ('early'→'late'); the v2 correction
    // moves the switch to 1996-01-01 and renames ('early'→'late2');
    // odd customers are 'flat' throughout. Every order dates ≥ 1992, so
    // the 1990 interval floor never excludes a fact.
    "temporal_bitemporal_join" -> """
WITH f AS (
  SELECT o_custkey AS custkey, o_orderdate AS d,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders)
SELECT CAST(1 AS BIGINT) AS tx_version,
       CASE WHEN custkey % 2 = 1 THEN 'flat'
            WHEN d < DATE'1995-01-01' THEN 'early' ELSE 'late' END AS tier,
       CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(c) AS BIGINT) AS total_cents
FROM f GROUP BY 2
UNION ALL
SELECT CAST(2 AS BIGINT),
       CASE WHEN custkey % 2 = 1 THEN 'flat'
            WHEN d < DATE'1996-01-01' THEN 'early' ELSE 'late2' END,
       CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM f GROUP BY 2""",

    "temporal_sessionize" -> """
SELECT event_id, user_id,
       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
FROM (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) IS NULL
                OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
)""",

    "misc_cube" -> """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)""",

    "misc_window_ranks" -> """
SELECT c_custkey, c_nationkey,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       percent_rank() OVER w AS prank,
       cume_dist() OVER w AS cdist,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)""",

    "misc_rollup" -> """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "misc_bucketed_join" -> """
SELECT o_orderpriority, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority""",

    "misc_grouping_sets" -> """
SELECT l_returnflag, l_linestatus,
       grouping_id(l_returnflag, l_linestatus) AS gid,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""",

    "misc_interval_overlap" -> """
WITH iv AS (
  SELECT o_custkey AS cust, o_orderkey AS k,
         CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS lo,
         CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) + 30 AS hi
  FROM orders)
SELECT a.cust, a.k AS k1, b.k AS k2,
       least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1 AS overlap_days
FROM iv a JOIN iv b
  ON a.cust = b.cust AND a.k < b.k
 AND a.lo <= b.hi AND b.lo <= a.hi""",

    "misc_topk_aggregate" -> """
SELECT c_nationkey, CAST(rnk AS BIGINT) AS rnk, c_custkey, c_acctbal
FROM (SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
      FROM customer)
WHERE rnk <= 3""",

    "misc_sketch_rollup" -> """
SELECT r_name, CAST(count(DISTINCT c_custkey) AS BIGINT) AS exact_customers,
       true AS union_est_within_5pct
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name""",

    "misc_approx_sketch" -> """
SELECT count(DISTINCT l_orderkey) AS exact_orders,
       true AS approx_distinct_within_15pct,
       true AS p50_in_band,
       true AS p99_in_band
FROM lineitem""",

    "misc_json_extract" -> """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
FROM events""",

    // generator replay from range() — the connector's pure-function
    // contract makes the whole source oracle-checkable
    "misc_dsv2_source" -> """
WITH t AS (SELECT range AS i FROM range(0, 5000)),
e AS (SELECT i AS event_id, (i * 2654435761) % 1000 AS user_id,
        CASE (i * 40503) % 4 WHEN 0 THEN 'view' WHEN 1 THEN 'click'
             WHEN 2 THEN 'purchase' ELSE 'signup' END AS event_type,
        CAST(i % 1000 AS DOUBLE) / 10.0 AS value
      FROM t)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(user_id) AS BIGINT) AS sum_user,
       min(value) AS min_value, max(value) AS max_value
FROM e WHERE event_id >= 1000 AND event_id < 4000 GROUP BY 1""",

    // raw-fact recompute — must equal the MV-rewritten rollup exactly
    "misc_mv_rewrite" -> """
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
FROM lineitem WHERE l_orderkey % 3 = 0 AND l_returnflag <> 'N'
GROUP BY 1, 2""",

    // range replay of the completely-pushed aggregate
    "misc_dsv2_agg_pushdown" -> """
SELECT CAST(count(*) AS BIGINT) AS n, CAST(min(i) AS BIGINT) AS min_id,
       CAST(max(i) AS BIGINT) AS max_id
FROM (SELECT range AS i FROM range(1000, 4000))""",

    // original-table recompute of the sink round trip
    "misc_dsv2_sink" -> """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
FROM orders GROUP BY 1""",

    // DuckDB's generate_series replays the TVF's day spine
    "misc_date_spine" -> """
WITH spine AS (
  SELECT CAST(generate_series AS DATE) AS day_date
  FROM generate_series(DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY))
SELECT s.day_date, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
FROM spine s LEFT JOIN orders o ON o.o_orderdate = s.day_date
GROUP BY 1""",

    // key-arithmetic replay of the three DML versions
    "misc_snapshot_dml" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders)
SELECT CAST(1 AS BIGINT) AS version, 'append' AS action,
       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(c) AS BIGINT) AS total_cents
FROM base WHERE k % 4 = 0
UNION ALL
SELECT 2, 'upsert', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN k % 8 = 0 THEN 2 * c ELSE c END) AS BIGINT)
FROM base WHERE k % 4 = 0
UNION ALL
SELECT 3, 'delete', CAST(count(*) AS BIGINT), CAST(sum(2 * c) AS BIGINT)
FROM base WHERE k % 8 = 0""",

    // window replay: (0,v2] = slices 0+1, (v2,v3] = slice 2, (0,v3] =
    // all, rollback window = zero rows
    "misc_snapshot_incremental" -> """
WITH base AS (
  SELECT o_orderkey % 3 AS m, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders)
SELECT 'v0_v2' AS win, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c) AS BIGINT) AS total_cents
FROM base WHERE m <= 1
UNION ALL
SELECT 'v2_v3', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base WHERE m = 2
UNION ALL
SELECT 'v0_v3', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM base
UNION ALL
SELECT 'v3_v4_rollback', CAST(0 AS BIGINT), CAST(0 AS BIGINT)""",

    // per-version audit replay: v2's count drops the %8==0 slice, v3
    // restores it, v4 compacts content-neutrally
    "misc_snapshot_files" -> """
WITH k AS (SELECT o_orderkey AS k FROM orders)
SELECT 'data' AS content, CAST(1 AS BIGINT) AS commit_seq,
       CAST(1 AS BIGINT) AS n_files, CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k, CAST(0 AS BIGINT) AS n_nulls
FROM k WHERE k % 3 = 0
UNION ALL
SELECT 'data', CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(min(k) AS BIGINT),
       CAST(max(k) AS BIGINT), CAST(0 AS BIGINT) FROM k WHERE k % 3 = 1
UNION ALL
SELECT 'data', CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(min(k) AS BIGINT),
       CAST(max(k) AS BIGINT), CAST(0 AS BIGINT) FROM k WHERE k % 3 = 2
UNION ALL
-- delete files surface their recorded KEY BAND (the deleted keys'
-- min/max); file count and null count stay absent
SELECT 'delete', CAST(4 AS BIGINT), CAST(NULL AS BIGINT),
       CAST(min(k) AS BIGINT), CAST(max(k) AS BIGINT), CAST(NULL AS BIGINT)
FROM k WHERE k % 30 = 0""",

    "misc_snapshot_history" -> """
WITH base AS (
  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 4 = 0)
SELECT CAST(1 AS BIGINT) AS version, 'append' AS action,
       CAST((SELECT count(*) FROM base) AS BIGINT) AS n_rows, true AS data_change
UNION ALL
SELECT 2, 'delete_mor',
       CAST((SELECT count(*) FROM base WHERE k % 8 = 4) AS BIGINT), true
UNION ALL
SELECT 3, 'append', CAST((SELECT count(*) FROM base) AS BIGINT), true
UNION ALL
SELECT 4, 'compact', CAST((SELECT count(*) FROM base) AS BIGINT), false""",

    // the instant resolves to v1 (even keys), now to v2 (all keys)
    "misc_snapshot_asof" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders)
SELECT 'as_of_instant' AS read, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c) AS BIGINT) AS total_cents
FROM base WHERE k % 2 = 0
UNION ALL
SELECT 'as_of_now', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base""",

    // third-boundary replay of the four replace_where versions; the
    // 2-untouched-files pin is engine-side (DuckDB replays content)
    "misc_snapshot_replace" -> """
WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
t AS (SELECT (mx + 1) // 3 AS t1, 2 * (mx + 1) // 3 AS t2 FROM m),
base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders)
SELECT CAST(1 AS BIGINT) AS version, 'append' AS action,
       CAST(2 AS INTEGER) AS files_untouched,
       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(c) AS BIGINT) AS total_cents
FROM base, t WHERE k < t.t1
UNION ALL
SELECT 2, 'append', 2, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base, t WHERE k < t.t2
UNION ALL
SELECT 3, 'append', 2, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base
UNION ALL
SELECT 4, 'replace_where', 2, CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN k >= t.t1 AND k < t.t2 THEN 2 * c ELSE c END) AS BIGINT)
FROM base, t WHERE k < t.t1 OR k >= t.t2 OR k % 2 = 0""",

    // key-arithmetic replay of the three SQL time-travel reads: v1 =
    // even keys, v2 = all keys, v3 (latest) = all minus the MOR-deleted
    // k%6==3 slice
    "misc_snapshot_sql" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders)
SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c) AS BIGINT) AS total_cents
FROM base WHERE k % 2 = 0
UNION ALL
SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM base
UNION ALL
SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base WHERE NOT k % 6 = 3""",

    // replay of the DSv2 reader legs: v1 = evens, v2 = all, latest =
    // all minus the MOR-deleted %6==3 keys, range = latest restricted
    // to the middle orderkey third (inclusive-exclusive thirds of
    // max+1, same integer arithmetic both engines)
    "misc_snapshot_batch_read" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
b AS (SELECT CAST((max(k) + 1) // 3 AS BIGINT) AS t1,
             CAST(2 * (max(k) + 1) // 3 AS BIGINT) AS t2 FROM base)
SELECT 'v1' AS leg, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c) AS BIGINT) AS total_cents
FROM base WHERE k % 2 = 0
UNION ALL
SELECT 'v2', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM base
UNION ALL
SELECT 'latest', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base WHERE NOT k % 6 = 3
UNION ALL
SELECT 'range', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base, b WHERE NOT k % 6 = 3 AND k BETWEEN b.t1 AND b.t2 - 1""",

    // replay of the catalog SQL legs: v2 = even keys (first INSERT),
    // v3 = all keys, latest = v3
    "misc_catalog_sql" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders)
SELECT 'v2' AS leg, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c) AS BIGINT) AS total_cents
FROM base WHERE k % 2 = 0
UNION ALL
SELECT 'v3', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM base
UNION ALL
SELECT 'latest', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM base""",

    // replay of the manifest-count legs: %7==0 keys are NULLed, the MOR
    // delete removes non-null %5==0 keys (NULL keys survive any
    // equality delete)
    "misc_snapshot_count" -> """
WITH cls AS (
  SELECT o_orderkey AS k, (o_orderkey % 7 = 0) AS is_null_key,
         (o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0) AS is_deleted
  FROM orders)
SELECT 'pre_delete' AS leg, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN NOT is_null_key THEN 1 ELSE 0 END) AS BIGINT) AS nk
FROM cls
UNION ALL
SELECT 'post_delete',
       CAST(sum(CASE WHEN NOT is_deleted THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN NOT is_null_key AND NOT is_deleted THEN 1 ELSE 0 END) AS BIGINT)
FROM cls""",

    // replay of the min/max legs: %7 keys are NULL (ignored by min/max
    // on both legs), the MOR delete removes non-null %3 keys
    // pre_rename = the even-key half under the old name (VERSION AS OF
    // 2, before the rename and the second insert); tip = all keys after
    // the %10=3 zero-out
    "misc_catalog_rename" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders)
SELECT 'pre_rename' AS leg, CAST(TRUE AS BOOLEAN) AS zero_rewrite,
       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(cents) AS BIGINT) AS total
FROM base WHERE k % 2 = 0
UNION ALL
SELECT 'tip', CAST(TRUE AS BOOLEAN),
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN k % 10 = 3 THEN 0 ELSE cents END) AS BIGINT)
FROM base""",

    "misc_snapshot_date_skipping" -> """
SELECT CAST(3 AS INTEGER) AS files_total, CAST(1 AS INTEGER) AS files_planned,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
  AND CAST(o_orderdate AS DATE) <= DATE '1998-12-31'""",

    // both legs read the same union predicate; 2 of the 3 date-clustered
    // files survive per-branch pruning (the middle file's band is
    // disjoint from both ranges)
    "misc_snapshot_or_skipping" -> """
WITH hit AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01'
     OR CAST(o_orderdate AS DATE) >= DATE '2000-01-01')
SELECT 'engine' AS leg, CAST(3 AS INTEGER) AS files_total,
       CAST(2 AS INTEGER) AS files_planned,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM hit
UNION ALL
SELECT 'dsv2', CAST(3 AS INTEGER), CAST(2 AS INTEGER),
       CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
FROM hit""",

    // points leg plans the 2 edge files of 4; the hull fallback spans the
    // whole key space and plans all 4 — join values identical either way
    "misc_snapshot_join_skipping" -> """
WITH m AS (SELECT max(o_custkey) AS mx FROM orders),
dim AS (
  SELECT c_custkey FROM customer, m
  WHERE c_custkey <= mx // 8 OR c_custkey > mx - mx // 8),
hit AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders JOIN dim ON o_custkey = c_custkey)
SELECT 'points' AS leg, CAST(4 AS INTEGER) AS files_total,
       CAST(2 AS INTEGER) AS files_planned,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM hit
UNION ALL
SELECT 'hull', CAST(4 AS INTEGER), CAST(4 AS INTEGER),
       CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
FROM hit""",

    // per-step totals are INVARIANT (maintenance never changes
    // contents); the step/action sequence pins cheapest-first draining
    "misc_catalog_maintain" -> """
WITH live AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  WHERE CAST(o_orderdate AS DATE) NOT IN (DATE '1995-03-15', DATE '1996-07-04')),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
        FROM live)
SELECT CAST(1 AS INTEGER) AS step, 'compact_deletes' AS action,
       n AS n_rows, s AS total_cents FROM agg
UNION ALL
SELECT CAST(2 AS INTEGER), 'compact_files', n, s FROM agg
UNION ALL
SELECT CAST(3 AS INTEGER), 'none', n, s FROM agg""",

    // the PLAIN-SQL auto-skipping leg: same join as join_skipping's
    // points leg, files_pruned pinned TRUE (the optimizer folded the dim
    // keys into the scan with no API call)
    "misc_snapshot_join_auto" -> """
WITH mx AS (SELECT max(o_custkey) AS mx FROM orders),
dim AS (
  SELECT c_custkey FROM customer, mx
  WHERE c_custkey <= mx // 8 OR c_custkey > mx - mx // 8),
hit AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders JOIN dim ON o_custkey = c_custkey)
SELECT CAST(TRUE AS BOOLEAN) AS files_pruned,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM hit""",

    // the hull-degraded auto-skipping leg: same join values as a plain
    // replay; files_pruned pinned TRUE
    "misc_snapshot_join_hull" -> """
WITH mx AS (SELECT max(o_custkey) AS mx FROM orders),
dim AS (
  SELECT c_custkey FROM customer, mx
  WHERE c_custkey < (mx + 1) // 4)
SELECT CAST(TRUE AS BOOLEAN) AS files_pruned,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders JOIN dim ON o_custkey = c_custkey""",

    // v1 = CREATE (empty), v2 = INT insert, v3 = the widening ALTER
    // (schema-only — same rows), v4 = the BIGINT insert (cents * 1000,
    // beyond int range)
    "misc_catalog_widen" -> """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
agg AS (SELECT count(*) AS n, sum(cents) AS s FROM base)
SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS action,
       CAST(TRUE AS BOOLEAN) AS metadata_only,
       CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS total_cents
UNION ALL
SELECT 2, 'append', TRUE, CAST(n AS BIGINT), CAST(s AS BIGINT) FROM agg
UNION ALL
SELECT 3, 'alter', TRUE, CAST(n AS BIGINT), CAST(s AS BIGINT) FROM agg
UNION ALL
SELECT 4, 'append', TRUE, CAST(2 * n AS BIGINT), CAST(1001 * s AS BIGINT)
FROM agg""",

    // exact distinct-day counts replay; estimated/estimate_close pin
    // that the manifest's HLL sketches answered, within 20%
    "misc_snapshot_ndv" -> """
SELECT 'full' AS leg,
       CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_distinct,
       CAST(TRUE AS BOOLEAN) AS estimated, CAST(TRUE AS BOOLEAN) AS estimate_close
FROM orders
UNION ALL
SELECT 'pruned',
       CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT),
       CAST(TRUE AS BOOLEAN), CAST(TRUE AS BOOLEAN)
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1999-01-01'""",

    // five modulus-class loads then the full reload; flag = added rows
    // exceed 3x the per-commit mean, exact cross-multiplication
    "misc_history_anomaly" -> """
WITH src AS (SELECT o_orderkey AS k FROM orders),
v AS (
  SELECT 1 AS version, (SELECT count(*) FROM src WHERE k % 20 = 0) AS added
  UNION ALL
  SELECT 2, (SELECT count(*) FROM src WHERE k % 20 = 1) UNION ALL
  SELECT 3, (SELECT count(*) FROM src WHERE k % 20 = 2) UNION ALL
  SELECT 4, (SELECT count(*) FROM src WHERE k % 20 = 3) UNION ALL
  SELECT 5, (SELECT count(*) FROM src WHERE k % 20 = 4) UNION ALL
  SELECT 6, (SELECT count(*) FROM src))
SELECT CAST(version AS BIGINT) AS version, CAST(added AS BIGINT) AS added,
       (added * (SELECT count(*) FROM v) > 3 * (SELECT sum(added) FROM v))
         AS anomalous
FROM v""",

    // exact bounds/null census per column; NDV within the sketch
    // envelope. The tag row's min/max_key literals are stringKey
    // ('cat_0'/'cat_6') — the documented 8-byte-prefix encoding (first
    // 8 UTF-8 bytes big-endian, sign bit flipped) pinned as a FORMAT
    // contract; its min/max_value are the exact typed bounds.
    "misc_snapshot_stats_tvf" -> """
WITH src AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 10 = 0 THEN NULL
              ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents,
         'cat_' || CAST(o_orderkey % 7 AS VARCHAR) AS tag
  FROM orders)
SELECT 'k' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key,
       CAST(NULL AS VARCHAR) AS min_value, CAST(NULL AS VARCHAR) AS max_value,
       CAST(0 AS BIGINT) AS null_count, CAST(TRUE AS BOOLEAN) AS ndv_close
FROM src
UNION ALL
SELECT 'cents', CAST(count(*) AS BIGINT),
       CAST(min(cents) AS BIGINT), CAST(max(cents) AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(count(*) FILTER (WHERE cents IS NULL) AS BIGINT),
       CAST(TRUE AS BOOLEAN)
FROM src
UNION ALL
SELECT 'tag', CAST(count(*) AS BIGINT),
       CAST(-2062239202182955008 AS BIGINT),
       CAST(-2062239202082291712 AS BIGINT),
       min(tag), max(tag),
       CAST(0 AS BIGINT), CAST(TRUE AS BOOLEAN)
FROM src""",

    // the manifest's bands/null-census are EXACT for integral columns:
    // the connector-reported CBO statistics must equal the data's own
    "misc_snapshot_cbo_bounds" -> """
WITH src AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 10 = 0 THEN NULL
              ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders)
SELECT CAST(min(k) AS BIGINT) AS k_min, CAST(max(k) AS BIGINT) AS k_max,
       CAST(0 AS BIGINT) AS k_nulls,
       CAST(min(cents) AS BIGINT) AS cents_min,
       CAST(max(cents) AS BIGINT) AS cents_max,
       CAST(count(*) FILTER (WHERE cents IS NULL) AS BIGINT) AS cents_nulls
FROM src""",

    "misc_snapshot_date_minmax" -> """
WITH base AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day FROM orders)
SELECT 'pre_delete' AS leg, CAST(count(*) AS BIGINT) AS n,
       min(day) AS mn, max(day) AS mx
FROM base
UNION ALL
SELECT 'post_delete', CAST(count(*) AS BIGINT), min(day), max(day)
FROM base WHERE year(day) < 2000""",

    // v1 = CREATE (empty), v2..v4 = the three date-range inserts,
    // v5 = the retention DELETE (metadata-only by construction — the
    // Spark side pins it from manifest file identity)
    "misc_catalog_dml_date" -> """
WITH base AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
v AS (
  SELECT 1 AS version, 'overwrite' AS action, DATE '9999-01-01' AS lo, DATE '0001-01-01' AS hi UNION ALL
  SELECT 2, 'append', DATE '0001-01-01', DATE '1996-12-31' UNION ALL
  SELECT 3, 'append', DATE '0001-01-01', DATE '1998-12-31' UNION ALL
  SELECT 4, 'append', DATE '0001-01-01', DATE '9999-01-01' UNION ALL
  SELECT 5, 'delete', DATE '1997-01-01', DATE '9999-01-01')
SELECT CAST(v.version AS BIGINT) AS version, v.action,
       CAST(TRUE AS BOOLEAN) AS metadata_only,
       CAST(count(b.day) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(b.cents), 0) AS BIGINT) AS total_cents
FROM v LEFT JOIN base b ON b.day BETWEEN v.lo AND v.hi
GROUP BY v.version, v.action""",

    // aligned leg: zero files scanned; straddle leg: the two boundary
    // files — counts replayed over orders
    "misc_snapshot_count_range" -> """
SELECT 'aligned' AS leg, CAST(0 AS INTEGER) AS files_scanned,
       CAST(count(*) AS BIGINT) AS n_rows
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1999-01-01'
UNION ALL
SELECT 'straddle', CAST(2 AS INTEGER), CAST(count(*) AS BIGINT)
FROM orders
WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-06-01' AND DATE '1999-06-30'""",

    // both CALLs see the same table contents; the first ingests all
    // three sources, the second skips them all
    "misc_catalog_ingest" -> """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
agg AS (SELECT count(*) AS n, sum(cents) AS s FROM base)
SELECT 'first' AS leg, CAST(3 AS BIGINT) AS ingested,
       CAST(0 AS BIGINT) AS skipped,
       CAST(n AS BIGINT) AS n_rows, CAST(s AS BIGINT) AS total_cents
FROM agg
UNION ALL
SELECT 'second', CAST(0 AS BIGINT), CAST(3 AS BIGINT),
       CAST(n AS BIGINT), CAST(s AS BIGINT)
FROM agg""",

    // v1 = CREATE (empty), v2..v4 = the three date-range inserts, v5 =
    // the keep-the-middle multi-range DELETE (metadata-only by
    // construction — Spark side pins file identity)
    "misc_catalog_dml_or" -> """
WITH base AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
v AS (
  SELECT 1 AS version, 'overwrite' AS action, DATE '9999-01-01' AS lo, DATE '0001-01-01' AS hi UNION ALL
  SELECT 2, 'append', DATE '0001-01-01', DATE '1996-12-31' UNION ALL
  SELECT 3, 'append', DATE '0001-01-01', DATE '1998-12-31' UNION ALL
  SELECT 4, 'append', DATE '0001-01-01', DATE '9999-01-01' UNION ALL
  SELECT 5, 'delete', DATE '1997-01-01', DATE '1998-12-31')
SELECT CAST(v.version AS BIGINT) AS version, v.action,
       CAST(TRUE AS BOOLEAN) AS metadata_only,
       CAST(count(b.day) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(b.cents), 0) AS BIGINT) AS total_cents
FROM v LEFT JOIN base b ON b.day BETWEEN v.lo AND v.hi
GROUP BY v.version, v.action""",

    // v1 = CREATE, v2..v4 = id-third inserts, v5 = the rival INSERT of
    // one non-matched row (commits mid-update), v6 = the MOR delta
    // UPDATE (+7 on the low third) landing via recount-proved rebase
    "misc_catalog_mor_concurrent" -> """
WITH base AS (
  SELECT o_orderkey AS id, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
m AS (SELECT max(id) AS m FROM base),
v AS (
  SELECT 1 AS version, 'overwrite' AS action, 0 AS hi_third, 0 AS extra, 0 AS upd UNION ALL
  SELECT 2, 'append', 1, 0, 0 UNION ALL
  SELECT 3, 'append', 2, 0, 0 UNION ALL
  SELECT 4, 'append', 3, 0, 0 UNION ALL
  SELECT 5, 'append', 3, 1, 0 UNION ALL
  SELECT 6, 'update_mor', 3, 1, 1)
SELECT CAST(v.version AS BIGINT) AS version, v.action,
       CAST(TRUE AS BOOLEAN) AS both_committed,
       CAST(count(b.id) + v.extra AS BIGINT) AS n_rows,
       CAST(coalesce(sum(b.cents
         + CASE WHEN v.upd = 1 AND b.id <= m.m // 3 THEN 7 ELSE 0 END), 0)
         + v.extra * 11 AS BIGINT) AS total_cents
FROM v
LEFT JOIN m ON TRUE
LEFT JOIN base b ON
  (v.hi_third >= 1 AND b.id <= m.m // 3) OR
  (v.hi_third >= 2 AND b.id > m.m // 3 AND b.id <= 2 * m.m // 3) OR
  (v.hi_third >= 3 AND b.id > 2 * m.m // 3)
GROUP BY v.version, v.action, v.extra, v.upd""",

    // v1 = CREATE (empty), v2..v4 = the three date-band inserts, v5 =
    // the rival UPDATE (+11 on day>=1999, commits while the other is
    // parked), v6 = the gated UPDATE (+7 on day<1997) landing via
    // file-disjoint auto-rebase — the racing statements replay as
    // SEQUENTIAL updates, which is exactly the isolation claim
    "misc_catalog_dml_concurrent" -> """
WITH base AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
v AS (
  SELECT 1 AS version, 'overwrite' AS action, DATE '9999-01-01' AS lo, DATE '0001-01-01' AS hi,
         0 AS upd1999, 0 AS upd1997 UNION ALL
  SELECT 2, 'append', DATE '0001-01-01', DATE '1996-12-31', 0, 0 UNION ALL
  SELECT 3, 'append', DATE '0001-01-01', DATE '1998-12-31', 0, 0 UNION ALL
  SELECT 4, 'append', DATE '0001-01-01', DATE '9999-01-01', 0, 0 UNION ALL
  SELECT 5, 'update', DATE '0001-01-01', DATE '9999-01-01', 1, 0 UNION ALL
  SELECT 6, 'update', DATE '0001-01-01', DATE '9999-01-01', 1, 1)
SELECT CAST(v.version AS BIGINT) AS version, v.action,
       CAST(TRUE AS BOOLEAN) AS both_committed,
       CAST(count(b.day) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(b.cents
         + CASE WHEN v.upd1999 = 1 AND b.day >= DATE '1999-01-01' THEN 11 ELSE 0 END
         + CASE WHEN v.upd1997 = 1 AND b.day < DATE '1997-01-01' THEN 7 ELSE 0 END), 0) AS BIGINT) AS total_cents
FROM v LEFT JOIN base b ON b.day BETWEEN v.lo AND v.hi
GROUP BY v.version, v.action""",

    // v1 = CREATE (empty), v2..v4 = the three timestamp-range inserts,
    // v5 = the retention DELETE (metadata-only by construction on a
    // bandsV-2 table — the Spark side pins it from manifest file identity)
    "misc_catalog_dml_ts" -> """
WITH base AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts,
         CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS cents
  FROM events),
v AS (
  SELECT 1 AS version, 'overwrite' AS action,
         TIMESTAMP '9999-01-01 00:00:00' AS lo, TIMESTAMP '0001-01-01 00:00:00' AS hi UNION ALL
  SELECT 2, 'append', TIMESTAMP '0001-01-01 00:00:00', TIMESTAMP '2024-01-09 23:59:59.999999' UNION ALL
  SELECT 3, 'append', TIMESTAMP '0001-01-01 00:00:00', TIMESTAMP '2024-01-19 23:59:59.999999' UNION ALL
  SELECT 4, 'append', TIMESTAMP '0001-01-01 00:00:00', TIMESTAMP '9999-01-01 00:00:00' UNION ALL
  SELECT 5, 'delete', TIMESTAMP '2024-01-10 00:00:00', TIMESTAMP '9999-01-01 00:00:00')
SELECT CAST(v.version AS BIGINT) AS version, v.action,
       CAST(TRUE AS BOOLEAN) AS metadata_only,
       CAST(count(b.ts) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(b.cents), 0) AS BIGINT) AS total_cents
FROM v LEFT JOIN base b ON b.ts BETWEEN v.lo AND v.hi
GROUP BY v.version, v.action""",

    "misc_catalog_cluster" -> """
SELECT CAST(TRUE AS BOOLEAN) AS files_pruned, CAST(TRUE AS BOOLEAN) AS multi_file,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'""",

    "misc_snapshot_small_compact" -> """
WITH t AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders)
SELECT 'before' AS leg, CAST(4 AS INTEGER) AS n_files,
       CAST(TRUE AS BOOLEAN) AS big_untouched,
       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents
FROM t
UNION ALL
SELECT 'after', CAST(2 AS INTEGER), CAST(TRUE AS BOOLEAN),
       CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
FROM t""",

    "misc_snapshot_mor_compact" -> """
WITH kept AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 10 NOT IN (1, 2, 3, 4))
SELECT 'before_fold' AS leg, CAST(4 AS INTEGER) AS delete_files,
       CAST(TRUE AS BOOLEAN) AS files_untouched,
       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents
FROM kept
UNION ALL
SELECT 'after_fold', CAST(1 AS INTEGER), CAST(TRUE AS BOOLEAN),
       CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
FROM kept""",

    "misc_snapshot_ts_minmax" -> """
WITH base AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type AS source
  FROM events)
SELECT 'pre_delete' AS leg, CAST(count(*) AS BIGINT) AS n,
       min(ts) AS mn_ts, max(ts) AS mx_ts,
       min(source) AS mn_src, max(source) AS mx_src
FROM base
UNION ALL
SELECT 'post_delete', CAST(count(*) AS BIGINT),
       min(ts), max(ts), min(source), max(source)
FROM base
WHERE NOT (ts >= TIMESTAMP '2024-01-25 00:00:00'
           OR coalesce(source = 'view', FALSE))""",

    "misc_snapshot_null_skipping" -> """
SELECT CAST(3 AS INTEGER) AS files_total, CAST(1 AS INTEGER) AS files_planned,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders WHERE o_orderkey % 3 = 2 AND o_orderkey % 7 = 0""",

    "misc_snapshot_string_prefix" -> """
SELECT CAST(3 AS INTEGER) AS files_total, CAST(1 AS INTEGER) AS files_planned,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE source LIKE 'src3%'""",

    "misc_snapshot_minmax" -> """
WITH cls AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderkey END AS k
  FROM orders)
SELECT 'pre_delete' AS leg, CAST(count(*) AS BIGINT) AS n,
       CAST(min(k) AS BIGINT) AS mn, CAST(max(k) AS BIGINT) AS mx
FROM cls
UNION ALL
SELECT 'post_delete',
       CAST(sum(CASE WHEN k IS NULL OR k % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(min(CASE WHEN k % 3 = 0 THEN NULL ELSE k END) AS BIGINT),
       CAST(max(CASE WHEN k % 3 = 0 THEN NULL ELSE k END) AS BIGINT)
FROM cls""",

    // replay of the catalog overwrite-by-filter chain: v1 empty create,
    // v2..v4 accumulate the orderkey thirds, v5 reloads the middle
    // third at doubled cents; outer_untouched is the pinned
    // file-surgical invariant (TRUE by construction when the band math
    // holds — the Spark side computes it from manifest file identity)
    "misc_catalog_replace" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
b AS (SELECT CAST((max(k) + 1) // 3 AS BIGINT) AS t1,
             CAST(2 * (max(k) + 1) // 3 AS BIGINT) AS t2 FROM base),
v2 AS (SELECT k, c FROM base, b WHERE k < b.t1),
v3 AS (SELECT k, c FROM base, b WHERE k < b.t2),
v4 AS (SELECT k, c FROM base),
v5 AS (SELECT k, CASE WHEN k >= b.t1 AND k < b.t2 THEN 2 * c ELSE c END AS c
       FROM base, b)
SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS action,
       TRUE AS outer_untouched, CAST(0 AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS total_cents
UNION ALL
SELECT 2, 'append', TRUE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM v2
UNION ALL
SELECT 3, 'append', TRUE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM v3
UNION ALL
SELECT 4, 'append', TRUE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM v4
UNION ALL
SELECT 5, 'replace_where', TRUE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM v5""",

    // replay of the CALL-maintenance chain: v1 empty create (a
    // bootstrap — data_change FALSE, nothing delivered), v2 evens,
    // v3 all, v4 compact (same contents, data_change FALSE), v5
    // rollback to v2's contents
    "misc_catalog_merge_source" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
merged AS (
  SELECT k, 2 * c AS cents FROM base WHERE k % 2 = 0
  UNION ALL
  SELECT k, c + 7 FROM base WHERE k % 3 = 0 AND k % 2 <> 0 AND k % 9 <> 0)
SELECT 'cow_after' AS label, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents FROM merged
UNION ALL
SELECT 'mor_after', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
FROM merged
UNION ALL
SELECT 'mor_delta_pins', CAST(1 AS BIGINT), CAST(1 AS BIGINT)""",

    "misc_catalog_clone" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders)
SELECT 'fork_at_clone' AS label, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c) AS BIGINT) AS total_cents FROM base WHERE k % 2 = 0
UNION ALL
SELECT 'fork_tip', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base WHERE k % 2 = 0 OR k % 4 = 1
UNION ALL
SELECT 'src_tip', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base WHERE k % 4 <> 0
UNION ALL
SELECT 'deep_tip', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base WHERE k % 2 = 0 OR k % 4 = 1
UNION ALL
SELECT 'zero_copy_pinned', CAST(1 AS BIGINT), CAST(1 AS BIGINT)""",

    "misc_catalog_maintenance" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
ev AS (SELECT k, c FROM base WHERE k % 2 = 0)
SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS action,
       FALSE AS data_change, CAST(0 AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS total_cents
UNION ALL
SELECT 2, 'append', TRUE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM ev
UNION ALL
SELECT 3, 'append', TRUE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM base
UNION ALL
SELECT 4, 'compact', FALSE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM base
UNION ALL
SELECT 5, 'rollback', TRUE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM ev""",

    // key-arithmetic replay of the SQL DML version chain: v1 = empty
    // create, v2 = keys %4==0, v3 doubles %8==0, v4 deletes %8==4
    // (leaving only %8==0 at 2c), v5 full-outer-merges the %6==0
    // source at 5c (matched keys take 5c, unmatched source keys insert)
    // the hit is the max key under 6000 (exists at every sf); the miss
    // key is absent by construction; pruned flags are Scala-side pins
    "misc_snapshot_bloom" -> """
WITH o AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_orderkey < 6000),
m AS (SELECT max(k) AS mk FROM o)
SELECT 'hit' AS leg, CAST(1 AS BIGINT) AS pruned_flag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(c), 0) AS BIGINT) AS total_cents
FROM o, m WHERE o.k = m.mk
UNION ALL
SELECT 'miss', CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(c), 0) AS BIGINT)
FROM o, m WHERE o.k = m.mk + 1""",

    // surviving state = the conforming insert slice + the NULL row;
    // both rejections and the version count are Scala-side pins
    // (create/insert/null-insert = 3 versions, rejected ops publish none)
    "misc_catalog_constraints" -> """
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_orderkey % 4 = 0)
SELECT CAST(1 AS BIGINT) AS rejected_insert,
       CAST(1 AS BIGINT) AS rejected_update,
       CAST(3 AS BIGINT) AS n_versions,
       CAST((SELECT count(*) FROM o) + 1 AS BIGINT) AS n_rows,
       CAST((SELECT sum(c) FROM o) AS BIGINT) AS total_cents""",

    "misc_catalog_dml" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
t2 AS (SELECT k, c FROM base WHERE k % 4 = 0),
t3 AS (SELECT k, CASE WHEN k % 8 = 0 THEN 2 * c ELSE c END AS c FROM t2),
t4 AS (SELECT k, c FROM t3 WHERE NOT k % 8 = 4),
src AS (SELECT k, 5 * c AS c FROM base WHERE k % 6 = 0),
t5 AS (SELECT COALESCE(s.k, t.k) AS k, COALESCE(s.c, t.c) AS c
       FROM t4 t FULL OUTER JOIN src s ON t.k = s.k)
SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS action,
       CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS total_cents
UNION ALL
SELECT 2, 'append', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM t2
UNION ALL
SELECT 3, 'update', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM t3
UNION ALL
SELECT 4, 'delete', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM t4
UNION ALL
SELECT 5, 'merge', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM t5""",

    // replay of the PRUNED DML chain: v1 empty create, v2..v4 accumulate
    // the orderkey thirds, v5 deletes the middle third, v6 triples the
    // top third's cents. untouched_kept / noop_skipped are the pinned
    // file-surgical invariants (TRUE by construction when the band math
    // holds — the Spark side computes them from manifest file identity)
    "misc_catalog_dml_pruned" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
b AS (SELECT CAST((max(k) + 1) // 3 AS BIGINT) AS t1,
             CAST(2 * (max(k) + 1) // 3 AS BIGINT) AS t2 FROM base),
v2 AS (SELECT k, c FROM base, b WHERE k < b.t1),
v3 AS (SELECT k, c FROM base, b WHERE k < b.t2),
v4 AS (SELECT k, c FROM base),
v5 AS (SELECT k, c FROM base, b WHERE k < b.t1 OR k >= b.t2),
v6 AS (SELECT k, CASE WHEN k >= b.t2 THEN 3 * c ELSE c END AS c
       FROM base, b WHERE k < b.t1 OR k >= b.t2)
SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS action,
       TRUE AS untouched_kept, TRUE AS noop_skipped,
       CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS total_cents
UNION ALL
SELECT 2, 'append', TRUE, TRUE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM v2
UNION ALL
SELECT 3, 'append', TRUE, TRUE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM v3
UNION ALL
SELECT 4, 'append', TRUE, TRUE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM v4
UNION ALL
SELECT 5, 'delete', TRUE, TRUE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM v5
UNION ALL
SELECT 6, 'update', TRUE, TRUE, CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM v6""",

    // replay of the SQL merge-on-read DELETE chain: v2 = keys %3==0,
    // v3 MOR-deletes %9==0, v4 re-inserts %18==0 at 7c (survives the
    // earlier delete by sequencing), v5 MOR-deletes %6==3.
    // cdf_deletes = retractions the change feed must replay
    "misc_catalog_dml_mor" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
t2 AS (SELECT k, c FROM base WHERE k % 3 = 0),
t3 AS (SELECT k, c FROM t2 WHERE NOT k % 9 = 0),
t4 AS (SELECT k, c FROM t3
       UNION ALL SELECT k, 7 * c AS c FROM base WHERE k % 18 = 0),
t5 AS (SELECT k, c FROM t4 WHERE NOT k % 6 = 3),
cd AS (SELECT (SELECT count(*) FROM t2 WHERE k % 9 = 0) +
              (SELECT count(*) FROM t4 WHERE k % 6 = 3) AS n)
SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS action,
       CAST(cd.n AS BIGINT) AS cdf_deletes,
       CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS total_cents
FROM cd
UNION ALL
SELECT 2, 'append', CAST(cd.n AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(sum(c) AS BIGINT) FROM t2, cd GROUP BY cd.n
UNION ALL
SELECT 3, 'delete_mor', CAST(cd.n AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(sum(c) AS BIGINT) FROM t3, cd GROUP BY cd.n
UNION ALL
SELECT 4, 'append', CAST(cd.n AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(sum(c) AS BIGINT) FROM t4, cd GROUP BY cd.n
UNION ALL
SELECT 5, 'delete_mor', CAST(cd.n AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(sum(c) AS BIGINT) FROM t5, cd GROUP BY cd.n""",

    // replay of the merge-on-read UPDATE/MERGE chain: v2 = keys %3==0,
    // v3 doubles %9==0 (update_mor), v4 adds 5 to the SAME keys
    // (update_mor — double-touch sequencing), v5 merges the %4==0
    // source at 5c (matched %12==0 take 5c, the rest insert).
    // cdf_deletes = retractions (pre-images of v3 + v4 + v5's matches);
    // files_kept / noop_skipped are pinned invariants (TRUE when the
    // delta path holds — the Spark side derives them from manifest
    // file identity and the version counter)
    "misc_catalog_update_mor" -> """
WITH allb AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
t2 AS (SELECT k, c FROM allb WHERE k % 3 = 0),
t3 AS (SELECT k, CASE WHEN k % 9 = 0 THEN 2 * c ELSE c END AS c FROM t2),
t4 AS (SELECT k, CASE WHEN k % 9 = 0 THEN c + 5 ELSE c END AS c FROM t3),
src AS (SELECT k, 5 * c AS c FROM allb WHERE k % 4 = 0),
t5 AS (SELECT t.k, CASE WHEN s.k IS NOT NULL THEN s.c ELSE t.c END AS c
       FROM t4 t LEFT JOIN src s ON t.k = s.k
       UNION ALL
       SELECT s.k, s.c FROM src s LEFT JOIN t4 t ON s.k = t.k WHERE t.k IS NULL),
cd AS (SELECT 2 * (SELECT count(*) FROM t2 WHERE k % 9 = 0) +
              (SELECT count(*) FROM allb WHERE k % 12 = 0) AS n)
SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS action,
       CAST(cd.n AS BIGINT) AS cdf_deletes, TRUE AS files_kept,
       TRUE AS noop_skipped,
       CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS total_cents
FROM cd
UNION ALL
SELECT 2, 'append', CAST(cd.n AS BIGINT), TRUE, TRUE,
       CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM t2, cd GROUP BY cd.n
UNION ALL
SELECT 3, 'update_mor', CAST(cd.n AS BIGINT), TRUE, TRUE,
       CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM t3, cd GROUP BY cd.n
UNION ALL
SELECT 4, 'update_mor', CAST(cd.n AS BIGINT), TRUE, TRUE,
       CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM t4, cd GROUP BY cd.n
UNION ALL
SELECT 5, 'merge_mor', CAST(cd.n AS BIGINT), TRUE, TRUE,
       CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT) FROM t5, cd GROUP BY cd.n""",

    // key-arithmetic replay of the three CDF versions: v1 inserts all
    // %4==0 keys, v2 retracts %8==0 pre-images, v3's rewrite diff is
    // pure inserts (%16==0 at 3c — those keys were deleted, so nothing
    // is retracted)
    // v1 = CREATE, v2 = insert, v3 = the MOR delete; the deep recount
    // equals the live rows (k % 10 != 3)
    "misc_catalog_fsck" -> """
SELECT CAST(3 AS BIGINT) AS version, CAST(0 AS BIGINT) AS missing,
       CAST(0 AS BIGINT) AS length_mismatches,
       CAST(0 AS BIGINT) AS misaligned_vectors,
       CAST(count(*) FILTER (WHERE o_orderkey % 10 <> 3) AS BIGINT) AS rows_recorded,
       CAST(count(*) FILTER (WHERE o_orderkey % 10 <> 3) AS BIGINT) AS rows_checked,
       CAST(count(*) FILTER (WHERE o_orderkey % 10 <> 3) AS BIGINT) AS rows_lo,
       CAST(count(*) AS BIGINT) AS rows_hi,
       CAST(TRUE AS BOOLEAN) AS ok
FROM orders""",

    // kept ranges = [min, m//3] and (2*m//3, m]; the middle third's
    // single file was lost to storage and repaired away
    "misc_catalog_repair" -> """
WITH src AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
m AS (SELECT max(k) AS mx FROM src)
SELECT CAST(1 AS BIGINT) AS dry_dropped,
       CAST(TRUE AS BOOLEAN) AS dry_uncommitted,
       CAST(1 AS BIGINT) AS dropped_files,
       CAST(count(*) AS BIGINT) AS rows_after,
       CAST(TRUE AS BOOLEAN) AS fsck_ok,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM src, m WHERE k <= m.mx // 3 OR k > 2 * m.mx // 3""",

    // both legs read the same rows; 4 files fold to 2 (cold + one hot)
    "misc_snapshot_compact_range" -> """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
SELECT 'before' AS leg, CAST(4 AS INTEGER) AS n_files,
       CAST(TRUE AS BOOLEAN) AS cold_kept,
       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents
FROM base
UNION ALL
SELECT 'after', CAST(2 AS INTEGER), CAST(TRUE AS BOOLEAN),
       CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
FROM base""",

    // full window = v1/v2 inserts + v3 delete; the since_v1 window drops
    // v1's rows (the incremental-consumer shape)
    "misc_snapshot_changes_tvf" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
legs AS (
  SELECT 1 AS version, 'insert' AS change_type, k, c FROM base WHERE k % 2 = 0
  UNION ALL
  SELECT 2, 'insert', k, c FROM base WHERE k % 2 = 1
  UNION ALL
  SELECT 3, 'delete', k, c FROM base WHERE k % 6 = 3)
SELECT 'full' AS leg, CAST(version AS BIGINT) AS version, change_type,
       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(c) AS BIGINT) AS total_cents
FROM legs GROUP BY version, change_type
UNION ALL
SELECT 'since_v1', CAST(version AS BIGINT), change_type,
       CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM legs WHERE version > 1 GROUP BY version, change_type""",

    "misc_snapshot_cdf" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_orderkey % 4 = 0)
SELECT CAST(1 AS BIGINT) AS version, 'insert' AS change_type,
       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(c) AS BIGINT) AS total_cents
FROM base
UNION ALL
SELECT 2, 'delete', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base WHERE k % 8 = 0
UNION ALL
SELECT 3, 'insert', CAST(count(*) AS BIGINT), CAST(sum(3 * c) AS BIGINT)
FROM base WHERE k % 16 = 0""",

    // key-arithmetic replay of the five MOR versions: v2 removes %8==0,
    // v3 re-inserts them at 2c (they survive the earlier delete), v4
    // removes %16==4 from the v1 survivors, v5 compacts (no change)
    "misc_snapshot_mor" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_orderkey % 4 = 0)
SELECT CAST(1 AS BIGINT) AS version, 'append' AS action,
       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(c) AS BIGINT) AS total_cents
FROM base
UNION ALL
SELECT 2, 'delete_mor', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base WHERE k % 8 = 4
UNION ALL
SELECT 3, 'append', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN k % 8 = 0 THEN 2 * c ELSE c END) AS BIGINT)
FROM base
UNION ALL
SELECT 4, 'delete_mor', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN k % 8 = 0 THEN 2 * c ELSE c END) AS BIGINT)
FROM base WHERE NOT k % 16 = 4
UNION ALL
SELECT 5, 'compact', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN k % 8 = 0 THEN 2 * c ELSE c END) AS BIGINT)
FROM base WHERE NOT k % 16 = 4""",

    // middle-third rows replayed; the 3-files/1-planned counts are the
    // engine-side pins (DuckDB replays the content, not the planning)
    "misc_snapshot_skipping" -> """
WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
t AS (SELECT (mx + 1) // 3 AS t1, 2 * (mx + 1) // 3 AS t2 FROM m)
SELECT CAST(3 AS INTEGER) AS files_total, CAST(1 AS INTEGER) AS files_planned,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders, t WHERE o_orderkey >= t.t1 AND o_orderkey <= t.t2 - 1""",

    // replay of the four snapshot versions from the base table: v1 =
    // keys≡0 (append), v2 = keys≡0,1 (append), v3 = keys≡2,3
    // (overwrite), v4 = rollback to v2
    // tag = slice 0; staged branch and post-publish main = slices 0+1;
    // the zero-rewrite/action pins are Scala-side 1/1 literals
    "misc_snapshot_refs" -> """
WITH o AS (
  SELECT o_orderkey % 3 AS m, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders)
SELECT 'tag_base' AS label, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents FROM o WHERE m = 0
UNION ALL
SELECT 'branch_staged', CAST(count(*) AS BIGINT),
       CAST(sum(cents) AS BIGINT) FROM o WHERE m IN (0, 1)
UNION ALL
SELECT 'main_pre_publish', CAST(count(*) AS BIGINT),
       CAST(sum(cents) AS BIGINT) FROM o WHERE m = 0
UNION ALL
SELECT 'main_after_ff', CAST(count(*) AS BIGINT),
       CAST(sum(cents) AS BIGINT) FROM o WHERE m IN (0, 1)
UNION ALL
SELECT 'ff_zero_rewrite', CAST(1 AS BIGINT), CAST(1 AS BIGINT)""",

    // exact values replay from the same modular arithmetic; pruned_flag
    // is the Scala-side literal (files_planned < files_total after the
    // z-order rewrite — hard-coded 1)
    "misc_snapshot_zorder" -> """
WITH o AS (
  SELECT o_orderkey % 97 AS xk, o_custkey % 89 AS yk,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders)
SELECT 'xk' AS dim, CAST(1 AS BIGINT) AS pruned_flag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM o WHERE xk BETWEEN 10 AND 20
UNION ALL
SELECT 'yk', CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(sum(cents) AS BIGINT)
FROM o WHERE yk BETWEEN 5 AND 15""",

    "misc_snapshot_travel" -> """
WITH base AS (
  SELECT o_orderkey % 4 AS m, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
v AS (
  SELECT 1 AS version, 'append' AS action, 0 AS lo, 0 AS hi UNION ALL
  SELECT 2, 'append', 0, 1 UNION ALL
  SELECT 3, 'overwrite', 2, 3 UNION ALL
  SELECT 4, 'rollback', 0, 1)
SELECT CAST(v.version AS BIGINT) AS version, v.action,
       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(b.cents) AS BIGINT) AS total_cents
FROM v JOIN base b ON b.m BETWEEN v.lo AND v.hi
GROUP BY 1, 2""",

    // main thirds at v1/v2, the branch's third lands at the merge
    "misc_snapshot_merge" -> """
WITH base AS (
  SELECT o_orderkey % 3 AS m, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
v AS (
  SELECT 1 AS version, 'append' AS action UNION ALL
  SELECT 2, 'append' UNION ALL
  SELECT 3, 'merge')
SELECT CAST(v.version AS BIGINT) AS version, v.action,
       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(b.cents) AS BIGINT) AS total_cents
FROM v JOIN base b ON (v.version = 1 AND b.m = 0)
  OR (v.version = 2 AND b.m IN (0, 2)) OR v.version = 3
GROUP BY 1, 2""",

    // unpartitioned recompute of the dynamically-pruned join
    "misc_dpp_join" -> """
WITH m AS (
  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
  FROM orders WHERE year(o_orderdate) = 1995 AND month(o_orderdate) <= 3),
l AS (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_quantity, l_extendedprice
      FROM lineitem)
SELECT l.ship_month, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
FROM l JOIN m ON l.ship_month = m.ship_month
GROUP BY 1""",

    // full-fact recompute: the maintained MV must equal it exactly
    "misc_mv_maintained" -> """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_status,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
FROM lineitem GROUP BY 1""",

    // json_extract replay of the Variant path (k div 10 buckets)
    "misc_variant_extract" -> """
WITH e AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val, value
  FROM events)
SELECT k_val // 10 AS k_bucket, CAST(count(*) AS BIGINT) AS n_events,
       min(k_val) AS k_min, max(k_val) AS k_max,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM e GROUP BY 1""",

    "misc_skyline" -> """
WITH o AS (
  SELECT o_orderkey, o_totalprice, epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS order_date_us
  FROM orders WHERE o_orderkey % 13 = 0
)
SELECT * FROM o x
WHERE NOT EXISTS (
  SELECT 1 FROM o y
  WHERE y.o_totalprice <= x.o_totalprice AND y.order_date_us <= x.order_date_us
    AND (y.o_totalprice < x.o_totalprice OR y.order_date_us < x.order_date_us))""",

    "misc_heavy_hitters" -> """
WITH t AS (
  SELECT CASE WHEN event_type IN ('click', 'view') THEN 'engage' ELSE event_type END AS term
  FROM events WHERE event_type IS NOT NULL
)
SELECT term, count(*) AS cnt, true AS hh_captured, true AS est_ok
FROM t GROUP BY term""",

    "misc_union_all" -> """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'O'""",

    // the PLAIN join — green proves the bloom pre-filter admits every
    // true match and the join scrubs its false positives
    "misc_bloom_prejoin" -> """
SELECT o_orderpriority, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_totalprice > 400000
GROUP BY o_orderpriority""",

    // the PLAIN aggregation — green proves the salted two-phase plan
    // changes nothing
    "misc_salted_agg" -> """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    // the PLAIN join — green proves salt replication changes nothing
    "misc_salted_join" -> """
SELECT o_orderpriority, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority""",

    "misc_zorder_pruning" -> s"""
WITH zbase AS (
  SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y,
         CAST(l_orderkey AS BIGINT) * 10 + l_linenumber AS rid
  FROM lineitem
), $mortonCtes,
filed AS (
  SELECT x, y,
         ntile(64) OVER (ORDER BY x ASC, y ASC, rid ASC) AS f_lin,
         ntile(64) OVER (ORDER BY z ASC, rid ASC) AS f_z
  FROM zed
), bounds AS (SELECT max(x) // 8 AS hx, max(y) // 8 AS hy FROM zbase),
stats AS (
  SELECT 'linear' AS layout, f_lin AS f, min(x) AS min_x, min(y) AS min_y
  FROM filed GROUP BY f_lin
  UNION ALL
  SELECT 'zorder' AS layout, f_z AS f, min(x) AS min_x, min(y) AS min_y
  FROM filed GROUP BY f_z
)
SELECT layout, count(*) AS files_total,
       count(*) FILTER (WHERE min_x <= hx) AS files_x,
       count(*) FILTER (WHERE min_y <= hy) AS files_y,
       count(*) FILTER (WHERE min_x <= hx AND min_y <= hy) AS files_xy
FROM stats CROSS JOIN bounds
GROUP BY layout"""
  )

  /** DuckDB twin of Layout.spread/zValue2: the 5 shift-or-mask Morton
    * rounds as CHAINED CTE stages — each stage references the previous
    * one's vx/vy once, where a single nested expression would copy the
    * base subtree 2^5 times. Masks are the classic Morton constants
    * (0x0000FFFF0000FFFF … 0x5555555555555555) in decimal because DuckDB
    * has no hex literals in this position. */
  private def mortonCtes: String = {
    val rounds = Seq(
      (16, 281470681808895L), (8, 71777214294589695L),
      (4, 1085102592571150095L), (2, 3689348814741910323L),
      (1, 6148914691236517205L))
    val stages = rounds.zipWithIndex.map { case ((sh, mask), i) =>
      s"m${i + 1} AS (SELECT x, y, rid, ((vx | (vx << $sh)) & $mask) AS vx," +
        s" ((vy | (vy << $sh)) & $mask) AS vy FROM m$i)"
    }
    s"""m0 AS (SELECT x, y, rid, x & 2147483647 AS vx, y & 2147483647 AS vy FROM zbase),
${stages.mkString(",\n")},
zed AS (SELECT x, y, rid, (vx | (vy << 1)) AS z FROM m5)"""
  }
}

/** Latch holder for [[MiscQueries]]' deterministic DML race
  * (misc_catalog_dml_concurrent): the gated statement's SET expression
  * runs on executor task threads, which read these statics. `fired`
  * restricts the park to the FIRST gate evaluation — one task, one
  * slot — so the rival statement's jobs are never starved of task
  * slots (parking every row of every task livelocks under FIFO at
  * scale). */
object DmlRaceGate {
  @volatile var entered: java.util.concurrent.CountDownLatch = _
  @volatile var proceed: java.util.concurrent.CountDownLatch = _
  @volatile var fired: java.util.concurrent.atomic.AtomicBoolean =
    new java.util.concurrent.atomic.AtomicBoolean(false)
}
