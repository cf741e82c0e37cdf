package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.EventsStream

/** Streaming-shaped capability (SURVEY.md §2.9): batch twins of the
  * Structured Streaming pipelines in graft.streaming, oracle-checked. */
object StreamQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.registry(
    // Tumbling-window agg — same transform the streaming job runs.
    "stream_hourly_by_type" -> ((s, d) =>
      EventsStream.hourlyByType(Tables.events(s, d))),

    // Chained stateful aggregations: hourly counts re-aggregated to the
    // hour's top type inside ONE streaming query (watermark propagates
    // through both states). This batch run is the identical end-state.
    "stream_trending" -> ((s, d) =>
      EventsStream.trendingType(Tables.events(s, d))),

    // Hourly audience rollup: events, unique users, and NEW users (first
    // event ever lands in this hour) — the live-dashboard DAU/new-user
    // split. Batch twin semantics: exact distincts here; the streaming
    // run swaps countDistinct for approx_count_distinct over the same
    // window (mergeable HLL state). First-seen is a keyed min — one
    // hash-by-user shuffle, the per-hour join is calendar-grain.
    "stream_hourly_uniques" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_unique_users"))
      val firstSeen = ev.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
        .groupBy(date_trunc("hour", col("first_ts")).as("hour_ts"))
        .agg(count(lit(1)).as("n_new_users"))
      hourly.join(firstSeen, Seq("hour_ts"), "left")
        .select(col("hour_ts"), col("n_events"), col("n_unique_users"),
          coalesce(col("n_new_users"), lit(0L)).as("n_new_users"))
    }),

    // z-score anomaly detection on the hourly per-type series: trailing
    // 24h mean/stddev from EXACT integer window sums (no Welford path —
    // sum and sum-of-squares of counts are longs, so the double math has
    // one cross-engine shape), z rounded at the boundary, |z| > 3 flags.
    // One shuffle (hash by type+hour) + one in-partition window sort.
    "stream_anomaly" -> ((s, d) => {
      val hourly = Tables.events(s, d).filter(col("event_type").isNotNull)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour_ts").asc)
        .rowsBetween(-24, -1)
      val dbl = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DoubleType)
      val win = hourly.select(col("event_type"), col("hour_ts"), col("cnt"),
        sum(col("cnt")).over(w).as("s"),
        sum(col("cnt") * col("cnt")).over(w).as("s2"),
        count(lit(1)).over(w).as("c"))
      val variance = (dbl(col("s2")) - dbl(col("s")) * dbl(col("s")) / dbl(col("c"))) /
        dbl(col("c") - 1)
      val z = when(col("c") >= 12 && variance > lit(0.0),
        (dbl(col("cnt")) - dbl(col("s")) / dbl(col("c"))) / sqrt(variance))
      win.select(col("event_type"), col("hour_ts"), col("cnt"),
        round(z, 6).as("z"),
        when(z.isNull, lit(null).cast("boolean"))
          .otherwise(abs(z) > lit(3.0)).as("is_anomaly"))
    }),

    // Batch twin of the stream-stream interval join (EventsStream.
    // clickAttribution runs unchanged on batch frames — the watermarks
    // are optimizer-eliminated): clicks attributed to same-user
    // purchases within 30 minutes.
    "stream_attribution" -> ((s, d) => {
      val e = Tables.events(s, d)
      EventsStream.clickAttribution(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"),
        withinSeconds = 1800)
    }),

    // The funnel-loss complement: LEFT OUTER interval join, so clicks
    // that never converted emit with NULL purchase columns (in streaming
    // they surface at watermark eviction; this batch run is the
    // identical end-state).
    "stream_attribution_outer" -> ((s, d) => {
      val e = Tables.events(s, d)
      EventsStream.clickAttributionLeftOuter(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"),
        withinSeconds = 1800)
    }),

    // Funnel analysis: users progressing view → click → purchase in
    // order. Stage k's timestamp is the user's earliest stage-k event at
    // or after their stage-(k-1) time — three keyed aggregations chained
    // by broadcast-friendly equi-joins, no per-user event sorting, no
    // window over the raw stream. Emits one row per stage with reached
    // counts (stage timestamps are intermediate, not output, so the
    // reduction is a tiny 3-row frame).
    "stream_funnel" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      def stage(evType: String, prev: DataFrame, withinUs: Option[Long]): DataFrame = {
        val base = e.filter(col("event_type") === evType)
          .join(prev, Seq("user_id"))
          .filter(col("ts_us") >= col("prev_us"))
        withinUs.fold(base)(us => base.filter(col("ts_us") < col("prev_us") + us))
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("prev_us"))
      }
      // each stage frame is tiny (one row per funnel user) but its
      // lineage is a full scan+join+agg, and the three count branches
      // below would otherwise re-execute it per reference — materialize
      // each stage once, then release the blocks after the (3-row) result
      // is itself materialized so repeated invocations don't accumulate
      // session-lifetime storage. Tradeoff vs cache(): checkpointed
      // blocks cannot be recomputed after executor loss (lineage is
      // truncated) and construction is eager — right for this bench
      // harness; a cluster deployment with dynamic allocation should
      // prefer cache()+unpersist here and reserve localCheckpoint for
      // iterative lineage truncation (CC, k-means).
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("prev_us")).localCheckpoint(true)
      // click any time after the first view; purchase must convert within
      // an hour of that click (the constraint that makes the funnel narrow)
      val s2 = stage("click", s1, None).localCheckpoint(true)
      val s3 = stage("purchase", s2, Some(3600000000L))
      val out = s1.agg(count(lit(1)).as("n_users")).select(lit(1L).as("stage"), lit("view").as("event_type"), col("n_users"))
        .unionByName(s2.agg(count(lit(1)).as("n_users")).select(lit(2L).as("stage"), lit("click").as("event_type"), col("n_users")))
        .unionByName(s3.agg(count(lit(1)).as("n_users")).select(lit(3L).as("stage"), lit("purchase").as("event_type"), col("n_users")))
        .localCheckpoint(true)
      graft.operators.Checkpoints.release(s1)
      graft.operators.Checkpoints.release(s2)
      out
    }),

    // SCD Type 2 history build: each user's event_type as a
    // slowly-changing state — consecutive repeats collapsed (lag), then
    // validity intervals from the next change (lead). One shuffle, two
    // frames off the same keyed sort.
    "stream_scd2_history" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val e = Tables.events(s, d).filter(col("event_type").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("__prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("__prev_type").isNull || col("__prev_type") =!= col("event_type"))
      e.select(col("user_id"), col("event_type"),
        col("ts_us").as("valid_from_us"),
        lead(col("ts_us"), 1).over(byUser).as("valid_to_us"),
        lead(col("ts_us"), 1).over(byUser).isNull.as("is_current"))
    }),

    // Batch twin of EventsStream.sessionizeStream (the
    // flatMapGroupsWithState sessionizer): gap-closed per-user sessions
    // aggregated to the stream's SessionOut shape — (user_id,
    // session_seq, n_events, start_us, end_us). EventsStreamSpec proves
    // the stateful streaming path emits exactly these rows; this entry
    // puts the shared semantics under the DuckDB gate. One shuffle
    // (hash by user) feeds both the session numbering window and the
    // final per-session aggregate.
    "stream_sessionize" -> ((s, d) => {
      val e = Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
      graft.operators.Temporal.sessionize(e, "user_id", "ts", "event_id", 1800)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"))
    }),

    // Spark's NATIVE session_window aggregation on the batch frame —
    // the declarative sibling of stream_sessionize's operator path
    // (EventsStream.sessionWindowAgg is the same call on a stream; its
    // streaming emission is spec-driven in EventsStreamSpec). Catalyst
    // owns session merging here, so this row pins the ENGINE's gap rule:
    // `diff <= gap` merges, end = last event + gap — the oracle replays
    // exactly that split with lag/cumsum.
    "stream_session_window" -> ((s, d) =>
      graft.streaming.EventsStream.sessionWindowAgg(Tables.events(s, d),
        gapSeconds = 1800L)),

    // Batch twin of EventsStream.abandonedFlows (the transformWithState
    // event-time-timer detector): a flow OPENS at the first view after
    // each purchase (or stream start) — exactly the processor's
    // "view arms only when nothing is pending" state machine, replayed
    // declaratively as a keyed running-max purchase carry + first-view-
    // per-segment — and is ABANDONED when no purchase lands in
    // (open, open+30min]. Same-ts ties order purchase before view
    // (lexicographic event_type), pinned identically in the oracle.
    // Keyed window + keyed anti join only — no global anything.
    "stream_abandoned_flows" -> ((s, d) => {
      val T = 1800L * 1000000L
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      val ordered = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_type").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val flows = ev
        .withColumn("last_p",
          max(when(col("event_type") === "purchase", col("ts_us"))).over(ordered))
        .filter(col("event_type") === "view")
        .groupBy(col("user_id"), coalesce(col("last_p"), lit(-1L)).as("seg"))
        .agg(min(col("ts_us")).as("start_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts_us").as("p_us"))
      flows.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_us") > col("start_us") && col("p_us") <= col("start_us") + T,
          "left_anti")
        .select(col("user_id"), col("start_us"),
          (col("start_us") + T).as("deadline_us"))
    }),

    // Batch twin of dropDuplicatesWithinWatermark: earliest-wins keyed
    // dedup with a deterministic tie-break (the streaming op keeps the
    // first arrival; batch pins arrival order = (ts, event_id)).
    "stream_dedup_by_key" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("ts").as("first_ts"), col("event_id").as("first_event_id"))
    }),

    // A REAL streaming run under the oracle gate: orders land in a
    // snapshot table across three appends + a compaction, then the
    // graft-snapshot streaming source drains the change feed
    // (Trigger.AvailableNow, checkpointed) through foreachBatch into
    // parquet. The aggregated delivery must equal DuckDB's plain
    // replay of the base table — gating exactly-once version delivery,
    // the dataChange skip (compaction re-lists everything; a double
    // delivery would double slice counts), and byte-faithful transport
    // through the feed. Offsets are version numbers: a restart resumes
    // at the next uncommitted version, and each micro-batch plans
    // O(delta files) from manifests — the 100 TB follower shape.
    "stream_snapshot_feed" -> ((s, d) => {
      val base = Tables.freshTmpDir(s, "graft_snapfeed")
      val root = new java.io.File(base, "table").getAbsolutePath
      val outDir = new java.io.File(base, "out").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 3 === 0))
      t.commitAppend(o.filter(col("o_orderkey") % 3 === 1))
      t.compact(targetRowsPerFile = 1000000L) // must deliver nothing
      t.commitAppend(o.filter(col("o_orderkey") % 3 === 2))
      val q = s.readStream.format("graft-snapshot").load(root)
        .writeStream
        .option("checkpointLocation", new java.io.File(base, "ckpt").getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, _: Long) =>
          { b.write.mode("append").parquet(outDir); () })
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .groupBy((col("o_orderkey") % 3).as("slice"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
    }),

    // Streaming ADMISSION CONTROL under the oracle gate: the source
    // table's three commits drain through maxRowsPerTrigger=1 — every
    // version exceeds the cap, so versions deliver one per micro-batch,
    // atomically and IN ORDER (the 100 TB bootstrap contract: a read
    // limit splits the backlog instead of one giant batch). batch_seq
    // stamped per non-empty batch therefore EQUALS the commit's slice
    // index; a broken limiter (whole backlog in one batch) collapses
    // batch_seq onto 0, and any split / merged / reordered version
    // shifts a slice's rows to the wrong seq — both hash-fail.
    "stream_rate_limited" -> ((s, d) => {
      val base = Tables.freshTmpDir(s, "graft_ratelimit")
      val root = new java.io.File(base, "table").getAbsolutePath
      val outDir = new java.io.File(base, "out").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root)
      val o = SharedFrames.ordersCents(s, d)
      (0 to 2).foreach(k => t.commitAppend(o.filter(col("o_orderkey") % 3 === k)))
      val seq = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = s.readStream.format("graft-snapshot")
        .option("maxRowsPerTrigger", "1").load(root)
        .writeStream
        .option("checkpointLocation", new java.io.File(base, "ckpt").getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, _: Long) => {
          if (b.count() > 0) {
            b.withColumn("batch_seq", lit(seq.getAndIncrement()))
              .write.mode("append").parquet(outDir)
          }
          ()
        })
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .groupBy(col("batch_seq"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
    }),

    // The streaming CHANGE FEED under the oracle gate: append → MOR
    // delete → re-append at doubled cents, drained through the
    // graft-snapshot source in changeFeed mode (a REAL checkpointed
    // AvailableNow run). Aggregated by change type, the delivery must
    // equal DuckDB's key-arithmetic replay — gating that the streamed
    // feed carries the same retraction semantics the batch
    // readChangeFeed oracle pins, through the actual streaming engine.
    "stream_snapshot_cdf" -> ((s, d) => {
      val base = Tables.freshTmpDir(s, "graft_snapcdfstream")
      val root = new java.io.File(base, "table").getAbsolutePath
      val outDir = new java.io.File(base, "out").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root)
      val o = SharedFrames.ordersCents(s, d)
      t.commitAppend(o.filter(col("o_orderkey") % 4 === 0))
      t.commitDeleteByKey(
        o.filter(col("o_orderkey") % 8 === 0).select("o_orderkey"), Seq("o_orderkey"))
      t.commitAppend(o.filter(col("o_orderkey") % 8 === 0)
        .select(col("o_orderkey"), (col("cents") * 2).as("cents")))
      val q = s.readStream.format("graft-snapshot")
        .option("changeFeed", "true").load(root)
        .writeStream
        .option("checkpointLocation", new java.io.File(base, "ckpt").getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, _: Long) =>
          { b.write.mode("append").parquet(outDir); () })
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
    }),

    // The streaming SINK under the oracle gate — the full lakehouse
    // loop with NO foreachBatch: orders land in a source snapshot table
    // across three appends, and three checkpointed AvailableNow runs
    // pump them through `readStream.format("graft-snapshot")` →
    // `writeStream.format("graft-snapshot")` into a destination table.
    // Each pump's micro-batch commits via commitAppendOnce (epoch
    // recorded on the manifest), so the destination lands EXACTLY three
    // append versions — pinned in the output next to the slice
    // aggregates, which must equal DuckDB's plain replay (exactly-once
    // content through two format hops). A fourth idle pump must land
    // nothing.
    "stream_snapshot_sink" -> ((s, d) => {
      val base = Tables.freshTmpDir(s, "graft_snapsink")
      val src = new java.io.File(base, "src").getAbsolutePath
      val dst = new java.io.File(base, "dst").getAbsolutePath
      val in = new graft.sources.SnapshotTable(s, src)
      val o = SharedFrames.ordersCents(s, d)
      def pump(): Unit = {
        val q = s.readStream.format("graft-snapshot").load(src)
          .writeStream.format("graft-snapshot").option("path", dst)
          .option("checkpointLocation", new java.io.File(base, "ckpt").getAbsolutePath)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      (0L to 2L).foreach { slice =>
        in.commitAppend(o.filter(col("o_orderkey") % 3 === slice))
        pump()
      }
      pump() // idle: no new source version, no destination version
      val out = new graft.sources.SnapshotTable(s, dst)
      val versions = out.history()
      require(versions.length == 3 && versions.forall(v =>
        v.action == "append" && v.batchId >= 0),
        s"expected exactly 3 epoch-stamped appends, got " +
          versions.map(v => s"${v.action}@${v.batchId}").mkString(","))
      out.read()
        .groupBy((col("o_orderkey") % 3).as("slice"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .withColumn("n_versions", lit(versions.length.toLong))
    }),

    // Streaming purely through CATALOG NAMES: `readStream.table` →
    // `writeStream.toTable` (the DSv2 MICRO_BATCH_READ/STREAMING_WRITE
    // surface — SnapshotMicroBatchStream + SnapshotStreamingWrite),
    // three source commits pumped as three epoch-stamped appends, an
    // idle pump publishing nothing. Same oracle shape as the path-based
    // sink: the destination is a plain replay of the base table, once.
    "stream_catalog_names" -> ((s, d) => {
      val wh = Tables.freshCatalog(s, "gstr", "graft_catstream")
      val o = SharedFrames.ordersCents(s, d)
      o.createOrReplaceTempView("catstr_src")
      s.sql("CREATE TABLE gstr.db.feed (o_orderkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_orderkey')")
      s.sql("CREATE TABLE gstr.db.sink (o_orderkey BIGINT, cents BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='o_orderkey')")
      val ckpt = new java.io.File(wh, "ckpt").getAbsolutePath
      def pump(): Unit = {
        val q = s.readStream.table("gstr.db.feed")
          .writeStream.option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("gstr.db.sink")
        q.awaitTermination()
      }
      (0L to 2L).foreach { slice =>
        s.sql(s"INSERT INTO gstr.db.feed SELECT * FROM catstr_src " +
          s"WHERE o_orderkey % 3 = $slice")
        pump()
      }
      pump() // idle: no new source version, no destination version
      val out = new graft.sources.SnapshotTable(s, s"$wh/db/sink")
      val dataVersions = out.history().filter(_.dataChange)
      require(dataVersions.length == 3 && dataVersions.forall(v =>
        v.action == "append" && v.batchId >= 0 && v.txnApp.nonEmpty),
        s"expected exactly 3 epoch-stamped appends, got " +
          dataVersions.map(v => s"${v.action}@${v.batchId}").mkString(","))
      s.table("gstr.db.sink")
        .groupBy((col("o_orderkey") % 3).as("slice"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .withColumn("n_versions", lit(dataVersions.length.toLong))
    })
  )

  val oracle: Map[String, String] = graft.SparkEntry.registry(
    // exact distincts; first-seen keyed min; zero-fill via left join
    "stream_hourly_uniques" -> """
WITH h AS (SELECT date_trunc('hour', ts) AS hour_ts,
                  CAST(count(*) AS BIGINT) AS n_events,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique_users
           FROM events GROUP BY 1),
fs AS (SELECT date_trunc('hour', first_ts) AS hour_ts,
              CAST(count(*) AS BIGINT) AS n_new_users
       FROM (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
       GROUP BY 1)
SELECT h.hour_ts, h.n_events, h.n_unique_users,
       CAST(coalesce(fs.n_new_users, 0) AS BIGINT) AS n_new_users
FROM h LEFT JOIN fs ON fs.hour_ts = h.hour_ts""",

    "stream_attribution" -> """
WITH c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
         value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts, p.purchase_ts, p.purchase_value
FROM c JOIN p ON c.user_id = p.user_id
             AND p.purchase_ts >= c.click_ts
             AND p.purchase_ts <= c.click_ts + INTERVAL 1800 SECOND""",

    "stream_attribution_outer" -> """
WITH c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
         value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts, p.purchase_ts, p.purchase_value
FROM c LEFT JOIN p ON c.user_id = p.user_id
                  AND p.purchase_ts >= c.click_ts
                  AND p.purchase_ts <= c.click_ts + INTERVAL 1800 SECOND""",

    "stream_funnel" -> """
WITH e AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
), s1 AS (
  SELECT user_id, min(ts_us) AS prev_us FROM e WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts_us) AS prev_us
  FROM e JOIN s1 ON e.user_id = s1.user_id AND e.ts_us >= s1.prev_us
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts_us) AS prev_us
  FROM e JOIN s2 ON e.user_id = s2.user_id AND e.ts_us >= s2.prev_us
                AND e.ts_us < s2.prev_us + 3600000000
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type, (SELECT count(*) FROM s1) AS n_users
UNION ALL SELECT CAST(2 AS BIGINT), 'click', (SELECT count(*) FROM s2)
UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', (SELECT count(*) FROM s3)""",

    "stream_scd2_history" -> """
WITH ordered AS (
  SELECT user_id, event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         lag(event_type) OVER (PARTITION BY user_id
           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC, event_id ASC) AS prev_type
  FROM events WHERE event_type IS NOT NULL
), changes AS (
  SELECT user_id, event_id, event_type, ts_us FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type, ts_us AS valid_from_us,
       lead(ts_us) OVER w AS valid_to_us,
       lead(ts_us) OVER w IS NULL AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)""",

    // z-score anomaly detection over the hourly series: trailing-24h
    // mean/variance from exact integer window sums (sum, sum-of-squares
    // are LONGs → the double arithmetic has an identical shape on both
    // engines), z rounded at the boundary. A count spiking more than 3σ
    // above its trailing day flags.
    "stream_anomaly" -> """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
         count(*) AS cnt
  FROM events WHERE event_type IS NOT NULL
  GROUP BY 1, 2
), win AS (
  SELECT event_type, hour_ts, cnt,
         sum(cnt) OVER w AS s,
         sum(cnt * cnt) OVER w AS s2,
         count(*) OVER w AS c
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts ASC
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour_ts, cnt,
       round(z, 6) AS z,
       CASE WHEN z IS NULL THEN NULL ELSE abs(z) > CAST(3.0 AS DOUBLE) END AS is_anomaly
FROM (
  SELECT *, CASE WHEN c >= 12 AND
                  (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(c AS DOUBLE)) / CAST(c - 1 AS DOUBLE) > CAST(0.0 AS DOUBLE)
             THEN (CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / CAST(c AS DOUBLE)) /
                  sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(c AS DOUBLE)) / CAST(c - 1 AS DOUBLE))
             ELSE NULL END AS z
  FROM win)""",

    "stream_hourly_by_type" -> """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2""",

    "stream_trending" -> """
WITH counts AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT hour_ts, event_type AS top_type, n AS top_n
FROM (SELECT *, row_number() OVER (PARTITION BY hour_ts
                                   ORDER BY n DESC, event_type DESC) AS rn
      FROM counts)
WHERE rn = 1""",

    "stream_sessionize" -> """
WITH e AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
), flagged AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)
), sess AS (
  SELECT user_id, ts_us,
         CAST(sum(is_new) OVER (PARTITION BY user_id
                                ORDER BY ts_us ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(ts_us) AS start_us, max(ts_us) AS end_us
FROM sess GROUP BY user_id, session_seq""",

    "stream_dedup_by_key" -> """
SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS first_ts, event_id AS first_event_id
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1""",

    // abandoned-flow replay: running-max purchase carry segments the
    // views; first view per segment opens; NOT EXISTS purchase within
    // the window = abandoned
    "stream_abandoned_flows" -> """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events WHERE event_type IN ('view', 'purchase')),
st AS (
  SELECT user_id, event_type, ts_us,
         max(CASE WHEN event_type = 'purchase' THEN ts_us END)
           OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_type ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_p
  FROM ev),
flows AS (
  SELECT user_id, coalesce(last_p, -1) AS seg, min(ts_us) AS start_us
  FROM st WHERE event_type = 'view' GROUP BY 1, 2)
SELECT f.user_id, f.start_us, f.start_us + 1800000000 AS deadline_us
FROM flows f
WHERE NOT EXISTS (
  SELECT 1 FROM ev p
  WHERE p.user_id = f.user_id AND p.event_type = 'purchase'
    AND p.ts_us > f.start_us AND p.ts_us <= f.start_us + 1800000000)""",

    // Spark session_window replay: diff <= gap merges (measured — exact-
    // gap events merge; spec-pinned), end = last event ts + gap
    "stream_session_window" -> """
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
), flagged AS (
  SELECT user_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC)
), sess AS (
  SELECT user_id, ts_us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM flagged
)
SELECT user_id, min(ts_us) AS start_us,
       max(ts_us) + 1800000000 AS end_us,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_seq""",

    // plain replay of the base table: any duplicate or dropped version
    // in the feed breaks a slice's count/cents
    "stream_snapshot_feed" -> """
SELECT o_orderkey % 3 AS slice, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY 1""",

    // versions deliver one per rate-limited batch, in commit order, so
    // batch_seq == the commit's slice index (o_orderkey % 3)
    "stream_rate_limited" -> """
SELECT o_orderkey % 3 AS batch_seq, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY 1""",

    // the destination table after three source→sink pumps must hold a
    // plain replay of the base table, once (n_versions is the Scala-side
    // pinned epoch count — 3 literal)
    "stream_snapshot_sink" -> """
SELECT o_orderkey % 3 AS slice, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(3 AS BIGINT) AS n_versions
FROM orders GROUP BY 1""",

    // same contract through catalog names: the sink replays the base
    // table once across three epoch-stamped appends
    "stream_catalog_names" -> """
SELECT o_orderkey % 3 AS slice, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(3 AS BIGINT) AS n_versions
FROM orders GROUP BY 1""",

    // inserts = v1 (all %4==0 at c) + v3 (%8==0 at 2c);
    // deletes = v2's pre-image (%8==0 at c)
    "stream_snapshot_cdf" -> """
WITH base AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_orderkey % 4 = 0)
SELECT 'insert' AS change_type,
       CAST((SELECT count(*) FROM base) +
            (SELECT count(*) FROM base WHERE k % 8 = 0) AS BIGINT) AS n_rows,
       CAST((SELECT sum(c) FROM base) +
            (SELECT sum(2 * c) FROM base WHERE k % 8 = 0) AS BIGINT) AS total_cents
UNION ALL
SELECT 'delete', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
FROM base WHERE k % 8 = 0"""
  )
}
