package graft

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE machine-readable JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":0.1}`.
  *
  * Timing discipline (this host is shared; co-tenant load inflates a single
  * run of one query 5-25x):
  *   - a full untimed warm-up pass first (caches, parquet footers, codegen);
  *   - then THREE timed runs per query, reporting the MEDIAN — one noise
  *     spike cannot corrupt a reported number;
  *   - per-query seconds rounded to 2 decimals so the whole JSON line stays
  *     under ~1.9 KB (downstream log capture keeps only a 2000-char tail);
  *   - a query that throws in a timed run is listed in `failed` instead of
  *     timed, and the bench exits 1.
  */
object Bench {
  private val TimedRuns = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // comma-separated allowlist for targeted timing runs (empty = all);
    // unknown names fail loudly — a typo would otherwise yield a silent
    // empty run
    val selected = SparkEntry.select(sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Host-load provenance: this box is shared, and co-tenant load is the
    // documented cause of >1.5x same-code drift (BASELINE.md). Recording
    // the 1/5/15-min load averages at start lets a reader judge a noisy
    // total without re-timing.
    val loadavg = try {
      scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
    } catch { case _: Exception => "" }
    // The loaded-host tag is decided HERE, inside the bench JVM, from the
    // same sample the artifact records — an external pre-sbt sample reads
    // low because sbt's own compile raises the load before Bench starts
    // (both r17 artifacts ran at loadavg 4.2-5.2 untagged). Threshold 3:
    // above it, same-code timings drift 1.5-25x on this shared host
    // (BASELINE.md noise table), so the artifact carries its own caveat.
    val loadedHost = loadavg.split(",").headOption
      .flatMap(s => scala.util.Try(s.toDouble).toOption).exists(_ > 3.0)
    val spark = GraftSession.local()
    // Warm-up: absorb JVM/codegen/session init so timings measure queries,
    // not first-use JIT (runs a shuffle + a parquet read + codegen once).
    spark.range(1000000).selectExpr("sum(id) as s", "count(distinct id % 7) as d").collect()
    try spark.read.parquet(s"$sfDir/nation.parquet").count()
    catch { case _: Throwable => () }
    // Full untimed warm-up pass: materializes the plan-matched shared
    // caches (retail raw/fct), parquet footers, and per-query codegen, so
    // the timed passes measure steady-state execution instead of charging
    // one-time materialization to whichever query touches it first
    // (round-1 lesson: 85 s "query times" that were 95% cache build).
    // The warm-up pass is UNTIMED by design (steady-state timing), which
    // also means the one-time build of the unscoped shared caches (retail
    // raw/fct, SharedFrames, graph edges) is never charged to any query.
    // Record the whole pass's wall so the artifact carries the charged vs
    // uncharged split explicitly (r20 verdict ask; additions-only field).
    val warmT0 = System.nanoTime()
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      // query-scoped caches are released per query (here and after each
      // timed block): 126 queries' worth of live cached blocks would
      // otherwise accumulate for the whole run. Cross-query shared caches
      // (retail raw/fct) are unscoped and survive, as designed.
      QueryCaches.releaseAll()
      System.err.println(f"[bench-warm] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    val warmupSec = (System.nanoTime() - warmT0) / 1e9
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // Shuffle/spill provenance: stage-completion totals over the TIMED
    // section. Shuffle volume is the number that predicts 100 TB cost
    // (wall seconds on a shared host don't), so the bench line carries
    // it; per-query deltas go to stderr with the run lines. Listener
    // delivery is async: the bus is drained after each timed run and
    // before the totals, so every stage lands in the query that ran it.
    val shf = new org.apache.spark.scheduler.SparkListener {
      val read = new java.util.concurrent.atomic.AtomicLong
      val write = new java.util.concurrent.atomic.AtomicLong
      val spill = new java.util.concurrent.atomic.AtomicLong
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.diskBytesSpilled)
          ()
        }
      }
    }
    org.apache.spark.sql.graft.bridge.drainListenerBus(spark.sparkContext) // no warm-up stage
    spark.sparkContext.addSparkListener(shf)
    val shfStart = (shf.read.get, shf.write.get, shf.spill.get)
    // A query whose timed run throws is FAILED, not fast: it gets no
    // seconds, stays out of `total`, is named in `failed`, and the bench
    // exits non-zero (the seconds until a throw time nothing).
    val timed = selected.map { case (name, fn) =>
      val runs = (1 to TimedRuns).map { i =>
        val t0 = System.nanoTime(); val g0 = gcMillis; val s0 = shf.write.get
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name run$i FAILED: $e")
            false
        }
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.graft.bridge.drainListenerBus(spark.sparkContext)
        System.err.println(f"[bench] $name%-28s run$i ${sec}%8.2f s  gc=${gcMillis - g0} ms  shfw=${(shf.write.get - s0) / 1048576}%4d MB")
        (sec, ok)
      }
      // run1 rebuilds this query's scoped caches (released below), runs
      // 2-3 hit them warm — the MEDIAN still reports steady state
      QueryCaches.releaseAll()
      // Outside the timed window: driver GC so the ContextCleaner frees
      // this query's dead shuffle files/broadcasts before the next one
      // is timed (see the periodicGC comment in GraftSession.local).
      System.gc()
      name -> (if (runs.forall(_._2)) Some(runs.map(_._1).sorted.apply(TimedRuns / 2)) // median
               else None)
    }
    org.apache.spark.sql.graft.bridge.drainListenerBus(spark.sparkContext)
    val results = timed.collect { case (name, Some(sec)) => name -> sec }.toMap
    val failed = timed.collect { case (name, None) => name }
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
    // comma-decimal locale would render 45,23 — invalid JSON
    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    // The driver's log capture keeps only the LAST 2000 chars of output;
    // a queries map over the full registry (121 names) runs ~2.9 KB and
    // gets its head truncated, making the line unparseable (BENCH_r05's
    // "parsed": null). Emit the slowest entries up to a hard byte budget
    // plus a rollup of what was omitted — the full map still goes to
    // stderr above, run by run.
    val budgetBytes = 1600
    val bySlowest = results.toSeq.sortBy { case (k, v) => (-v, k) }
    val entries = bySlowest.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    val keptN = {
      var used = 0; var n = 0
      while (n < entries.length && used + entries(n).length + 1 <= budgetBytes) {
        used += entries(n).length + 1; n += 1
      }
      n
    }
    val omitted = bySlowest.drop(keptN)
    val qs = entries.take(keptN).mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // sf as a number when the dir ends in a well-formed sf<N> segment
    // (anchored — no trailing-dot captures, no mid-word 'sf' matches);
    // else the raw path, JSON-escaped.
    val sfLit = "(?:^|/)sf([0-9]+(?:\\.[0-9]+)?)(?=/|$)".r.findFirstMatchIn(sfDir)
      .map(_.group(1))
      .getOrElse("\"" + sfDir.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
    val mb = (b: Long) => b / 1048576
    val failedJson = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
      s""""n_queries":${selected.size},"n_omitted":${omitted.size},""" +
      s""""failed":$failedJson,""" +
      s""""omitted_sum":${fmt(omitted.map(_._2).sum)},""" +
      s""""shuffle_read_mb":${mb(shf.read.get - shfStart._1)},""" +
      s""""shuffle_write_mb":${mb(shf.write.get - shfStart._2)},""" +
      s""""spill_mb":${mb(shf.spill.get - shfStart._3)},""" +
      s""""warmup_sec":${fmt(warmupSec)},""" +
      s""""loadavg_start":"$loadavg","loaded_host":$loadedHost,"sf":$sfLit}"""
    // Quiesce Spark before emitting the JSON so no late executor/log line
    // interleaves into the machine-readable line on a combined capture.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    System.err.flush()
    Thread.sleep(100)
    println(line)
    System.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
