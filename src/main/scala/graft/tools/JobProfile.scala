package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: per-JOB wall-time breakdown of one registered query — the
  * "where do a snapshot query's 25 jobs spend their 4 seconds" view the
  * bench's per-query medians can't give. Runs the query once warm, once
  * profiled, and prints every Spark job with its callsite and duration.
  *
  * Usage: sbt "runMain graft.tools.JobProfile [sfDir] queryName…"
  *
  * Caveats (advisor notes):
  *  - releaseAll() between queries evicts only QUERY-SCOPED caches; the
  *    UNSCOPED shared caches (retail raw/fct/dims, SharedFrames,
  *    bipartite/coPurchase edges, QueryCaches.shared memos) stay
  *    resident — per-query profiles here include cross-query warm-cache
  *    state by design (the bench's warm-up pass does the same).
  *  - the timed action is count(): Catalyst prunes agg columns count()
  *    doesn't need, so an aggregate only the FULL output pays (e.g. a
  *    struct-min SortAggregate) may be absent from the action summary —
  *    cross-check against PlanDump, which explains the full frame. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    require(names.nonEmpty, "usage: JobProfile [sfDir] queryName…")
    val spark = graft.GraftSession.local()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        starts.put(e.jobId, (System.nanoTime(), site)); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.remove(e.jobId)).foreach { case (t0, site) =>
          done.add((e.jobId, site, System.nanoTime() - t0)); ()
        }
      }
    }
    // per-ACTION plan shapes: every action's executed plan, summarized
    // as counts of the load-bearing operators — the evidence that a
    // restructure actually removed Exchanges/joins from a multi-action
    // query (explain() on the returned frame only shows the LAST plan).
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      private def summarize(qe: org.apache.spark.sql.execution.QueryExecution): String = {
        val ops = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
        // AQE wraps the real plan: AdaptiveSparkPlanExec exposes no
        // children until executed — walk its final executedPlan, and
        // recurse into materialized query stages the same way
        def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            tally(s); walk(s.plan)
          case other =>
            tally(other); other.children.foreach(walk)
        }
        def tally(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
          val n = p.getClass.getSimpleName
          if (n.contains("Exchange") || n.contains("Join") || n.contains("Aggregate") ||
            n.contains("Scan") || n.contains("Sort"))
            ops(n.stripSuffix("Exec")) += 1
        }
        walk(qe.executedPlan)
        ops.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
      }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        actions.add(f"${durationNs / 1e6}%8.1f ms  $funcName%-12s ${summarize(qe)}"); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warm pass: caches, codegen, parquet footers
      fn(spark, dir).count()
      graft.QueryCaches.releaseAll()
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qel)
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val total = (System.nanoTime() - t0) / 1e9
      // job-end and query-execution events arrive asynchronously: deliver
      // every one this pass posted before detaching the listeners
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qel)
      graft.QueryCaches.releaseAll()
      import scala.jdk.CollectionConverters._
      val jobs = done.asScala.toSeq.sortBy(_._1)
      done.clear()
      val acts = actions.asScala.toSeq
      actions.clear()
      println(f"==== $name total=$total%.2f s, ${jobs.length} jobs, " +
        f"job-sum=${jobs.map(_._3).sum / 1e9}%.2f s, ${acts.length} actions")
      jobs.foreach { case (id, site, ns) =>
        println(f"  job $id%3d ${ns / 1e6}%8.1f ms  $site")
      }
      acts.foreach(a => println(s"  action $a"))
    }
    spark.stop()
  }
}
