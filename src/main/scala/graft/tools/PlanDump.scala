package graft.tools

/** Dev tool: write `.explain("formatted")` of registered queries to
  * files — the plan evidence the optimization rounds commit under
  * plans/<round>/, and the plan review loop: grep the dumps for the
  * load-bearing operators (join strategies, scans, exchanges). For
  * multi-action queries (snapshot/catalog/stream) the dumped plan is the
  * FINAL frame's; per-action shapes come from [[JobProfile]].
  *
  * Usage: sbt "runMain graft.tools.PlanDump <outDir> <suffix> <sfDir> [queryName…]"
  * writes <outDir>/<query>_<suffix>.txt for each named query, or for
  * every registered query when none is named. Runs at 8 cores (8 shuffle
  * partitions), the setting the committed plans/ dumps were taken at.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <sfDir> [queryName…]")
    val outDir = new java.io.File(args(0)); outDir.mkdirs()
    val suffix = args(1)
    val dir = args(2)
    val selected = graft.SparkEntry.select(args.drop(3).toSet)
    val spark = graft.GraftSession.local(8)
    selected.foreach { case (name, fn) =>
      val out = new java.io.File(outDir, s"${name}_$suffix.txt")
      try {
        val df = fn(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(out, "UTF-8")
        try { w.println(s"== $name ($suffix) =="); w.println(txt) }
        finally w.close()
        println(s"[plandump] wrote $out")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      graft.QueryCaches.releaseAll()
    }
    spark.stop()
  }
}
