package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dumps each query's result to `outDir/<name>/` parquet and returns the
    * failures as name → message (insertion-ordered). A query that throws at
    * dump time must fail LOUDLY: it lands in the returned map — persisted as
    * `verify_errors.json` and a non-zero exit by `main` — instead of
    * silently shrinking the correctness denominator (round-8 postmortem: 10
    * analysis-failing queries vanished from the round without a trace).
    *
    * Driver comparers sort+hash result cells: DECIMAL survives as
    * engine-specific decimal objects (vs float64 on the oracle side) and
    * ARRAY cells are unhashable — both hard-fail the round even when the
    * values are right. Refused loudly at dump time for the same reason. */
  private[graft] def dumpAll(
      spark: SparkSession,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, outDir: String): collection.SeqMap[String, String] = {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val bad = df.schema.fields.filter(f => SparkEntry.bannedOutputType(f.dataType))
        if (bad.nonEmpty) throw new IllegalStateException(
          s"driver-unhashable output column types: " +
            bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", "))
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.take(500)
      } finally QueryCaches.releaseAll() // per-query caches, not across the run
    }
    errors
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing query names = targeted re-dump (builder-side use;
    // the driver always runs the full registry)
    val selected = SparkEntry.select(args.drop(2).toSet)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val errors = dumpAll(spark, selected, sfDir, outDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
    // Non-zero exit on any dump failure so wrappers (and the builder) see it.
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} queries FAILED to dump: " +
        errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
