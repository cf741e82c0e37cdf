package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main and the spec suite run in, so a
  * Verify dump, a Bench timing, a plan dump and a test all come from the
  * same configuration; only the core count varies. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else every processor the
    * JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * no UI, a fresh temporary warehouse and WARN logging. */
  def local(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ContextCleaner reclaims dead shuffle files / broadcasts only when
      // driver GC collects their references; the periodic-GC fallback
      // defaults to 30 MIN — longer than a whole 208-query bench session,
      // so state from every query accumulates (r8 postmortem: queries
      // timed late in the session ran up to 7x their standalone time). A
      // 1-min floor (plus Bench's explicit gc between queries) keeps a
      // long session steady-state.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
