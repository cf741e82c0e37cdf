package graftbench

/** Command line of the measured JVM (run.py builds it; every option is
  * required). */
final case class Opts(
    ops: Seq[String],
    seed: Long,
    seconds: Double,
    minPasses: Int,
    trace: Boolean,
    inputDir: String,
    runDir: String,
    injectFailure: Boolean,
    setupOnly: Boolean)

object Opts {
  final class Usage(msg: String) extends Exception(msg)

  def apply(args: Array[String]): Opts = {
    if (args.length % 2 != 0) throw new Usage(s"expected --key value pairs: ${args.mkString(" ")}")
    val kv = args.grouped(2).map { case Array(k, v) =>
      if (!k.startsWith("--")) throw new Usage(s"bad option $k")
      k.drop(2) -> v
    }.toMap
    val known = Set("ops", "seed", "seconds", "min-passes", "trace", "input", "run-dir",
      "inject-failure", "setup-only")
    val extra = kv.keySet -- known
    if (extra.nonEmpty) throw new Usage(s"unknown option(s): ${extra.mkString(", ")}")
    def req(k: String): String = kv.getOrElse(k, throw new Usage(s"--$k is required"))
    Opts(
      ops = req("ops").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      seed = req("seed").toLong,
      seconds = req("seconds").toDouble,
      minPasses = req("min-passes").toInt,
      trace = req("trace") == "1",
      inputDir = req("input"),
      runDir = req("run-dir"),
      injectFailure = req("inject-failure") == "1",
      setupOnly = req("setup-only") == "1")
  }
}
