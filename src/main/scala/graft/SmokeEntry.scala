package graft
object SmokeEntry {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
