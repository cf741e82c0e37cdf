package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic 10× scale-up generator for the sf1 sanity bench (there is
  * no driver-provided sf1 dir): unions `factor` id-shifted copies of the
  * sf0.1 tables into an output dir Bench can point at.
  *
  * Content handling is what makes the scaled bench MEANINGFUL rather
  * than degenerate: a naive 10× copy makes every document 10-way
  * exactly-duplicated, so LSH buckets gain ~C(10,2) cross-copy pairs
  * per original pair and the near-dup pipeline goes super-linear BY
  * CONSTRUCTION. Instead each copy's text is alphabet-ROTATED (copy i
  * shifts a..z by i) — within-copy duplicate/similarity structure is
  * preserved exactly (dup pairs scale linearly, as a real 10× corpus
  * crawl would), while cross-copy shingles differ wholesale.
  *
  * Usage: runMain graft.ScaleUp <inDir> <outDir> [factor=10]
  */
object ScaleUp {
  private val Shift = 1000000000L

  /** Distinct letter permutation per copy: rotation (i % 26) composed
    * with a copy-block transposition (i / 26) — plain rotations alone
    * repeat after 26 copies, which would make copies i and i+26 exact
    * text duplicates and reintroduce the artificial cross-copy dup
    * blowup at factor > 26. Distinct for i < 26 * 14. */
  private def rotAlphabet(i: Int): (String, String) = {
    val a = ('a' to 'z').mkString
    val arr = (a.drop(i % 26) + a.take(i % 26)).toCharArray
    val s = i / 26
    if (s > 0) {
      val p = (s - 1) * 2 % 24
      val t = arr(p); arr(p) = arr(p + 1); arr(p + 1) = t
    }
    val r = new String(arr)
    (a + a.toUpperCase, r + r.toUpperCase)
  }

  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local()

    def copies(name: String)(tx: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, inDir, name)
      val out = (0 until factor).map(i => tx(base, i)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name x$factor written")
    }

    copies("documents") { (df, i) =>
      val (from, to) = rotAlphabet(i)
      df.select((col("doc_id") + i * Shift).as("doc_id"),
        translate(col("text"), from, to).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    copies("embeddings") { (df, i) =>
      df.select((col("vec_id") + i * Shift).as("vec_id"), col("embedding"), col("label"))
    }
    copies("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + i * Shift)
    }
    copies("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + i * Shift)
    }
    // events: new users per copy so keyed sessions/SCD series stay
    // per-user-identical and total volume scales linearly
    val ev = Tables.events(spark, inDir)
    (0 until factor).map(i => ev
        .withColumn("event_id", col("event_id") + i * Shift)
        .withColumn("user_id", col("user_id") + i * 1000000L))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    println(s"[scaleup] events x$factor written")
    // dims copied as-is: a 10x fact over the same dims is the realistic
    // scale-up shape (per-key multiplicity grows, dims stay broadcastable)
    Seq("region", "nation", "customer", "supplier", "part").foreach { name =>
      Tables.load(spark, inDir, name).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name copied")
    }
    spark.stop()
  }
}
