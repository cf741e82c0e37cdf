package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArgExtremePairValue

/** ArgExtremePairValue (flat-buffer hash-aggregable argmin/argmax with a
  * payload slot) == the min/max(struct(k1, k2, v)).v idiom it replaces,
  * independent of partition layout (map-side partial merges exercised at
  * 1/3/17 partitions), including k1 ties (k2 tiebreak), (k1, k2) ties
  * (the VALUE participates as the third compare field, exactly like the
  * struct), NULL inputs (ignored — the documented contract difference vs
  * struct-min on nullable fields), and all-NULL groups (NULL result).
  * The two-field (k, v, v) form, mixed slot types (timestamp key, double
  * payload — the OHLC shape) and the plan claim that motivated it
  * (HashAggregate, no SortAggregate) are pinned too. */
class ArgExtremePairValueSpec extends SparkSpec {
  import spark.implicits._

  test("argmin/argmax == min/max(struct).v under partitionings, ties, nulls") {
    val rng = new scala.util.Random(23)
    val rows = (1 to 3000).map { i =>
      (rng.nextInt(40).toLong,
        java.lang.Long.valueOf(rng.nextInt(5).toLong),   // coarse: k1 ties
        java.lang.Long.valueOf(rng.nextInt(4).toLong),   // coarse: (k1,k2) ties
        java.lang.Double.valueOf(rng.nextInt(100).toDouble))
    } ++ Seq(
      (900L, null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(1L),
        java.lang.Double.valueOf(1.0)),
      (900L, java.lang.Long.valueOf(1L), java.lang.Long.valueOf(1L),
        null.asInstanceOf[java.lang.Double]),
      (901L, null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long],
        null.asInstanceOf[java.lang.Double]))
    val df = rows.toDF("g", "k1", "k2", "v")
    val nn = df.filter(col("k1").isNotNull && col("k2").isNotNull &&
      col("v").isNotNull)
    // groups 900/901 exist only through null-slotted rows (random group
    // ids cap at 39): both must evaluate to NULL — the documented
    // skip-null contract
    val nones = Map(900L -> (None: Option[Double]), 901L -> (None: Option[Double]))
    val expMin = nn.groupBy(col("g"))
      .agg(min(struct(col("k1"), col("k2"), col("v"))).as("m"))
      .select(col("g"), col("m.v")).as[(Long, Option[Double])].collect().toMap ++ nones
    val expMax = nn.groupBy(col("g"))
      .agg(max(struct(col("k1"), col("k2"), col("v"))).as("m"))
      .select(col("g"), col("m.v")).as[(Long, Option[Double])].collect().toMap ++ nones
    for (n <- Seq(1, 3, 17)) {
      val got = df.repartition(n).groupBy(col("g"))
        .agg(ArgExtremePairValue.argminValue(col("k1"), col("k2"), col("v")).as("lo"),
          ArgExtremePairValue.argmaxValue(col("k1"), col("k2"), col("v")).as("hi"))
        .as[(Long, Option[Double], Option[Double])].collect()
      assert(got.map(r => r._1 -> r._2).toMap == expMin, s"argmin mismatch at $n partitions")
      assert(got.map(r => r._1 -> r._3).toMap == expMax, s"argmax mismatch at $n partitions")
    }
  }

  // the two-field form (label propagation, paragraph dedup): the
  // (k, v, v) triple orders exactly like the (k, v) pair
  test("(k, v, v) == min(struct(k, v)).v under partitionings, ties, nulls") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 3000).map { i =>
      (rng.nextInt(50).toLong,
        java.lang.Long.valueOf(rng.nextInt(6).toLong), // coarse keys: ties
        java.lang.Long.valueOf(rng.nextInt(1000).toLong))
    } ++ Seq(
      (777L, null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(5L)),
      (777L, java.lang.Long.valueOf(2L), null.asInstanceOf[java.lang.Long]),
      (778L, null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long]))
    val df = rows.toDF("g", "k", "v")
    // groups 777/778 exist only through null-slotted rows: both must
    // evaluate to NULL — the documented skip-null contract
    val expected = df.filter(col("k").isNotNull && col("v").isNotNull)
      .groupBy(col("g"))
      .agg(min(struct(col("k"), col("v"))).as("m"))
      .select(col("g"), col("m.v").as("v"))
      .as[(Long, Option[Long])].collect().toMap ++
      Map(777L -> (None: Option[Long]), 778L -> (None: Option[Long]))
    for (n <- Seq(1, 3, 17)) {
      val got = df.repartition(n).groupBy(col("g"))
        .agg(ArgExtremePairValue.argminValue(col("k"), col("v"), col("v")).as("v"))
        .as[(Long, Option[Long])].collect().toMap
      assert(got == expected, s"mismatch at $n partitions")
    }
  }

  test("timestamp key + long key + double payload (the OHLC shape)") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 5L, 2.5),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 9L, 7.5),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 3L, 1.5),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 1L, 4.0))
      .toDF("g", "ts", "id", "v")
    val got = df.groupBy(col("g"))
      .agg(ArgExtremePairValue.argminValue(col("ts"), col("id"), col("v")).as("open"),
        ArgExtremePairValue.argmaxValue(col("ts"), col("id"), col("v")).as("close"))
      .orderBy(col("g"))
      .as[(Long, Double, Double)].collect().toSeq
    // g=1: min (ts, id) = (09:00, 3) → 1.5; max = (10:00, 5) → 2.5
    assert(got == Seq((1L, 1.5, 2.5), (2L, 4.0, 4.0)))
  }

  test("plans as hash aggregate (the reason it exists)") {
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 2L, 3.0))
      .toDF("g", "ts", "id", "v")
      .groupBy(col("g"))
      .agg(ArgExtremePairValue.argminValue(col("ts"), col("id"), col("v")).as("o"),
        ArgExtremePairValue.argmaxValue(col("ts"), col("id"), col("v")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"expected HashAggregate, got:\n$plan")
    assert(!plan.contains("SortAggregate"), s"unexpected SortAggregate:\n$plan")
  }

  test("(k, v, v) plans as hash aggregate") {
    val df = Seq((1L, 2L, 3L)).toDF("g", "k", "v")
      .groupBy(col("g"))
      .agg(ArgExtremePairValue.argminValue(col("k"), col("v"), col("v")).as("v"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"expected HashAggregate, got:\n$plan")
    assert(!plan.contains("SortAggregate"), s"unexpected SortAggregate:\n$plan")
  }
}
