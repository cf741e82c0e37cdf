package graft

import org.apache.spark.sql.functions._
import graft.sources.{BandKeys, SnapshotTable}

/** Manifest-fed MIN/MAX/NULL-count column statistics through the DSv2
  * stats path: the scan's `columnStats()` reports, over the PLANNED
  * (post-pruning) file set, value bounds for the types whose band key
  * is exact and the null census from the manifest vectors — so the
  * CBO's filter-selectivity and join estimators see real ranges
  * instead of guessing. Zero files are opened for any of it. */
class CboBoundsSpec extends SparkSpec {
  import spark.implicits._

  // installs V1ScanStatsRule — Spark's push-down wrapper drops the
  // stats mix-in from V1 scans; the rule restores it (see V1ScanStats)
  org.apache.spark.sql.graft.GraftFunctions.register(spark)

  private def freshRoot(tag: String): String = {
    val f = java.nio.file.Files.createTempDirectory(s"graft_cbo_$tag")
    f.toFile.delete()
    f.toString
  }

  private def withCbo[A](body: => A): A = {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try body finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  private def catalogTable(cat: String, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
  }

  test("logical plan stats carry manifest min/max/nullCount for a BIGINT column") {
    val cat = "gcbo1"
    catalogTable(cat, freshRoot("bigint"))
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k')")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id + 100 AS k, id AS v " +
      "FROM range(0, 1000)")
    withCbo {
      val stats = spark.table(s"$cat.db.t").queryExecution.optimizedPlan.stats
      val kStat = stats.attributeStats.find(_._1.name == "k").map(_._2)
      assert(kStat.isDefined, s"no column stats for k in $stats")
      assert(kStat.get.min.contains(100L), s"min must be 100, got ${kStat.get.min}")
      assert(kStat.get.max.contains(1099L), s"max must be 1099, got ${kStat.get.max}")
      assert(kStat.get.nullCount.exists(_.toLong == 0L),
        s"nullCount must be 0, got ${kStat.get.nullCount}")
    }
  }

  test("pruned scans report post-pruning bounds, not the table's") {
    val cat = "gcbo2"
    catalogTable(cat, freshRoot("pruned"))
    spark.sql(s"CREATE TABLE $cat.db.p (k BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k')")
    // three band-disjoint files: [0,999], [1000,1999], [2000,2999]
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO $cat.db.p SELECT id AS k, id AS v FROM " +
        s"range(${i * 1000}, ${i * 1000 + 1000})")
    }
    withCbo {
      val plan = spark.table(s"$cat.db.p").filter(col("k") < 1000L)
        .queryExecution.optimizedPlan
      // the scan under the filter carries the PLANNED file set's bounds
      val scanStats = plan.collectLeaves().head.stats
      val kStat = scanStats.attributeStats.find(_._1.name == "k").map(_._2)
      assert(kStat.exists(_.max.exists(_.asInstanceOf[Long] <= 999L)),
        s"post-pruning max must come from the single planned file, got $scanStats")
      assert(kStat.exists(_.min.contains(0L)), s"got $scanStats")
    }
  }

  test("null census reaches the CBO; all-null-file bounds stay absent") {
    val cat = "gcbo3"
    catalogTable(cat, freshRoot("nulls"))
    spark.sql(s"CREATE TABLE $cat.db.n (k BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k')")
    spark.sql(s"INSERT INTO $cat.db.n SELECT CASE WHEN id % 10 = 0 " +
      "THEN NULL ELSE id END AS k, id AS v FROM range(0, 1000)")
    withCbo {
      val stats = spark.table(s"$cat.db.n").queryExecution.optimizedPlan.stats
      val kStat = stats.attributeStats.find(_._1.name == "k").map(_._2)
      assert(kStat.exists(_.nullCount.exists(_.toLong == 100L)),
        s"nullCount must be the manifest's census (100), got $stats")
    }
  }

  test("string stats columns surface NDV and nullCount but never a lossy bound") {
    val cat = "gcbo4"
    catalogTable(cat, freshRoot("string"))
    spark.sql(s"CREATE TABLE $cat.db.s (name STRING, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='name')")
    spark.sql(s"INSERT INTO $cat.db.s SELECT concat('user_', CAST(id AS STRING)) " +
      "AS name, id AS v FROM range(0, 500)")
    withCbo {
      val stats = spark.table(s"$cat.db.s").queryExecution.optimizedPlan.stats
      val nStat = stats.attributeStats.find(_._1.name == "name").map(_._2)
      assert(nStat.isDefined, s"string column must still carry stats, got $stats")
      assert(nStat.get.min.isEmpty && nStat.get.max.isEmpty,
        s"an 8-byte-prefix key is lossy — no value bound may be claimed: $nStat")
      assert(nStat.get.nullCount.exists(_.toLong == 0L), s"got $nStat")
      assert(nStat.get.distinctCount.exists(n =>
        n.toLong > 400L && n.toLong < 600L), s"got $nStat")
    }
  }

  test("timestamp v2 bounds are exact micros; CBO filter estimation shrinks rows") {
    val cat = "gcbo5"
    catalogTable(cat, freshRoot("ts"))
    spark.sql(s"CREATE TABLE $cat.db.e (ts TIMESTAMP, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='ts')")
    spark.sql(s"INSERT INTO $cat.db.e SELECT " +
      "timestampadd(SECOND, CAST(id AS INT), TIMESTAMP'2024-01-01 00:00:00Z') AS ts, " +
      "id AS v FROM range(0, 86400)")
    withCbo {
      val stats = spark.table(s"$cat.db.e").queryExecution.optimizedPlan.stats
      val tStat = stats.attributeStats.find(_._1.name == "ts").map(_._2)
      assert(tStat.exists(_.min.isDefined) && tStat.exists(_.max.isDefined),
        s"v2 timestamp bands are exact micros — bounds must surface: $stats")
      val span = tStat.get.max.get.asInstanceOf[Long] -
        tStat.get.min.get.asInstanceOf[Long]
      assert(span == 86399L * 1000000L, s"micros span, got $span")
      // the estimator actually uses the range: a one-hour slice of a
      // one-day table must estimate well under the full row count
      val full = spark.table(s"$cat.db.e").queryExecution.optimizedPlan
        .stats.rowCount
      val sliced = spark.table(s"$cat.db.e")
        .filter(col("ts") < expr("TIMESTAMP'2024-01-01 01:00:00Z'"))
        .queryExecution.optimizedPlan.stats.rowCount
      assert(full.isDefined && sliced.isDefined, "CBO row counts must exist")
      assert(sliced.get < full.get / 4,
        s"range-based selectivity must bite: $sliced vs $full")
    }
  }

  test("CALL table_stats: the catalog-name twin of snapshot_stats") {
    val cat = "gcbo6"
    catalogTable(cat, freshRoot("proc"))
    spark.sql(s"CREATE TABLE $cat.db.p2 (k BIGINT, name STRING) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k,name')")
    spark.sql(s"INSERT INTO $cat.db.p2 SELECT id + 5 AS k, " +
      "concat('u_', CAST(id % 3 AS STRING)) AS name FROM range(0, 300)")
    val rows = spark.sql(s"CALL $cat.system.table_stats('db.p2')")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("k", "name"), s"got ${rows.keySet}")
    val k = rows("k")
    assert(k.getLong(1) == 300L && k.getLong(3) == 5L && k.getLong(4) == 304L
      && k.getLong(7) == 0L, s"got $k")
    assert(k.isNullAt(5) && k.isNullAt(6), "no typed value bounds for integrals")
    val nm = rows("name")
    assert(nm.getString(5) == "u_0" && nm.getString(6) == "u_2", s"got $nm")
    assert(math.abs(nm.getLong(8) - 3L) <= 1, s"ndv ${nm.getLong(8)}")
  }

  test("keyToCatalyst: exact types round-trip, lossy types decline") {
    import org.apache.spark.sql.types._
    assert(BandKeys.keyToCatalyst(42L, LongType, 2).contains(42L))
    assert(BandKeys.keyToCatalyst(42L, IntegerType, 2).contains(42))
    assert(BandKeys.keyToCatalyst(19723L, DateType, 2).contains(19723))
    assert(BandKeys.keyToCatalyst(1L, BooleanType, 2).contains(true))
    assert(BandKeys.keyToCatalyst(7L, ShortType, 2).contains(7.toShort))
    assert(BandKeys.keyToCatalyst(123456789L, TimestampType, 2).contains(123456789L))
    // v1 timestamp keys are floor-seconds — lossy, never a bound
    assert(BandKeys.keyToCatalyst(123L, TimestampType, 1).isEmpty)
    assert(BandKeys.keyToCatalyst(123L, StringType, 2).isEmpty)
    assert(BandKeys.keyToCatalyst(1L, DoubleType, 2).isEmpty)
  }

  test("keyToCatalyst is the inverse of valueKey on exact types (property)") {
    import org.apache.spark.sql.types._
    import org.scalacheck.Gen
    val longs = Gen.chooseNum(Long.MinValue + 1, Long.MaxValue - 1)
    val ints = Gen.chooseNum(Int.MinValue, Int.MaxValue)
    val days = Gen.chooseNum(-141427, 2932896) // full catalyst DATE range
    def sample[A](g: Gen[A], n: Int = 200): Seq[A] =
      Seq.fill(n)(g.sample).flatten
    // the two mappings are maintained separately (write side / stats
    // side); this pin keeps them inverses so a future edit to either
    // cannot silently skew the CBO's bounds
    sample(longs).foreach { v =>
      assert(BandKeys.valueKey(v, 2).exists(k =>
        BandKeys.keyToCatalyst(k._1, LongType, 2).contains(v)))
    }
    sample(ints).foreach { v =>
      assert(BandKeys.valueKey(v, 2).exists(k =>
        BandKeys.keyToCatalyst(k._1, IntegerType, 2).contains(v)))
    }
    sample(days).foreach { d =>
      val date = java.time.LocalDate.ofEpochDay(d.toLong)
      assert(BandKeys.valueKey(date, 2).exists(k =>
        BandKeys.keyToCatalyst(k._1, DateType, 2).contains(d)))
    }
    sample(longs).foreach { micros =>
      val inst = java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        Math.floorMod(micros, 1000000L) * 1000L)
      assert(BandKeys.valueKey(inst, 2).exists(k =>
        BandKeys.keyToCatalyst(k._1, TimestampType, 2).contains(micros)),
        s"micros=$micros")
    }
    Seq(true, false).foreach { b =>
      assert(BandKeys.valueKey(b, 2).exists(k =>
        BandKeys.keyToCatalyst(k._1, BooleanType, 2).contains(b)))
    }
  }

  test("DATE stats column: bounds surface as internal epoch days") {
    val cat = "gcbo7"
    catalogTable(cat, freshRoot("date"))
    spark.sql(s"CREATE TABLE $cat.db.d (day DATE, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='day')")
    spark.sql(s"INSERT INTO $cat.db.d SELECT " +
      "date_add(DATE'2024-01-01', CAST(id AS INT)) AS day, id AS v " +
      "FROM range(0, 365)")
    withCbo {
      val stats = spark.table(s"$cat.db.d").queryExecution.optimizedPlan.stats
      val dStat = stats.attributeStats.find(_._1.name == "day").map(_._2)
      val lo = java.time.LocalDate.parse("2024-01-01").toEpochDay.toInt
      assert(dStat.exists(_.min.contains(lo)), s"got $stats")
      assert(dStat.exists(_.max.contains(lo + 364)), s"got $stats")
    }
  }

  test("TypedBounds bytewise ordering matches UTF8String ordering (property)") {
    import org.scalacheck.Gen
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.TypedBounds
    // mixed alphabet: ASCII, 2-byte (é), 3-byte (€), 4-byte (emoji) —
    // the fold in statsSummary claims min-of-mins under the BYTEWISE
    // order IS the column extremum under Spark's own string order
    val alpha = Gen.oneOf("a", "Z", "0", "_", " ", "é", "ß", "€", "中", "😀")
    val str = Gen.listOf(alpha).map(_.mkString)
    val pairs = Seq.fill(300)((str.sample, str.sample)).collect {
      case (Some(a), Some(b)) => (a, b)
    }
    pairs.foreach { case (a, b) =>
      val byBytes = Integer.signum(TypedBounds.compareBytes(
        a.getBytes("UTF-8"), b.getBytes("UTF-8")))
      val byUtf8 = Integer.signum(
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
      assert(byBytes == byUtf8, s"ordering diverges on '$a' vs '$b'")
      // and the encode/minOf/maxOf fold agrees with direct comparison
      val (ea, eb) = (TypedBounds.encode(a), TypedBounds.encode(b))
      if (ea != TypedBounds.Absent && eb != TypedBounds.Absent) {
        val lo = if (byBytes <= 0) ea else eb
        assert(TypedBounds.minOf(ea, eb) == lo, s"minOf on '$a'/'$b'")
      }
    }
  }

  test("plannedColumnBounds: MOR delete keeps the conservative superset bound") {
    val root = freshRoot("mor")
    val t = new SnapshotTable(spark, root, statsCols = Seq("k"))
    t.commitAppend(spark.range(0, 100).toDF("k").repartition(1))
    t.commitDeleteByKey(spark.range(90, 100).toDF("k"), Seq("k"))
    val b = t.plannedColumnBounds(t.admitted(graft.sources.Pruning(), -1L))
    // live max is 89 but the manifest bound stays 99 — a documented
    // upper bound (deletes only shrink), never an under-claim
    assert(b.get("k").exists(_._1.contains((0L, 99L))), s"got $b")
    assert(b.get("k").exists(_._2.contains(0L)), s"got $b")
  }
}
