package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNull, LessThan, LessThanOrEqual, Or, TableScan}
import graft.sources.{GraftSnapshotScan, GraftSnapshotScanBuilder, Pruning, SnapshotTable}

/** Every file-admission surface of the snapshot table agrees: for one
  * predicate shape, the Scala range reads (`readRange`/`readRanges`),
  * `readPruned`, the DSv2 scan's planned files, `plannedStats`' row
  * total and the files a SQL DELETE's row-level plan rewrites are the
  * SAME file set, and every read returns exactly `read().filter(…)`.
  *
  * The fixture is one catalog table with `write.bloom.cols` on its key
  * and five single-file commits: three INTERLEAVED files whose bands all
  * cover [0, 598] (k ≡ 0, 2, 4 mod 6 — only the bloom tells them apart,
  * and odd keys are in no file), one file [1000, 1099] carrying NULL
  * keys, and one file [2000, 2099]. Each case runs on a fresh table, since
  * its DELETE rewrites the files it admits. */
class AdmissionAgreementSpec extends SparkSpec {
  import spark.implicits._

  private val cat = "graftadmit"
  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_admit_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", dir)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    dir
  }

  /** The five commits, in order; every file holds 100 rows, v = id ≥ 0. */
  private val commits = Seq(
    "id * 6", "id * 6 + 2", "id * 6 + 4",
    "IF(id % 5 = 0, NULL, 1000 + id)", "2000 + id")

  /** Fresh table `name`: its handle and the files of [[commits]] in
    * order, as the manifest lists them (relative to the data dir). */
  private def fixture(name: String): (SnapshotTable, Seq[String]) = {
    val root = s"$wh/db/$name" // registers the catalog on first use
    spark.sql(s"CREATE TABLE $cat.db.$name (k BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k', " +
      "'write.bloom.cols'='k')")
    commits.foreach(k => spark.sql(s"INSERT INTO $cat.db.$name " +
      s"SELECT /*+ COALESCE(1) */ $k AS k, id AS v FROM range(0, 100)"))
    val t = new SnapshotTable(spark, root, statsCols = Seq("k"))
    // CREATE TABLE's zero-row schema file comes first
    val files = t.snapshot(t.latestVersion()).files
    assert(files.length == commits.length + 1)
    (t, files.tail)
  }

  /** A data file path (absolute URI or manifest-relative) as its
    * `<commit dir>/<file name>` suffix. */
  private def rel(path: String): String =
    path.split('/').takeRight(2).mkString("/")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select(coalesce(col("k"), lit(-1L)), col("v")).as[(Long, Long)]
      .collect().toSeq.sorted

  /** Runs one predicate shape through every admission surface.
    * `predicate` is the SQL text, `filters` its pushed form, `ranges` the
    * `readRanges` form (None when the shape has none), and `expected` the
    * admitted files as indices into [[commits]]. */
  private def agree(name: String, predicate: String, filters: Seq[Filter],
                    ranges: Option[Seq[(Long, Long)]], expected: Set[Int],
                    deleteWhere: String = ""): Unit = {
    val (t, files) = fixture(name)
    val want = expected.map(i => rel(files(i)))
    val truth = rows(t.read().filter(expr(predicate)))
    val tip = t.latestVersion()

    ranges.foreach { rs =>
      val df = if (rs.length == 1) t.readRange("k", rs.head._1, rs.head._2, -1L)
               else t.readRanges("k", rs)
      assert(df.inputFiles.map(rel).toSet == want, s"$name: readRange(s)")
      assert(rows(df) == truth, s"$name: readRange(s) rows")
    }

    val (pruned, planned) = t.readPruned(Pruning.of(filters, t.tableBandsV), -1L)
    assert(planned.map(rel).toSet == want, s"$name: readPruned")
    assert(rows(pruned.filter(expr(predicate))) == truth, s"$name: readPruned rows")

    val b = new GraftSnapshotScanBuilder(spark, t, tip, t.read().schema)
    b.pushFilters(filters.toArray)
    assert(b.build().asInstanceOf[GraftSnapshotScan].plannedFiles.map(rel).toSet == want,
      s"$name: DSv2 plannedFiles")
    assert(rows(spark.sql(s"SELECT k, v FROM $cat.db.$name WHERE $predicate")) == truth,
      s"$name: SQL read rows")

    assert(t.plannedStats(t.admitted(Pruning.of(filters, t.tableBandsV), -1L))._1 ==
      Some(100L * expected.size), s"$name: plannedStats rows")

    // the row-level DELETE rewrites exactly the files its plan admitted
    // (none: no version is published); `v < 0` matches no row, so the
    // statement changes no data whatever it plans
    spark.sql(s"DELETE FROM $cat.db.$name WHERE " +
      (if (deleteWhere.nonEmpty) deleteWhere else s"($predicate) AND v < 0"))
    val after = t.snapshot(t.latestVersion()).files.map(rel).toSet
    assert(t.snapshot(tip).files.map(rel).toSet -- after == want, s"$name: DELETE plan")
    assert(rows(t.read()) == rows(t.read(tip)), s"$name: DELETE changed no row")
  }

  test("single band: all surfaces admit the one overlapping file") {
    agree("band", "k BETWEEN 1000 AND 1050",
      Seq(GreaterThanOrEqual("k", 1000L), LessThanOrEqual("k", 1050L)),
      Some(Seq((1000L, 1050L))), Set(3))
  }

  test("point band: the bloom isolates the one file holding the key") {
    agree("point", "k = 302", Seq(EqualTo("k", 302L)),
      Some(Seq((302L, 302L))), Set(1))
  }

  test("IN-list: per-key band + bloom admits only the files holding a key") {
    agree("inlist", "k IN (300, 304)", Seq(In("k", Array(300L, 304L))),
      Some(Seq((300L, 300L), (304L, 304L))), Set(0, 2))
  }

  test("IS NULL: only the file with a nonzero null count is admitted") {
    agree("isnull", "k IS NULL", Seq(IsNull("k")), None, Set(3))
  }

  test("OR of two bands: each branch admits its own files") {
    agree("or", "k < 10 OR k > 2050",
      Seq(Or(LessThan("k", 10L), GreaterThan("k", 2050L))),
      Some(Seq((Long.MinValue, 9L), (2051L, Long.MaxValue))), Set(0, 1, 2, 4))
  }

  test("planning and collecting one pruned scan admits its files once") {
    // the scan's statistics (rows, bytes, NDVs, bounds), its planned file
    // list and its V1 relation's read share one admission
    val (t, files) = fixture("once")
    val truth = t.read().filter(col("k") >= 1000L).count()
    val b = new GraftSnapshotScanBuilder(spark, t, t.latestVersion(), t.read().schema)
    b.pushFilters(Array(GreaterThanOrEqual("k", 1000L)))
    val before = t.metaAdmits.get
    val scan = b.build().asInstanceOf[GraftSnapshotScan]
    val stats = scan.estimateStatistics()
    assert(stats.numRows().getAsLong == 200L)
    assert(stats.sizeInBytes().isPresent)
    assert(!stats.columnStats().isEmpty)
    assert(scan.plannedFiles.map(rel).toSet == Set(rel(files(3)), rel(files(4))))
    val relation = scan.toV1TableScan[BaseRelation with TableScan](spark.sqlContext)
    assert(relation.buildScan().filter(r => !r.isNullAt(0) && r.getLong(0) >= 1000L)
      .count() == truth)
    assert(t.metaAdmits.get - before == 1, s"admissions: ${t.metaAdmits.get - before}")
  }

  test("DELETE of an absent key: the bloom prunes every file, so nothing is rewritten") {
    // 301 is odd: inside the three interleaved bands, in none of their blooms
    agree("absent", "k = 301", Seq(EqualTo("k", 301L)),
      Some(Seq((301L, 301L))), Set.empty, deleteWhere = "k = 301")
  }
}
