package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{BandKeys, SnapshotTable, TypedBounds}

/** Scala-API commits write their data files in one Spark job, and the
  * stats the writer folds while writing are exactly what Spark's own
  * aggregates compute over the written files. */
class WriteStatsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val f = java.nio.file.Files.createTempDirectory(s"graft_writestats_$tag")
    f.toFile.delete()
    f.toString
  }

  private val typedSchema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DateType), StructField("ts", TimestampType),
    StructField("s", StringType), StructField("b", BooleanType),
    StructField("x", DoubleType), StructField("n", LongType)))

  /** 40 rows over three partitions, every column with some NULLs and `n`
    * all NULL; microsecond timestamps exercise the exact v2 key. */
  private def typedBatch(): DataFrame = {
    val rows = (0 until 40).map { k =>
      def orNull[A](v: A): Any = if (k % 7 == 3) null else v
      Row(orNull(k * 3 - 20), orNull(k.toLong * 1000003L),
        orNull(java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(k))),
        orNull(java.sql.Timestamp.from(
          java.time.Instant.parse("2024-03-01T00:00:00Z").plusNanos(k * 1234567000L))),
        orNull(s"key-${"%03d".format((k * 17) % 40)}-with-a-long-tail"),
        orNull(k % 2 == 0), orNull(k * 0.5), null)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), typedSchema)
  }

  /** Recompute every stat the manifest records for `version`'s files with
    * Spark aggregates over the files as read back (logical names), and
    * compare file by file. */
  private def assertStatsMatchData(t: SnapshotTable, version: Long,
                                   bloomCols: Set[String]): Unit = {
    val snap = t.snapshot(version)
    val written = t.read(version).withColumn("__f", input_file_name())
    val byFile = written.groupBy("__f").agg(count(lit(1)).as("__rows"),
      snap.statsCols.flatMap { c =>
        val key = t.bandKeyCol(written, c)
        Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"),
          count_if(col(c).isNull).as(s"${c}__nulls"),
          hll_sketch_estimate(hll_sketch_agg(key, 9)).as(s"${c}__ndv"),
          collect_set(key).as(s"${c}__keys"))
      }: _*).collect()
    assert(byFile.length == snap.frows.count(_ > 0L),
      s"files read: ${byFile.length}, manifest frows: ${snap.frows}")
    val types = written.schema.map(f => f.name -> f.dataType).toMap
    byFile.foreach { r =>
      val uri = r.getAs[String]("__f")
      val i = snap.files.indexWhere(f => uri.endsWith(f.split('/').last))
      assert(i >= 0, s"$uri is not in the manifest")
      val file = snap.files(i)
      assert(snap.frows(i) == r.getAs[Long]("__rows"), s"$file row count")
      snap.statsCols.zip(snap.stats).foreach { case (c, cs) =>
        val (ndv, bloom) = (cs.ndvs.lift(i).getOrElse(""), cs.blooms.lift(i).getOrElse(""))
        def key(v: Any, unknown: Long): Long =
          Option(v).flatMap(BandKeys.valueKey(_, snap.bandsV)).map(_._1).getOrElse(unknown)
        val foldable = types(c) != DoubleType
        val nulls = r.getAs[Long](s"${c}__nulls")
        if (!foldable) {
          // unmapped types record the never-pruned unknown sentinel
          assert((cs.mins(i), cs.maxs(i), cs.nulls(i)) == (Long.MinValue, Long.MaxValue, -1L),
            s"$file.$c must be unknown")
          assert(ndv.isEmpty && bloom.isEmpty, s"$file.$c sketches")
        } else {
          assert(cs.mins(i) == key(r.getAs[Any](s"${c}__min"), Long.MinValue), s"$file.$c min")
          assert(cs.maxs(i) == key(r.getAs[Any](s"${c}__max"), Long.MaxValue), s"$file.$c max")
          assert(cs.nulls(i) == nulls, s"$file.$c nulls")
          val sketch = org.apache.datasketches.hll.HllSketch.heapify(
            java.util.Base64.getDecoder.decode(ndv))
          assert(math.round(sketch.getEstimate) == r.getAs[Long](s"${c}__ndv"),
            s"$file.$c NDV estimate")
          val keys = r.getAs[scala.collection.Seq[Long]](s"${c}__keys")
          if (bloomCols(c)) {
            val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(
                java.util.Base64.getDecoder.decode(bloom)))
            assert(keys.nonEmpty && keys.forall(k => bf.mightContainLong(k)),
              s"$file.$c bloom misses a written key")
          } else assert(bloom.isEmpty, s"$file.$c carries an unopted bloom")
        }
        if (types(c) == StringType) {
          def typed(v: Any) =
            Option(v).map(s => TypedBounds.encode(s.toString)).getOrElse(TypedBounds.Absent)
          assert(cs.tmins(i) == typed(r.getAs[Any](s"${c}__min")), s"$file.$c typed min")
          assert(cs.tmaxs(i) == typed(r.getAs[Any](s"${c}__max")), s"$file.$c typed max")
        } else assert(cs.tmins.forall(_ == TypedBounds.Absent), s"$c typed bounds")
      }
    }
  }

  test("commitAppend of a shuffle-free batch runs exactly one Spark job") {
    val root = freshRoot("onejob")
    val t = new SnapshotTable(spark, root, statsCols = Seq("id", "s"))
    t.commitAppend(Seq((0L, "a")).toDF("id", "s")) // table exists; plans warm
    @volatile var jobs = 0
    val (bytes, records) = (new AtomicLong, new AtomicLong)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = jobs += 1
      override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
        bytes.addAndGet(taskEnd.taskMetrics.outputMetrics.bytesWritten)
        records.addAndGet(taskEnd.taskMetrics.outputMetrics.recordsWritten)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val v = try {
      val v = t.commitAppend((1L to 100L).map(i => (i, s"v$i")).toDF("id", "s"))
      Thread.sleep(500) // let listener events drain (bus API is private)
      assert(jobs == 1, s"expected the write job alone, saw $jobs jobs")
      v
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(t.read().count() == 101L)
    // the write reports what it wrote, as df.write does
    val fresh = t.snapshot(v).files.filterNot(t.snapshot(v - 1).files.contains)
    assert(records.get == 100L)
    assert(bytes.get == fresh.map(f => new java.io.File(s"$root/data/$f").length).sum)
  }

  test("folded stats equal Spark aggregates over the written files, every banded type") {
    val root = freshRoot("typed")
    new SnapshotTable(spark, root).setTableProperties(Map("write.bloom.cols" -> "l,s,d"))
    val t = new SnapshotTable(spark, root, statsCols = typedSchema.fieldNames.toSeq)
    val v = t.commitAppend(typedBatch())
    assert(t.snapshot(v).files.length == 3, "one file per input partition")
    assertStatsMatchData(t, v, Set("l", "s", "d"))
    assert(t.read().count() == 40L)
  }

  test("a column-mapped table records stats under the logical name, files keep physical names") {
    val cat = "gwstats"
    val dir = java.nio.file.Files.createTempDirectory("graft_writestats_cat")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", dir.toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.ren (k BIGINT, s STRING, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k,s')")
    spark.sql(s"INSERT INTO $cat.db.ren VALUES (1, 'a', 10)")
    spark.sql(s"ALTER TABLE $cat.db.ren RENAME COLUMN k TO key_id")
    val root = s"$dir/db/ren"
    val t = new SnapshotTable(spark, root, statsCols = Seq("key_id", "s"))
    val v = t.commitAppend(spark.createDataFrame(spark.sparkContext.parallelize(
      (1 to 30).map(i => Row(i * 11L, if (i % 5 == 0) null else s"s$i", i.toLong)), 2),
      StructType(Seq(StructField("key_id", LongType), StructField("s", StringType),
        StructField("v", LongType)))))
    val fresh = t.snapshot(v).files.filterNot(t.snapshot(v - 1).files.contains)
    assert(fresh.length == 2)
    fresh.foreach { f =>
      val cols = spark.read.parquet(s"$root/data/$f").columns.toSeq
      assert(!cols.contains("key_id"), s"data files must carry physical names: $cols")
    }
    assertStatsMatchData(t, v, Set.empty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.ren WHERE key_id > 100")
      .head.getLong(0) == 21L)
  }

  test("an empty batch commits one zero-row file with the inverted band") {
    val root = freshRoot("empty")
    val t = new SnapshotTable(spark, root, statsCols = Seq("id", "s"))
    t.commitAppend(Seq((1L, "a")).toDF("id", "s"))
    val v = t.commitAppend(Seq.empty[(Long, String)].toDF("id", "s"))
    val snap = t.snapshot(v)
    val fresh = snap.files.indices.filterNot(i => t.snapshot(v - 1).files.contains(snap.files(i)))
    assert(fresh.length == 1, s"one schema-bearing file: ${fresh.map(snap.files)}")
    val i = fresh.head
    assert(snap.frows(i) == 0L)
    snap.stats.foreach { cs =>
      assert((cs.mins(i), cs.maxs(i), cs.nulls(i)) == (Long.MaxValue, Long.MinValue, 0L))
    }
    assert(spark.read.parquet(s"$root/data/${snap.files(i)}").count() == 0L)
    assert(t.read().as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("a multi-partition batch with empty partitions lists and keeps no 0-row file") {
    val root = freshRoot("sparse")
    val t = new SnapshotTable(spark, root, statsCols = Seq("id"))
    // two rows over four slices: two slices are empty
    val v = t.commitAppend(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(2L)), 4),
      StructType(Seq(StructField("id", LongType)))))
    val snap = t.snapshot(v)
    assert(snap.files.length == 2 && snap.frows == Seq(1L, 1L), s"${snap.files} ${snap.frows}")
    val commitDir = new java.io.File(s"$root/data/${snap.files.head.split('/').head}")
    val onDisk = commitDir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(onDisk == snap.files.map(_.split('/').last).toSet, s"left on disk: $onDisk")
    assert(t.read().count() == 2L)
  }
}
