package graft

import java.nio.file.Files

import graft.sources.findb.{FindbFormat, FindbWriter}

/** The `.db` connector must round-trip the reference's own test panel
  * (file.rs:621-640 fixture) and survive multi-page/multi-partition
  * layouts.
  */
class FindbSourceSpec extends SparkSpec {
  import spark.implicits._

  // reference src/btree/file.rs:621-640 `inputs`
  private val referenceFixture: Seq[(Long, Int, Long, Float)] = Seq(
    (0L, 20200131, 0L, 1.0f), (0L, 20200131, 10L, 2.0f), (0L, 20200131, 20L, 3.0f),
    (0L, 20200229, 5L, 11.0f), (0L, 20200229, 15L, 12.0f), (0L, 20200229, 25L, 13.0f),
    (0L, 20200331, 10L, 110.0f), (0L, 20200331, 20L, 120.0f), (0L, 20200331, 25L, 130.0f),
    (1L, 20200229, 5L, 21.0f), (1L, 20200229, 15L, 22.0f), (1L, 20200229, 25L, 23.0f),
    (1L, 20200331, 10L, 220.0f), (1L, 20200331, 20L, 220.0f), (1L, 20200331, 25L, 230.0f),
    (1L, 20200430, 10L, 2100.0f), (1L, 20200430, 20L, 2200.0f), (1L, 20200430, 25L, 2300.0f))

  private def writeDb(entries: Seq[(Long, Int, Long, Float)], pageKeys: Int): String = {
    val path = Files.createTempDirectory("findb").toString + "/panel.db"
    val pageSize = FindbFormat.PageHeaderSize + pageKeys * FindbFormat.KeyValueSize
    FindbWriter.write(path, pageSize, entries)
    path
  }

  private def readDb(path: String, pagesPerPartition: Int = 4096) =
    spark.read
      .format("graft.sources.findb.FindbDataSource")
      .option("pagesPerPartition", pagesPerPartition)
      .load(path)

  test("round-trips the reference test_small panel (3-key pages, multi-level tree)") {
    val path = writeDb(referenceFixture, pageKeys = 3)
    val rows = readDb(path)
      .orderBy("asset_id", "date", "timestamp")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getFloat(3)))
    assert(rows.toSeq === referenceFixture)
  }

  test("parallel page-range partitions see each leaf exactly once") {
    val entries = (0 until 5000).map { i =>
      (i.toLong / 50, 20240101 + (i % 28), i.toLong, i.toFloat)
    }.sorted
    val path = writeDb(entries, pageKeys = 16)
    val df = readDb(path, pagesPerPartition = 7) // many small partitions
    assert(df.rdd.getNumPartitions > 10)
    assert(df.count() === 5000)
    val back = df.orderBy("asset_id", "date", "timestamp").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getFloat(3)))
    assert(back.toSeq === entries)
  }

  test("asset filter pushes to page-level skipping and stays correct") {
    val entries = (0 until 5000).map { i =>
      (i.toLong / 50, 20240101 + (i % 28), i.toLong, i.toFloat)
    }.sorted
    val path = writeDb(entries, pageKeys = 16)
    val df = readDb(path).filter($"asset_id" === 42L)
    // the pushed range is visible in the scan description
    assert(df.queryExecution.executedPlan.toString.contains("PushedAssetRange: [42, 42]"))
    val got = df.orderBy("timestamp").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getFloat(3)))
    assert(got.toSeq === entries.filter(_._1 == 42L).sortBy(_._3))

    // reader-level page skip, without the scan's plan-time leaf pruning:
    // a direct read over every page with bounds [42, 42] decodes far
    // fewer leaf pages than an unbounded one and counts the rest skipped
    val raf = new java.io.RandomAccessFile(path, "r")
    val header = FindbFormat.readHeader(raf); raf.close()
    def readerPages(lo: Long, hi: Long): Map[String, Long] = {
      val rd = new graft.sources.findb.FindbPartitionReader(
        graft.sources.findb.FindbInputPartition(
          path, header.pageSize, 0, header.pageCount.toInt, lo, hi),
        spark.sessionState.newHadoopConf())
      try {
        while (rd.next()) rd.get()
        rd.currentMetricsValues().map(m => m.name() -> m.value()).toMap
      } finally rd.close()
    }
    val full = readerPages(Long.MinValue, Long.MaxValue)
    val bounded = readerPages(42L, 42L)
    assert(full("pagesSkipped") === 0L)
    assert(bounded("pagesRead") > 0 && bounded("pagesRead") < full("pagesRead") / 10,
      s"expected page skipping: $bounded vs $full")
    assert(bounded("pagesRead") + bounded("pagesSkipped") === full("pagesRead"))

    // the same metrics from the executed BatchScan of real queries: the
    // filtered query decodes far fewer leaf pages than an unfiltered one
    def pagesRead(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      val scans = d.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.size === 1 && scans.head.metrics.contains("pagesSkipped"))
      scans.head.metrics("pagesRead").value
    }
    val all = pagesRead(readDb(path))
    val one = pagesRead(df)
    assert(one > 0 && one < all / 10, s"expected page skipping: $one vs $all")
  }

  test("multi-file load unions panels; MigrateDb lands them in TickStore") {
    val pathA = writeDb(referenceFixture.filter(_._1 == 0L), pageKeys = 3)
    val pathB = writeDb(referenceFixture.filter(_._1 == 1L), pageKeys = 3)
    val df = spark.read.format("graft.sources.findb.FindbDataSource").load(pathA, pathB)
    assert(df.count() === referenceFixture.size)

    val store = Files.createTempDirectory("migrate").toString + "/store"
    val n = graft.tools.MigrateDb.migrate(spark, Seq(pathA, pathB), store)
    assert(n === referenceFixture.size)
    val back = graft.sources.TickStore.read(spark, store)
    assert(back.select("asset_id").distinct().count() === 2)
    // month partitions from the reference's yyyymmdd dates
    val months = new java.io.File(store).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(months.contains("date_month=2020-01") && months.contains("date_month=2020-04"))
  }

  test("column pruning reaches the reader (ReadColumns in the scan)") {
    val path = writeDb(referenceFixture, pageKeys = 3)
    val df = readDb(path).select("asset_id", "value")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadColumns: asset_id,value"), plan)
    val sums = df.groupBy("asset_id").sum("value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sums(0L) === referenceFixture.filter(_._1 == 0L).map(_._4.toDouble).sum)
  }

  test("as-of query semantics work directly over a .db file") {
    val path = writeDb(referenceFixture, pageKeys = 3)
    // reference check_query 3 (file.rs:673): asset 0, dates
    // 20200115-20200405, asof ts 20 → values [120, 12, 3] date-desc
    val panel = readDb(path).select(
      $"asset_id",
      to_date($"date".cast("string"), "yyyyMMdd").as("date"),
      org.apache.spark.sql.functions.timestamp_seconds($"timestamp").as("ts"),
      $"value".cast("double").as("value"),
      $"timestamp".as("seq"))
    val out = graft.operators.AsOf
      .asOfRange(panel, 0L, "2020-01-15", "2020-04-05", "1970-01-01 00:00:20")
      .select("value").collect().map(_.getDouble(0))
    assert(out.toSeq === Seq(120.0, 12.0, 3.0))
  }

  private def to_date(c: org.apache.spark.sql.Column, fmt: String) =
    org.apache.spark.sql.functions.to_date(c, fmt)
}
