package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._

import graft.operators.AsOf
import graft.sources.findb.{FindbDistWriter, FindbFormat, FindbWriter}

/** `AsOf.asOfRange` over a findb panel runs on the driver
  * (`graft.plans.FindbAsOfRange`). Its answer must equal the window
  * plan's row for row, in order; the window plan is forced with a panel
  * that fails the route condition (a Filter between the projection and
  * the relation).
  */
class FindbAsOfRangeSpec extends SparkSpec {
  import spark.implicits._

  private type Entry = (Long, Int, Long, Float)

  private val pageKeys = 8
  private val pageSize = FindbFormat.PageHeaderSize + pageKeys * FindbFormat.KeyValueSize
  private val days = (0 until 75).map(i => java.time.LocalDate.of(2024, 1, 1).plusDays(i))
  private def yyyymmdd(d: java.time.LocalDate) = d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
  private val assets = (0L until 12L) :+ 0xFFFFFFF0L

  /** One revision per (asset, date) with probability `p`, ts in [tsLo, tsLo + 1000). */
  private def revisions(rnd: Random, tsLo: Long, p: Double): Seq[Entry] =
    (for (a <- assets; d <- days if rnd.nextDouble() < p)
      yield (a, yyyymmdd(d), tsLo + rnd.nextInt(1000), rnd.nextInt(100000) / 4.0f)).sorted

  private def tmp(name: String) = Files.createTempDirectory("findb_asof").toString + "/" + name

  private def singleFile(entries: Seq[Entry]): String = {
    val path = tmp("panel.db"); FindbWriter.write(path, pageSize, entries); path
  }

  private def dirStore(path: String, entries: Seq[Entry]): String = {
    FindbDistWriter.write(entries.toDF("asset_id", "date", "timestamp", "value"), path, pageSize, 3,
      directoryParts = true)
    path
  }

  private def raw(paths: Seq[String], withPriority: Boolean = false): DataFrame =
    spark.read.format("graft.sources.findb.FindbDataSource")
      .option("withPriority", withPriority).load(paths: _*)

  /** The three panel projections in use: `seq` = lit(0) (perfbench),
    * the knowledge timestamp (MigrateDb), the store index (withPriority).
    */
  private val projections: Seq[(String, Boolean, DataFrame => Column)] = Seq(
    ("seq = 0", false, _ => lit(0L)),
    ("seq = timestamp", false, df => df("timestamp")),
    ("seq = pri", true, df => df("pri")))

  private type Column = org.apache.spark.sql.Column

  private def panel(df: DataFrame, seq: DataFrame => Column, asset: Column = col("asset_id"),
                    extra: Seq[Column] = Nil): DataFrame =
    df.select(Seq(asset, to_date(col("date").cast("string"), "yyyyMMdd").as("date"),
      timestamp_seconds(col("timestamp")).as("ts"), col("value").cast("double").as("value"),
      seq(df).as("seq")) ++ extra: _*)

  private def rows(df: DataFrame): Seq[(Long, java.sql.Date, java.sql.Timestamp, Double)] =
    df.select("asset_id", "date", "ts", "value").collect().toSeq
      .map(r => (r.getLong(0), r.getDate(1), r.getTimestamp(2), r.getDouble(3)))

  private def routed(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L).toInstant.toString
    .replace("T", " ").stripSuffix("Z")

  /** Random queries over `paths`, each compared with the window plan. */
  private def checkEqual(paths: Seq[String], rnd: Random, n: Int): Int = {
    var nonEmpty = 0
    for ((name, withPri, seq) <- projections) {
      val fast = panel(raw(paths, withPri), seq)
      val slow = panel(raw(paths, withPri).filter(lit(true)), seq)
      for (_ <- 0 until n) {
        val asset = rnd.nextInt(8) match {
          case 0 => -3L                 // negative
          case 1 => 0x100000005L        // above 2^32
          case 2 => 99L                 // absent
          case 3 => 0xFFFFFFF0L         // large u32
          case _ => rnd.nextInt(12).toLong
        }
        val start = rnd.nextInt(days.size)
        val end = if (rnd.nextBoolean()) start else math.min(days.size - 1, start + rnd.nextInt(40))
        // 0 is before every revision; the stores' ts lie in [1000, 4000)
        val asOf = if (rnd.nextInt(6) == 0) 0L else 1000L + rnd.nextInt(3200)
        val args = (asset, days(start).toString, days(end).toString, ts(asOf))
        val a = AsOf.asOfRange(fast, args._1, args._2, args._3, args._4)
        val b = AsOf.asOfRange(slow, args._1, args._2, args._3, args._4)
        assert(routed(a) && !routed(b), s"$name $args")
        val got = rows(a)
        assert(got === rows(b), s"$name $args")
        if (got.nonEmpty) nonEmpty += 1
      }
    }
    nonEmpty
  }

  test("single-file store: the driver read equals the window plan") {
    val rnd = new Random(11)
    // disjoint ts ranges: the keys are unique
    val base = singleFile((revisions(rnd, 1000L, 0.7) ++ revisions(rnd, 2000L, 0.3)).sorted)
    assert(checkEqual(Seq(base), rnd, 14) > 10)
  }

  test("directory base store plus batch stores: the driver read equals the window plan") {
    val rnd = new Random(12)
    val base = dirStore(tmp("base.dbd"), revisions(rnd, 1000L, 0.8))
    val sink = Files.createTempDirectory("findb_sink").toString
    for (k <- 0 until 2)
      dirStore(f"$sink/batch-$k%012d.dbd", revisions(rnd, 2000L + 1000L * k, 0.2))
    val stores = base +: FindbDistWriter.batchStores(spark, sink)
    assert(stores.size === 3)
    assert(checkEqual(stores, rnd, 14) > 10)
  }

  test("equal (ts, seq) across stores: the later store in the path list wins") {
    val a = singleFile(Seq((5L, 20240105, 1500L, 1.0f), (5L, 20240106, 1500L, 2.0f)))
    val b = dirStore(tmp("b.dbd"), Seq((5L, 20240105, 1500L, 3.0f)))
    for ((paths, want) <- Seq(Seq(a, b) -> Seq(2.0, 3.0), Seq(b, a) -> Seq(2.0, 1.0))) {
      val df = AsOf.asOfRange(panel(raw(paths), _ => lit(0L)), 5L, "2024-01-01", "2024-01-31",
        ts(2000L))
      assert(routed(df))
      assert(rows(df).map(_._4) === want, paths)
    }
  }

  test("a panel that fails the route condition still plans the window") {
    val path = singleFile(Seq((1L, 20240102, 1100L, 1.0f), (1L, 20240102, 1200L, 2.0f)))
    val fast = panel(raw(Seq(path)), df => df("timestamp"))
    val recomputed = panel(raw(Seq(path)), df => df("timestamp"), (col("asset_id") + 0).as("asset_id"))
    val nondet = panel(raw(Seq(path)), df => df("timestamp"), extra = Seq(rand().as("noise")))
    val filtered = panel(raw(Seq(path)).filter(lit(true)), df => df("timestamp"))
    for ((df, route) <- Seq(fast -> true, recomputed -> false, nondet -> false, filtered -> false)) {
      val read = AsOf.asOfRange(df, 1L, "2024-01-01", "2024-01-02", ts(1150L))
      val plan = read.queryExecution.executedPlan.toString
      assert(routed(read) === route, plan)
      assert(plan.contains("Window") === !route, plan)
      assert(rows(read).map(_._4) === Seq(1.0))
    }
  }

  test("a Dataset built after an append reads the new store") {
    val sink = Files.createTempDirectory("findb_sink").toString
    dirStore(f"$sink/batch-${0}%012d.dbd", Seq((3L, 20240110, 1100L, 1.0f)))
    def read() = rows(AsOf.asOfRange(panel(raw(FindbDistWriter.batchStores(spark, sink)), _ => lit(0L)),
      3L, "2024-01-10", "2024-01-10", ts(3000L))).map(_._4)
    assert(read() === Seq(1.0))
    dirStore(f"$sink/batch-${1}%012d.dbd", Seq((3L, 20240110, 1200L, 7.0f)))
    assert(read() === Seq(7.0))
  }
}
