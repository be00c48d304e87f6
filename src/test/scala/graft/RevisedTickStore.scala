package graft

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.TickStore

/** A revised multi-month TickStore shared by the single-key read specs,
  * plus the two-exchange window forms `asOfRange` / `pointLookup` had
  * before they were planned as one stage — the reference answer the
  * single-stage plans are compared against, row for row.
  *
  * Layout: assets 0-3, one base tick per day 2020-01-20..2020-04-10 (four
  * month partitions) written with `filesPerPartition = 4`, then three
  * `TickStore.append` revision files per touched month:
  *   - append 1 (ts 2020-05-01): assets 0-1, every 3rd day, value + 100;
  *   - append 2: assets 0-1 every 6th day at the SAME ts 2020-05-01 with
  *     a higher seq (wins the tie), value + 200; asset 2 every 4th day
  *     at ts 2020-05-02 with seq + 1000, value + 300;
  *   - append 3: asset 2's tied keys again at ts 2020-05-02 with a LOWER
  *     seq (a later file that loses the tie), value + 400; asset 3 every
  *     5th day at ts 2020-06-01, value + 500.
  * Base knowledge ts is 18:00 UTC on the tick's own date, so no revision
  * is older than 2020-01-20T18:00.
  */
object RevisedTickStore {
  private val days: Seq[LocalDate] =
    Iterator.iterate(LocalDate.parse("2020-01-20"))(_.plusDays(1))
      .takeWhile(!_.isAfter(LocalDate.parse("2020-04-10"))).toSeq

  private def at(iso: String) = Timestamp.from(Instant.parse(iso))

  private type Tick = (Long, Date, Timestamp, Double, Long)

  private def base(a: Long, i: Int): Double = a * 1000.0 + i

  private val baseTicks: Seq[Tick] = for {
    a <- 0L to 3L
    (d, i) <- days.zipWithIndex
  } yield (a, Date.valueOf(d), at(s"${d}T18:00:00Z"), base(a, i), a * 1000L + i + 1)

  private def revise(assets: Seq[Long], every: Int, ts: String, bump: Double, seqOff: Long): Seq[Tick] =
    for {
      a <- assets
      (d, i) <- days.zipWithIndex if i % every == 0
    } yield (a, Date.valueOf(d), at(ts), base(a, i) + bump, seqOff + a * 1000L + i)

  private val append1 = revise(Seq(0L, 1L), 3, "2020-05-01T00:00:00Z", 100, 10000L)
  private val append2 =
    revise(Seq(0L, 1L), 6, "2020-05-01T00:00:00Z", 200, 20000L) ++
      revise(Seq(2L), 4, "2020-05-02T00:00:00Z", 300, 40000L)
  private val append3 =
    revise(Seq(2L), 4, "2020-05-02T00:00:00Z", 400, 30000L) ++
      revise(Seq(3L), 5, "2020-06-01T00:00:00Z", 500, 50000L)

  private var store: Option[String] = None

  /** Writes the store once per JVM and returns a fresh `TickStore.read`. */
  def read(spark: SparkSession): DataFrame = synchronized {
    import spark.implicits._
    def df(ticks: Seq[Tick]) = ticks.toDF("asset_id", "date", "ts", "value", "seq")
    val path = store.getOrElse {
      val p = java.nio.file.Files.createTempDirectory("revised_tickstore").toString + "/store"
      TickStore.write(df(baseTicks), p, filesPerPartition = 4)
      Seq(append1, append2, append3).foreach(b => TickStore.append(df(b), p))
      store = Some(p)
      p
    }
    TickStore.read(spark, path)
  }

  private def latest(filtered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("asset_id"), col("date")).orderBy(col("ts").desc, col("seq").desc)
    filtered.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("asset_id"), col("date"), col("ts"), col("value"))
  }

  /** `AsOf.asOfRange` as a hash-partitioned window + range-partitioned sort. */
  def windowAsOfRange(panel: DataFrame, assetId: Long, startDate: String, endDate: String,
                      asOf: String): DataFrame =
    latest(panel.filter(
      col("asset_id") === assetId &&
        col("date").between(lit(startDate).cast("date"), lit(endDate).cast("date")) &&
        col("ts") <= lit(asOf).cast("timestamp")))
      .orderBy(col("date").desc)

  /** `KeyValue.pointLookup` as a hash-partitioned window. */
  def windowPointLookup(panel: DataFrame, assetId: Long, date: String): DataFrame =
    latest(panel.filter(col("asset_id") === assetId && col("date") === lit(date).cast("date")))
}
