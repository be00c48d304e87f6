package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's inputs, every one a pure function of the seed.
  *
  * Time model. Effective dates are day indexes `d` in `[0, days)` from
  * [[Gen.Day0]]. Knowledge timestamps are epoch seconds. Revision `r` of
  * key (asset, d) lands at `(Day0 + d + lag_r) * 86400 + 64800 + d`:
  * 18:00 on or after its date plus a per-date offset, so two dates of
  * one asset never share a timestamp. About one revision in ten repeats
  * its predecessor's timestamp with a higher `seq` (the tie the as-of
  * rule breaks by `seq`). Values are multiples of 1/4 below 2^20, exact
  * in both double (TickStore) and float (findb).
  *
  * The oracle ([[Oracle]]) reads these same functions, never graft.
  */
object Gen {
  val Day0: Long = LocalDate.of(2023, 1, 2).toEpochDay

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, a: Long, b: Long, c: Long): Long =
    mix(mix(mix(seed * 0x2545F4914F6CDD1DL + a) + b * 0x9E3779B97F4A7C15L) + c)
  def below(x: Long, n: Long): Long = java.lang.Long.remainderUnsigned(x, n)
  def u01(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  def dateString(d: Long): String = LocalDate.ofEpochDay(Day0 + d).toString
  def yyyymmdd(d: Long): Int = {
    val ld = LocalDate.ofEpochDay(Day0 + d)
    ld.getYear * 10000 + ld.getMonthValue * 100 + ld.getDayOfMonth
  }
  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def tsString(sec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC).format(tsFormat)

  /** One stored revision. `v4` is the value times 4. */
  final case class Rev(asset: Int, d: Int, ts: Long, seq: Long, v4: Long)

  /** The sizes of one generated panel. */
  final case class Panel(seed: Long, assets: Int, days: Int) {
    def keys: Long = assets.toLong * days

    /** Revisions of (a, d) in (ts, seq) order: 1 to 3 of them. */
    def revisions(a: Int, d: Int): Array[Rev] = {
      val k = h(seed, a, d, 0)
      val n = 1 + (if (below(k, 3) == 0) 1 else 0) + (if (below(k >>> 20, 7) == 0) 1 else 0)
      val out = new Array[Rev](n)
      var lag = 0L
      var r = 0
      while (r < n) {
        val kr = h(seed, a, d, r + 1)
        if (r > 0 && below(kr, 10) != 0) lag += 1 + below(kr >>> 8, 5)
        out(r) = Rev(a, d, (Day0 + d + lag) * 86400L + 64800L + d, r, below(kr >>> 24, 4000000L))
        r += 1
      }
      out
    }

    /** Seconds after every revision of this panel. */
    def endTs: Long = (Day0 + days + 40) * 86400L

    /** (asset_id, date, ts, value, seq): the TickStore schema. */
    def tickFrame(spark: SparkSession, parts: Int): DataFrame = {
      import spark.implicits._
      val p = this
      spark.range(0, keys, 1, parts).flatMap { k =>
        p.revisions((k / p.days).toInt, (k % p.days).toInt)
          .map(r => (r.asset.toLong, r.d, r.ts, r.v4 / 4.0, r.seq))
      }.toDF("asset_id", "d", "ts_sec", "value", "seq")
        .select(col("asset_id"), date_add(lit(dateString(0)).cast("date"), col("d")).as("date"),
          timestamp_seconds(col("ts_sec")).as("ts"), col("value"), col("seq"))
    }

    /** (asset_id, date yyyymmdd, timestamp, value float): the findb key
      * is unique, so of two revisions sharing a timestamp only the
      * higher `seq` is stored, which is the one the as-of rule picks.
      */
    def findbFrame(spark: SparkSession, parts: Int): DataFrame = {
      import spark.implicits._
      val p = this
      spark.range(0, keys, 1, parts).flatMap { k =>
        val revs = p.revisions((k / p.days).toInt, (k % p.days).toInt)
        revs.indices.filter(i => i + 1 == revs.length || revs(i + 1).ts != revs(i).ts).map { i =>
          val r = revs(i)
          (r.asset.toLong, yyyymmdd(r.d), r.ts, (r.v4 / 4.0).toFloat)
        }
      }.toDF("asset_id", "date", "timestamp", "value")
    }
  }

  /** A findb relation seen through the TickStore schema, so the graft
    * as-of operators run over it unchanged. `asset_id` passes through
    * untouched, so its predicates still reach the findb scan.
    */
  def findbAsPanel(findb: DataFrame): DataFrame =
    findb.select(col("asset_id"),
      to_date(col("date").cast("string"), "yyyyMMdd").as("date"),
      timestamp_seconds(col("timestamp")).as("ts"),
      col("value").cast("double").as("value"), lit(0L).as("seq"))

  /** Zipf(s) sampler over [0, n). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def apply(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A point read: `kind` 0 = `AsOf.asOfRange` on the TickStore, 1 =
    * `KeyValue.pointLookup` on the TickStore, 2 = `AsOf.asOfRange`
    * through findb. Assets are Zipf-skewed and end dates skewed toward
    * recent ones; the mix is stratified so every seed asks the same
    * kinds of reads: of every three reads two go to the TickStore and
    * one through findb, one TickStore read in four is a `pointLookup`,
    * range lengths cycle through 1 to 31 days, and every tenth read asks
    * as of a time before every revision in its range, so nothing may
    * come back.
    */
  final case class PointQ(kind: Int, asset: Int, start: Int, end: Int, asOf: Long)

  def pointQueries(p: Panel, n: Int, stream: Long): Array[PointQ] = {
    val zipf = new Zipf(p.assets, 1.1)
    Array.tabulate(n) { i =>
      val k = h(p.seed, 101, stream, i)
      val kind = if (i % 3 == 2) 2 else if (i % 6 == 0) 1 else 0
      val asset = zipf(u01(h(p.seed, 102, stream, i)))
      val end = p.days - 1 - ((p.days - 1) * math.pow(u01(h(p.seed, 103, stream, i)), 3)).toInt
      val start = math.max(0, end - (i * 7) % 31)
      val asOf =
        if (i % 20 == 4 || i % 20 == 13) (Day0 + start) * 86400L + 3600L
        else (Day0 + end) * 86400L + below(k >>> 24, 12L * 86400)
      if (kind == 1) PointQ(kind, asset, end, end, Long.MaxValue) else PointQ(kind, asset, start, end, asOf)
    }
  }

  /** A bulk query row: (query_id, asset, start, end, as_of). */
  final case class BulkQ(id: Long, asset: Int, start: Int, end: Int, asOf: Long)

  def bulkQueries(p: Panel, n: Int, nAssets: Int, stream: Long): Array[BulkQ] =
    Array.tabulate(n) { i =>
      val k = h(p.seed, 201, stream, i)
      val asset = if (nAssets >= p.assets) below(k, p.assets).toInt
        else (below(h(p.seed, 202, stream, below(k, nAssets)), p.assets)).toInt
      val end = below(k >>> 12, p.days).toInt
      val start = math.max(0, end - below(k >>> 24, 31).toInt)
      BulkQ(i, asset, start, end, (Day0 + start) * 86400L + below(k >>> 32, 40L * 86400))
    }

  def bulkFrame(spark: SparkSession, qs: Array[BulkQ]): DataFrame = {
    import spark.implicits._
    qs.toSeq.map(q => (q.id, q.asset.toLong, q.start, q.end, q.asOf)).toDF("query_id", "q_asset_id", "s", "e", "a")
      .select(col("query_id"), col("q_asset_id"),
        date_add(lit(dateString(0)).cast("date"), col("s")).as("start_date"),
        date_add(lit(dateString(0)).cast("date"), col("e")).as("end_date"),
        timestamp_seconds(col("a")).as("asof_ts"))
  }

  /** Trade i for `AsOf.asOfJoin`: (asset_id, ts, seq = i, qty). */
  def trade(p: Panel, i: Long): (Long, Long, Long, Long) = {
    val k = h(p.seed, 301, i, 0)
    (below(k, p.assets), Day0 * 86400L + below(k >>> 8, (p.days + 30L) * 86400), i, below(k >>> 40, 100))
  }

  def tradeFrame(spark: SparkSession, p: Panel, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map(i => trade(p, i)).toDF("asset_id", "ts_sec", "seq", "qty")
      .select(col("asset_id"), timestamp_seconds(col("ts_sec")).as("ts"), col("seq"), col("qty"))
  }

  /** Revision batch k of the ingest stream: `rows` late revisions of
    * distinct old keys (no key is revised twice across batches), stamped
    * at knowledge times after every stored revision.
    */
  def revisionBatch(p: Panel, k: Int, rows: Int): Array[Rev] = {
    require(rows <= 3600, "batch timestamps must stay inside one hour")
    val step = {
      var s = 1000003L
      while (BigInt(s).gcd(BigInt(p.keys)) != 1) s += 2
      s
    }
    Array.tabulate(rows) { i =>
      val j = k.toLong * rows + i
      require(j < p.keys, "more revisions than keys")
      val idx = (j * step + 7) % p.keys
      Rev((idx / p.days).toInt, (idx % p.days).toInt, batchTs(p, k) + i, 1000L + k,
        below(h(p.seed, 401, k, i), 4000000L))
    }
  }

  def batchTs(p: Panel, k: Int): Long = p.endTs + k * 7200L

  /** Stream trades of batch k: (asset_id, ts sec, seq, price x4). */
  def streamTrades(p: Panel, k: Int, n: Int): Array[(Long, Long, Long, Long)] =
    Array.tabulate(n) { i =>
      val kk = h(p.seed, 501, k, i)
      (below(kk, p.assets), batchTs(p, k) + below(kk >>> 16, 3600), k.toLong * n + i, below(kk >>> 40, 1000))
    }

  /** A corpus of near-duplicate clusters: each cluster has a base
    * document of random words and, for one cluster in four, one to
    * three variants with one word replaced (shingle Jaccard about 0.9
    * to 0.97 within a cluster, near 0 across clusters). graft's default
    * MinHash banding finds most but not all of the within-cluster pairs:
    * it misses up to about 0.7% of them. Returns (doc_id, text, cluster)
    * in doc_id order.
    */
  def corpus(seed: Long, clusters: Int, words: Int = 100): Array[(Long, String, Int)] = {
    def word(a: Long, b: Long): String = {
      val k = h(seed, 601, a, b)
      val len = 3 + below(k, 7).toInt
      val sb = new StringBuilder
      var x = k >>> 8
      var i = 0
      while (i < len) { sb.append(('a' + below(x, 26)).toChar); x = mix(x); i += 1 }
      sb.toString
    }
    val out = Array.newBuilder[(Long, String, Int)]
    var id = 0L
    var c = 0
    while (c < clusters) {
      val base = Array.tabulate(words)(w => word(c, w))
      val kc = h(seed, 602, c, 0)
      val variants = if (below(kc, 4) == 0) 1 + below(kc >>> 8, 3).toInt else 0
      out += ((id, base.mkString(" "), c)); id += 1
      var v = 1
      while (v <= variants) {
        val doc = base.clone()
        val kv = h(seed, 603, c, v)
        doc(below(kv, words).toInt) = word(-1 - c, v)
        out += ((id, doc.mkString(" "), c)); id += 1
        v += 1
      }
      c += 1
    }
    out.result()
  }
}
