package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{AsOf, Dedup, KeyValue}
import graft.sources.TickStore
import graft.sources.findb.{FindbDistWriter, FindbFormat}
import graft.streaming.StreamingOps

import Gen._

/** Sizes of the generated inputs and of one measured round. Every run
  * repeats rounds that execute every flow, so the sizes are what fits
  * several rounds in a run on 4 cores (see "Sizes" in perfbench/README.md).
  */
object Sizes {
  val readAssets = 300; val readDays = 365
  val wideQueries = 10000; val narrowQueries = 48; val narrowAssets = 24
  /** Narrow and findb bulk calls of a recorded bulk pass. */
  val narrowRepeats = 3
  /** Builds of the read stores in set-up. */
  val setupBuilds = 3
  val joinTrades = 100000L
  val ingestAssets = 100; val ingestDays = 365
  val streamTrades = 1000
  /** Rows of one stream as-of reference batch. */
  val asofRows = 1000
  val corpusClusters = 1000
  val pageSize = 4096
  /** Point reads at the end of the warm-up round. */
  val warmPoints = 6
  /** Recorded rounds of a run: one per [[roundSeconds]] of `--seconds`,
    * at least 2 and at most 4, which keeps the revision batches within
    * the ingest panel's keys (no key is revised twice).
    */
  val roundSeconds = 12
  def rounds(seconds: Int): Int = math.min(4, math.max(2, seconds / roundSeconds))
}

/** One run of one workload: set-up, a warm-up round, then recorded
  * rounds, each of which executes every flow once, so the samples of
  * every end-to-end metric are spread over the run (see [[Bench.measure]]).
  *
  *  - point:  closed-loop single-asset as-of reads, TickStore and findb
  *  - bulk:   wide and narrow `asOfBulkPruned`, findb bulk, `asOfJoin`
  *  - ingest: streamed revision batches, each followed by a fresh read;
  *            after the last round, compaction and a sink restart (the
  *            bulk load is timed in set-up, which builds the read stores)
  *  - traced runs only: one stream-stream as-of batch and one dedup pass
  *            (MinHash candidates and survivors over a clustered corpus)
  *            per round, whose metrics are per-layer
  *
  * The workload sets the mix of a round: `point_asof` makes 14 point
  * reads and streams one 2000-row revision batch, `ingest_stream` makes
  * 12 reads and streams two 3000-row batches, so its stores take writes
  * at 3 times the rate and its freshness reads meet larger sink
  * batches.
  *
  * Every end-to-end timing is taken with [[HostClock]], which leaves
  * out the time the host took from this machine; the wall times are
  * kept beside them in the detail file, under `wall.`.
  */
final class Bench(spark: SparkSession, workload: String, seed: Long, trace: Boolean, tmp: String) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(spark)
  val (primary, pointsPerRound, batchesPerRound, batchRows) = workload match {
    case "point_asof" => ("point", 14, 1, 2000)
    case "ingest_stream" => ("ingest", 12, 2, 3000)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  // ---- outcome bookkeeping --------------------------------------------

  val attempted = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  val failed = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val failures = ArrayBuffer.empty[String]

  /** Set while a traced run measures an untraced block (see [[measure]]). */
  private var untracedBlock = false

  /** Records one value; values of a traced run's untraced blocks are
    * kept apart under `untraced.`, for the tracing overhead.
    */
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(if (untracedBlock) s"untraced.$name" else name, ArrayBuffer.empty) += v

  /** Records a steal-free timing under `name` and its wall time under
    * `wall.name`; `scale` turns seconds into the metric's unit.
    */
  def sampleTime(name: String, t: (Double, Double), scale: Double = 1.0): Unit = {
    sample(name, t._1 * scale); sample(s"wall.$name", t._2 * scale)
  }

  private def traceBlock(traced: Boolean): Unit = if (trace) {
    tracer.setOn(traced); untracedBlock = !traced
  }

  /** Counts one checked operation of `layer`; a wrong answer or an
    * exception is a failure. Returns whether it passed.
    */
  def checked(layer: String, what: String)(body: => Boolean): Boolean = {
    attempted(layer) += 1
    val ok = try body catch {
      case NonFatal(e) => failures += s"$layer $what: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!ok) {
      failed(layer) += 1
      if (failures.size < 50) failures += s"$layer $what: wrong answer"
    }
    ok
  }

  def dir(name: String): String = new File(tmp, name).getAbsolutePath

  // ---- set-up ----------------------------------------------------------

  val readPanel = Panel(seed, Sizes.readAssets, Sizes.readDays)
  val ingestPanel = Panel(seed ^ 0x1A2B3C4DL, Sizes.ingestAssets, Sizes.ingestDays)
  var oracle: Oracle = _
  var tick: DataFrame = _
  var findbPanel: DataFrame = _
  var trades: DataFrame = _
  var docs: Array[(Long, String, Int)] = _
  var docsDf: DataFrame = _
  var wideQ, narrowQ: Array[BulkQ] = _
  var wideExpect, narrowExpect, joinExpect: Seq[Long] = _
  private def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY); p.count(); p
  }

  /** Generation: the oracle's expected answers and the in-memory inputs
    * of the bulk and dedup flows. Returns its steal-free time in s.
    */
  def generate(): Double = {
    val m = HostClock.mark()
    tracer.span("gen") {
      oracle = new Oracle(readPanel)
      wideQ = bulkQueries(readPanel, Sizes.wideQueries, readPanel.assets, 1)
      narrowQ = bulkQueries(readPanel, Sizes.narrowQueries, Sizes.narrowAssets, 2)
      wideExpect = oracle.bulk(wideQ); narrowExpect = oracle.bulk(narrowQ)
      joinExpect = oracle.join(Sizes.joinTrades)
      trades = persist(tradeFrame(spark, readPanel, Sizes.joinTrades, nproc))
      if (trace) {
        docs = corpus(seed, Sizes.corpusClusters)
        import spark.implicits._
        docsDf = persist(docs.toSeq.map(d => (d._1, d._2)).toDF("doc_id", "text").repartition(nproc))
      }
    }
    val t = HostClock.since(m)
    sampleTime("gen.ms", t, 1000)
    t._1
  }

  /** Builds the stores the read flows hold open: a bulk load of the
    * read panel through both writers, which also gives the bulk-load
    * rate. Run several times so set-up time and the load rate have a
    * median; the last round's stores are kept. Returns the round's
    * steal-free time in s.
    */
  def setupRound(round: Int): Double = {
    val m = HostClock.mark()
    val tickDir = dir(s"setup$round/tickstore")
    val findbDir = dir(s"setup$round/panel.dbd")
    val (_, tickMs) = tracer.timed("TickStore.write")(TickStore.write(readPanel.tickFrame(spark, nproc), tickDir))
    val (_, findbMs) = tracer.timed("FindbDistWriter.write")(FindbDistWriter.write(readPanel.findbFrame(spark, nproc),
      findbDir, Sizes.pageSize, nproc, directoryParts = true))
    val load = HostClock.since(m)
    sampleTime("ingest_rows_per_s", (readStoredRows / load._1, readStoredRows / load._2))
    sample("TickStore.write.ms", tickMs); sample("FindbDistWriter.write.ms", findbMs)
    sample("TickStore.write.files", listFiles(tickDir, ".parquet").size)
    sample("TickStore.write.bytes", bytes(tickDir, ".parquet"))
    sample("FindbDistWriter.write.bytes", bytes(findbDir))
    sample("FindbDistWriter.write.pages", FindbFormat.layout(findbDir).pageCount.toDouble)
    tick = tracer.span("TickStore.read")(TickStore.read(spark, tickDir))
    findbPanel = findbAsPanel(spark.read.format("graft.sources.findb.FindbDataSource")
      .option("pagesPerPartition", 64).load(findbDir))
    if (round > 0) deleteTree(new File(dir(s"setup${round - 1}")))
    HostClock.since(m)._1
  }

  // ---- point flow ------------------------------------------------------

  private val pointQs = pointQueries(readPanel, 100000, 7)
  private var pointNext = 0

  def pointOp(record: Boolean): Unit = tracer.op("point") {
    val q = pointQs(pointNext % pointQs.length); pointNext += 1
    val m = HostClock.mark()
    val (layer, name, df) = q.kind match {
      case 0 => ("AsOf", "AsOf.asOfRange", tracer.span("AsOf.asOfRange")(
        AsOf.asOfRange(tick, q.asset, dateString(q.start), dateString(q.end), tsString(q.asOf))))
      case 1 => ("AsOf", "KeyValue.pointLookup", tracer.span("KeyValue.pointLookup")(
        KeyValue.pointLookup(tick, q.asset, dateString(q.end))))
      case _ => ("findb", "AsOf.asOfRange", tracer.span("AsOf.asOfRange")(
        AsOf.asOfRange(findbPanel, q.asset, dateString(q.start), dateString(q.end), tsString(q.asOf))))
    }
    val (got, execMs) = tracer.timed(s"$name.exec") {
      df.select(col("asset_id"), datediff(col("date"), lit(dateString(0)).cast("date")).cast("long"),
        unix_seconds(col("ts")), (col("value") * 4).cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    }
    val t = HostClock.since(m)
    tracer.results(got.size)
    val ok = checked(layer, s"point $q")(got == oracle.range(q.asset, q.start, q.end, q.asOf))
    if (record) {
      sampleTime(if (q.kind == 2) "findb_point_ms" else "point_ms", t, 1000)
      sample(s"$name.exec_ms", execMs)
      sample(if (q.kind == 2) "point.findb_results" else "point.tick_results", got.size)
    }
    ok
  }

  // ---- bulk flow -------------------------------------------------------

  private def bulkChecksum(df: DataFrame): Seq[Long] = {
    val v4 = (col("value") * 4).cast("long")
    val d = datediff(col("date"), lit(dateString(0)).cast("date")).cast("long")
    val r = df.agg(count(lit(1)), coalesce(sum(v4), lit(0L)),
      coalesce(sum(v4 * ((col("query_id") * 31 + d) % 9973)), lit(0L)),
      coalesce(sum(unix_seconds(col("ts")) % 9973), lit(0L))).head()
    (0 until 4).map(r.getLong)
  }

  private def bulkCall(name: String, layer: String, panel: DataFrame, qs: Array[BulkQ], expect: Seq[Long],
                       metric: String, record: Boolean, pruned: Boolean = true): Unit = tracer.op("bulk") {
    val queries = bulkFrame(spark, qs)
    val call = if (pruned) "AsOf.asOfBulkPruned" else "AsOf.asOfBulk"
    val m = HostClock.mark()
    val (df, envMs) = tracer.timed(call)(
      if (pruned) AsOf.asOfBulkPruned(panel, queries) else AsOf.asOfBulk(panel, queries))
    val (got, execMs) = tracer.timed(s"$call.exec")(bulkChecksum(df))
    val t = HostClock.since(m)
    tracer.results(got.head)
    checked(layer, s"$call $name checksum $got vs $expect")(got == expect)
    if (record) {
      sampleTime(metric, t)
      if (pruned && name == "wide") {
        sample("AsOf.asOfBulkPruned.envelope_ms", envMs); sample("AsOf.asOfBulkPruned.exec_ms", execMs)
      }
      if (layer == "findb") sample("bulk.findb_results", got.head.toDouble)
    }
  }

  def joinCall(record: Boolean): Unit = tracer.op("bulk") {
    val right = tick.select(col("asset_id"), col("ts"), col("seq"), col("value").as("rvalue"))
    val m = HostClock.mark()
    val df = tracer.span("AsOf.asOfJoin")(AsOf.asOfJoin(trades, right, "asset_id", Seq("qty")))
    val (got, execMs) = tracer.timed("AsOf.asOfJoin.exec") {
      val v4 = (col("asof_value") * 4).cast("long")
      val r = df.agg(count(lit(1)), sum(when(col("asof_value").isNull, 1L).otherwise(0L)),
        coalesce(sum(v4), lit(0L)), coalesce(sum(v4 * (col("seq") % 9973)), lit(0L))).head()
      (0 until 4).map(r.getLong)
    }
    val t = HostClock.since(m)
    tracer.results(got.head)
    checked("AsOf", s"asOfJoin checksum $got vs $joinExpect")(got == joinExpect)
    if (record) {
      sampleTime("asof_join_rows_per_s", (Sizes.joinTrades / t._1, Sizes.joinTrades / t._2))
      sample("AsOf.asOfJoin.exec_ms", execMs)
    }
  }

  def bulkIteration(record: Boolean): Unit = {
    bulkCall("wide", "AsOf", tick, wideQ, wideExpect, "bulk_wide_s", record)
    // the narrow calls take about 0.4 s, near the planning floor of a
    // read, and one of each per run spread too widely from run to run
    (0 until (if (record) Sizes.narrowRepeats else 1)).foreach { _ =>
      bulkCall("narrow", "AsOf", tick, narrowQ, narrowExpect, "bulk_narrow_s", record)
      bulkCall("findb", "findb", findbPanel, narrowQ, narrowExpect, "findb_bulk_s", record)
    }
    // traced runs also time the unpruned `asOfBulk` on both query sets:
    // the asset envelope's effect on wide and on narrow sets
    if (trace) {
      bulkCall("wide", "AsOf", tick, wideQ, wideExpect, "unpruned_wide_s", record, pruned = false)
      bulkCall("narrow", "AsOf", tick, narrowQ, narrowExpect, "unpruned_narrow_s", record, pruned = false)
    }
    joinCall(record)
  }

  // ---- ingest flow -----------------------------------------------------

  private def listFiles(root: String, suffix: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(root)).filter(_.getName.endsWith(suffix))
  }
  private def bytes(root: String, suffix: String = ""): Long = listFiles(root, suffix).map(_.length).sum

  /** The ingest flow's stores and streaming queries, which live across
    * rounds. [[load]] bulk-loads the stores the sinks then write into.
    * [[batch]] streams one revision batch through both sinks and reads
    * it back through freshly opened stores;
    * [[streamAsOf]] feeds one batch of trades and references to the
    * stream-stream as-of. [[finish]] compacts, restarts the sinks and
    * checks that every acknowledged batch is still readable.
    */
  final class Ingest {
    import org.apache.spark.sql.streaming.StreamingQuery
    private val p = ingestPanel
    private val base = dir("ingest")
    private val tickDir = s"$base/tickstore"; private val findbBase = s"$base/base.dbd"
    private val sinkDir = s"$base/sink"; private val inDir = s"$base/in"
    new File(inDir).mkdirs()
    private var k = 0 // next revision batch of the sinks
    private var asofBatch = 0
    private val acked = ArrayBuffer.empty[Array[Rev]]
    private var tickQ, findbQ, asofQ: StreamingQuery = _

    private val schema = "asset_id LONG, d INT, ts_sec LONG, v4 LONG, seq LONG"
    private val day0 = lit(dateString(0)).cast("date")
    private def startSinks(): Unit = {
      val tickIn = spark.readStream.schema(schema).json(inDir).select(col("asset_id"),
        date_add(day0, col("d")).as("date"), timestamp_seconds(col("ts_sec")).as("ts"),
        (col("v4") / 4.0).as("value"), col("seq"))
      val findbIn = spark.readStream.schema(schema).json(inDir).select(col("asset_id"),
        date_format(date_add(day0, col("d")), "yyyyMMdd").cast("int").as("date"),
        col("ts_sec").as("timestamp"), (col("v4") / 4.0).cast("float").as("value"))
      tickQ = tracer.span("TickStore.streamingSink")(TickStore.streamingSink(tickIn, tickDir, s"$base/ckpt-tick"))
      findbQ = tracer.span("FindbDistWriter.streamingSink")(
        FindbDistWriter.streamingSink(findbIn, sinkDir, s"$base/ckpt-findb", Sizes.pageSize, 2))
      tracer.queryLabels.put(tickQ.id, "TickStore.streamingSink")
      tracer.queryLabels.put(findbQ.id, "FindbDistWriter.streamingSink")
    }

    implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // one source feeds both sides (`side` 0 = trade, 1 = reference), so
    // a batch's trades and references land in the same micro-batch
    private val streamIn = MemoryStream[(Int, StreamingOps.Tick)]
    private def side(s: Int) = streamIn.toDF().filter(col("_1") === s).select(col("_2.*"))
    private val sinkName = "pb_stream_asof"
    private def startStreamAsOf(): Unit = {
      asofQ = tracer.span("StreamingOps.streamStreamAsOf")(
        StreamingOps.streamStreamAsOf(side(0), side(1), maxLag = "1 hour", watermark = "0 seconds"))
        .writeStream.format("memory").queryName(sinkName).outputMode("append").start()
      tracer.queryLabels.put(asofQ.id, "StreamingOps.streamStreamAsOf")
    }
    private def ticksOf(s: Int, rows: Array[(Long, Long, Long, Long)]) =
      rows.map { case (a, ts, seq, v4) => (s, StreamingOps.Tick(a, new java.sql.Timestamp(ts * 1000), v4 / 4.0, seq)) }.toSeq

    /** Bulk-loads the panel through both writers and starts the sinks. */
    def load(): Unit = tracer.op("ingest") {
      tracer.span("TickStore.write")(TickStore.write(p.tickFrame(spark, nproc), tickDir))
      tracer.span("FindbDistWriter.write")(
        FindbDistWriter.write(p.findbFrame(spark, nproc), findbBase, Sizes.pageSize, nproc, directoryParts = true))
      startSinks(); if (trace) startStreamAsOf()
    }

    private def hand(k: Int, revs: Array[Rev]): Unit = {
      val tmpFile = new File(inDir, s".batch-$k.tmp")
      val w = new java.io.PrintWriter(tmpFile, "UTF-8")
      try revs.foreach(r => w.println(s"""{"asset_id":${r.asset},"d":${r.d},"ts_sec":${r.ts},"v4":${r.v4},"seq":${r.seq}}"""))
      finally w.close()
      require(tmpFile.renameTo(new File(inDir, s"batch-$k.json")), "batch rename failed")
    }

    /** Reads `r` back through freshly opened stores. */
    private def freshRead(r: Rev, findbStores: => Seq[String]): Unit = {
      val (fresh, openMs) = tracer.timed("TickStore.read")(TickStore.read(spark, tickDir))
      sample("TickStore.read.open_ms", openMs)
      val want = Seq((r.asset.toLong, r.d.toLong, r.ts, r.v4))
      def rows(df: DataFrame) = df.select(col("asset_id"),
        datediff(col("date"), lit(dateString(0)).cast("date")).cast("long"),
        unix_seconds(col("ts")), (col("value") * 4).cast("long")).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSeq
      tracer.results(2)
      checked("TickStore", s"fresh read $r")(rows(tracer.span("AsOf.asOfRange")(
        AsOf.asOfRange(fresh, r.asset, dateString(r.d), dateString(r.d), tsString(r.ts)))) == want)
      val fpanel = findbAsPanel(spark.read.format("graft.sources.findb.FindbDataSource")
        .option("pagesPerPartition", 64).load(findbStores: _*))
      checked("findb", s"fresh read $r")(rows(tracer.span("AsOf.asOfRange")(
        AsOf.asOfRange(fpanel, r.asset, dateString(r.d), dateString(r.d), tsString(r.ts)))) == want)
    }

    /** Streams one revision batch through both sinks, then reads one of
      * its rows back through freshly opened stores.
      */
    def batch(record: Boolean): Unit = tracer.op("ingest") {
      val revs = revisionBatch(p, k, batchRows)
      val m = HostClock.mark()
      hand(k, revs)
      tracer.span("TickStore.streamingSink.process")(tickQ.processAllAvailable())
      tracer.span("FindbDistWriter.streamingSink.process")(findbQ.processAllAvailable())
      val landed = HostClock.since(m)
      acked += revs
      val probe = revs(below(h(seed, 701, k, 0), revs.length).toInt)
      freshRead(probe, findbBase +: FindbDistWriter.batchStores(spark, sinkDir))
      if (record) {
        sampleTime("stream_rows_per_s", (2.0 * batchRows / landed._1, 2.0 * batchRows / landed._2))
        sampleTime("freshness_ms", HostClock.since(m), 1000)
      }
      k += 1
    }

    /** One batch through the stream-stream as-of: revision batch `j` as
      * the reference side and its trades, plus a sentinel on an asset no
      * trade has, on both sides, in one micro-batch. Batch `j` stamps its
      * rows in the hour from `batchTs(2j)`; the sentinel, two hours and a
      * bit later, moves the watermark past every trade of the batch plus
      * the join's one-hour lag (which the aggregation after it waits
      * for), but before the next batch, so the no-data batch that follows
      * closes every trade.
      */
    def streamAsOf(record: Boolean): Unit = tracer.op("ingest") {
      val j = asofBatch; asofBatch += 1
      val lo = batchTs(p, 2 * j); val hi = lo + 3600
      val revs = revisionBatch(p, 2 * j, Sizes.asofRows)
      val tr = streamTrades(p, 2 * j, Sizes.streamTrades)
      val expect = Oracle.streamAsOf(revs, tr)
      val sentinel = Array((-1L, hi + 3700, Long.MaxValue, 0L))
      val m = HostClock.mark()
      streamIn.addData(ticksOf(0, tr ++ sentinel) ++
        ticksOf(1, revs.map(r => (r.asset.toLong, r.ts, r.seq, r.v4)) ++ sentinel))
      tracer.span("StreamingOps.streamStreamAsOf.process")(asofQ.processAllAvailable())
      val t = HostClock.since(m)
      def at(sec: Long) = lit(new java.sql.Timestamp(sec * 1000))
      val r = spark.table(sinkName).filter(col("asset_id") >= 0 && col("ts") >= at(lo) && col("ts") < at(hi))
        .agg(count(lit(1)), count(col("asof_value")), coalesce(sum((col("asof_value") * 4).cast("long")), lit(0L))).head()
      val got = (0 until 3).map(r.getLong)
      checked("StreamingOps", s"streamStreamAsOf batch $j $got vs $expect")(got == expect)
      if (record) sampleTime("stream_asof_rows_per_s", (got.head / t._1, got.head / t._2))
    }

    /** Compaction, then a restart of both sinks from their checkpoints:
      * every acknowledged batch, and one fed after the restart, must be
      * readable. Deletes the flow's stores.
      */
    def finish(): Unit = {
      if (asofQ != null) asofQ.stop()
      val compacted = s"$base/compacted.dbd"
      tracer.op("ingest") {
        val filesBefore = listFiles(tickDir, ".parquet").size
        val (months, tMs) = tracer.timed("TickStore.compactIfNeeded")(TickStore.compactIfNeeded(spark, tickDir, maxFiles = 2))
        val inputs = FindbDistWriter.batchStores(spark, sinkDir).size + 1
        val (_, fMs) = tracer.timed("FindbDistWriter.compactSink")(FindbDistWriter.compactSink(spark, sinkDir, compacted,
          Sizes.pageSize, nproc, base = Some(findbBase), prune = true))
        val allMonths = new File(tickDir).listFiles().count(_.getName.startsWith("date_month="))
        checked("TickStore", s"compacted ${months.size} of $allMonths months")(months.size == allMonths)
        sample("compact_s", (tMs + fMs) / 1000)
        sample("store_bytes_per_row", bytes(tickDir, ".parquet") / p.keys.toDouble)
        sample("TickStore.compactIfNeeded.ms", tMs)
        sample("TickStore.compactIfNeeded.files_before", filesBefore)
        sample("TickStore.compactIfNeeded.files_after", listFiles(tickDir, ".parquet").size)
        sample("TickStore.compactIfNeeded.bytes_rewritten",
          months.map(m => bytes(s"$tickDir/date_month=$m", ".parquet")).sum.toDouble)
        sample("FindbDistWriter.compactSink.ms", fMs); sample("FindbDistWriter.compactSink.inputs", inputs)
        sample("FindbDistWriter.streamingSink.stores", inputs - 1)
        val last = acked.last
        freshRead(last(last.length / 2), Seq(compacted))
      }
      val m = HostClock.mark()
      tracer.op("ingest") {
        tickQ.stop(); findbQ.stop()
        startSinks()
        val revs = revisionBatch(p, k, batchRows)
        hand(k, revs)
        tickQ.processAllAvailable(); findbQ.processAllAvailable()
        acked += revs
        val n = acked.map(_.length).sum.toLong
        val tickKeys = TickStore.read(spark, tickDir).filter(col("seq") >= 1000)
          .select(col("asset_id"), col("date"), col("seq")).distinct().count()
        checked("TickStore", s"restart durability $tickKeys of $n")(tickKeys == n)
        val findbKeys = spark.read.format("graft.sources.findb.FindbDataSource")
          .load(compacted +: FindbDistWriter.batchStores(spark, sinkDir): _*)
          .filter(col("timestamp") >= p.endTs).select(col("asset_id"), col("date"), col("timestamp"))
          .distinct().count()
        checked("findb", s"restart durability $findbKeys of $n")(findbKeys == n)
        tickQ.stop(); findbQ.stop()
      }
      sample("phase.restart_s", HostClock.since(m)._2)
      deleteTree(new File(base))
    }
  }

  /** Rows a bulk load of `p` writes: every revision to the TickStore,
    * plus the revisions with a distinct timestamp to findb.
    */
  private lazy val readStoredRows = storedRows(readPanel).toDouble
  private def storedRows(p: Panel): Long =
    (0L until p.keys).map { k =>
      val rs = p.revisions((k / p.days).toInt, (k % p.days).toInt)
      rs.length + rs.indices.count(i => i + 1 == rs.length || rs(i + 1).ts != rs(i).ts).toLong
    }.sum

  // ---- dedup flow ------------------------------------------------------

  private lazy val truth = Oracle.survivors(docs)
  /** Floors of the score against the generator's clusters. */
  private val minRecall = 0.98
  private val maxMismatches = Sizes.corpusClusters / 100

  def dedupPass(record: Boolean): Unit = {
    import spark.implicits._
    val m = HostClock.mark()
    val (pairs, pairsMs) = tracer.op("dedup.pairs")(tracer.timed("Dedup.minhashLshPairs") {
      Dedup.minhashLshPairs(docsDf).collect().map(r => (r.getLong(0), r.getLong(1)))
    })
    val (surv, survMs) = tracer.op("dedup.survivors")(tracer.timed("Dedup.dedupSurvivors") {
      val s = Dedup.dedupSurvivors(docsDf, pairs.toSeq.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      tracer.results(s.size)
      s
    })
    val t = HostClock.since(m)
    val (expect, clusterOf) = truth
    checked("Dedup", s"survivors ${surv.size} vs components of ${pairs.length} candidate pairs")(
      surv == Oracle.components(docs.map(_._1), pairs))
    // scored against the generator's clusters: no candidate may cross
    // clusters, and recall and survivors must stay above a floor that
    // the seed's MinHash banding passes (it misses up to about 0.7% of
    // true pairs; see perfbench/README.md)
    val distinct = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val (inCluster, crossing) = distinct.partition { case (a, b) => clusterOf(a) == clusterOf(b) }
    val allTrue = expect.values.map(n => n * (n - 1) / 2).sum
    val recall = inCluster.length.toDouble / allTrue
    val mismatches = (surv.toSet diff expect.toSet).size
    checked("Dedup", s"${crossing.length} candidate pairs cross clusters")(crossing.isEmpty)
    checked("Dedup", s"candidate recall $recall below $minRecall")(recall >= minRecall)
    checked("Dedup", s"$mismatches survivors differ from the clusters")(mismatches <= maxMismatches)
    if (record) {
      sampleTime("dedup_docs_per_s", (docs.length / t._1, docs.length / t._2))
      sample("Dedup.minhashLshPairs.ms", pairsMs); sample("Dedup.dedupSurvivors.ms", survMs)
      sample("Dedup.minhashLshPairs.candidate_pairs", pairs.length)
      sample("Dedup.minhashLshPairs.candidate_precision",
        if (distinct.isEmpty) 1.0 else inCluster.length.toDouble / distinct.length)
      sample("Dedup.minhashLshPairs.candidate_recall", recall)
      sample("Dedup.dedupSurvivors.truth_mismatches", mismatches)
    }
  }

  // ---- the run ---------------------------------------------------------

  /** The measured part of a run: a warm-up round, then `rounds`
    * recorded rounds, then the ingest flow's compaction and restart. A
    * round runs one bulk pass, the workload's revision batches and the
    * workload's point reads, in that order (a traced run adds one dedup
    * pass after the bulk pass and one stream as-of batch after the
    * revision batches), so each metric's samples are spread over the run; the
    * metrics are their medians. The warm-up round takes the cold costs
    * (JIT, code generation, first scans, the streaming queries' first
    * batches). Point reads and revision batches are recorded from the
    * first round on, the first reads some seconds after the warm-up's
    * last ones. The bulk, dedup and stream as-of calls are recorded only
    * from the second round: in the first, the bulk and dedup calls still
    * ran 20-40% slower than in the second, by an amount that varied from
    * run to run, and the first round leaves the stream as-of out, whose
    * second batch already ran as fast as its third. The schedule does not
    * depend on the host's speed, so every run of a workload makes the
    * same calls. In a traced run, odd rounds are traced and even ones
    * not, which gives the tracing overhead.
    */
  def measure(rounds: Int): Unit = {
    if (trace) tracer.setOn(true)
    val ingest = new Ingest
    def phase(name: String, record: Boolean)(body: => Unit): Unit = {
      val m = HostClock.mark()
      body
      sample(if (record) s"phase.${name}_s" else s"phase.warm_${name}_s", HostClock.since(m)._2)
    }
    def points(n: Int, record: Boolean): Unit = phase("point", record)((0 until n).foreach(_ => pointOp(record)))
    def round(r: Int): Unit = {
      val m = HostClock.mark()
      val record = r > 0
      val settled = r > 1
      val traced = r % 2 == 1
      def tracedIf(on: Boolean)(body: => Unit): Unit = { traceBlock(on); body; traceBlock(traced) }
      traceBlock(traced)
      phase("bulk", settled) {
        bulkIteration(settled)
        // a traced run repeats an untraced settled pass traced, for the
        // tracing overhead
        if (trace && settled && !traced) tracedIf(true)(bulkIteration(settled))
      }
      // a traced run traces every settled dedup and stream as-of call:
      // their per-layer metrics come from the listeners
      if (trace) phase("dedup", settled)(tracedIf(traced || settled)(dedupPass(settled)))
      phase("ingest", record) {
        if (!record) ingest.load()
        (0 until (if (record) batchesPerRound else 1)).foreach(_ => ingest.batch(record))
        if (trace && r != 1) tracedIf(traced || settled)(ingest.streamAsOf(settled))
      }
      points(if (record) pointsPerRound else Sizes.warmPoints, record)
      sample(if (record) "host.steal_frac" else "host.warm_steal_frac", HostClock.stealFrac(m, HostClock.mark()))
      sample(if (record) "phase.round_s" else "phase.warmup_s", HostClock.since(m)._2)
    }
    (0 to rounds).foreach(round)
    traceBlock(true)
    phase("finish", record = true)(ingest.finish())
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

object Bench {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload"); val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt; val trace = opts("trace") == "1"
    val tmp = opts("tmp"); val resultFile = opts("result")
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder("perfbench").master(s"local[$nproc]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      // each point read inlines its literals into newly generated code;
      // at Spark's default of 100 cached classes a round of point reads
      // evicts the other flows' compiled plans, and the next bulk call ran
      // up to 2.5x slower recompiling them, so each flow's cost depended
      // on the flow before it
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$tmp/ckpt")
      .getOrCreate()
    graft.GraftConf.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    // from the launch of the JVM (epoch ms and jiffies, taken by run.py)
    val sessionS = {
      val Array(ms, busy, steal) = opts("launch").split(",").map(_.toLong)
      val now = HostClock.mark()
      (System.currentTimeMillis() - ms) / 1000.0 * (1 - HostClock.stealFrac(HostClock.Mark(0, busy, steal), now))
    }
    var code = 0
    try {
      val b = new Bench(spark, workload, seed, trace, tmp)
      val genS = b.generate()
      val rounds = (0 until Sizes.setupBuilds).map(b.setupRound)
      val setupS = sessionS + genS + median(rounds)
      val t0 = System.currentTimeMillis()
      b.measure(Sizes.rounds(seconds))
      val measuredS = (System.currentTimeMillis() - t0) / 1000.0
      b.tracer.finish()
      code = Report.emit(b, setupS, rounds, sessionS, measuredS, resultFile, opts)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        code = 3
    } finally {
      spark.stop()
    }
    sys.exit(code)
  }
}
