package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AsOf, Dedup, KeyValue}
import graft.sources.TickStore
import graft.sources.findb.FindbDistWriter

import Gen._

/** Checks the benchmark's own pieces: the generator is a pure function
  * of the seed, and the oracle agrees with graft on a tiny panel.
  * Run with `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private var checks = 0
  private var failures = List.empty[String]

  private def expect(what: String)(ok: => Boolean): Unit = {
    checks += 1
    val passed = try ok catch { case scala.util.control.NonFatal(e) => println(s"  $what threw $e"); false }
    if (!passed) failures ::= what
  }

  def main(args: Array[String]): Unit = {
    val tmp = args.grouped(2).collect { case Array("--tmp", v) => v }.toSeq.headOption
      .getOrElse(sys.error("usage: SelfTest --tmp <scratch directory>"))
    generatorIsDeterministic()
    val spark = graft.GraftSession.builder("perfbench-selftest").master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"$tmp/spark-local").config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    graft.GraftConf.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    try oracleAgreesWithGraft(spark, tmp) finally spark.stop()
    if (failures.nonEmpty) {
      println(s"selftest FAILED ${failures.size} of $checks checks:")
      failures.reverse.foreach(f => println(s"  $f"))
      sys.exit(1)
    }
    println(s"selftest ok: $checks checks")
  }

  def generatorIsDeterministic(): Unit = {
    val a = Panel(7, 20, 60); val a2 = Panel(7, 20, 60); val b = Panel(8, 20, 60)
    def all(p: Panel) = (0 until p.assets).flatMap(x => (0 until p.days).flatMap(d => p.revisions(x, d).toSeq))
    expect("same seed, same panel")(all(a) == all(a2))
    expect("other seed, other panel")(all(a) != all(b))
    expect("same seed, same point queries")(pointQueries(a, 50, 1).toSeq == pointQueries(a2, 50, 1).toSeq)
    expect("same seed, same bulk queries")(bulkQueries(a, 50, 5, 1).toSeq == bulkQueries(a2, 50, 5, 1).toSeq)
    expect("same seed, same revision batch")(revisionBatch(a, 1, 30).toSeq == revisionBatch(a2, 1, 30).toSeq)
    expect("same seed, same corpus")(corpus(7, 40).toSeq == corpus(7, 40).toSeq)
    expect("other seed, other corpus")(corpus(7, 40).toSeq != corpus(8, 40).toSeq)
    expect("revisions sorted by (ts, seq)")(all(a).groupBy(r => (r.asset, r.d)).values.forall(rs =>
      rs.map(r => (r.ts, r.seq)) == rs.map(r => (r.ts, r.seq)).sorted))
    expect("some revisions tie on ts")(all(a).groupBy(r => (r.asset, r.d)).values.exists(rs =>
      rs.map(_.ts).distinct.size < rs.size))
    expect("no two dates of an asset share a ts")(all(a).groupBy(_.asset).values.forall(rs =>
      rs.groupBy(_.ts).values.forall(_.map(_.d).distinct.size == 1)))
    expect("revision batches revise distinct keys")({
      val keys = (0 until 5).flatMap(k => revisionBatch(a, k, 200).map(r => (r.asset, r.d)))
      keys.distinct.size == keys.size
    })
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select(col("asset_id"), datediff(col("date"), lit(dateString(0)).cast("date")).cast("long"),
      unix_seconds(col("ts")), (col("value") * 4).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  def oracleAgreesWithGraft(spark: SparkSession, tmp: String): Unit = {
    import spark.implicits._
    val p = Panel(11, 6, 45)
    val oracle = new Oracle(p)
    TickStore.write(p.tickFrame(spark, 2), s"$tmp/selftest/tickstore")
    FindbDistWriter.write(p.findbFrame(spark, 2), s"$tmp/selftest/panel.dbd", 4096, 2, directoryParts = true)
    val tick = TickStore.read(spark, s"$tmp/selftest/tickstore")
    val findb = findbAsPanel(spark.read.format("graft.sources.findb.FindbDataSource").load(s"$tmp/selftest/panel.dbd"))
    expect("panel row count")(tick.count() == oracle.rows)

    val qs = pointQueries(p, 40, 3)
    expect("some point queries see nothing")(qs.exists(q => q.kind != 1 && oracle.range(q.asset, q.start, q.end, q.asOf).isEmpty))
    qs.foreach { q =>
      val want = oracle.range(q.asset, q.start, q.end, q.asOf)
      val got = q.kind match {
        case 0 => rows(AsOf.asOfRange(tick, q.asset, dateString(q.start), dateString(q.end), tsString(q.asOf)))
        case 1 => rows(KeyValue.pointLookup(tick, q.asset, dateString(q.end)))
        case _ => rows(AsOf.asOfRange(findb, q.asset, dateString(q.start), dateString(q.end), tsString(q.asOf)))
      }
      expect(s"point $q")(got == want)
    }
    // an as-of between two tied revisions' ts and the next: the tie goes to the higher seq
    val tied = (0 until p.assets).flatMap(a => (0 until p.days).map(d => p.revisions(a, d)))
      .find(rs => rs.length > 1 && rs(0).ts == rs(1).ts).get
    expect("tie broken by seq")(rows(AsOf.asOfRange(tick, tied(0).asset, dateString(tied(0).d),
      dateString(tied(0).d), tsString(tied(1).ts))).map(_._4) == Seq(tied(1).v4))

    val bq = bulkQueries(p, 60, p.assets, 4)
    val v4 = (col("value") * 4).cast("long")
    def checksum(df: DataFrame) = {
      val d = datediff(col("date"), lit(dateString(0)).cast("date")).cast("long")
      val r = df.agg(count(lit(1)), coalesce(sum(v4), lit(0L)),
        coalesce(sum(v4 * ((col("query_id") * 31 + d) % 9973)), lit(0L)),
        coalesce(sum(unix_seconds(col("ts")) % 9973), lit(0L))).head()
      (0 until 4).map(r.getLong)
    }
    expect("bulk checksum, TickStore")(checksum(AsOf.asOfBulkPruned(tick, bulkFrame(spark, bq))) == oracle.bulk(bq))
    expect("bulk checksum, findb")(checksum(AsOf.asOfBulkPruned(findb, bulkFrame(spark, bq))) == oracle.bulk(bq))

    val n = 3000L
    val right = tick.select(col("asset_id"), col("ts"), col("seq"), col("value").as("rvalue"))
    val j = AsOf.asOfJoin(tradeFrame(spark, p, n, 2), right, "asset_id", Seq("qty"))
    val jv = (col("asof_value") * 4).cast("long")
    val jr = j.agg(count(lit(1)), sum(when(col("asof_value").isNull, 1L).otherwise(0L)),
      coalesce(sum(jv), lit(0L)), coalesce(sum(jv * (col("seq") % 9973)), lit(0L))).head()
    expect("as-of join checksum")((0 until 4).map(jr.getLong) == oracle.join(n))

    val docs = corpus(5, 120)
    val docsDf = docs.toSeq.map(d => (d._1, d._2)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docsDf).collect().map(r => (r.getLong(0), r.getLong(1)))
    val surv = Dedup.dedupSurvivors(docsDf, pairs.toSeq.toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    expect("dedup survivors are the components of the candidate pairs")(surv == Oracle.components(docs.map(_._1), pairs))
    expect("candidate pairs lie inside generated clusters")({
      val cluster = docs.map(d => d._1 -> d._3).toMap
      pairs.nonEmpty && pairs.forall { case (a, b) => cluster(a) == cluster(b) }
    })
    expect("corpus has near-duplicate clusters")(docs.groupBy(_._3).values.exists(_.length > 1))
  }
}
