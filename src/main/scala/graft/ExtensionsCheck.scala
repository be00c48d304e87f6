package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, timestamp_seconds, to_date}

/** End-to-end check of the `spark.sql.extensions` wiring in a fresh JVM
  * (sbt forks per runMain, so this exercises the real extension path a
  * user configures — injectFunction, injectPlannerStrategy,
  * injectOptimizerRule all live; both injected strategies plan):
  *
  *   sbt "runMain graft.ExtensionsCheck"
  */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dot = spark.sql("SELECT vec_dot(array(1.0D,2.0D), array(3.0D,4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(dot == 11.0, s"vec_dot: $dot")
    val sig = spark.sql("SELECT minhash_sig('abcdefgh', 2, 8) AS s").collect()(0).getSeq[Long](0)
    assert(sig.length == 8, s"minhash_sig: $sig")
    spark.sql("SELECT simhash64('hello world') AS f").collect()

    // planner strategy injected: the native as-of join plans without
    // AsOfJoinNative having to self-register
    import spark.implicits._
    val l = Seq((1L, new java.sql.Timestamp(10000L), 1L, 1.0)).toDF("k", "ts", "seq", "value")
    val r = Seq((1L, new java.sql.Timestamp(5000L), 1L, 9.0)).toDF("k", "ts", "seq", "rvalue")
    val out = graft.plans.AsOfJoinNative(l, r, "k").collect()
    assert(out.length == 1 && out(0).getAs[Double]("asof_value") == 9.0)

    // a findb as-of read plans through the injected strategy alone: with
    // the per-session registration cleared it is still one driver-side
    // LocalTableScan
    val db = java.nio.file.Files.createTempDirectory("ext_findb").toString + "/panel.db"
    graft.sources.findb.FindbWriter.write(db, 64,
      Seq((1L, 20240102, 10L, 1.0f), (1L, 20240102, 20L, 2.0f), (2L, 20240102, 10L, 3.0f)))
    val panel = spark.read.format("graft.sources.findb.FindbDataSource").load(db).select(
      col("asset_id"), to_date(col("date").cast("string"), "yyyyMMdd").as("date"),
      timestamp_seconds(col("timestamp")).as("ts"), col("value").cast("double").as("value"),
      col("timestamp").as("seq"))
    val read = graft.operators.AsOf.asOfRange(panel, 1L, "2024-01-01", "2024-01-31",
      "1970-01-01 00:00:15").select("value")
    spark.experimental.extraStrategies = Nil
    val plan = read.queryExecution.executedPlan
    assert(plan.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec], s"findb read:\n$plan")
    assert(read.collect().map(_.getDouble(0)).toSeq == Seq(1.0))

    println("EXTENSIONS_OK")
    spark.stop()
  }
}
