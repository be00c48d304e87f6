package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.AsOf
import graft.plans.AsOfJoinNative

/** The custom-operator as-of join (which `AsOf.asOfJoin` and
  * `asOfJoinInclusive` run on) must agree exactly with the brute-force
  * model — on hand fixtures, null keys and timestamps, and the real
  * testdata (purchases enriched with latest prior view).
  */
class AsOfJoinNativeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) = new Timestamp(i * 1000L)

  test("native exec matches hand-computed strict as-of semantics") {
    val left = Seq((1L, ts(10), 100L, 50.0), (1L, ts(20), 101L, 60.0), (2L, ts(5), 102L, 70.0))
      .toDF("user_id", "ts", "seq", "value")
    val right = Seq((1L, ts(5), 1L, 1.5), (1L, ts(10), 2L, 2.5), (1L, ts(15), 3L, 3.5))
      .toDF("user_id", "ts", "seq", "rvalue")
    val out = AsOfJoinNative(left, right, "user_id")
      .orderBy("seq")
      .select("seq", "asof_value").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double])))
    assert(out.toSeq === Seq((100L, Some(1.5)), (101L, Some(3.5)), (102L, None)))
  }

  test("equal-ts right revisions resolve to the max-seq one, deterministically") {
    val left = Seq((1L, ts(20), 100L, 0.0)).toDF("user_id", "ts", "seq", "value")
    // two revisions at the SAME ts: seq 2 must win regardless of input order
    val right = Seq((1L, ts(10), 2L, 9.9), (1L, ts(10), 1L, 1.1))
      .toDF("user_id", "ts", "seq", "rvalue")
    val out = AsOfJoinNative(left, right.repartition(3), "user_id")
      .select("asof_value").collect()(0).getDouble(0)
    assert(out === 9.9)
  }

  private def purchasesViews = {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    def side(eventType: String, valueAs: String) = ev.filter(col("event_type") === eventType)
      .select(col("user_id"), col("ts"), col("event_id").as("seq"), col("value").as(valueAs))
    (side("purchase", "value"), side("view", "rvalue"))
  }

  private def bruteForce(dir: String) = {
    val (purchases, views) = purchasesViews
    def rows(df: org.apache.spark.sql.DataFrame) = df.as[AsOfBruteForce.Row].collect().toSeq
    AsOfBruteForce(rows(purchases), rows(views), dir)
  }

  private def bySeq(df: org.apache.spark.sql.DataFrame) =
    df.select("seq", "asof_value").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap

  test("native exec matches brute force on real data") {
    val (purchases, views) = purchasesViews
    val expected = bruteForce("back")
    assert(expected.values.count(_.isDefined) > 0)
    assert(bySeq(AsOfJoinNative(purchases, views, "user_id")) === expected)
    assert(bySeq(AsOf.asOfJoin(purchases, views, "user_id", Seq("value"))) === expected)
  }

  test("native inclusive matches brute force on real data") {
    val (purchases, views) = purchasesViews
    val expected = bruteForce("incl")
    assert(bySeq(AsOfJoinNative(purchases, views, "user_id", inclusive = true)) === expected)
    assert(bySeq(AsOf.asOfJoinInclusive(purchases, views, "user_id", Seq("value"))) === expected)
  }

  test("null keys and timestamps follow the equi-join rule in both modes") {
    // one partition per side, so null, -5 and 0 meet in one merge
    val left = Seq[(Option[Long], Option[Timestamp], Long, Double)](
      (Some(-5L), Some(ts(2)), 100L, 0.0), (Some(-5L), Some(ts(10)), 101L, 0.0),
      (None, Some(ts(10)), 102L, 0.0), (Some(0L), Some(ts(10)), 103L, 0.0),
      (Some(0L), None, 104L, 0.0), (Some(7L), Some(ts(10)), 105L, 0.0))
      .toDF("user_id", "ts", "seq", "value").repartition(1, col("user_id"))
    val right = Seq[(Option[Long], Option[Timestamp], Long, Double)](
      (None, Some(ts(1)), 1L, 1.0), (Some(-5L), Some(ts(2)), 2L, 2.0),
      (Some(0L), Some(ts(3)), 3L, 3.0), (Some(7L), None, 4L, 4.0))
      .toDF("user_id", "ts", "seq", "rvalue").repartition(1, col("user_id"))
    val strict = Map(100L -> None, 101L -> Some(2.0), 102L -> None, 103L -> Some(3.0),
      104L -> None, 105L -> None)
    for (inc <- Seq(false, true)) {
      // inclusive differs only where a left ts equals a right ts (-5@2)
      val expected = if (inc) strict.updated(100L, Some(2.0)) else strict
      assert(bySeq(AsOfJoinNative(left, right, "user_id", inclusive = inc)) === expected, s"inclusive=$inc")
      assert(bySeq(AsOfJoinNative(left, right.filter(lit(false)), "user_id", inclusive = inc)) ===
        strict.map { case (k, _) => k -> None }, s"empty right, inclusive=$inc")
    }
  }

  test("null keys and timestamps follow the equi-join rule in the window variants") {
    // left null@10, 1@null, 2@10; right null@5, null@15, 1@20: no right
    // row is visible to any left row
    val left = Seq[(Option[Long], Option[Timestamp], Long, Double)](
      (None, Some(ts(10)), 100L, 0.0), (Some(1L), None, 101L, 0.0), (Some(2L), Some(ts(10)), 102L, 0.0))
      .toDF("user_id", "ts", "seq", "value")
    val right = Seq[(Option[Long], Option[Timestamp], Long, Double)](
      (None, Some(ts(5)), 1L, 1.0), (None, Some(ts(15)), 2L, 2.0), (Some(1L), Some(ts(20)), 3L, 3.0))
      .toDF("user_id", "ts", "seq", "rvalue")
    val none = Map(100L -> None, 101L -> None, 102L -> None)
    for ((name, out) <- Seq(
        "forward" -> AsOf.asOfJoinForward(left, right, "user_id", Seq("value")),
        "nearest" -> AsOf.asOfJoinNearest(left, right, "user_id", Seq("value")),
        "tolerance" -> AsOf.asOfJoinTolerance(left, right, "user_id", Seq("value"), 3600L),
        "backward" -> AsOf.asOfJoin(left, right, "user_id", Seq("value")))) {
      assert(bySeq(out) === none, name)
    }
    assert(AsOf.asOfJoinNearest(left, right, "user_id", Seq("value"))
      .filter(col("asof_dir").isNotNull).isEmpty)
    // a null right ts never matches, even where the key does
    val nullTs = Seq[(Option[Long], Option[Timestamp], Long, Double)]((Some(2L), None, 4L, 4.0))
      .toDF("user_id", "ts", "seq", "rvalue")
    for (out <- Seq(AsOf.asOfJoinForward(left, nullTs, "user_id", Seq("value")),
        AsOf.asOfJoinNearest(left, nullTs, "user_id", Seq("value")),
        AsOf.asOfJoinTolerance(left, nullTs, "user_id", Seq("value"), 3600L)))
      assert(bySeq(out) === none)
  }

  test("non-long keys and non-timestamp ts are rejected at call time") {
    val left = Seq((1L, ts(10), 1L, 1.0)).toDF("user_id", "ts", "seq", "value")
    val right = Seq((1L, ts(5), 1L, 9.0)).toDF("user_id", "ts", "seq", "rvalue")
    intercept[IllegalArgumentException](AsOfJoinNative(left.withColumn("user_id", col("user_id").cast("int")), right, "user_id"))
    intercept[IllegalArgumentException](AsOfJoinNative(left, right.withColumn("ts", col("ts").cast("long")), "user_id"))
  }

  test("native inclusive admits the equal-ts revision, strict does not") {
    val spark0 = spark
    import spark0.implicits._
    val left = Seq((1L, new java.sql.Timestamp(10000L), 100L, 1.0))
      .toDF("user_id", "ts", "seq", "value")
    val right = Seq(
      (1L, new java.sql.Timestamp(5000L), 200L, 1.5),
      (1L, new java.sql.Timestamp(10000L), 201L, 2.5),
      (1L, new java.sql.Timestamp(10000L), 202L, 3.5))
      .toDF("user_id", "ts", "seq", "rvalue")
    def run(inc: Boolean) =
      AsOfJoinNative(left, right, "user_id", inclusive = inc)
        .select("asof_value").collect()(0).getDouble(0)
    assert(run(false) === 1.5)  // strict: equal-ts rows invisible
    assert(run(true) === 3.5)   // inclusive: max-seq equal-ts revision wins
  }

  test("bucketed co-located tables feed the native as-of join with zero exchanges") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("seq"), col("value"))
      .withColumnRenamed("user_id", "asset_id")
      .withColumn("date", to_date(col("ts")))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("seq"), col("value").as("rvalue"))
      .withColumnRenamed("user_id", "asset_id")
      .withColumn("date", to_date(col("ts")))
    val base = java.nio.file.Files.createTempDirectory("buckets").toString
    spark.sql("DROP TABLE IF EXISTS t_purchases")
    spark.sql("DROP TABLE IF EXISTS t_views")
    graft.sources.TickStore.writeBucketedTable(purchases, "t_purchases", s"$base/p", buckets = 4)
    graft.sources.TickStore.writeBucketedTable(views, "t_views", s"$base/v", buckets = 4)

    val joined = AsOfJoinNative(
      spark.table("t_purchases"), spark.table("t_views"), "asset_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"))
    assert(!plan.contains("Exchange hashpartitioning"), plan) // co-located: no shuffle

    // results equal the unbucketed run
    val bucketed = joined.select("seq", "asof_value")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val unbucketed = AsOfJoinNative(purchases, views, "asset_id")
      .select("seq", "asof_value")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(bucketed === unbucketed)
  }

  test("join-key-sorted buckets elide the Sort as well: pure zipPartitions merge") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("asset_id"), col("ts"), col("event_id").as("seq"), col("value"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("asset_id"), col("ts"), col("event_id").as("seq"),
        col("value").as("rvalue"))
    val base = java.nio.file.Files.createTempDirectory("buckets_sorted").toString
    spark.sql("DROP TABLE IF EXISTS ts_purchases")
    spark.sql("DROP TABLE IF EXISTS ts_views")
    graft.sources.TickStore.writeBucketedTable(p, "ts_purchases", s"$base/p",
      buckets = 4, sortCols = Seq("asset_id", "ts", "seq"))
    graft.sources.TickStore.writeBucketedTable(v, "ts_views", s"$base/v",
      buckets = 4, sortCols = Seq("asset_id", "ts", "seq"))

    val joined = AsOfJoinNative(
      spark.table("ts_purchases"), spark.table("ts_views"), "asset_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"))
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    // one file per bucket + sortBy on the join key: the scan reports
    // the ordering, EnsureRequirements inserts NO Sort — the exec is a
    // bare merge over the scans, the zero-overhead 100 TB shape.
    assert(!plan.contains("Sort ["), plan)
  }

  test("plan shows the custom exec with planner-provided exchange and sort") {
    val left = Seq((1L, ts(10), 1L, 1.0)).toDF("user_id", "ts", "seq", "value")
    val right = Seq((1L, ts(5), 1L, 9.0)).toDF("user_id", "ts", "seq", "rvalue")
    val plan = AsOfJoinNative(left, right, "user_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"))
    assert(plan.contains("Exchange hashpartitioning(user_id"))
    assert(plan.contains("Sort [user_id"))
  }
}
