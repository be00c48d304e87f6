package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.AsOf

/** Transplants the reference's own B-tree query test
  * (reference: src/btree/file.rs:613-697 `test_small` / `check_query`)
  * onto the Spark as-of operators: same 18 (asset, date, ts, value)
  * rows, same four queries, same expected value sequences.
  */
class AsOfSpec extends SparkSpec {
  import spark.implicits._

  // file.rs:621-640 `inputs`, dates yyyymmdd → java dates, ts ints →
  // epoch-second timestamps.
  private def ts(i: Int) = new Timestamp(i * 1000L)
  private def d(s: String) = Date.valueOf(s)

  private lazy val panel: DataFrame = Seq(
    (0L, "2020-01-31", 0, 1.0), (0L, "2020-01-31", 10, 2.0), (0L, "2020-01-31", 20, 3.0),
    (0L, "2020-02-29", 5, 11.0), (0L, "2020-02-29", 15, 12.0), (0L, "2020-02-29", 25, 13.0),
    (0L, "2020-03-31", 10, 110.0), (0L, "2020-03-31", 20, 120.0), (0L, "2020-03-31", 25, 130.0),
    (1L, "2020-02-29", 5, 21.0), (1L, "2020-02-29", 15, 22.0), (1L, "2020-02-29", 25, 23.0),
    (1L, "2020-03-31", 10, 220.0), (1L, "2020-03-31", 20, 220.0), (1L, "2020-03-31", 25, 230.0),
    (1L, "2020-04-30", 10, 2100.0), (1L, "2020-04-30", 20, 2200.0), (1L, "2020-04-30", 25, 2300.0))
    .zipWithIndex
    .map { case ((a, dt, t, v), i) => (a, d(dt), ts(t), v, i.toLong) }
    .toDF("asset_id", "date", "ts", "value", "seq")

  private def values(df: DataFrame): Seq[Double] =
    df.select("value").collect().map(_.getDouble(0)).toSeq

  private def asOf(asset: Long, s: String, e: String, t: Int): Seq[Double] =
    values(AsOf.asOfRange(panel, asset, s, e,
      new Timestamp(t * 1000L).toString))

  test("reference check_query 1: exact date, asof at last revision (file.rs:649)") {
    assert(asOf(0, "2020-01-31", "2020-01-31", 20) === Seq(3.0))
  }

  test("reference check_query 2: asof between revisions picks earlier (file.rs:661)") {
    assert(asOf(0, "2020-01-31", "2020-01-31", 15) === Seq(2.0))
  }

  test("reference check_query 3: range over three dates, desc order (file.rs:673)") {
    assert(asOf(0, "2020-01-15", "2020-04-05", 20) === Seq(120.0, 12.0, 3.0))
  }

  test("reference check_query 4: second asset, asof before any revision hides date (file.rs:685)") {
    assert(asOf(1, "2020-03-15", "2020-05-15", 21) === Seq(2200.0, 220.0))
  }

  test("asOfRange equals the two-exchange window form on a revised multi-month TickStore") {
    val store = RevisedTickStore.read(spark)
    // several scan partitions, so the single-stage plan really merges them
    assert(store.rdd.getNumPartitions > 1)
    val cases = Seq(
      (0L, "2020-01-25", "2020-02-10", "2020-04-30 00:00:00"), // Jan→Feb, base ticks only
      (0L, "2020-01-25", "2020-03-05", "2020-05-01 00:00:00"), // equal-ts revisions, seq decides
      (1L, "2020-02-20", "2020-04-05", "2020-12-31 00:00:00"), // Feb→Apr, every revision visible
      (1L, "2020-02-15", "2020-02-20", "2020-02-17 12:00:00"), // as-of hides the range's tail
      (2L, "2020-03-25", "2020-04-10", "2020-05-02 00:00:00"), // a later file loses the seq tie
      (3L, "2020-01-20", "2020-04-10", "2020-06-15 00:00:00"), // all four months
      (3L, "2020-01-20", "2020-04-10", "2020-01-01 00:00:00"), // before every revision
      (9L, "2020-01-20", "2020-04-10", "2020-12-31 00:00:00")) // absent asset
    val got = cases.map { case (a, s, e, t) =>
      val rows = AsOf.asOfRange(store, a, s, e, t).collect().toSeq
      assert(rows === RevisedTickStore.windowAsOfRange(store, a, s, e, t).collect().toSeq,
        s"asOfRange($a, $s, $e, $t)")
      rows.map(r => (r.getDate(1).toString, r.getDouble(3)))
    }
    // the comparison is not vacuous: ties, hidden revisions and empties
    assert(got(1).contains(("2020-01-26", 206.0)) && got(1).contains(("2020-01-29", 109.0)))
    assert(got(3).map(_._1) === Seq("2020-02-16", "2020-02-15"))
    assert(got(4).contains(("2020-03-28", 2368.0)))
    assert(got(5).size === 82 && got(5).contains(("2020-02-29", 3540.0)))
    assert(got(6).isEmpty && got(7).isEmpty)
  }

  test("asof_bulk matches per-query asOfRange") {
    val queries = Seq(
      (0L, 0L, d("2020-01-15"), d("2020-04-05"), ts(20)),
      (1L, 1L, d("2020-03-15"), d("2020-05-15"), ts(21)))
      .toDF("query_id", "q_asset_id", "start_date", "end_date", "asof_ts")
    val out = AsOf.asOfBulk(panel, queries)
      .select("query_id", "value").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq === Seq((0L, 120.0), (0L, 12.0), (0L, 3.0), (1L, 2200.0), (1L, 220.0)))
  }

  test("asof_join enriches left rows with latest strictly-earlier right value") {
    val left = Seq((1L, ts(10), 100L, 50.0), (1L, ts(20), 101L, 60.0), (2L, ts(5), 102L, 70.0))
      .toDF("user_id", "ts", "seq", "value")
    val right = Seq((1L, ts(5), 1L, 1.5), (1L, ts(10), 2L, 2.5), (1L, ts(15), 3L, 3.5))
      .toDF("user_id", "ts", "seq", "rvalue")
    val out = AsOf.asOfJoin(left, right, "user_id", Seq("value"))
      .orderBy("seq")
      .select("seq", "asof_value").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double])))
    // left@10 sees right@5 only (strict <, right@10 excluded);
    // left@20 sees right@15; user 2 has no rights → null.
    assert(out.toSeq === Seq((100L, Some(1.5)), (101L, Some(3.5)), (102L, None)))
  }

  test("asof_join_inclusive admits equal-ts matches, highest seq winning") {
    val spark0 = spark
    import spark0.implicits._
    val left = Seq((1L, ts(10), 100L, 10.0), (1L, ts(20), 101L, 20.0))
      .toDF("user_id", "ts", "seq", "value")
    val right = Seq(
      (1L, ts(5), 200L, 1.5),
      (1L, ts(10), 201L, 2.5), (1L, ts(10), 202L, 3.5)) // equal-ts pair
      .toDF("user_id", "ts", "seq", "rvalue")
    val out = AsOf.asOfJoinInclusive(left, right, "user_id", Seq("value"))
      .orderBy("seq").select("seq", "asof_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // left@10 takes the equal-ts winner (seq 202); strict form would take ts5
    assert(out.toSeq === Seq((100L, 3.5), (101L, 3.5)))
    val strict = AsOf.asOfJoin(left, right, "user_id", Seq("value"))
      .orderBy("seq").select("asof_value").collect().map(_.getDouble(0))
    assert(strict.toSeq === Seq(1.5, 3.5))
  }

  test("asof_join_forward takes the earliest strictly-later right value") {
    val spark0 = spark
    import spark0.implicits._
    val left = Seq((1L, ts(10), 100L, 10.0), (1L, ts(20), 101L, 20.0), (2L, ts(10), 102L, 30.0))
      .toDF("user_id", "ts", "seq", "value")
    val right = Seq(
      (1L, ts(10), 200L, 1.5),  // equal ts: excluded (strict >)
      (1L, ts(12), 201L, 2.5), (1L, ts(12), 202L, 3.5), // tie → lowest seq
      (1L, ts(15), 203L, 4.5))
      .toDF("user_id", "ts", "seq", "rvalue")
    val out = AsOf.asOfJoinForward(left, right, "user_id", Seq("value"))
      .orderBy("seq").select("seq", "asof_value").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double])))
    // left@10 → right@12 seq201; left@20 → nothing later; user 2 → none
    assert(out.toSeq === Seq((100L, Some(2.5)), (101L, None), (102L, None)))
  }

  test("asof_join_nearest picks the closer side, ties backward") {
    val spark0 = spark
    import spark0.implicits._
    val left = Seq(
      (1L, ts(10), 100L, 10.0),  // back gap 2 (ts8), fwd gap 5 (ts15) → backward
      (1L, ts(13), 101L, 20.0),  // back gap 5, fwd gap 2 → forward
      (1L, ts(22), 102L, 30.0),  // equidistant (ts15@7, ts29@7) → backward tie rule
      (2L, ts(10), 103L, 40.0))  // no rights → null
      .toDF("user_id", "ts", "seq", "value")
    val right = Seq(
      (1L, ts(8), 200L, 1.0), (1L, ts(15), 201L, 2.0), (1L, ts(29), 202L, 3.0))
      .toDF("user_id", "ts", "seq", "rvalue")
    val out = AsOf.asOfJoinNearest(left, right, "user_id", Seq("value"))
      .orderBy("seq").select("seq", "asof_value", "asof_dir").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]), Option(r.getString(2))))
    assert(out.toSeq === Seq(
      (100L, Some(1.0), Some("backward")),
      (101L, Some(2.0), Some("forward")),
      (102L, Some(2.0), Some("backward")),
      (103L, None, None)))
  }

  test("as-of join family matches brute force on randomized collided data") {
    val spark0 = spark
    import spark0.implicits._
    // dense ts range → plenty of equal-ts collisions to stress tie rules
    val rnd = new scala.util.Random(42)
    val left = (0 until 150).map(i =>
      (rnd.nextInt(5).toLong + 1, ts(rnd.nextInt(50)), 1000L + i, i.toDouble))
    val right = (0 until 150).map(i =>
      (rnd.nextInt(5).toLong + 1, ts(rnd.nextInt(50)), 2000L + i, i.toDouble / 10))
    val lDf = left.toDF("user_id", "ts", "seq", "value")
    val rDf = right.toDF("user_id", "ts", "seq", "rvalue")
    def bf(dir: String): Map[Long, Option[Double]] = AsOfBruteForce(left, right, dir)
    def run(df: DataFrame): Map[Long, Option[Double]] =
      df.select("seq", "asof_value").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(run(AsOf.asOfJoin(lDf, rDf, "user_id", Seq("value"))) === bf("back"))
    assert(run(AsOf.asOfJoinInclusive(lDf, rDf, "user_id", Seq("value"))) === bf("incl"))
    assert(run(AsOf.asOfJoinForward(lDf, rDf, "user_id", Seq("value"))) === bf("fwd"))
    assert(run(AsOf.asOfJoinNearest(lDf, rDf, "user_id", Seq("value"))) === bf("near"))
  }

  test("asof_join_tolerance nulls matches staler than the lookback window") {
    val spark0 = spark
    import spark0.implicits._
    val left = Seq((1L, ts(10), 100L, 10.0), (1L, ts(20), 101L, 20.0))
      .toDF("user_id", "ts", "seq", "value")
    val right = Seq((1L, ts(5), 200L, 1.5), (1L, ts(9), 201L, 2.5))
      .toDF("user_id", "ts", "seq", "rvalue")
    def run(maxLagSec: Long) =
      AsOf.asOfJoinTolerance(left, right, "user_id", Seq("value"), maxLagSec)
        .orderBy("seq").select("seq", "asof_value").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double])))
    // generous window: identical to plain asof_join (latest earlier right)
    assert(run(3600L).toSeq === Seq((100L, Some(2.5)), (101L, Some(2.5))))
    // 5s window: left@20's latest match (right@9) is 11s stale → null;
    // left@10 still sees right@9 (1s old)
    assert(run(5L).toSeq === Seq((100L, Some(2.5)), (101L, None)))
  }

  test("revision_stats profiles knowledge-time churn per asset") {
    // asset 0: 3 keys × 3 revisions each (spans 20s, 20s, 15s)
    val out = AsOf.revisionStats(panel).collect()
      .map(r => r.getLong(0) -> r).toMap
    val a0 = out(0L)
    assert(a0.getAs[Long]("n_keys") === 3L)
    assert(a0.getAs[Long]("n_revised_keys") === 3L)
    assert(a0.getAs[Long]("n_extra_revisions") === 6L)
    assert(a0.getAs[Long]("max_revisions") === 3L)
    assert(a0.getAs[Double]("total_span_s") === 20.0 + 20.0 + 15.0)
  }

  test("asof_snapshot shows the panel as known at T") {
    // at ts=12: asset 0 Jan=2.0 (ts10), Feb=11.0 (ts5), Mar=110.0 (ts10);
    // asset 1 Feb=21.0, Mar=220.0, Apr=2100.0 (all their ts≤12 winners)
    val out = AsOf.asOfSnapshot(panel, ts(12).toString)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(3)))
    assert(out.toSeq === Seq(
      (0L, "2020-01-31", 2.0), (0L, "2020-02-29", 11.0), (0L, "2020-03-31", 110.0),
      (1L, "2020-02-29", 21.0), (1L, "2020-03-31", 220.0), (1L, "2020-04-30", 2100.0)))
    // keys first observed after T are absent
    val early = AsOf.asOfSnapshot(panel, ts(2).toString).collect()
    assert(early.map(r => (r.getLong(0), r.getDate(1).toString)).toSeq ===
      Seq((0L, "2020-01-31")))
  }

  test("revision_diff reports keys added and revised between two knowledge times") {
    // t1=12, t2=22: asset0 Jan 2.0→3.0 (revised@20), Feb 11.0→12.0
    // (revised@15), Mar 110.0→120.0; asset1 Feb 21.0→22.0, Mar
    // 220.0→220.0 (ts20 SAME value → no diff), Apr 2100.0→2200.0
    val out = AsOf.revisionDiff(panel, ts(12).toString, ts(22).toString)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString,
        r.getDouble(3), r.getString(4)))
    assert(out.toSeq === Seq(
      (0L, "2020-01-31", 3.0, "revised"),
      (0L, "2020-02-29", 12.0, "revised"),
      (0L, "2020-03-31", 120.0, "revised"),
      (1L, "2020-02-29", 22.0, "revised"),
      (1L, "2020-04-30", 2200.0, "revised")))
    // a key born between t1 and t2 reports 'added'
    val withNew = panel.unionByName(
      Seq((5L, d("2020-05-31"), ts(18), 9.0, 99L))
        .toDF("asset_id", "date", "ts", "value", "seq"))
    val added = AsOf.revisionDiff(withNew, ts(12).toString, ts(22).toString)
      .filter(col("asset_id") === 5L).collect()
    assert(added.length === 1 && added(0).getString(4) === "added" &&
      added(0).isNullAt(2))
  }
}
