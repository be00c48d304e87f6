package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame

import graft.operators.KeyValue

/** Ordered-KV semantics vs reference src/btree/mem.rs (lookup :387,
  * lookup_range :395, insert/update :406/:433, delete :439).
  */
class KeyValueSpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) = new Timestamp(i * 1000L)
  private def d(s: String) = Date.valueOf(s)

  private lazy val panel: DataFrame = Seq(
    (1L, "2024-01-01", 10, 100.0, 1L),
    (1L, "2024-01-01", 20, 101.0, 2L), // revision: LWW winner for (1, 01-01)
    (1L, "2024-01-02", 10, 102.0, 3L),
    (2L, "2024-01-01", 10, 200.0, 4L),
    (2L, "2024-01-03", 10, 201.0, 5L),
    (3L, "2024-01-02", 10, 300.0, 6L))
    .map { case (a, dt, t, v, q) => (a, d(dt), ts(t), v, q) }
    .toDF("asset_id", "date", "ts", "value", "seq")

  test("point_lookup returns current (latest-ts) value — mem.rs lookup + update semantics") {
    val out = KeyValue.pointLookup(panel, 1L, "2024-01-01").collect()
    assert(out.length === 1)
    assert(out(0).getAs[Double]("value") === 101.0)
  }

  test("pointLookup equals the window form on a revised multi-month TickStore") {
    val store = RevisedTickStore.read(spark)
    val keys = Seq(
      (0L, "2020-01-26") -> Some(206.0),  // equal-ts revisions, the higher seq wins
      (2L, "2020-03-28") -> Some(2368.0), // a later file with a lower seq loses the tie
      (3L, "2020-02-29") -> Some(3540.0), // late revision in another month
      (1L, "2020-04-10") -> Some(1181.0), // last day, one revision
      (1L, "2020-04-09") -> Some(1080.0), // base tick only
      (9L, "2020-02-01") -> None,         // absent asset
      (0L, "2020-05-01") -> None)         // absent date, no month partition
    for (((a, dt), want) <- keys) {
      val rows = KeyValue.pointLookup(store, a, dt).collect().toSeq
      assert(rows === RevisedTickStore.windowPointLookup(store, a, dt).collect().toSeq,
        s"pointLookup($a, $dt)")
      assert(rows.map(_.getAs[Double]("value")) === want.toSeq, s"pointLookup($a, $dt)")
    }
  }

  test("range_scan is inclusive and lexicographic on the composite key — mem.rs lookup_range") {
    val out = KeyValue.rangeScan(panel, 1L, "2024-01-02", 2L, "2024-01-01")
      .select("value").collect().map(_.getDouble(0))
    assert(out.toSeq === Seq(102.0, 200.0))
  }

  test("upsert_lww keeps exactly the newest revision per key — insert+update materialized") {
    val out = KeyValue.upsertLww(panel)
      .select("asset_id", "value").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq === Seq((1L, 101.0), (1L, 102.0), (2L, 200.0), (2L, 201.0), (3L, 300.0)))
  }

  test("upsert_lww ties on ts break by seq (total order)") {
    val p = Seq((9L, d("2024-01-01"), ts(10), 1.0, 1L), (9L, d("2024-01-01"), ts(10), 2.0, 2L))
      .toDF("asset_id", "date", "ts", "value", "seq")
    assert(KeyValue.upsertLww(p).collect()(0).getAs[Double]("value") === 2.0)
  }

  test("delete_keys removes exactly the listed composite keys — mem.rs delete") {
    val keys = Seq((1L, d("2024-01-01")), (2L, d("2024-01-03"))).toDF("asset_id", "date")
    val out = KeyValue.deleteKeys(panel, keys).select("value").collect().map(_.getDouble(0))
    assert(out.toSeq === Seq(102.0, 200.0, 300.0))
  }

  test("insert_strict rejects existing composite keys — mem.rs InsertResult::Duplicate") {
    val batch = Seq(
      (1L, d("2024-01-01"), ts(10), 999.0, 7L), // duplicate key of seq 1 → rejected
      (9L, d("2024-01-09"), ts(10), 900.0, 8L)) // new key → inserted
      .toDF("asset_id", "date", "ts", "value", "seq")
    val out = KeyValue.insertStrict(panel, batch)
    assert(out.count() === panel.count() + 1)
    // the duplicate's value did NOT displace the original
    val v = out.filter($"asset_id" === 1 && $"date" === d("2024-01-01") && $"ts" === ts(10))
      .select("value").collect().map(_.getDouble(0))
    assert(v.toSeq === Seq(100.0))
    assert(out.filter($"asset_id" === 9).count() === 1)
  }

  test("ingest_convert encodes yyyymmdd ints and epoch seconds — convert-datetimes.py") {
    val ev = Seq((7L, new Timestamp(1704067207179L), 5L, 42.0))
      .toDF("event_id", "ts", "user_id", "value")
    val r = KeyValue.ingestConvert(ev).collect()(0)
    assert(r.getAs[Int]("date_int") === 20240101)      // 2024-01-01 UTC
    assert(r.getAs[Long]("epoch_s") === 1704067207L)   // floor to seconds
  }

  test("upsert_returning surfaces the displaced LWW value, NULL for a new key — mem.rs update -> Option<old>") {
    val batch = Seq((1L, "2024-01-01", 999.0), (9L, "2024-02-01", 5.0))
      .map { case (a, dt, v) => (a, d(dt), v) }
      .toDF("asset_id", "date", "new_value")
    val out = KeyValue.upsertReturning(panel, batch).collect()
      .map(r => (r.getLong(0), Option(r.get(3)))).toMap
    // (1, 01-01) displaces the revision winner 101.0; key 9 is an insert (None)
    assert(out === Map(1L -> Some(101.0), 9L -> None))
  }

  test("delete_returning yields the live value per deleted key, nothing for absent keys — mem.rs delete -> Option<old>") {
    val keys = Seq((1L, "2024-01-01"), (3L, "2024-01-02"), (8L, "2024-03-01"))
      .map { case (a, dt) => (a, d(dt)) }.toDF("asset_id", "date")
    val out = KeyValue.deleteReturning(panel, keys).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.toSeq === Seq((1L, 101.0), (3L, 300.0))) // key 8 absent -> no row
  }
}
