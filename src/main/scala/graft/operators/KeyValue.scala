package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-KV operators over the composite panel key — the Spark
  * re-expression of the reference's generic B-tree surface
  * (reference: src/btree/mem.rs: `lookup` :387, `lookup_range` :395,
  * `insert` :406, `update` :433, `delete` :439).
  *
  * A B-tree exists to make these cheap on one machine; at 100 TB the
  * equivalents are storage layout + pruning (see
  * [[graft.sources.TickStore]]) and the operators below compile to
  * pruned scans / one keyed shuffle — no tree, no driver-side loop.
  */
object KeyValue {

  /** A3 `point_lookup` — exact composite-key lookup, returning the
    * current (latest-knowledge) value for (asset, date).
    * Reference: src/btree/mem.rs:387 `lookup`. Predicates push to the
    * parquet scan (PushedFilters; on a TickStore also the key's month as
    * PartitionFilters) → at scale this reads one month directory and the
    * row groups whose min/max straddle the key. The filtered rows (the
    * key's revisions) are coalesced to one partition, so the rank runs
    * in the scan's own stage: one job, one task, no exchange — the
    * single-key case of [[AsOf.asOfRange]]'s plan.
    */
  def pointLookup(panel: DataFrame, assetId: Long, date: String): DataFrame = {
    val filtered = panel.filter(col("asset_id") === assetId && col("date") === lit(date).cast("date"))
      .coalesce(1)
    val w = Window.partitionBy(col("asset_id"), col("date")).orderBy(col("ts").desc, col("seq").desc)
    filtered.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("asset_id"), col("date"), col("ts"), col("value"))
  }

  /** A4 `range_scan` — inclusive lexicographic composite-key range scan,
    * `(fromAsset, fromDate) ≤ (asset, date) ≤ (toAsset, toDate)`, in key
    * order. Reference: src/btree/mem.rs:395 `lookup_range` (leaf-chain
    * walk). The compound predicate decomposes into per-column
    * conjunctions Catalyst can push; global key order comes from a
    * range-partitioned sort (`orderBy`), Spark's distributed analog of
    * the linked-leaf traversal.
    */
  def rangeScan(panel: DataFrame, fromAsset: Long, fromDate: String, toAsset: Long, toDate: String): DataFrame = {
    val lo = col("asset_id") > fromAsset ||
      (col("asset_id") === fromAsset && col("date") >= lit(fromDate).cast("date"))
    val hi = col("asset_id") < toAsset ||
      (col("asset_id") === toAsset && col("date") <= lit(toDate).cast("date"))
    // The composite-key bounds are OR-of-AND — Catalyst does not infer
    // implied single-column predicates from that shape, so nothing
    // reaches the scan as PushedFilters. Add the (redundant, implied)
    // asset bound explicitly: it pushes into the parquet reader and
    // prunes row groups by the sort key's min/max — the leaf-level
    // B-tree descent analog, and the difference between reading the
    // asset range and reading the whole store at 100 TB.
    val pushable = col("asset_id").between(fromAsset, toAsset)
    panel.filter(pushable && lo && hi)
      .select(col("asset_id"), col("date"), col("ts"), col("value"), col("seq"))
      .orderBy(col("asset_id"), col("date"), col("ts"), col("seq"))
  }

  /** A5 `upsert_lww` — last-write-wins compaction: the materialized
    * effect of the reference's `insert`/`update` (src/btree/mem.rs:406,
    * :433) under the bitemporal model, where an update IS an insert with
    * a newer knowledge ts. One row per (asset, date): the latest
    * revision. Single shuffle on the natural key.
    */
  def upsertLww(panel: DataFrame): DataFrame =
    lwwDaily(panel).orderBy(col("asset_id"), col("date"))

  /** [[upsertLww]] without the presentation sort — the composable form.
    * Downstream operators (returns, gap-fill, drawdown, monthly bars)
    * add their own windows/aggregates; a global orderBy here would
    * inject a useless rangepartitioning exchange into every consumer's
    * plan.
    */
  def lwwDaily(panel: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("asset_id"), col("date")).orderBy(col("ts").desc, col("seq").desc)
    panel.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("asset_id"), col("date"), col("ts"), col("value"))
  }

  /** A6 `delete_keys` — key-set deletion as a broadcast anti-join.
    * Reference: src/btree/mem.rs:439 `delete` (with node merging — a
    * storage concern with no Spark analog; deletion is logical).
    * `keys`: (asset_id, date). The delete set is always small relative
    * to the panel → broadcast side.
    */
  def deleteKeys(panel: DataFrame, keys: DataFrame): DataFrame =
    panel.join(broadcast(keys), Seq("asset_id", "date"), "left_anti")
      .select(col("asset_id"), col("date"), col("ts"), col("value"), col("seq"))
      .orderBy(col("asset_id"), col("date"), col("ts"), col("seq"))

  /** A5b `upsert_returning` — the mutate-and-return face of update
    * (reference src/btree/mem.rs:433 `update` returns `Option<old>`):
    * for each batch key, the value it displaces — the LWW-current
    * revision — or NULL when the key is new (update's `None`, i.e. a
    * plain insert). The panel itself is immutable under the bitemporal
    * model; this is the audit stream an updater consumes.
    *
    * Scale shape: the batch's key set broadcasts as a semi-join filter
    * BEFORE the LWW window, so the panel scan prunes to the touched
    * keys and the window runs over a batch-sized remnant — never a
    * full-panel shuffle. `batch`: (asset_id, date, new_value).
    */
  def upsertReturning(panel: DataFrame, batch: DataFrame): DataFrame = {
    val keys = batch.select(col("asset_id"), col("date"))
    val current = lwwDaily(panel.join(broadcast(keys), Seq("asset_id", "date"), "left_semi"))
      .select(col("asset_id"), col("date"), col("value").as("old_value"))
    batch.join(current, Seq("asset_id", "date"), "left")
      .select(col("asset_id"), col("date"), col("new_value"), col("old_value"))
      .orderBy(col("asset_id"), col("date"))
  }

  /** A6b `delete_returning` — mem.rs:439 `delete` returns `Option<old>`:
    * the LWW-current value of every deleted key at deletion time (keys
    * absent from the panel return nothing, delete's `None`). Same
    * pruned-scan shape as [[upsertReturning]].
    */
  def deleteReturning(panel: DataFrame, keys: DataFrame): DataFrame =
    lwwDaily(panel.join(broadcast(keys), Seq("asset_id", "date"), "left_semi"))
      .select(col("asset_id"), col("date"), col("value").as("old_value"))
      .orderBy(col("asset_id"), col("date"))

  /** A11 `insert_strict` — batch insert that REJECTS rows whose
    * composite key already exists (reference src/btree/mem.rs:92-99
    * `InsertResult::Duplicate`): anti-join the batch against existing
    * keys, union the survivors. Returns the new panel; duplicates are
    * silently dropped exactly as `insert` returns `Duplicate` without
    * mutating.
    */
  def insertStrict(panel: DataFrame, batch: DataFrame): DataFrame = {
    val newRows = batch.join(
      panel.select(col("asset_id"), col("date"), col("ts")).distinct(),
      Seq("asset_id", "date", "ts"), "left_anti")
    panel.unionByName(newRows)
  }

  /** A7 `ingest_convert` — the reference's ingestion transform
    * (scripts/convert-datetimes.py + convert-csv.sh): ISO dates →
    * `yyyymmdd` ints, ISO timestamps → epoch seconds, then key-sort.
    * Pure per-row projection → narrow, codegen'd, no shuffle until the
    * final sort (which at scale is the TickStore bulk-load sort,
    * reference src/btree/file.rs:296 `write_from_iterator`).
    */
  def ingestConvert(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      col("user_id").as("asset_id"),
      date_format(col("ts"), "yyyyMMdd").cast("int").as("date_int"),
      unix_timestamp(col("ts")).as("epoch_s"),
      col("value"))
      .orderBy(col("event_id"))
}
