package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bitemporal as-of (point-in-time) operators.
  *
  * Re-expresses the reference's core query (reference:
  * src/btree/file.rs:425-571, `BTree::query` + `QueryResultIterator`):
  * for `(asset_id, start_date..end_date, as_of)` yield, per effective
  * date, the single value whose knowledge timestamp is the largest one
  * ≤ `as_of`. The reference walks B-tree leaves backwards, skipping
  * revisions newer than `as_of` and duplicate dates; Spark-native is a
  * key-range + `ts ≤ as_of` filter pushed into the scan, then
  * `row_number() = 1` over `(asset, date)` ordered by `(ts, seq)` desc.
  *
  * Scale notes (100 TB): the filters are all deterministic predicates on
  * scan columns → parquet row-group pruning + predicate pushdown do the
  * B-tree's job.
  *   - Single-key reads ([[asOfRange]], [[KeyValue.pointLookup]]) run as
  *     ONE exchange-free stage: the pruned scan is coalesced to a single
  *     partition, which already satisfies the window's clustering and
  *     the presentation sort's ordering, so the plan has no shuffle and
  *     no range-sampling job — one job, one task. That task's input is
  *     bounded by (days in range) × (revision depth) rows plus the
  *     footers of the touched months: the reference's single sequential
  *     leaf walk. Precondition: the asset and date predicates push into
  *     the scan, as they do on TickStore (month PartitionFilters +
  *     PushedFilters), the findb connector and the parquet panels. Over
  *     a source that cannot prune, that one task would read it whole.
  *   - Whole-panel reads ([[asOfSnapshot]], the LWW family) shuffle on
  *     `(asset_id, date)`, the panel's natural key, exactly once; AQE
  *     coalesces the post-shuffle partitions.
  *   - For the bulk variant the query set is always tiny relative to the
  *     panel → broadcast it, never shuffle the panel by query id.
  */
object AsOf {

  private def latestPerKey(df: DataFrame, partCols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(partCols.map(col): _*)
      .orderBy(col("ts").desc, col("seq").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** A1 `asof_point` — single-asset date-range as-of query.
    * Mirrors reference src/btree/file.rs:425 `BTree::query`.
    *
    * The key filter sits directly on the scan (pushdown, month pruning);
    * `coalesce(1)` above it makes the rank and the sort single-partition,
    * so the read plans no exchange (see the scale notes above).
    */
  def asOfRange(panel: DataFrame, assetId: Long, startDate: String, endDate: String, asOf: String): DataFrame = {
    val filtered = panel.filter(
      col("asset_id") === assetId &&
        col("date").between(lit(startDate).cast("date"), lit(endDate).cast("date")) &&
        col("ts") <= lit(asOf).cast("timestamp"))
      .coalesce(1)
    latestPerKey(filtered, Seq("asset_id", "date"))
      .select(col("asset_id"), col("date"), col("ts"), col("value"))
      .orderBy(col("date").desc)
  }

  /** A2 `asof_bulk` — N query rows against the panel at once.
    * The reference stubbed this (src/btree/file.rs:466 `bulk_query`); the
    * cluster-native shape is panel ⨝ broadcast(queries) on the range
    * predicate, then as-of rank per (query_id, date).
    *
    * `queries` schema: (query_id, q_asset_id, start_date: date,
    * end_date: date, asof_ts: timestamp).
    */
  def asOfBulk(panel: DataFrame, queries: DataFrame): DataFrame = {
    val joined = panel.join(
      broadcast(queries),
      panel("asset_id") === queries("q_asset_id") &&
        panel("date").between(queries("start_date"), queries("end_date")) &&
        panel("ts") <= queries("asof_ts"))
    val w = Window
      .partitionBy(col("query_id"), col("date"))
      .orderBy(col("ts").desc, col("seq").desc)
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("asset_id"), col("date"), col("ts"), col("value"))
      .orderBy(col("query_id"), col("date").desc)
  }

  /** A2b `asof_bulk_pruned` — [[asOfBulk]] with SCAN-PUSHED bounds
    * derived from the query set: the bulk-query side is tiny by
    * definition (it broadcasts), so one driver-side collect of its
    * envelope — distinct asset ids, max as-of ts — yields predicates the
    * parquet reader can prune row groups with. Without this the panel
    * scan reads the WHOLE store (the range-join condition references
    * broadcast-side columns, so nothing is pushable); with it, I/O is
    * bounded by the queried assets' row groups — at 100 TB the
    * difference between a full-store read and a key-range read. The
    * simplest form of runtime filtering (Spark's InjectRuntimeFilter
    * only covers equi-joins), and semantically invisible: the driver
    * oracle for this query is the PLAIN asof_bulk SQL.
    */
  def asOfBulkPruned(panel: DataFrame, queries: DataFrame): DataFrame = {
    val env = queries.agg(
      collect_set(col("q_asset_id")).as("assets"),
      max(col("asof_ts")).as("max_asof"),
      min(col("start_date")).as("min_start"),
      max(col("end_date")).as("max_end")).head()
    val assets = env.getSeq[Long](0)
    val pruned = panel.filter(
      col("asset_id").isin(assets: _*) &&
        col("ts") <= env.getTimestamp(1) &&
        col("date").between(env.getDate(2), env.getDate(3)))
    asOfBulk(pruned, queries)
  }

  /** A8 `asof_join` — enrich each `left` row with the latest `right`
    * value for the same key strictly before the left row's timestamp.
    *
    * Generalizes the reference's as-of semantics (src/btree/file.rs:425)
    * to two tables. Implemented with the union+last_value trick rather
    * than a range join: tag right rows 0 / left rows 1, sort within key
    * by (ts, side, seq), carry `last(value ignoring nulls)` forward, keep
    * left rows. One shuffle on the join key, no O(left × right)
    * intermediate — this is what survives skewed keys at 100 TB, where a
    * per-row range join would not.
    *
    * `left`: (key, ts, seq, leftCols…); `right`: (key, ts, seq, rvalue).
    * Strict `<`: a right row at exactly the left ts is NOT visible
    * (left rows sort before right rows on ties).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, leftCols: Seq[String]): DataFrame = {
    val l = left.select(
      (Seq(col(key), col("ts"), col("seq"), lit(1).as("_side"), lit(null).cast("double").as("_rv")) ++
        leftCols.map(col)): _*)
    val r = right.select(
      (Seq(col(key), col("ts"), col("seq"), lit(0).as("_side"), col("rvalue").as("_rv")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    // Strict '<': left(_side=1) sorts before right(_side=0)?  No — rows
    // visible to a left row are those EARLIER in sort order. For strict
    // inequality a right row with equal ts must sort AFTER the left row,
    // so order ties as (left=1) < (right=0) via `_side` descending.
    val w = Window
      .partitionBy(col(key))
      .orderBy(col("ts").asc, col("_side").desc, col("seq").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("asof_value", last(col("_rv"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .drop("_side", "_rv")
  }

  /** A8h `asof_join_skew` — [[asOfJoin]] hardened for HOT KEYS, the
    * realistic skew axis of a 100 TB panel (one index/benchmark asset
    * carrying orders of magnitude more ticks than the median). The
    * union-sort plan shuffles on the key alone, so a hot key's entire
    * series lands on ONE reducer — and AQE's skew splitting only covers
    * sort-merge joins, never window partitions. Random salting cannot
    * fix an as-of (a left row must see ALL earlier right rows of its
    * key); the scalable decomposition is TIME-SLICED two-phase:
    *
    *  1. slice the timeline into `slices` contiguous OCCUPANCY-BALANCED
    *     intervals — cut points are the approximate ts quantiles of the
    *     union (one cheap agg; `percentile_approx` is a distributed
    *     KLL-style sketch), so each slice carries ~1/`slices` of the
    *     ROWS even when a hot key's ticks cluster in a narrow window
    *     (an index asset on a volatile day — where a uniform [lo, hi]
    *     split would put the whole burst back on one reducer). Shuffle
    *     on (key, slice); the within-slice window computes each left
    *     row's as-of among same-slice rights. The slice rule depends
    *     only on the ts VALUE (count of cut points strictly below), so
    *     tie semantics are identical to [[asOfJoin]]: equal-ts rows
    *     always share a slice;
    *  2. per (key, slice) carry-outs — the last right value of each
    *     slice — form a table of at most keys×slices rows; a tiny
    *     window over it yields each slice's carry-in (latest carry-out
    *     of any earlier slice), joined back on (key, slice) — the big
    *     side is already partitioned that way, so only the carry table
    *     shuffles. A left row with no same-slice right match takes the
    *     carry-in.
    *
    * Semantically invisible: the driver oracle is the PLAIN asof_join
    * SQL, and the spec proves equality with [[asOfJoin]] on a
    * deliberately Zipf-skewed panel.
    */
  /** Occupancy-balanced slice cut points for [[asOfJoinSkewSafe]]:
    * the distinct approximate row-count quantiles (i/`slices`,
    * 0 < i < `slices`) of `ts` micros over the union `u` — one
    * distributed sketch agg, no sort. `None` on empty input (caller
    * falls back to the plain join). Package-visible so the spec can
    * probe per-slice occupancy with the operator's own cuts.
    */
  private[graft] def sliceCuts(u: DataFrame, slices: Int): Option[Seq[Long]] = {
    val tsm = unix_micros(col("ts"))
    val probs = (1 until slices).map(_.toDouble / slices)
    val aggs = min(tsm).as("lo") +: (if (probs.nonEmpty)
      Seq(percentile_approx(tsm, array(probs.map(lit): _*), lit(10000)).as("qs"))
    else Seq.empty)
    val bounds = u.agg(aggs.head, aggs.tail: _*).head()
    if (bounds.isNullAt(0)) None
    else Some(
      if (probs.nonEmpty) bounds.getSeq[Long](1).distinct.sorted else Seq.empty)
  }

  def asOfJoinSkewSafe(left: DataFrame, right: DataFrame, key: String,
                       leftCols: Seq[String], slices: Int = 8): DataFrame = {
    val l = left.select(
      (Seq(col(key), col("ts"), col("seq"), lit(1).as("_side"), lit(null).cast("double").as("_rv")) ++
        leftCols.map(col)): _*)
    val r = right.select(
      (Seq(col(key), col("ts"), col("seq"), lit(0).as("_side"), col("rvalue").as("_rv")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val u = l.unionByName(r)
    val cuts = sliceCuts(u, slices) match {
      case None    => return asOfJoin(left, right, key, leftCols) // empty input
      case Some(c) => c
    }
    // Slice = #cuts strictly below ts — a pure function of the ts
    // value, so equal-ts rows share a slice and the slice index is
    // monotone in ts (the carry recursion's invariant).
    val tsm = unix_micros(col("ts"))
    val sliceCol = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(tsm > lit(c), lit(1)).otherwise(lit(0))
    }
    val sliced = u.withColumn("_slice", sliceCol.cast("int"))
    // within-slice backward as-of, the asOfJoin tie order (strict '<':
    // left rows sort before equal-ts right rows)
    val w1 = Window
      .partitionBy(col(key), col("_slice"))
      .orderBy(col("ts").asc, col("_side").desc, col("seq").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = sliced.withColumn("_local", last(col("_rv"), ignoreNulls = true).over(w1))
    // carry-outs: last right value per (key, slice) — max by (ts, seq)
    val carries = sliced.filter(col("_side") === 0)
      .groupBy(col(key), col("_slice"))
      .agg(max(struct(col("ts"), col("seq"), col("_rv"))).as("_m"))
      .select(col(key), col("_slice"), col("_m._rv").as("_cout"))
    // carry-in per OCCUPIED (key, slice): latest earlier carry-out.
    // Built over the slice set that actually occurs (a right-empty
    // slice contributes a null carry-out and still inherits).
    val wc = Window.partitionBy(col(key)).orderBy(col("_slice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryIn = sliced.select(col(key), col("_slice")).distinct()
      .join(carries, Seq(key, "_slice"), "left")
      .withColumn("_cin", last(col("_cout"), ignoreNulls = true).over(wc))
      .select(col(key), col("_slice"), col("_cin"))
    within
      .join(carryIn, Seq(key, "_slice"), "left")
      .filter(col("_side") === 1)
      .withColumn("asof_value", coalesce(col("_local"), col("_cin")))
      .drop("_side", "_rv", "_slice", "_local", "_cin")
  }

  /** A8g `asof_join_inclusive` — backward as-of with exact matches
    * allowed (pandas `merge_asof`'s DEFAULT `allow_exact_matches=True`,
    * and the reference's own point-query bound `ts ≤ asof`,
    * file.rs:425): the latest right row at-or-before each left ts.
    * Identical union-sort plan to [[asOfJoin]]; only the tie order
    * flips — an equal-ts right row sorts BEFORE the left row and so
    * becomes visible to its backward frame. Among equal-ts right rows
    * the highest seq wins, consistent with the strict variant.
    */
  def asOfJoinInclusive(left: DataFrame, right: DataFrame, key: String,
                        leftCols: Seq[String]): DataFrame = {
    val l = left.select(
      (Seq(col(key), col("ts"), col("seq"), lit(1).as("_side"), lit(null).cast("double").as("_rv")) ++
        leftCols.map(col)): _*)
    val r = right.select(
      (Seq(col(key), col("ts"), col("seq"), lit(0).as("_side"), col("rvalue").as("_rv")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val w = Window
      .partitionBy(col(key))
      .orderBy(col("ts").asc, col("_side").asc, col("seq").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("asof_value", last(col("_rv"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .drop("_side", "_rv")
  }

  /** A8e `asof_join_forward` — forward as-of join (pandas
    * `merge_asof(direction='forward')`): each left row takes the value
    * of the EARLIEST strictly-later right row. Mirror of [[asOfJoin]]
    * with the frame reversed: same union-sort, same single shuffle on
    * the key; tie order flips to (right before left) so an equal-ts
    * right row stays invisible — strict `>`, symmetric with backward's
    * strict `<`. Among equal-ts right rows the lowest seq wins (first
    * in insert order — the mirror of backward's last-in-insert-order).
    */
  def asOfJoinForward(left: DataFrame, right: DataFrame, key: String,
                      leftCols: Seq[String]): DataFrame = {
    val l = left.select(
      (Seq(col(key), col("ts"), col("seq"), lit(1).as("_side"), lit(null).cast("double").as("_rv")) ++
        leftCols.map(col)): _*)
    val r = right.select(
      (Seq(col(key), col("ts"), col("seq"), lit(0).as("_side"), col("rvalue").as("_rv")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    // Strict '>': an equal-ts right row must sort BEFORE the left row
    // (outside its following frame) → ties order (right=0) < (left=1).
    val w = Window
      .partitionBy(col(key))
      .orderBy(col("ts").asc, col("_side").asc, col("seq").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    l.unionByName(r)
      .withColumn("asof_value", first(col("_rv"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .drop("_side", "_rv")
  }

  /** A8f `asof_join_nearest` — nearest as-of join (pandas
    * `merge_asof(direction='nearest')`): each left row takes whichever
    * of its strictly-earlier (backward) and strictly-later (forward)
    * matches is closer in event time; equal gaps resolve BACKWARD (the
    * "known at time t" conservative choice — documented, since pandas
    * leaves the tie unspecified across versions). `asof_dir` reports
    * which side supplied the value (null when neither exists).
    *
    * Scale shape: ONE shuffle on the key feeding two in-partition
    * sorts (the backward and forward passes need opposite tie orders);
    * both window passes carry the matched timestamp from the same row
    * as the value, so the gap comparison always measures the row the
    * value came from.
    */
  def asOfJoinNearest(left: DataFrame, right: DataFrame, key: String,
                      leftCols: Seq[String]): DataFrame = {
    val l = left.select(
      (Seq(col(key), col("ts"), col("seq"), lit(1).as("_side"),
        lit(null).cast("double").as("_rv"),
        lit(null).cast("timestamp").as("_rts")) ++
        leftCols.map(col)): _*)
    val r = right.select(
      (Seq(col(key), col("ts"), col("seq"), lit(0).as("_side"),
        col("rvalue").as("_rv"),
        when(col("rvalue").isNotNull, col("ts")).as("_rts")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val wb = Window.partitionBy(col(key))
      .orderBy(col("ts").asc, col("_side").desc, col("seq").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col(key))
      .orderBy(col("ts").asc, col("_side").asc, col("seq").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val gapB = unix_micros(col("ts")) - unix_micros(col("_bts"))
    val gapF = unix_micros(col("_fts")) - unix_micros(col("ts"))
    l.unionByName(r)
      .withColumn("_bv", last(col("_rv"), ignoreNulls = true).over(wb))
      .withColumn("_bts", last(col("_rts"), ignoreNulls = true).over(wb))
      .withColumn("_fv", first(col("_rv"), ignoreNulls = true).over(wf))
      .withColumn("_fts", first(col("_rts"), ignoreNulls = true).over(wf))
      .filter(col("_side") === 1)
      .withColumn("asof_value",
        when(col("_bts").isNotNull && (col("_fts").isNull || gapB <= gapF), col("_bv"))
          .otherwise(col("_fv")))
      .withColumn("asof_dir",
        when(col("_bts").isNotNull && (col("_fts").isNull || gapB <= gapF), lit("backward"))
          .when(col("_fts").isNotNull, lit("forward")))
      .drop("_side", "_rv", "_rts", "_bv", "_bts", "_fv", "_fts")
  }

  /** A8d `asof_join_tolerance` — as-of join with a max-lookback bound
    * (pandas `merge_asof(tolerance=…)`, kdb `wj` within a window): the
    * latest strictly-earlier right row is used ONLY if it is at most
    * `maxLagSec` old; staler matches yield NULL, exactly like no match.
    *
    * Scale shape: IDENTICAL to [[asOfJoin]] — the union-sort trick with
    * one extra carried column (the matched ts) and a post-window lag
    * predicate. Tolerance costs ZERO extra shuffles or joins; a naive
    * formulation (range join + per-row argmax) would pay a second
    * shuffle and a quadratic candidate set on hot keys.
    */
  def asOfJoinTolerance(left: DataFrame, right: DataFrame, key: String,
                        leftCols: Seq[String], maxLagSec: Long): DataFrame = {
    val l = left.select(
      (Seq(col(key), col("ts"), col("seq"), lit(1).as("_side"),
        lit(null).cast("double").as("_rv"),
        lit(null).cast("timestamp").as("_rts")) ++
        leftCols.map(col)): _*)
    val r = right.select(
      (Seq(col(key), col("ts"), col("seq"), lit(0).as("_side"),
        col("rvalue").as("_rv"),
        // null exactly when rvalue is null: the ignoreNulls window picks
        // value and its timestamp from the SAME right row, so the lag
        // check always measures the row the value came from
        when(col("rvalue").isNotNull, col("ts")).as("_rts")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val w = Window
      .partitionBy(col(key))
      .orderBy(col("ts").asc, col("_side").desc, col("seq").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("_av", last(col("_rv"), ignoreNulls = true).over(w))
      .withColumn("_ats", last(col("_rts"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .withColumn("asof_value",
        when(unix_micros(col("ts")) - unix_micros(col("_ats")) <= maxLagSec * 1000000L,
          col("_av")))
      .drop("_side", "_rv", "_rts", "_av", "_ats")
  }

  /** A13 `asof_snapshot` — the full point-in-time cross-section: every
    * (asset, date)'s value as it was KNOWN at `asOf`. Revisions after
    * `asOf` are invisible; keys first observed after `asOf` are absent —
    * the reference's query semantics (src/btree/file.rs:425) applied to
    * the whole panel instead of one asset range. The `ts ≤ asOf` filter
    * pushes into the scan (at rest on TickStore, row-group stats prune
    * it); one shuffle on the natural key.
    */
  def asOfSnapshot(panel: DataFrame, asOf: String): DataFrame = {
    val filtered = panel.filter(col("ts") <= lit(asOf).cast("timestamp"))
    latestPerKey(filtered, Seq("asset_id", "date"))
      .select(col("asset_id"), col("date"), col("ts"), col("value"))
      .orderBy(col("asset_id"), col("date"))
  }

  /** A15 `revision_stats` — knowledge-time churn profile per asset:
    * how many (asset, date) keys exist, how many were revised, total
    * extra revisions, the worst key, and the summed first→last
    * revision span. Everything integer-derived (counts + µs integer
    * spans / 1e6) → exact in any engine. The vendor-data QA view of
    * the bitemporal panel (which feeds revise often? how late?).
    */
  def revisionStats(panel: DataFrame): DataFrame =
    panel
      .groupBy(col("asset_id"), col("date"))
      .agg(count(lit(1)).as("n_rev"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .groupBy(col("asset_id"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(when(col("n_rev") > 1, 1L).otherwise(0L)).as("n_revised_keys"),
        (sum(col("n_rev")) - count(lit(1))).as("n_extra_revisions"),
        max(col("n_rev")).as("max_revisions"),
        (sum(col("last_us") - col("first_us")).cast("double") / lit(1e6)).as("total_span_s"))
      .orderBy(col("asset_id"))

  /** A14 `revision_diff` — bitemporal audit between two knowledge
    * times: for each (asset, date), the value known at `t1` vs at `t2`
    * (t1 < t2), keeping only keys that APPEARED (no revision ≤ t1) or
    * were REVISED (value changed) in between — "what did the vendor
    * restate this week?".
    *
    * Single aggregation, no self-join: both cutoffs reduce in one pass
    * via `max(struct(ts, seq, value))` — lexicographic struct max picks
    * the max-(ts,seq) revision and carries its value, which IS the LWW
    * winner (equivalent to the rank-1 window but map-side combinable).
    */
  def revisionDiff(panel: DataFrame, t1: String, t2: String): DataFrame =
    panel.filter(col("ts") <= lit(t2).cast("timestamp"))
      .groupBy(col("asset_id"), col("date"))
      .agg(
        max(when(col("ts") <= lit(t1).cast("timestamp"),
          struct(col("ts"), col("seq"), col("value")))).getField("value").as("value_t1"),
        max(struct(col("ts"), col("seq"), col("value"))).getField("value").as("value_t2"))
      .filter(col("value_t1").isNull || col("value_t1") =!= col("value_t2"))
      .withColumn("change_type", when(col("value_t1").isNull, "added").otherwise("revised"))
      .orderBy(col("asset_id"), col("date"))

  /** B38 `interval_join` — banded point-in-interval temporal join: for
    * each order, every PRIOR order by the same customer placed 1..`windowDays`
    * days earlier (the repeat-purchase window). The general shape — "match
    * each point to intervals it falls inside, keyed" — is what tick
    * enrichment, trade/quote banding, and campaign attribution all reduce
    * to, and is the one temporal join Spark has no native operator for.
    *
    * Scale path: the naive `BETWEEN` predicate is an inequality join —
    * Catalyst plans a broadcast-nested-loop (or a sort-merge with a full
    * per-key cross product), both quadratic in the hot key. Instead both
    * sides are bucketed into `windowDays`-wide epoch-day buckets; an
    * interval of length `windowDays` overlaps AT MOST 2 such buckets, so
    * the interval side is replicated ≤2× into `(bucket, bucket+1)` and the
    * join becomes an EQUALITY join on `(custkey, bucket)` plus a residual
    * range filter — hash-partitionable, AQE-skew-splittable, and the
    * replication factor is a constant 2 independent of data size. Each
    * candidate pair meets in exactly one bucket (the point's own), so no
    * post-join dedup is needed.
    */
  def intervalJoin(orders: DataFrame, windowDays: Int = 30): DataFrame = {
    val base = orders.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val pts = base
      .withColumn("bucket", expr(s"datediff(o_orderdate, DATE '1970-01-01') div $windowDays"))
    val iv = base
      .select(col("o_custkey"), col("o_orderkey").as("prev_orderkey"),
        col("o_orderdate").as("prev_orderdate"))
      .withColumn("b0", expr(s"datediff(prev_orderdate, DATE '1970-01-01') div $windowDays"))
      .withColumn("bucket", explode(array(col("b0"), col("b0") + 1)))
      .drop("b0")
    pts.join(iv, Seq("o_custkey", "bucket"))
      .withColumn("days_between", datediff(col("o_orderdate"), col("prev_orderdate")).cast("long"))
      .filter(col("days_between").between(1, windowDays))
      .select(col("o_custkey"), col("o_orderkey"), col("prev_orderkey"),
        col("o_orderdate"), col("prev_orderdate"), col("days_between"))
      .orderBy(col("o_orderkey"), col("prev_orderkey"))
  }
}
