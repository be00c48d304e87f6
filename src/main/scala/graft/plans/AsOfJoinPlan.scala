package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, TimestampType}

/** Whole-operator as-of join (SURVEY.md §4 path (c)): custom logical
  * node + planner strategy + one-pass merge physical operator.
  *
  * Semantics (the reference's point-in-time rule, src/btree/file.rs:425,
  * generalized to two tables): for every left row, attach the `rvalue`
  * of the latest right row with the same key and `right.ts <
  * left.ts` (strict; `≤` when `inclusive`), NULL if none. Among
  * equal-ts right rows the max-seq one wins. Executed as a single merge
  * pass over the two key-clustered, (key, ts)-sorted children — no
  * union materialization, no window buffering: O(1) state per key,
  * streaming through both sides exactly once. This is the merge the
  * reference's backward leaf-walk corresponds to, expressed as a Spark
  * physical operator with proper required distribution / ordering so
  * EnsureRequirements plans the shuffles and sorts (and can elide them
  * when the child layout already satisfies them, e.g. TickStore reads).
  *
  * Contract (checked by [[AsOfJoinNative]]): `left` has columns
  * (key: long, ts: timestamp, …); `right` has (key: long, ts:
  * timestamp, seq, rvalue: double). Output = left columns ++
  * `asof_value: double`. Nulls follow the equi-join rule: a right row
  * whose key or ts is null is never visible, a left row whose key or ts
  * is null gets NULL, and a right row whose rvalue is null is skipped.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    keyName: String,
    // at-or-before instead of strictly-before (the pandas
    // allow_exact_matches=True bound — the reference's own `ts ≤ asof`)
    inclusive: Boolean = false,
    // constructor parameter (not a val): tree transforms call copy(),
    // which must PRESERVE the output attribute's exprId — a fresh
    // AttributeReference per copy breaks parent references.
    asofAttr: AttributeReference = AttributeReference("asof_value", DoubleType, nullable = true)())
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output :+ asofAttr

  /** The operator itself consumes key/ts on both sides, rvalue and the
    * right-side tie-breaker `seq` — declared so ColumnPruning keeps them
    * when the parent only asks for pass-through columns (other left
    * columns remain prunable).
    */
  override def references: AttributeSet = AttributeSet(
    (left.output ++ right.output).filter(a => a.name == keyName || Seq("ts", "seq", "rvalue").contains(a.name)))

  override protected def withNewChildrenInternal(newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(planLater(p.left), planLater(p.right), p.keyName, p.inclusive, p.asofAttr) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    keyName: String,
    inclusive: Boolean,
    asofAttr: AttributeReference) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ asofAttr

  private def attr(side: SparkPlan, name: String): Attribute =
    side.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"column $name missing in ${side.output.map(_.name)}"))

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(attr(left, keyName))),
    ClusteredDistribution(Seq(attr(right, keyName))))

  // right-side tie-break: ascending (key, ts, seq) + overwrite-on-consume
  // makes the max-(ts, seq) revision win deterministically
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(keyName, "ts").map(c => SortOrder(attr(left, c), Ascending)),
    Seq(keyName, "ts", "seq").map(c => SortOrder(attr(right, c), Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyIdx = left.output.indexWhere(_.name == keyName)
    val lTsIdx = left.output.indexWhere(_.name == "ts")
    val rKeyIdx = right.output.indexWhere(_.name == keyName)
    val rTsIdx = right.output.indexWhere(_.name == "ts")
    val rValIdx = right.output.indexWhere(_.name == "rvalue")
    val outputAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // extract primitives eagerly: sorter iterators reuse row objects.
      // A null key or ts would read as 0 and break the sort order the
      // merge relies on; such right rows can never match, so drop them
      val rPrim = rIter.filter(r => !r.isNullAt(rKeyIdx) && !r.isNullAt(rTsIdx)).map { r =>
        (r.getLong(rKeyIdx), r.getLong(rTsIdx), r.isNullAt(rValIdx), r.getDouble(rValIdx))
      }.buffered

      val proj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val joined = new JoinedRow
      val valRow = new GenericInternalRow(1)
      var curKey = 0L
      var haveKey = false
      var lastVal: Any = null

      lIter.map { lrow =>
        // a left row with a null key or ts matches nothing and leaves
        // the merge state untouched
        if (lrow.isNullAt(lKeyIdx) || lrow.isNullAt(lTsIdx)) valRow.update(0, null)
        else {
          val lKey = lrow.getLong(lKeyIdx)
          val lTs = lrow.getLong(lTsIdx)
          if (!haveKey || curKey != lKey) { curKey = lKey; haveKey = true; lastVal = null }
          while (rPrim.hasNext && {
            val h = rPrim.head
            // inclusive: equal-ts right rows are consumed BEFORE the left
            // row emits, so the at-or-before winner (max seq among them)
            // is visible — the one-line difference between `<` and `≤`
            h._1 < lKey || (h._1 == lKey &&
              (h._2 < lTs || (inclusive && h._2 == lTs)))
          }) {
            val h = rPrim.next()
            if (h._1 == lKey && !h._3) lastVal = java.lang.Double.valueOf(h._4)
          }
          valRow.update(0, lastVal)
        }
        proj(joined(lrow, valRow))
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinNative {

  /** Register the strategy once per session (idempotent) and build the
    * joined DataFrame from the custom logical node. Throws
    * IllegalArgumentException unless the key is `long`, `ts` is
    * `timestamp` on both sides and the right side has `seq` and a
    * `double` `rvalue`: the merge reads these as raw primitives, so any
    * other type would be misread, not converted.
    */
  def apply(left: DataFrame, right: DataFrame, key: String, inclusive: Boolean = false): DataFrame = {
    def typed(df: DataFrame, c: String, t: DataType): Unit = {
      val got = df.schema(c).dataType
      require(got == t, s"as-of join: column $c must be ${t.simpleString}, got ${got.simpleString}")
    }
    Seq(left, right).foreach { df => typed(df, key, LongType); typed(df, "ts", TimestampType) }
    typed(right, "rvalue", DoubleType)
    require(right.columns.contains("seq"), "as-of join: right side needs the seq tie-breaker")
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
    val plan = AsOfJoinPlan(left.queryExecution.analyzed, right.queryExecution.analyzed, key, inclusive)
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark, plan)
  }
}
