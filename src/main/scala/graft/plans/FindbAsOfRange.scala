package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.findb.{FindbBTree, FindbTable}

/** A single-asset as-of range read over a findb panel, answered on the
  * driver: one B-tree descent per store plus a walk of the asset's
  * leaves (reference `BTree::query`, file.rs:425-571), no Spark job.
  *
  * Built by [[FindbAsOfRange.route]] from `AsOf.asOfRange`'s filtered
  * panel `Filter(cond, Project(list, findb relation))`. It carries:
  *  - `list`: the panel's projection, bound to the store's decoded row
  *    (asset_id, date, timestamp, value[, pri]);
  *  - `cond`: the as-of filter, bound to the projected row;
  *  - ordinals into the projected row for date, ts, seq and the four
  *    output columns (asset_id, date, ts, value);
  *  - the relation's path list, its `withPriority` flag and the asset.
  *
  * [[read]] decodes the asset's rows of every listed store, evaluates
  * `list` and `cond` with interpreted expressions (Spark's own cast and
  * date semantics, no generated code), keeps the max-(ts, seq) row per
  * date and returns the rows by date descending: the answer of the
  * window plan it replaces. Where two rows tie on (ts, seq) the later
  * store in the path list wins, `FindbDistWriter.mergedView`'s rule;
  * the window plan picks one arbitrarily.
  *
  * Driver bound: one asset's leaf rows per listed store, the
  * reference's own point-query cost.
  */
case class FindbAsOfRange(
    output: Seq[Attribute],
    list: Seq[Expression],
    cond: Expression,
    dateIdx: Int,
    tsIdx: Int,
    seqIdx: Int,
    outIdx: Seq[Int],
    paths: Seq[String],
    withPriority: Boolean,
    asset: Long) extends LeafNode with MultiInstanceRelation {

  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))

  override def computeStats(): Statistics = Statistics(sizeInBytes = conf.defaultSizeInBytes)

  override def simpleString(maxFields: Int): String =
    s"FindbAsOfRange ${output.mkString("[", ", ", "]")} asset=$asset paths=${paths.mkString(",")}"

  private def ref(i: Int) = BoundReference(i, list(i).dataType, list(i).nullable)

  /** Reads the stores and returns the answer rows (see the class doc). */
  def read(): Seq[InternalRow] = {
    val project = new InterpretedProjection(list)
    val keep = InterpretedPredicate(cond)
    // descending (ts, seq), nulls last: the window's row_number order
    val newest = new InterpretedOrdering(Seq(tsIdx, seqIdx).map(i => SortOrder(ref(i), Descending)))
    val dateType = list(dateIdx).dataType
    val best = scala.collection.mutable.HashMap.empty[Any, InternalRow]
    for (raw <- FindbBTree.assetRows(paths, asset, withPriority)) {
      val r = project(raw)
      if (keep.eval(r)) {
        val d = r.get(dateIdx, dateType)
        // ties go to the later row: the later store in the path list
        if (best.get(d).forall(newest.compare(r, _) <= 0)) best(d) = r
      }
    }
    val byDate = new InterpretedOrdering(Seq(SortOrder(ref(dateIdx), Descending)))
    best.values.toSeq.sorted(byDate).map(new InterpretedProjection(outIdx.map(ref)))
  }
}

object FindbAsOfRange {

  /** The driver read for `filtered`, or None to keep the window plan.
    * Routes only when the analyzed plan is exactly `Filter(cond,
    * Project(list, DataSourceV2Relation(FindbTable)))`, every
    * expression in `list` and `cond` is deterministic, `list` names
    * asset_id, date, ts, seq and value once each, and its asset_id is
    * the relation's own attribute, unchanged — so the descent on
    * `asset` drops only rows `cond` would drop. `cond` must pin
    * asset_id to `asset`, as `AsOf.asOfRange`'s does; the descent
    * drops every other asset's rows without checking `cond`, so the
    * method stays inside the package.
    */
  private[graft] def route(filtered: DataFrame, asset: Long): Option[DataFrame] =
    filtered.queryExecution.analyzed match {
      case Filter(cond, Project(list, rel: DataSourceV2Relation)) =>
        val resolver = filtered.sparkSession.sessionState.conf.resolver
        val projected = list.map(_.toAttribute)
        def ord(name: String): Option[Int] =
          projected.indices.filter(i => resolver(projected(i).name, name)) match {
            case Seq(i) => Some(i)
            case _      => None
          }
        val ownAsset = (i: Int) => (list(i), rel.output.find(_.name == "asset_id")) match {
          case (a: AttributeReference, Some(r)) => a.exprId == r.exprId
          case _                                => false
        }
        for {
          table <- Some(rel.table).collect { case t: FindbTable => t }
          a <- ord("asset_id") if ownAsset(a)
          d <- ord("date"); t <- ord("ts"); s <- ord("seq"); v <- ord("value")
          if list.forall(_.deterministic) && cond.deterministic &&
            cond.references.subsetOf(AttributeSet(projected))
        } yield {
          val spark = filtered.sparkSession
          if (!spark.experimental.extraStrategies.contains(FindbAsOfRangeStrategy)) {
            spark.experimental.extraStrategies =
              spark.experimental.extraStrategies :+ FindbAsOfRangeStrategy
          }
          val bound = list.map {
            case Alias(c, _) => BindReferences.bindReference(c, rel.output)
            case e           => BindReferences.bindReference(e: Expression, rel.output)
          }
          val outIdx = Seq(a, d, t, v)
          val node = FindbAsOfRange(outIdx.map(projected), bound,
            BindReferences.bindReference(cond, projected), d, t, s, outIdx,
            table.paths, table.withPriority, asset)
          org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark, node)
        }
      case _ => None
    }
}

/** Plans [[FindbAsOfRange]] the way Spark plans a DSv2 `LocalScan`: as
  * a `LocalTableScanExec`, whose collect returns its rows on the driver
  * without a job. A caller's deterministic `select` / `filter` directly
  * above the node folds into the same scan (interpreted), so no
  * `ProjectExec` brings code generation back. The stores are read each
  * time a query over the node is physically planned, so a Dataset built
  * after an append sees the new data. Registered per session by
  * [[FindbAsOfRange.route]] and injected by `GraftExtensions`.
  */
object FindbAsOfRangeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projectList, filters, n: FindbAsOfRange) =>
      val project =
        projectList.map(e => BindReferences.bindReference(e: Expression, n.output, allowFailures = true))
      val keep = filters.map(BindReferences.bindReference(_, n.output, allowFailures = true))
      // e.g. a subquery: the built-in strategies plan the operators
      // above, and the bare node comes back here
      if ((project ++ keep).exists(_.exists(_.isInstanceOf[Unevaluable]))) Nil
      else {
        val pred = keep.reduceOption(And).map(InterpretedPredicate(_))
        val rows = n.read().filter(r => pred.forall(_.eval(r))).map(new InterpretedProjection(project))
        LocalTableScanExec(projectList.map(_.toAttribute), rows, None) :: Nil
      }
    case _ => Nil
  }
}
