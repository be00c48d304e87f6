package graft.sources.findb

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 reader for the reference's on-disk B-tree files — the
  * migration path for findb users with existing `.db` panels:
  *
  * {{{ spark.read.format("graft.sources.findb.FindbDataSource").load("panel.db") }}}
  *
  * Scan strategy: emit rows from LEAF pages only (a cluster scan
  * partitions the page range — `pagesPerPartition` page-chunks become
  * Spark input partitions, so one file reads in parallel). Key-range
  * pruning then happens in Spark against the (asset_id, date,
  * timestamp) columns, which at realistic selectivities costs one
  * streaming pass — exactly what the reference's own full-panel
  * extraction does.
  *
  * The inner nodes serve two descents, both [[FindbBTree.candidateLeaves]]:
  * the scan planner's (below: input partitions only for the leaves a
  * pushed asset bound can touch), and the driver read that answers a
  * single-asset `AsOf.asOfRange` with no Spark job
  * (`graft.plans.FindbAsOfRange`).
  */
class FindbDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("withpriority", false)) FindbFormat.schemaWithPriority
    else FindbFormat.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // single load(path) → "path"; load(p1, p2, …) → "paths" JSON array.
    // Real JSON parsing (Jackson ships with Spark) — a path containing a
    // comma or quote must survive intact.
    val paths: Seq[String] = Option(opts.get("paths")) match {
      case Some(json) =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = mapper.readTree(json)
        require(node.isArray, s"findb 'paths' option must be a JSON array, got: $json")
        (0 until node.size()).map(node.get(_).asText())
      case None => Seq(Option(opts.get("path")).getOrElse(
        throw new IllegalArgumentException("findb source requires a path")))
    }
    val pagesPerPartition = Option(opts.get("pagesperpartition")).map(_.toInt).getOrElse(4096)
    val withPriority = opts.getBoolean("withpriority", false)
    new FindbTable(paths, pagesPerPartition, withPriority)
  }

  override def supportsExternalMetadata(): Boolean = false
}

/** `paths` and `withPriority` are public: `graft.plans.FindbAsOfRange`
  * reads them to route a single-asset read to [[FindbBTree.assetRows]].
  */
class FindbTable(val paths: Seq[String], pagesPerPartition: Int,
                 val withPriority: Boolean = false) extends Table with SupportsRead {
  override def name(): String = s"findb:${paths.mkString(",")}"
  override def schema(): StructType =
    if (withPriority) FindbFormat.schemaWithPriority else FindbFormat.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FindbScanBuilder(paths, pagesPerPartition, withPriority)
}

/** Pushes `asset_id` bounds AND `In` sets down two levels:
  *
  *  - PLAN time: the driver descends the B-tree's inner nodes (the
  *    same descent the reference's point query runs, file.rs:425-470)
  *    and emits input partitions only for the leaf pages whose
  *    separator-implied asset range can overlap the pushed bounds/set
  *    — selective queries plan O(matching leaves) partitions instead
  *    of O(file pages).
  *  - READ time: a surviving leaf whose actual [first, last] asset
  *    span is disjoint from the bounds/set is skipped without
  *    emitting a row — the B-tree's own ordering doing
  *    row-group-stats duty.
  *
  * All filters stay residuals for Spark to re-check (we push an
  * over-approximation, never a replacement).
  */
class FindbScanBuilder(paths: Seq[String], pagesPerPartition: Int,
                       withPriority: Boolean = false)
  extends ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.sources._

  private var assetLo = Long.MinValue
  private var assetHi = Long.MaxValue
  private var assetSet: Option[Array[Long]] = None
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType =
    if (withPriority) FindbFormat.schemaWithPriority else FindbFormat.schema

  // A2's bulk_query envelope shape: bounded membership sets push as a
  // sorted array; unbounded ones stay residual-only.
  private val MaxPushedSet = 100000

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter {
      case EqualTo("asset_id", v: Number) =>
        assetLo = math.max(assetLo, v.longValue); assetHi = math.min(assetHi, v.longValue); true
      case GreaterThan("asset_id", v: Number) =>
        assetLo = math.max(assetLo, v.longValue + 1); true
      case GreaterThanOrEqual("asset_id", v: Number) =>
        assetLo = math.max(assetLo, v.longValue); true
      case LessThan("asset_id", v: Number) =>
        assetHi = math.min(assetHi, v.longValue - 1); true
      case LessThanOrEqual("asset_id", v: Number) =>
        assetHi = math.min(assetHi, v.longValue); true
      case In("asset_id", vs) if vs.nonEmpty && vs.length <= MaxPushedSet &&
          vs.forall(_.isInstanceOf[Number]) =>
        val sorted = vs.map(_.asInstanceOf[Number].longValue).distinct.sorted
        assetSet = Some(assetSet match {
          case Some(prev) => // two In filters intersect
            val p = prev.toSet; sorted.filter(p)
          case None => sorted
        })
        true
      case _ => false
    }
    filters // everything stays a residual for Spark to re-check
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = {
    // fold the set into the range bounds (tightest envelope)
    val (lo, hi) = assetSet match {
      case Some(s) if s.isEmpty => (0L, -1L) // contradictory filters: empty scan
      case Some(s) => (math.max(assetLo, s.head), math.min(assetHi, s.last))
      case None => (assetLo, assetHi)
    }
    new FindbScan(paths, pagesPerPartition, lo, hi, required, assetSet)
  }
}

/** The one Hadoop conf the whole connector plans and reads under: the
  * ACTIVE session's (`sessionState.newHadoopConf()`), which carries
  * `spark.hadoop.*` overrides — S3A credentials, fs.defaultFS, custom
  * fs.<scheme>.impl bindings. A bare `new Configuration()` silently
  * drops all of those, so on non-local filesystems the reader would
  * authenticate (or resolve scheme-less paths) against a DIFFERENT
  * filesystem than the writer published to. Executors get the same
  * conf via a broadcast [[org.apache.spark.util.SerializableConfiguration]]
  * built once per scan in [[FindbScan.createReaderFactory]].
  */
private[findb] object FindbConf {
  def session(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
}

class FindbScan(paths: Seq[String], pagesPerPartition: Int,
                assetLo: Long = Long.MinValue, assetHi: Long = Long.MaxValue,
                required: StructType = FindbFormat.schema,
                assetSet: Option[Array[Long]] = None)
  extends Scan with Batch {
  import FindbFormat._

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def supportedCustomMetrics(): Array[CustomMetric] = FindbMetrics.all
  override def description(): String =
    s"findb ${paths.mkString(",")} PushedAssetRange: [$assetLo, $assetHi]" +
      assetSet.map(s => s" PushedAssetSet: ${s.length} values").getOrElse("") +
      s" ReadColumns: ${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    // ordinals into the full (asset_id, date, timestamp, value[, pri]) row
    val ordinals = required.fieldNames.map {
      case "pri" => 4
      case n     => FindbFormat.schema.fieldIndex(n)
    }
    // Plan-time layout + descent under the SESSION conf (driver side).
    val conf = FindbConf.session()
    val pruned = assetLo != Long.MinValue || assetHi != Long.MaxValue || assetSet.isDefined
    paths.zipWithIndex.flatMap { case (path, pri) =>
      val lay = FindbFormat.layout(path, conf)
      val leaves: Option[Array[Int]] =
        if (pruned && assetLo <= assetHi) {
          val pg = new StorePages(lay, conf)
          try FindbBTree.candidateLeaves(pg, lay, assetLo, assetHi, assetSet.orNull)
          finally pg.close()
        } else if (pruned) Some(Array.empty[Int]) // contradictory bounds
        else None
      // chunk an ABSOLUTE page run into per-file partitions with LOCAL
      // page ranges (a run may span part-file boundaries in a
      // directory store; a partition never does)
      def chunkRun(start: Long, end: Long): Seq[InputPartition] =
        lay.files.flatMap { sf =>
          val s = math.max(start, sf.basePage)
          val e = math.min(end, sf.basePage + sf.nPages)
          if (s >= e) Nil
          else {
            val ls = (s - sf.basePage).toInt
            val le = (e - sf.basePage).toInt
            (ls until le by pagesPerPartition).map { x =>
              FindbInputPartition(sf.path, lay.pageSize, x,
                math.min(x + pagesPerPartition, le), assetLo, assetHi,
                ordinals, assetSet.orNull, sf.byteOffset, pri): InputPartition
            }
          }
        }
      leaves match {
        case Some(pages) =>
          // compress the (ascending) leaf list into contiguous runs,
          // then chunk each run to pagesPerPartition
          val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var i = 0
          while (i < pages.length) {
            var j = i
            while (j + 1 < pages.length && pages(j + 1) == pages(j) + 1) j += 1
            runs += ((pages(i), pages(j) + 1))
            i = j + 1
          }
          runs.flatMap { case (start, end) => chunkRun(start.toLong, end.toLong) }
        case None =>
          chunkRun(0L, lay.pageCount)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // ONE broadcast session conf per scan: every partition reader opens
    // its file under the same spark.hadoop.* view the planner used
    // (serializing the conf into each InputPartition would ship ~100 KB
    // per partition; the broadcast ships it once per executor).
    val spark = org.apache.spark.sql.SparkSession.active
    val bc = spark.sparkContext.broadcast(
      new graft.sources.SerializableHadoopConf(FindbConf.session()))
    new FindbReaderFactory(bc)
  }
}

/** One reader split: LOCAL pages [startPage, endPage) of the file at
  * `path`, whose page 0 starts `byteOffset` bytes in (12 for the
  * single-file store's header, 0 for a directory store's part files).
  * `pri` is the store's index in the scan's path list (ordinal 4).
  */
case class FindbInputPartition(path: String, pageSize: Int, startPage: Int, endPage: Int,
                               assetLo: Long = Long.MinValue, assetHi: Long = Long.MaxValue,
                               ordinals: Array[Int] = Array(0, 1, 2, 3),
                               assetSet: Array[Long] = null,
                               byteOffset: Long = FindbFormat.FileHeaderSize.toLong,
                               pri: Int = 0)
  extends InputPartition

class FindbReaderFactory(
    bc: org.apache.spark.broadcast.Broadcast[graft.sources.SerializableHadoopConf])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FindbInputPartition]
    new FindbPartitionReader(p, bc.value.value)
  }
}

class FindbPartitionReader(p: FindbInputPartition,
    conf: org.apache.hadoop.conf.Configuration) extends PartitionReader[InternalRow] {
  import FindbFormat._

  // Hadoop FS open (not java.io): partitions read wherever the store
  // lives — HDFS/S3 on a cluster, LocalFileSystem in tests — through
  // positioned readFully preads, under the broadcast SESSION conf (a
  // fresh Configuration() would drop spark.hadoop.* credentials and
  // scheme bindings and could resolve against the wrong filesystem).
  private val in = {
    val hp = new org.apache.hadoop.fs.Path(p.path)
    hp.getFileSystem(conf).open(hp)
  }
  private val pageBuf = new Array[Byte](p.pageSize)
  private var pageNum = p.startPage
  private var pageLoaded = false
  private var rowIdx = 0
  private var rowsInPage = 0
  private var pageIsLeaf = false

  // leaf pages decoded / dropped by the page-level skip below; reported
  // as the scan's custom metrics (SQL UI, executed plan)
  private var pagesRead = 0L
  private var pagesSkipped = 0L

  private def loadPage(): Unit = {
    in.readFully(p.byteOffset + pageNum.toLong * p.pageSize, pageBuf, 0, p.pageSize)
    pageIsLeaf = u32(pageBuf, 0) == LeafType
    rowsInPage = u32(pageBuf, 4).toInt
    rowIdx = 0
    pageLoaded = true
    // page-level skip: leaf keys are sorted, so the page's asset span is
    // [first, last]; disjoint from the pushed bounds/set → emit nothing.
    if (pageIsLeaf && rowsInPage > 0) {
      val firstAsset = u32(pageBuf, PageHeaderSize)
      val lastAsset = u32(pageBuf, PageHeaderSize + (rowsInPage - 1) * KeyValueSize)
      if (lastAsset < p.assetLo || firstAsset > p.assetHi ||
          !FindbBTree.setOverlaps(p.assetSet, firstAsset, lastAsset)) {
        rowsInPage = 0; pagesSkipped += 1
      } else pagesRead += 1
    }
  }

  override def next(): Boolean = {
    while (pageNum < p.endPage) {
      if (!pageLoaded) loadPage()
      if (pageIsLeaf && rowIdx < rowsInPage) return true
      pageNum += 1
      pageLoaded = false
    }
    false
  }

  override def get(): InternalRow = {
    val row = FindbBTree.decode(pageBuf, PageHeaderSize + rowIdx * KeyValueSize, p.ordinals, p.pri)
    rowIdx += 1
    row
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    FindbMetrics.task(FindbMetrics.PagesRead, pagesRead),
    FindbMetrics.task(FindbMetrics.PagesSkipped, pagesSkipped))

  override def close(): Unit = in.close()
}

/** The scan's DSv2 custom metrics: leaf pages decoded and leaf pages
  * dropped by the reader's key-span check. Plan-time pruned leaves are
  * never opened and count in neither.
  */
object FindbMetrics {
  val PagesRead = "pagesRead"
  val PagesSkipped = "pagesSkipped"
  def all: Array[CustomMetric] = Array(new FindbPagesReadMetric, new FindbPagesSkippedMetric)
  def task(metric: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = metric
    override def value(): Long = v
  }
}

// Spark instantiates metric classes by name: top-level, no-arg.
class FindbPagesReadMetric extends CustomSumMetric {
  override def name(): String = FindbMetrics.PagesRead
  override def description(): String = "findb leaf pages read"
}

class FindbPagesSkippedMetric extends CustomSumMetric {
  override def name(): String = FindbMetrics.PagesSkipped
  override def description(): String = "findb leaf pages skipped"
}
