package graft.sources.findb

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** The one inner-node descent over a findb store (reference
  * `BTree::query`, file.rs:425-470) and the leaf decode both readers
  * share:
  *
  *  - [[FindbScan]] descends at plan time to emit input partitions only
  *    for the leaves an asset bound or set can touch;
  *  - [[assetRows]] descends on the driver to one asset's leaves and
  *    decodes them, the read behind the routed `AsOf.asOfRange`
  *    (`graft.plans.FindbAsOfRange`).
  */
object FindbBTree {
  import FindbFormat._

  /** Whether the sorted `set` has an element in [lo, hi]; no set = yes. */
  def setOverlaps(set: Array[Long], lo: Long, hi: Long): Boolean =
    set == null || {
      // lowest set element >= lo, via binary search
      var a = 0; var b = set.length
      while (a < b) { val m = (a + b) >>> 1; if (set(m) < lo) a = m + 1 else b = m }
      a < set.length && set(a) <= hi
    }

  /** Inner-node descent: collects the leaf pages whose separator-implied
    * asset range can overlap [assetLo, assetHi] ∩ `assetSet` (sorted, or
    * null for no set), in key order (= ascending page number for both
    * writers' layouts). Reads only inner pages in full plus a 16-byte
    * header per surviving child, so the I/O is O(matching leaves / cap)
    * pages — the reference's own descent cost (file.rs:425-470).
    * Returns None when more than `limit` leaves survive, i.e. when
    * pruning buys nothing (the scan then falls back to full-range
    * partitions; read-time page skip still applies).
    */
  def candidateLeaves(pages: StorePages, lay: StoreLayout, assetLo: Long, assetHi: Long,
                      assetSet: Array[Long] = null, limit: Int = 1 << 18): Option[Array[Int]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    val head = new Array[Byte](PageHeaderSize)
    val page = new Array[Byte](lay.pageSize)
    def visit(p: Long, lo: Long, hi: Long): Boolean = { // false = budget blown
      if (lo > assetHi || hi < assetLo || !setOverlaps(assetSet, lo, hi)) return true
      if (out.size > limit) return false
      pages.read(p, head, PageHeaderSize)
      if (u32(head, 0) == LeafType) { out += p.toInt; true }
      else {
        pages.read(p, page, lay.pageSize)
        // children j = 0..nChildren-1; child j's keys live in
        // [sep_{j-1}, sep_j) so its ASSET span is [sepAsset_{j-1},
        // sepAsset_j] inclusive (asset equality with a smaller
        // date/ts stays in child j). sep_0 = node lo, sep_n+1 = node hi.
        // Parse into locals BEFORE recursing — `page` is one shared
        // buffer, and a child visit overwrites it under the parent loop.
        val nKeys = u32(page, 4).toInt
        val extra = u32(page, 8)
        val nChildren = nKeys + 1
        val kids = new Array[Long](nChildren)
        val sepAsset = new Array[Long](nKeys)
        var j = 0
        while (j < nChildren) {
          kids(j) =
            if (j == nKeys && extra != NoPage) extra
            else u32(page, PageHeaderSize + j * KeyValueSize + 12)
          if (j < nKeys) sepAsset(j) = u32(page, PageHeaderSize + j * KeyValueSize)
          j += 1
        }
        j = 0
        var ok = true
        while (j < nChildren && ok) {
          val cLo = if (j == 0) lo else sepAsset(j - 1)
          val cHi = if (j == nKeys) hi else sepAsset(j)
          ok = visit(kids(j), cLo, cHi)
          j += 1
        }
        ok
      }
    }
    if (lay.pageCount == 0) Some(Array.empty)
    else if (visit(lay.rootPageNum, 0L, 0xFFFFFFFFL)) Some(out.toArray)
    else None
  }

  /** Row `off` of a leaf page, projected to `ordinals` into the full
    * (asset_id, date, timestamp, value, pri) row; `pri` fills ordinal 4.
    */
  def decode(page: Array[Byte], off: Int, ordinals: Array[Int], pri: Int): InternalRow = {
    val values = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      values(i) = ordinals(i) match {
        case 0 => u32(page, off)
        case 1 => u32(page, off + 4).toInt
        case 2 => u32(page, off + 8)
        case 3 => f32(page, off + 12)
        case 4 => pri
      }
      i += 1
    }
    new GenericInternalRow(values)
  }

  /** Every row of `asset` in the stores of `paths`, store by store in
    * path order and in key order within a store, decoded as the table's
    * full row (`pri` = the store's index when `withPriority`). One
    * descent per store plus one pread per matching leaf, under the
    * active session's Hadoop conf — the connector's own plan-time view.
    * Driver memory is bounded by the asset's leaf rows per store, the
    * reference's point-query cost.
    */
  def assetRows(paths: Seq[String], asset: Long, withPriority: Boolean): Seq[InternalRow] = {
    val conf = FindbConf.session()
    val ordinals = if (withPriority) Array(0, 1, 2, 3, 4) else Array(0, 1, 2, 3)
    paths.zipWithIndex.flatMap { case (path, pri) =>
      val lay = FindbFormat.layout(path, conf)
      val pages = new StorePages(lay, conf)
      try {
        val leaves = candidateLeaves(pages, lay, asset, asset, limit = Int.MaxValue).get
        val buf = new Array[Byte](lay.pageSize)
        leaves.toSeq.flatMap { p =>
          pages.read(p.toLong, buf, lay.pageSize)
          (0 until u32(buf, 4).toInt).iterator
            .map(PageHeaderSize + _ * KeyValueSize)
            .filter(off => u32(buf, off) == asset)
            .map(decode(buf, _, ordinals, pri)).toVector
        }
      } finally pages.close()
    }
  }
}
