package perfbench

import Gen._

/** Expected answers, derived from the generator's own definition of
  * the data and the paper's as-of rule: per effective date, the
  * revision with the largest `ts <= as_of`, a later `seq` breaking
  * ties; a date whose every revision is newer than `as_of` is absent.
  *
  * A result row is (asset, d, ts, v4); checksums are exact integer
  * sums, so a bulk result of any size is checked in full.
  */
final class Oracle(val p: Panel) {
  private val byKey: Array[Array[Rev]] =
    Array.tabulate((p.assets.toLong * p.days).toInt)(k => p.revisions(k / p.days, k % p.days))

  /** Every revision of one asset in (ts, seq) order, for as-of joins. */
  private lazy val byAsset: Array[Array[Rev]] =
    Array.tabulate(p.assets) { a =>
      (0 until p.days).flatMap(d => byKey(a * p.days + d)).sortBy(r => (r.ts, r.seq)).toArray
    }

  def rows: Long = byKey.map(_.length.toLong).sum

  def asOf(a: Int, d: Int, asOf: Long): Option[Rev] =
    byKey(a * p.days + d).filter(_.ts <= asOf).lastOption

  /** `AsOf.asOfRange` (and `pointLookup` with asOf = Long.MaxValue):
    * rows newest date first.
    */
  def range(a: Int, start: Int, end: Int, at: Long): Seq[(Long, Long, Long, Long)] =
    (end to start by -1).flatMap(d => asOf(a, d, at)).map(r => (a.toLong, r.d.toLong, r.ts, r.v4))

  /** (rows, sum v4, sum v4 * w(query, date), sum ts % 9973) over a bulk
    * query set, the checksum [[Bench]] computes from graft's answer.
    */
  def bulk(qs: Array[BulkQ]): Seq[Long] = {
    var n, s1, s2, s3 = 0L
    qs.foreach { q =>
      (q.start to q.end).foreach { d =>
        asOf(q.asset, d, q.asOf).foreach { r =>
          n += 1; s1 += r.v4; s2 += r.v4 * Oracle.weight(q.id, d); s3 += r.ts % 9973
        }
      }
    }
    Seq(n, s1, s2, s3)
  }

  /** The latest revision of `asset` strictly before `ts` (the
    * `AsOf.asOfJoin` rule: a right row at exactly the left ts is not
    * visible; among equal ts the higher seq wins).
    */
  def before(asset: Int, ts: Long): Option[Rev] = {
    val rs = byAsset(asset)
    var lo = 0; var hi = rs.length // first index with ts >= `ts`
    while (lo < hi) { val m = (lo + hi) >>> 1; if (rs(m).ts < ts) lo = m + 1 else hi = m }
    if (lo == 0) None else Some(rs(lo - 1))
  }

  /** (rows, unmatched rows, sum v4, sum v4 * (seq % 9973)) over the
    * as-of join of trades 0 until n.
    */
  def join(n: Long): Seq[Long] = {
    var nulls, s1, s2 = 0L
    var i = 0L
    while (i < n) {
      val (a, ts, seq, _) = trade(p, i)
      before(a.toInt, ts) match {
        case Some(r) => s1 += r.v4; s2 += r.v4 * (seq % 9973)
        case None => nulls += 1
      }
      i += 1
    }
    Seq(n, nulls, s1, s2)
  }
}

object Oracle {
  def weight(queryId: Long, d: Long): Long = (queryId * 31 + d) % 9973

  /** `StreamingOps.streamStreamAsOf` over one batch: per trade, the
    * max-(ts, seq) reference row of its asset with ts in
    * [trade ts - 3600, trade ts], or none. Returns (trades, matched,
    * sum v4 over matches).
    */
  def streamAsOf(refs: Array[Rev], trades: Array[(Long, Long, Long, Long)]): Seq[Long] = {
    val byAsset = refs.groupBy(_.asset.toLong).map { case (a, rs) => a -> rs.sortBy(r => (r.ts, r.seq)) }
    var matched, s1 = 0L
    trades.foreach { case (a, ts, _, _) =>
      byAsset.get(a).flatMap(_.filter(r => r.ts <= ts && r.ts >= ts - 3600).lastOption).foreach { r =>
        matched += 1; s1 += r.v4
      }
    }
    Seq(trades.length.toLong, matched, s1)
  }

  /** `dedupSurvivors`' contract over a given pair set: the connected
    * components of the pairs, each labelled by its smallest doc id,
    * with its member count (singletons included).
    */
  def components(ids: Array[Long], pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.groupBy(find).map { case (root, members) => root -> members.length.toLong }
  }

  /** Dedup truth: survivors (min doc id -> members) per generated
    * cluster, and each document's cluster.
    */
  def survivors(docs: Array[(Long, String, Int)]): (Map[Long, Long], Map[Long, Int]) = {
    val groups = docs.groupBy(_._3)
    val surv = groups.values.map(g => g.map(_._1).min -> g.length.toLong).toMap
    val clusterOf = docs.map(d => d._1 -> d._3).toMap
    (surv, clusterOf)
  }
}
