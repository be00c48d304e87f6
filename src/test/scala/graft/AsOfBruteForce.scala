package graft

import java.sql.Timestamp

/** Brute-force model of the as-of join family over collected rows, the
  * reference the operators are checked against. Left and right rows
  * are (key, ts, seq, value); the result maps each left seq to the
  * chosen right value. For each left row it scans every right row of
  * the same key: "back" takes the latest strictly-earlier one, "incl"
  * the latest at-or-before, "fwd" the earliest strictly-later, and
  * "near" the closer of "back" and "fwd" (equal gaps go backward).
  * Equal-ts right rows resolve by seq: the max for backward, the min
  * for forward. Timestamps compare in microseconds, Spark's precision.
  */
object AsOfBruteForce {
  type Row = (Long, Timestamp, Long, Double)

  private def us(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  def apply(left: Seq[Row], right: Seq[Row], dir: String): Map[Long, Option[Double]] =
    left.map { case (k, lt, s, _) =>
      val t = us(lt)
      val cands = right.filter(_._1 == k).sortBy(c => (us(c._2), c._3))
      def back = cands.filter(c => us(c._2) < t).lastOption
      def fwd = cands.find(c => us(c._2) > t)
      val chosen = dir match {
        case "back" => back
        case "incl" => cands.filter(c => us(c._2) <= t).lastOption
        case "fwd"  => fwd
        case "near" => (back, fwd) match {
          case (Some(b), Some(f)) =>
            if (t - us(b._2) <= us(f._2) - t) Some(b) else Some(f)
          case (b, f) => b.orElse(f)
        }
      }
      s -> chosen.map(_._4)
    }.toMap
}
