package layerbench

import scala.util.hashing.MurmurHash3

/** Order statistics, the tail-percentile rule and row fingerprints. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `q` of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.length).toInt - 1))
  }

  /** Samples strictly above the nearest-rank `q` position. */
  def beyond(n: Int, q: Double): Int = n - math.max(1, math.ceil(q * n).toInt)

  final case class Tail(q: Double, value: Double, beyond: Int, n: Int)

  val TailGrid: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest percentile of the grid that still has at least ten samples
    * beyond it, or None when even the median has fewer than ten. */
  def tail(xs: Seq[Double]): Option[Tail] =
    TailGrid.find(q => beyond(xs.length, q) >= 10)
      .map(q => Tail(q, percentile(xs, q), beyond(xs.length, q), xs.length))

  /** Self time of each rung of a layer ladder: rung i calls one more layer
    * than rung i-1, so its layer costs the difference of the two. */
  def ladderSelf(rungs: Seq[Double]): Seq[Double] =
    rungs.indices.map(i => if (i == 0) rungs(0) else rungs(i) - rungs(i - 1))

  /** 64-bit hash of one canonical row string (two independent 32-bit
    * MurmurHash3 lanes). */
  def rowHash(row: String): Long =
    (MurmurHash3.stringHash(row, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.stringHash(row, 0x1b873593).toLong & 0xffffffffL)

  /** Multiset fingerprint: a row count and the wrapping sum of row hashes.
    * Addition commutes, so the fingerprint ignores row order but still sees
    * a duplicated or a missing row. */
  final case class Fingerprint(rows: Long, sum: Long) {
    def add(row: String): Fingerprint = Fingerprint(rows + 1, sum + rowHash(row))
    def ++(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, sum + o.sum)
    def hex: String = f"$rows:$sum%016x"
  }
  object Fingerprint {
    val empty: Fingerprint = Fingerprint(0, 0)
    def of(rows: IterableOnce[String]): Fingerprint =
      rows.iterator.foldLeft(empty)(_ add _)
  }

  /** Canonical text of one Spark result value. Doubles keep ten significant
    * digits so that a float sum merged in another task order still matches;
    * map entries are sorted by key because map order is not part of a
    * result. */
  def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=>" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case x => x.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(10)).stripTrailingZeros.toString

  def canonRow(r: org.apache.spark.sql.Row): String =
    r.toSeq.map(canon).mkString("\u0001")
}
