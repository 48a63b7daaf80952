package graft.perfbench

/** Epoch-millisecond wall clock with nanosecond resolution: one base read of
  * the system clock, advanced by the monotonic clock.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def nowS: Double = nowMs / 1000.0
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest nearest-rank percentile with at least ten samples above
    * it, when there are enough samples for one at or above the median;
    * otherwise the maximum. Returns (value, percentile, n).
    */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0, 0)
    else {
      val i = if (n >= 21) n - 11 else n - 1
      (s(i), (100 * (i + 1)) / n, n)
    }
  }
}

/** Canonical, order-independent digest of a query result: columns in name
  * order, values rendered to 12 significant digits, rows sorted.
  */
object Digest {
  import org.apache.spark.sql.Row
  private val mc = new java.math.MathContext(12)

  def value(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString
    case f: Float => value(f.toDouble)
    case b: java.math.BigDecimal => b.round(mc).stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString("|").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
