package graftbench

/** Summary statistics over one run's samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples a tail needs: the tail is the highest percentile with at
    * least this many samples above it. */
  val TailBeyond = 10

  /** The tail of `xs`: the sample at rank n - 10 in ascending order,
    * the highest rank with ten samples above it. */
  def tail(xs: Seq[Double]): Double = {
    require(xs.length > TailBeyond,
      s"a tail needs more than $TailBeyond samples, got ${xs.length}")
    xs.sorted.apply(xs.length - TailBeyond - 1)
  }

  /** The percentile [[tail]] reports for `n` samples. */
  def tailPercentile(n: Int): Double = 100.0 * (n - TailBeyond) / n

  /** Fraction of attempted operations that succeeded. */
  def okFrac(attempted: Int, failed: Int): Double = {
    require(attempted >= 1 && failed >= 0 && failed <= attempted)
    (attempted - failed).toDouble / attempted
  }
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
      d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
