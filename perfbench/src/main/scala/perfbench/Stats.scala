package perfbench

/** Order statistics and the result-line JSON. */
object Stats {
  /** Percentile p (in [0, 100]) by the Harrell-Davis estimator: a
    * Beta-weighted mean of all order statistics, which varies less from
    * run to run than a single order statistic on a few dozen samples.
    * Failed samples are passed as +Infinity; if any carries weight the
    * nearest-rank value is returned instead, so a failure ranks as
    * infinitely slow only when it reaches the percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val n = s.size
      val q = p / 100.0
      val a = q * (n + 1)
      val b = (1 - q) * (n + 1)
      val w = (0 to n).map(i => betaCdf(i.toDouble / n, a, b)).sliding(2).map(x => x(1) - x(0)).toSeq
      if (s.exists(_.isInfinite) || n == 1) s(math.min(n - 1, math.max(0, math.ceil(q * n).toInt - 1)))
      else s.zip(w).map { case (x, wi) => x * wi }.sum
    }

  /** Regularized incomplete beta I_x(a, b) (continued fraction). */
  private def betaCdf(x: Double, a: Double, b: Double): Double =
    if (x <= 0) 0.0 else if (x >= 1) 1.0
    else {
      val lbeta = lgamma(a + b) - lgamma(a) - lgamma(b)
      val front = math.exp(lbeta + a * math.log(x) + b * math.log(1 - x))
      if (x < (a + 1) / (a + b + 2)) front * betaCf(x, a, b) / a
      else 1.0 - front * betaCf(1 - x, b, a) / b
    }

  private def betaCf(x: Double, a: Double, b: Double): Double = {
    val tiny = 1e-300
    var c = 1.0
    var d = 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (if (math.abs(d) < tiny) tiny else d)
    var h = d
    var m = 1
    var done = false
    while (m <= 300 && !done) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((a + m2 - 1) * (a + m2))
      d = 1.0 + aa * d; d = 1.0 / (if (math.abs(d) < tiny) tiny else d)
      c = 1.0 + aa / c; if (math.abs(c) < tiny) c = tiny
      h *= d * c
      aa = -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1))
      d = 1.0 + aa * d; d = 1.0 / (if (math.abs(d) < tiny) tiny else d)
      c = 1.0 + aa / c; if (math.abs(c) < tiny) c = tiny
      val del = d * c
      h *= del
      done = math.abs(del - 1.0) < 1e-12
      m += 1
    }
    h
  }

  /** log Gamma (Lanczos). */
  private def lgamma(x: Double): Double = {
    val g = Array(76.18009172947146, -86.50532032941677, 24.01409824083091,
      -1.231739572450155, 0.1208650973866179e-2, -0.5395239384953e-5)
    var y = x
    val tmp = x + 5.5 - (x + 0.5) * math.log(x + 5.5)
    var ser = 1.000000000190015
    g.foreach { c => y += 1; ser += c / y }
    -tmp + math.log(2.5066282746310005 * ser / x)
  }

  /** Plain sample median, for the run record's per-kind detail. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    com.fasterxml.jackson.databind.node.TextNode.valueOf(s).toString

  /** `{"name": {"value": v, "unit": u}, ...}` in insertion order. */
  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")

  def objJson(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
