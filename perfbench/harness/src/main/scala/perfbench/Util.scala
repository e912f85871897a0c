package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Small helpers: JSON in/out, order statistics, the harness's own
  * reference computations used by the output checks. */
object Util {
  private val mapper = new ObjectMapper()

  def readJson(path: String): JsonNode =
    mapper.readTree(new java.io.File(path))

  def toJson(v: Any): String = v match {
    case null => "null"
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => toJson(k.toString) + ": " + toJson(x) }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(toJson).mkString("[", ", ", "]")
    case o: Option[_] => o.fold("null")(toJson)
    case other => toJson(other.toString)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail latency: the highest percentile that leaves at least ten
    * samples above it — with n samples the sample of rank n − 10
    * (1-based), percentile 100·(n − 10)/n. Below 20 samples that
    * percentile would fall under the median, so the maximum stands in
    * (percentile 100). Returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n < 20) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  /** Banded Levenshtein, exact for distances ≤ 2 (enough for checks
    * against a maxDistance of 1). */
  def levenshtein(a: String, b: String): Int = {
    val n = a.length
    val m = b.length
    if (math.abs(n - m) > 2) return 3
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    for (i <- 1 to n) {
      cur(0) = i
      for (j <- 1 to m) {
        val sub = prev(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1)
        cur(j) = math.min(sub, math.min(prev(j) + 1, cur(j - 1) + 1))
      }
      val t = prev; prev = cur; cur = t
    }
    prev(m)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    d / math.sqrt(na * nb)
  }

  /** Connected components by union-find; returns node → min member id. */
  def components(nodes: Iterable[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    nodes.foreach(n => parent(n) = n)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  def dirBytes(root: java.io.File): Long =
    if (!root.exists()) 0L
    else if (root.isFile) root.length()
    else Option(root.listFiles()).fold(0L)(_.map(dirBytes).sum)

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines().toList
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
  }
}
