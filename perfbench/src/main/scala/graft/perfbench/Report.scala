package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** Percentiles under the benchmark's reporting rule. */
object Stats {

  /** Fewest samples that must lie strictly beyond a reported percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly beyond the nearest-rank `q` quantile of `n` samples. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n - 1e-9).toInt

  /** Nearest-rank `q` quantile, refused (None) when fewer than
    * [[MinBeyond]] samples lie beyond it. */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    val n = xs.length
    if (n == 0 || beyond(n, q) < MinBeyond) None
    else Some(xs.sorted.apply(math.ceil(q * n - 1e-9).toInt - 1))
  }

  /** The highest of `qs` the sample supports, with its quantile. */
  def tail(xs: Seq[Double], qs: Seq[Double]): Option[(Double, Double)] =
    qs.sorted.reverse.iterator.flatMap(q => percentile(xs, q).map(q -> _)).nextOption()
}

/** One timed interval of the run. Times are epoch milliseconds: the Spark
  * listener clocks are millisecond-granular, so the benchmark's own spans
  * are widened to whole milliseconds (start floored, end ceiled) and every
  * interval is comparable with the ones Spark reports. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
                      attrs: Map[String, String] = Map.empty) {
  def dur: Long = end - start
}

/** In-memory span recorder. A disabled tracer records nothing, so the
  * untraced phase runs the same code with `span` reduced to its body. */
final class Tracer(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 1
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis()

  /** Epoch time in fractional ms from the monotonic clock. */
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def add(name: String, parent: Int, start: Long, end: Long,
          attrs: Map[String, String] = Map.empty): Int = synchronized {
    val id = nextId
    nextId += 1
    if (enabled) buf += Span(id, parent, name, start, end, attrs)
    id
  }

  /** Runs `body` inside a span; the body receives the span's id so that it
    * can parent further spans. Ids are handed out before the body runs. */
  def span[T](name: String, parent: Int, attrs: Map[String, String] = Map.empty)(
      body: Int => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val t0 = nowMs
    try body(id)
    finally if (enabled) synchronized {
      buf += Span(id, parent, name, math.floor(t0).toLong, math.ceil(nowMs).toLong, attrs)
    }
  }

  def spans: Seq[Span] = synchronized(buf.toList)
}

object Trace {

  /** Spans whose interval is not inside their parent's. */
  def nestingViolations(spans: Seq[Span]): Seq[(Span, Span)] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.flatMap { c =>
      byId.get(c.parent).filter(p => c.start < p.start || c.end > p.end).map(c -> _)
    }
  }

  /** Self time per span: its duration minus the part of it that the union
    * of its children's intervals covers. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Self time summed per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toMap)
    case other => str(other.toString)
  }
}
