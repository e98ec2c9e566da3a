package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own arithmetic: percentile refusal, span nesting and self
  * time, and the per-op counter sanity rules. */
class HarnessSpec extends AnyFunSuite {

  test("a percentile is refused when fewer than 10 samples lie beyond it") {
    val xs = (1 to 19).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5).isEmpty)
    assert(Stats.percentile(xs :+ 20.0, 0.5).contains(10.0))
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
  }

  test("the tail is the highest quantile the sample supports") {
    assert(Stats.tail((1 to 52).map(_.toDouble), Seq(0.9, 0.75)).contains(0.75 -> 39.0))
    assert(Stats.tail((1 to 100).map(_.toDouble), Seq(0.9, 0.75)).contains(0.9 -> 90.0))
    assert(Stats.tail((1 to 30).map(_.toDouble), Seq(0.9, 0.75)).isEmpty)
  }

  test("a child span outside its parent is reported") {
    val ok = Seq(Span(1, 0, "run", 0, 100), Span(2, 1, "op", 10, 50),
      Span(3, 2, "spark.job", 10, 50))
    assert(Trace.nestingViolations(ok).isEmpty)
    val bad = ok :+ Span(4, 2, "spark.job", 40, 51)
    assert(Trace.nestingViolations(bad).map(_._1.id) == Seq(4))
  }

  test("self time subtracts the union of the children, overlaps counted once") {
    val spans = Seq(Span(1, 0, "op", 0, 100), Span(2, 1, "a", 10, 40),
      Span(3, 1, "b", 30, 60), Span(4, 1, "c", 80, 90), Span(5, 2, "d", 15, 20))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 5)
    assert(self(4) == 10)
    assert(Trace.selfByName(spans)("op") == 40)
  }

  test("counter sanity: jobs, tasks against stages, CPU within wall x cores") {
    val w = new Work
    w.jobs = 2; w.stages = 3; w.tasks = 3; w.cpuNs = 3000000000L
    assert(Main.sanity("q", w, wallS = 1.0, cores = 4).isEmpty)
    w.cpuNs = 5000000000L
    assert(Main.sanity("q", w, wallS = 1.0, cores = 4).exists(_.contains("cpu")))
    val none = new Work
    assert(Main.sanity("q", none, 1.0, 4).exists(_.contains("no Spark job")))
    none.jobs = 1; none.stages = 2; none.tasks = 1
    assert(Main.sanity("q", none, 1.0, 4).exists(_.contains("tasks")))
  }
}
