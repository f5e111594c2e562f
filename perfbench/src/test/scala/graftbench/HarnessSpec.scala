package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own statistics, failure accounting, span arithmetic
  * and input generation. */
class HarnessSpec extends AnyFunSuite {

  /** Serialised form of generated inputs, bit-exact for doubles. */
  private def bytesOf(xs: Seq[Any]): Array[Byte] = {
    def show(x: Any): String = x match {
      case a: Array[Double] => a.map(java.lang.Double.doubleToLongBits).mkString("[", ",", "]")
      case f: Filter => f.expr
      case s: Seq[_] => s.map(show).mkString("[", ",", "]")
      case p: Product => p.productPrefix + p.productIterator.map(show).mkString("(", ",", ")")
      case other => String.valueOf(other)
    }
    xs.map(show).mkString("\n").getBytes("UTF-8")
  }

  test("median of an even count is the mean of the two middle samples") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("the Harrell-Davis median is symmetric, bounded and smooth across a gap") {
    assert(math.abs(Stats.hdQuantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) - 2.5) < 1e-12)
    assert(Stats.hdQuantile(Seq(7.0), 0.5) == 7.0)
    // two clusters, the middle sample flips sides: the sample median jumps, HD moves less
    val a = Seq.fill(5)(100.0) ++ Seq.fill(4)(300.0)
    val b = Seq.fill(4)(100.0) ++ Seq.fill(5)(300.0)
    val jump = Stats.median(b) - Stats.median(a)
    val hd = Stats.hdQuantile(b, 0.5) - Stats.hdQuantile(a, 0.5)
    assert(jump == 200.0 && hd > 0 && hd < jump / 2)
    assert(Stats.hdQuantile(Seq(1.0, Double.PositiveInfinity), 0.5).isPosInfinity)
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.supportedTail(19).isEmpty)
    assert(Stats.supportedTail(20).contains(50.0))
    assert(Stats.supportedTail(99).contains(75.0))
    assert(Stats.supportedTail(100).contains(90.0))
    assert(Stats.supportedTail(999).contains(95.0))
    assert(Stats.supportedTail(1000).contains(99.0))
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(xs.count(_ > Stats.percentile(xs, 90)) == 10)
  }

  test("a call that throws counts as failed and as a missed latency") {
    val rec = new Recorder(Tracer.Off)
    assert(rec.call("count", Sample.Read)(7L).contains(7L))
    assert(rec.call("count", Sample.Read)(throw new IllegalStateException("boom")).isEmpty)
    assert(rec.attempted == 2 && rec.failed == 1)
    val lat = rec.of(Sample.Read).map(_.latency)
    assert(lat.count(_.isPosInfinity) == 1)
    assert(Stats.percentile(lat, 100).isPosInfinity)
    assert(rec.errorMessages.exists(_.contains("boom")))
    rec.wrongAnswer("count", "off by one")
    assert(rec.failed == 2)
  }

  test("span self time counts overlapping child jobs once") {
    val parent = Interval(0, 100)
    val jobs = Seq(Interval(10, 30), Interval(20, 50), Interval(45, 50), Interval(90, 120))
    assert(Spans.selfMs(parent, jobs) == 100 - (40 + 10))
    assert(Spans.selfMs(parent, Nil) == 100)
    assert(Spans.selfMs(parent, Seq(Interval(-5, 200))) == 0)
  }

  test("the same seed gives byte-identical inputs and op sequences; another seed does not") {
    def inputs(seed: Long): Array[Byte] = {
      val space = Gen.space(seed, 16, 4)
      val docs = Gen.corpus(seed, space, 200)
      bytesOf(Seq(docs, Gen.readCycles(seed, space, 5, 200), Gen.writeCycles(seed, space, docs, 3),
        Gen.textCorpus(seed, space, 100, 0.1, 0.1)))
    }
    assert(java.util.Arrays.equals(inputs(1), inputs(1)))
    assert(!java.util.Arrays.equals(inputs(1), inputs(2)))
  }
}
