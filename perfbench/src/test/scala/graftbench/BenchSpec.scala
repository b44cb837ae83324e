package graftbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("tail: the quantile at the highest percentile with 10 samples beyond it") {
    val xs = (1 to 40).map(_.toDouble).reverse
    val t = Stats.tail(xs)
    assert(t.samples == 40 && t.percentile == 75.0)
    // Harrell–Davis on 1..n estimates the p quantile near n·p + 1/2.
    assert(math.abs(t.valueMs - 30.5) < 0.1)
    val h = Stats.tail((1 to 100).map(_.toDouble))
    assert(h.percentile == 90.0 && math.abs(h.valueMs - 90.5) < 0.1)
  }

  test("tail: with fewer than 20 samples the median is reported") {
    val xs = Seq(5.0, 1.0, 3.0, 2.0, 4.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0, 12.0)
    val t = Stats.tail(xs)
    assert(t.percentile == 50.0 && t.valueMs == Stats.median(xs))
    assert(math.abs(Stats.median(xs) - 6.5) < 1e-9) // symmetric weights
    assert(math.abs(Stats.median(Seq(9.0, 4.0)) - 6.5) < 1e-9)
    assert(Stats.tail(Seq(3.0)).valueMs == 3.0)
  }

  test("median moves smoothly across a gap between latency clusters") {
    // 19 fast and 19 slow operations; one operation changing cluster moves a
    // single order statistic by the whole gap, the estimate by much less.
    val a = Seq.fill(19)(100.0) ++ Seq.fill(19)(400.0)
    val b = Seq.fill(18)(100.0) ++ Seq.fill(20)(400.0)
    assert(math.abs(Stats.median(b) - Stats.median(a)) < 0.25 * 300)
  }

  test("self time counts overlapping child spans once and clips them to the parent") {
    val spans = Seq(
      Span(0, "p", -1, 1, 0, 100),
      Span(1, "c", 0, 1, 10, 40),
      Span(2, "c", 0, 1, 30, 60), // overlaps the first child
      Span(3, "c", 0, 1, 80, 120), // runs past the parent's end
      Span(4, "g", 1, 1, 15, 20)) // grandchild: inside child 1 only
    val jobs = new Counters
    jobs.jobIntervals += ((0.0, 5.0))
    jobs.jobIntervals += ((65.0, 70.0))
    val l = Layers.summarize(spans, id => if (id == 0) jobs else new Counters)
    assert(l("p.ms") == 100 - 50 - 20)
    assert(l("p.driver_ms") == 30 - 5 - 5)
    assert(l("c.ms") == 30 - 5 + 30 + 40)
    assert(l("c.calls") == 3 && l("g.ms") == 5)
    assert(Layers.coverage(spans, 0, 200) == 0.5)
    assert(Intervals.uncovered(0, 10, Seq((2.0, 4.0), (3.0, 6.0), (8.0, 20.0))) == 4.0)
  }

  test("failed_frac counts throwing operations and failed or throwing checks") {
    val ops = new Ops(new Tracer(null, enabled = false))
    assert(ops.op("ok")(1).contains(1))
    assert(ops.op("boom")(throw new IllegalStateException("x")).isEmpty)
    assert(ops.step("set-up")(2).contains(2))
    assert(ops.check("holds")(true))
    assert(!ops.check("fails")(false, "planted"))
    assert(!ops.check("throws")(throw new RuntimeException("y")))
    assert(ops.attempted == 6 && ops.failed == 3)
    assert(ops.failedFrac == 0.5)
    assert(ops.latenciesMs.size == 1) // only successful timed operations
  }

  private def files(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  private def generated(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    try {
      Gen.dbt(new File(dir, "dbt"), seed, 0.001, 2)
      Gen.corpus(new File(dir, "corpus"), seed, 2, 40)
      Gen.ann(new File(dir, "ann"), seed, 300, 2, 4)
      Seq("dbt", "corpus", "ann").flatMap(d =>
        files(new File(dir, d)).map { case (k, v) => s"$d/$k" -> v }).toMap
    } finally {
      def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
      rm(dir)
    }
  }

  test("generators: the same seed gives byte-identical inputs, another seed different ones") {
    val a = generated(7)
    val b = generated(7)
    val c = generated(8)
    assert(a.keySet == b.keySet && a.keySet == c.keySet && a.size > 10)
    a.keys.foreach(k => assert(a(k) == b(k), s"$k differs between two runs of seed 7"))
    val differ = a.keys.filter(k => a(k) != c(k))
    // The seed file (nation_region.csv) is fixed; every generated table moves.
    assert(differ.toSet == a.keySet - "dbt/nation_region.csv")
  }

  test("generators: planted expectations match the generated source state") {
    val dir = Files.createTempDirectory("perfbench-exp").toFile
    try {
      val in = Gen.dbt(dir, 3, 0.001, 3)
      assert(in.expect.size == 4 && in.changeRows.size == 3)
      assert(in.expect.forall(e => e.nullCustomer == 5 && e.negativePrice == 9 &&
        e.badStatusValues == 1))
      assert(in.expect.map(_.orphanOrders) == in.expect.map(_.orphanOrders).sorted)
      val c = Gen.corpus(new File(dir, "c"), 3, 3, 50)
      assert(c.docs == 150 && (c.uniques ++ c.plantedDups ++ c.junk).size == 150)
      assert(c.plantedDups.nonEmpty && c.junk.nonEmpty)
    } finally {
      def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
      rm(dir)
    }
  }
}
