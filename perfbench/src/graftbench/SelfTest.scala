package graftbench

import java.time.LocalDate

/** The benchmark's own tests: input determinism and the statistics
  * behind the metrics. Run with `python3 perfbench/build.py --test`. */
object SelfTest {
  private var failures = 0
  private var count = 0

  private def test(name: String)(body: => Unit): Unit = {
    count += 1
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }
  }
  private def eq[T](got: T, want: T): Unit =
    assert(got == want, s"got $got, want $want")
  private def close(got: Double, want: Double): Unit =
    assert(math.abs(got - want) < 1e-9, s"got $got, want $want")

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def fred(seed: Long) = new SynthFred(seed, SynthFred.Indicators,
    LocalDate.of(2023, 1, 1), LocalDate.of(2023, 12, 31))

  def main(args: Array[String]): Unit = {
    test("same seed gives byte-identical inputs") {
      eq(sha(fred(7).render), sha(fred(7).render))
      eq(sha(Corpus.renderDocs(Corpus.documents(7, 500)._1)),
        sha(Corpus.renderDocs(Corpus.documents(7, 500)._1)))
      eq(sha(Corpus.renderVecs(Corpus.embeddings(7, 300)._1)),
        sha(Corpus.renderVecs(Corpus.embeddings(7, 300)._1)))
    }
    test("different seed gives different inputs") {
      assert(fred(7).render != fred(8).render)
      assert(Corpus.renderDocs(Corpus.documents(7, 500)._1) !=
        Corpus.renderDocs(Corpus.documents(8, 500)._1))
      assert(Corpus.renderVecs(Corpus.embeddings(7, 300)._1) !=
        Corpus.renderVecs(Corpus.embeddings(8, 300)._1))
    }
    test("FRED source: business days, ~3% sentinels, ~1% unparsable") {
      val f = fred(3)
      val vals = f.indicators.flatMap(id =>
        f.businessDays(f.start, f.end).map(d => f.value(id, d)).toSeq)
      eq(vals.size.toLong, f.observationCount)
      eq(f.businessDays(LocalDate.of(2023, 1, 1), LocalDate.of(2023, 1, 31)).size, 22)
      val dots = vals.count(_ == ".").toDouble / vals.size
      val bad = vals.count(SynthFred.Unparsable.contains).toDouble / vals.size
      assert(dots > 0.02 && dots < 0.04, s"sentinel share $dots")
      assert(bad > 0.005 && bad < 0.015, s"unparsable share $bad")
    }
    test("corpus regimes are injected at the stated shares") {
      val (docs, st) = Corpus.documents(11, 2000)
      assert(math.abs(st.exactDupShare - 0.05) < 0.02, st.toString)
      assert(math.abs(st.sharedSpanShare - 0.15) < 0.03, st.toString)
      assert(docs.map(_.text).distinct.size < docs.size)
      eq(docs(2).text, docs(0).text)
      eq(docs.map(_.lang).distinct.size, 5)
      eq(docs.map(_.source).distinct.size, 20)
    }
    test("median") {
      close(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      close(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5)
      close(Stats.median(Seq(5.0)), 5.0)
    }
    test("nearest-rank percentile") {
      val xs = (1 to 100).map(_.toDouble)
      close(Stats.percentile(xs, 50), 50.0)
      close(Stats.percentile(xs, 90), 90.0)
      close(Stats.percentile(xs, 100), 100.0)
      close(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 80), 4.0)
    }
    test("tail percentile keeps at least ten samples beyond it") {
      eq(Stats.tailPercentile(48), Some(79)) // ceil(.79*48)=38, 10 beyond
      eq(Stats.tailPercentile(100), Some(90))
      eq(Stats.tailPercentile(1000), Some(99))
      eq(Stats.tailPercentile(10), None)
      eq(Stats.tailPercentile(11), Some(9)) // ceil(.09*11)=1, 10 beyond
    }
    test("union of job walls when jobs overlap") {
      // [0,10) and [5,15) overlap; [20,25) apart; [30,50) clipped to 40
      eq(Stats.unionLength(Seq((5L, 15L), (0L, 10L), (20L, 25L), (30L, 50L)), 0, 40), 30L)
      eq(Stats.unionLength(Seq((2L, 8L), (3L, 4L)), 0, 10), 6L) // nested
      eq(Stats.unionLength(Seq((0L, 3L), (3L, 6L)), 0, 10), 6L) // touching
      eq(Stats.unionLength(Nil, 0, 10), 0L)
    }
    test("driver_s is the call wall minus the union of its job walls") {
      val ledger = new EngineLedger
      val span = SpanRec(1, 0, "t", "x", 0L, 10000000000L, 1000L, 11000L)
      Seq((1, 2000L, 5000L), (2, 4000L, 7000L), (3, 9000L, 10000L)).foreach {
        case (id, a, b) =>
          val j = new ledger.Job(1, a, Nil); j.endMs = b; ledger.jobs(id) = j
      }
      val tree = new SpanTree(Seq(span), ledger)
      eq(tree.counters(span).jobs, 3)
      eq(tree.counters(span).jobWallMs, 6000L) // [2,7) s + [9,10) s
      close(tree.driverS(span), 4.0)
    }
    test("self time subtracts the children's covered interval") {
      val s = Seq(
        SpanRec(1, 0, "t", "load", 0, 100, 0, 0),
        SpanRec(2, 1, "t", "sink", 10, 40, 0, 0),
        SpanRec(3, 1, "t", "sink", 60, 70, 0, 0),
        SpanRec(4, 2, "t", "inner", 15, 20, 0, 0))
      val self = Stats.selfTimes(s)
      eq(self(1), 60L)
      eq(self(2), 25L)
      eq(self(3), 10L)
      eq(self(4), 5L)
    }
    test("HALF_EVEN 2-dp check allows ties either way") {
      assert(Checks.halfEven2(BigDecimal("1.125"), 1.12))
      assert(Checks.halfEven2(BigDecimal("1.1250000000001"), 1.12))
      assert(Checks.halfEven2(BigDecimal("1.1250000000001"), 1.13))
      assert(!Checks.halfEven2(BigDecimal("1.126"), 1.12))
      assert(Checks.halfEven2(BigDecimal("1.135"), 1.14))
    }
    println(s"${count - failures} passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
