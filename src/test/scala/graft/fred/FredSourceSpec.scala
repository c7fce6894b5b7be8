package graft.fred

import java.time.LocalDate
import graft.SparkSpec
import graft.fred.io.FredSource

/** G1 timing behavior: inter-call throttle (`extract_fred_data.py:284`
  * sleeps 5 s between month calls) and Retry-After parsing (RFC 9110
  * allows delta-seconds OR an HTTP-date; the latter must fall back to
  * linear backoff, not abort the retry loop). All tested with a fake
  * clock/transport — no network, no real sleeping. Then the driver-side
  * response parse: shape checks, JSON text kept as text.
  */
class FredSourceSpec extends SparkSpec {

  private def http(replies: FredSource.HttpReply*): TestableHttp =
    new TestableHttp(replies.iterator)

  /** Http with fake clock + transport: `replies` are served in order,
    * sleeps are recorded and advance the clock. The clock lives in a
    * holder object because constructor params can't reference `this`. */
  private class Clock { var t = 0L }
  private class TestableHttp(replies: Iterator[FredSource.HttpReply],
      val clock: Clock = new Clock,
      val sleeps: scala.collection.mutable.ArrayBuffer[Long] =
        scala.collection.mutable.ArrayBuffer.empty[Long])
    extends FredSource.Http("key", maxRetries = 3, throttleMillis = 5000L,
        sleep = ms => { sleeps += ms; clock.t += ms },
        nowMillis = () => clock.t) {
    override protected def request(url: String): FredSource.HttpReply = {
      clock.t += 100 // each exchange takes 100 ms of fake time
      replies.next()
    }
  }

  private val jan = LocalDate.parse("2024-01-01")
  private val ok = FredSource.HttpReply(200, None, """{"observations":[]}""")

  test("back-to-back calls are spaced by the politeness throttle") {
    val h = http(ok, ok, ok)
    h.fetchMonth("DGS10", jan, jan.plusMonths(1))
    assert(h.sleeps.isEmpty, "first call never throttles")
    h.fetchMonth("DGS10", jan.plusMonths(1), jan.plusMonths(2))
    // call 1 finished at t=100; call 2 must wait until t=5100
    assert(h.sleeps.toSeq == Seq(5000L))
    h.fetchMonth("DGS10", jan.plusMonths(2), jan.plusMonths(3))
    assert(h.sleeps.toSeq == Seq(5000L, 5000L))
  }

  test("integer Retry-After is honored in seconds") {
    val h = http(FredSource.HttpReply(429, Some("7"), ""), ok)
    h.fetchMonth("DGS10", jan, jan.plusMonths(1))
    assert(h.sleeps.toSeq == Seq(7000L))
  }

  test("HTTP-date Retry-After falls back to linear backoff instead of throwing") {
    val h = http(
      FredSource.HttpReply(503, Some("Wed, 21 Oct 2026 07:28:00 GMT"), ""),
      FredSource.HttpReply(503, Some("Wed, 21 Oct 2026 07:28:00 GMT"), ""),
      ok)
    h.fetchMonth("DGS10", jan, jan.plusMonths(1))
    // linear backoff: attempt 0 → 1 s, attempt 1 → 2 s. Retries ALSO
    // respect the inter-call throttle (each retry is a real API call),
    // so the full sleep sequence interleaves backoff and throttle
    // remainders — asserted by exact sequence
    assert(h.sleeps.toSeq == Seq(1000L, 4000L, 2000L, 3000L))
  }

  test("retries exhaust into an error on persistent 5xx") {
    val h = http(
      FredSource.HttpReply(500, None, ""), FredSource.HttpReply(500, None, ""),
      FredSource.HttpReply(500, None, ""), FredSource.HttpReply(500, None, ""))
    val e = intercept[RuntimeException] {
      h.fetchMonth("DGS10", jan, jan.plusMonths(1))
    }
    assert(e.getMessage.contains("500"))
  }

  // ------------------------------------------------ driver-side parse

  private def values(json: String): Seq[(String, String)] =
    FredSource.parse(json).map(r => (r.getString(0), r.getString(1)))

  test("parse: a response without observations fails the shape check") {
    val e = intercept[IllegalArgumentException] {
      FredSource.parse("""{"error_code":400,"error_message":"Bad Request"}""")
    }
    assert(e.getMessage.contains("FRED response missing 'observations'"))
    val e2 = intercept[IllegalArgumentException] {
      FredSource.parse("""{"observations":[{"date":"2024-01-02"}]}""")
    }
    assert(e2.getMessage.contains("FRED observation missing date/value"))
  }

  test("parse: an empty observations list is an empty (date, value) frame; extract writes no leaf") {
    val empty = FredSource.observations(spark, """{"observations":[]}""")
    assert(empty.schema == Schemas.observation)
    assert(empty.isEmpty)
    val tmp = java.nio.file.Files.createTempDirectory("graft-empty-month").toString
    val pipe = new Pipeline(spark,
      new FredSource.Fixture(Map(("DGS10", 2024, 1) -> """{"observations":[]}""")), tmp)
    pipe.extract("DGS10", jan, LocalDate.parse("2024-01-31"))
    assert(!new java.io.File(s"$tmp/raw_data/indicator=DGS10").exists())
  }

  test("parse: JSON null stays null, unquoted numbers keep their text, extra fields are skipped") {
    val json =
      """{"realtime_start":"2024-05-01","count":4,"observations":[
        |{"realtime_start":"2024-05-01","realtime_end":"2024-05-01","date":"2024-01-02","value":null},
        |{"date":"2024-01-03","value":4.10,"realtime_end":"2024-05-01"},
        |{"date":"2024-01-04","value":"."},
        |{"date":"2024-01-05","value":"oops","extra":{"nested":[1,2]}}],
        |"units":"lin"}""".stripMargin.replace("\n", "")
    assert(values(json) == Seq(
      ("2024-01-02", null), ("2024-01-03", "4.10"),
      ("2024-01-04", "."), ("2024-01-05", "oops")))
    val frame = FredSource.observations(spark, json)
    assert(frame.schema == Schemas.observation)
    assert(frame.where("value is null").count() == 1L)
  }
}
