package graft.fred.io

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** G1 — the FRED `series/observations` REST source.
  *
  * An API that returns at most thousands of rows per call must not be a
  * distributed scan: fetch and parse on the driver, hand Spark a local
  * frame (`extract_fred_data.py:94-139`). The trait lets tests inject fixture
  * JSON; `HttpFredSource` is the real client with the reference's retry
  * posture (3 retries, backoff, honor 429; `extract_fred_data.py:74-77,
  * 105-110`).
  */
trait FredSource {
  /** One calendar month of observations as raw FRED response JSON. */
  def fetchMonth(seriesId: String, start: LocalDate, end: LocalDate): String
}

object FredSource {

  /** C8 — split an inclusive [start, end] range into calendar-month
    * (first, last) pairs (`extract_fred_data.py:22-51`). Driver-side:
    * it parameterizes ingest, not data. */
  def monthRanges(start: LocalDate, end: LocalDate): Seq[(LocalDate, LocalDate)] = {
    Iterator.iterate(start.withDayOfMonth(1))(_.plusMonths(1))
      .takeWhile(!_.isAfter(end))
      .map { first =>
        val last = first.plusMonths(1).minusDays(1)
        (if (first.isBefore(start)) start else first,
         if (last.isAfter(end)) end else last)
      }
      .toSeq
  }

  /** Floats parse to `BigDecimal` with their trailing zeros, so an
    * unquoted `4.10` keeps its text instead of becoming `4.1`. */
  private val json = JsonMapper.builder()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .disable(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES)
    .build()

  /** Parse one raw FRED response into its observations, as rows of
    * [[graft.fred.Schemas.observation]]. Shape-validated like
    * `extract_fred_data.py:116-129`: an `observations` list must be
    * present, each element carrying `date` + `value`. Parsed on the
    * driver: a response is one month of one series, so no Spark job is
    * worth spending on it. Scalars keep their JSON text, a JSON `null`
    * stays null, other fields (`realtime_*`) are ignored. */
  def parse(responseJson: String): IndexedSeq[Row] = {
    val obs = json.readTree(responseJson).get("observations")
    require(obs != null && obs.isArray, "FRED response missing 'observations'")
    obs.elements().asScala.map { o =>
      val (date, value) = (o.get("date"), o.get("value"))
      require(date != null && value != null, "FRED observation missing date/value")
      Row(text(date), text(value))
    }.toIndexedSeq
  }

  /** null for JSON `null`, the text of a scalar, compact JSON otherwise. */
  private def text(n: JsonNode): String =
    if (n.isNull) null else if (n.isValueNode) n.asText() else n.toString

  /** [[parse]] as a local frame of [[graft.fred.Schemas.observation]]. */
  def observations(spark: SparkSession, responseJson: String): DataFrame =
    spark.createDataFrame(parse(responseJson).asJava, graft.fred.Schemas.observation)

  /** Fixture-backed source for tests. */
  class Fixture(byMonth: Map[(String, Int, Int), String]) extends FredSource {
    def fetchMonth(seriesId: String, start: LocalDate, end: LocalDate): String =
      byMonth((seriesId, start.getYear, start.getMonthValue))
  }

  /** One HTTP exchange as seen by the retry loop. */
  case class HttpReply(status: Int, retryAfter: Option[String], body: String)

  /** Real HTTP client. Retries 5xx/429 with linear backoff like the
    * reference's `urllib3.Retry(total=3, backoff_factor=1)`, and
    * spaces successive calls by `throttleMillis` — the reference's
    * inter-month politeness sleep (`extract_fred_data.py:284` sleeps
    * 5 s between calls). Kept driver-side; zero-egress environments
    * never construct it. `sleep`/`nowMillis` are injectable so the
    * timing behavior is unit-testable with a fake clock, and
    * [[request]] is overridable to fake the transport.
    */
  class Http(apiKey: String,
      baseUrl: String = "https://api.stlouisfed.org/fred/series/observations",
      maxRetries: Int = 3,
      throttleMillis: Long = 5000L,
      sleep: Long => Unit = Thread.sleep,
      nowMillis: () => Long = () => System.currentTimeMillis()) extends FredSource {
    private lazy val client = java.net.http.HttpClient.newHttpClient()
    private var lastCallAt = Long.MinValue / 2 // first call never throttles

    /** One GET exchange — the only method that touches the network. */
    protected def request(url: String): HttpReply = {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      val ra = resp.headers().firstValue("Retry-After")
      HttpReply(resp.statusCode(), if (ra.isPresent) Some(ra.get) else None, resp.body())
    }

    def fetchMonth(seriesId: String, start: LocalDate, end: LocalDate): String = {
      val url = s"$baseUrl?series_id=$seriesId&api_key=$apiKey&file_type=json" +
        s"&observation_start=$start&observation_end=$end"
      var attempt = 0
      var result: Option[String] = None
      while (result.isEmpty) {
        val throttle = lastCallAt + throttleMillis - nowMillis()
        if (throttle > 0) sleep(throttle)
        val resp = request(url)
        lastCallAt = nowMillis()
        resp.status match {
          case 200 => result = Some(resp.body)
          case code if (code == 429 || code >= 500) && attempt < maxRetries =>
            // Retry-After may be delta-seconds OR an HTTP-date
            // (RFC 9110 §10.2.3); a non-integer value falls back to
            // the linear backoff instead of aborting the retry loop
            val waitSec = resp.retryAfter
              .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
              .getOrElse((attempt + 1).toLong)
            sleep(waitSec * 1000L)
            attempt += 1
          case code => sys.error(s"FRED API error $code for $seriesId")
        }
      }
      result.get
    }
  }
}
