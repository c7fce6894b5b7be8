package graftbench

import java.time.{DayOfWeek, LocalDate}
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.fred.io.FredSource

/** Seeded input generators. Every value is a pure function of the seed
  * (and of the row's own coordinates), so the same seed always yields
  * byte-identical inputs and the program under test sees nothing else. */
object Rng {
  /** splitmix64 finalizer: decorrelates (seed, coordinate) pairs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def at(seed: Long, coords: Long*): SplittableRandom =
    new SplittableRandom(coords.foldLeft(mix(seed, 0x5EEDL))(mix))
}

/** A FRED `series/observations` source over business days (Mon–Fri) of
  * [start, end]. About 3% of observations carry FRED's `'.'` missing
  * sentinel and about 1% an unparsable value; the rest are 4-dp decimals.
  * Counts every fetch, every distinct month fetched and the response
  * bytes, so the benchmark can see retried or repeated source work. */
final class SynthFred(seed: Long, val indicators: IndexedSeq[String],
    val start: LocalDate, val end: LocalDate) extends FredSource {

  val fetches = new AtomicLong
  val bytes = new AtomicLong
  private val monthsSeen = mutable.Set.empty[(String, Int, Int)]

  def months: Int = monthsSeen.synchronized(monthsSeen.size)
  def resetCounters(): Unit = {
    fetches.set(0); bytes.set(0); monthsSeen.synchronized(monthsSeen.clear())
  }

  def businessDays(from: LocalDate, to: LocalDate): Iterator[LocalDate] =
    Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(to))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
        d.getDayOfWeek != DayOfWeek.SUNDAY)

  /** The raw API string of one observation. */
  def value(seriesId: String, day: LocalDate): String = {
    val i = indicators.indexOf(seriesId)
    require(i >= 0, s"unknown series $seriesId")
    val r = Rng.at(seed, i.toLong, day.toEpochDay)
    val u = r.nextInt(1000)
    if (u < 30) "."
    else if (u < 40) SynthFred.Unparsable(r.nextInt(SynthFred.Unparsable.size))
    else BigDecimal(10L * (i + 1) * 100000L + r.nextLong(10000000L), 4)
      .bigDecimal.toPlainString
  }

  def fetchMonth(seriesId: String, from: LocalDate, to: LocalDate): String = {
    fetches.incrementAndGet()
    monthsSeen.synchronized(
      monthsSeen += ((seriesId, from.getYear, from.getMonthValue)))
    val json = response(seriesId, from, to)
    bytes.addAndGet(json.length.toLong)
    json
  }

  /** The response body, uncounted. */
  def response(seriesId: String, from: LocalDate, to: LocalDate): String = {
    val obs = businessDays(from, to).map { d =>
      s"""{"realtime_start":"$d","realtime_end":"$d","date":"$d",""" +
        s""""value":"${value(seriesId, d)}"}"""
    }.mkString(",")
    s"""{"series_id":"$seriesId","observation_start":"$from",""" +
      s""""observation_end":"$to","observations":[$obs]}"""
  }

  /** Independent monthly truth: (count, exact sum) of the parsable
    * values per (year, month) — what the silver/gold layers must serve. */
  def monthlyTruth(seriesId: String): Map[(Int, Int), (Long, BigDecimal)] =
    businessDays(start, end).toSeq
      .map(d => (d, value(seriesId, d)))
      .flatMap { case (d, v) =>
        scala.util.Try(BigDecimal(v)).toOption.map(x => (d, x)) }
      .groupBy { case (d, _) => (d.getYear, d.getMonthValue) }
      .map { case (k, xs) => k -> (xs.size.toLong, xs.map(_._2).sum) }

  /** All observations as one text blob (for the determinism tests). */
  def render: String = indicators.map { id =>
    FredSource.monthRanges(start, end)
      .map { case (f, l) => response(id, f, l) }.mkString("\n")
  }.mkString("\n")

  def observationCount: Long =
    indicators.size.toLong * businessDays(start, end).size
}

object SynthFred {
  /** Values `try_cast` cannot read as a double (and that are not NaN). */
  val Unparsable: IndexedSeq[String] = IndexedSeq("n/a", "1.2.3", "--", "#VALUE")
  /** Daily FRED series ids, as in the reference's indicator list. */
  val Indicators: IndexedSeq[String] = IndexedSeq("DGS10", "DFF", "T10Y2Y",
    "DEXUSEU", "DCOILWTICO", "SP500", "VIXCLS", "DTWEXBGS", "BAMLH0A0HYM2",
    "T5YIE", "DGS2")
}

final case class Doc(docId: Long, text: String, lang: String, source: String)

/** What a corpus generator injected, for the inputs record. */
final case class CorpusStats(rows: Int, bytes: Long, exactDupShare: Double,
    sharedSpanShare: Double)

/** A `documents` table shaped like the sf0.1 one (doc id, ~300 chars of
  * lower-case words, 5 languages, 20 sources) with two stated regimes:
  * `exactDupShare` of the docs are verbatim copies of an earlier doc, and
  * `spanShare` carry a 8–20-token passage copied from an earlier doc at
  * a different offset. Doc 2 is always a verbatim copy of doc 0, so every
  * seed holds at least one exact duplicate. Words come from a 400-word
  * skewed vocabulary. */
object Corpus {
  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es", "zh")
  private val Syllables = IndexedSeq("ka", "lo", "mi", "ra", "te", "shu",
    "ven", "dor", "pi", "qua", "sel", "bo", "nir", "ex", "tal", "um", "ge",
    "fa", "wo", "zen")
  val Vocab: IndexedSeq[String] = (0 until 400).map { i =>
    val r = Rng.at(0x70CABL, i.toLong)
    (0 to r.nextInt(3)).map(_ => Syllables(r.nextInt(Syllables.size))).mkString +
      Syllables(i % Syllables.size)
  }.distinct

  private def words(r: SplittableRandom, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n) {
      val u = r.nextDouble()
      Vocab((u * u * Vocab.size).toInt) // skewed: low ranks are frequent
    }

  def documents(seed: Long, n: Int, exactDupShare: Double = 0.05,
      spanShare: Double = 0.15): (IndexedSeq[Doc], CorpusStats) = {
    val texts = new Array[IndexedSeq[String]](n)
    var dups = 0
    var spans = 0
    val docs = (0 until n).map { i =>
      val r = Rng.at(seed, 0xD0CL, i.toLong)
      val u = r.nextDouble()
      val toks =
        if (i == 2 || (i > 0 && u < exactDupShare)) {
          dups += 1; texts(if (i == 2) 0 else r.nextInt(i))
        } else {
          val own = words(r, 35 + r.nextInt(30))
          if (i > 0 && u < exactDupShare + spanShare) {
            spans += 1
            val from = texts(r.nextInt(i))
            val len = math.min(from.size, 8 + r.nextInt(13))
            val at = r.nextInt(from.size - len + 1)
            val cut = r.nextInt(own.size + 1)
            own.take(cut) ++ from.slice(at, at + len) ++ own.drop(cut)
          } else own
        }
      texts(i) = toks
      Doc(i.toLong, toks.mkString(" "), Langs(r.nextInt(Langs.size)),
        s"src${r.nextInt(20)}")
    }
    (docs, CorpusStats(n, docs.map(_.text.length.toLong).sum,
      dups.toDouble / n, spans.toDouble / n))
  }

  /** 64-d embeddings around 16 seeded centroids; `nearShare` of them are
    * an earlier vector plus small noise (an injected near-duplicate). */
  def embeddings(seed: Long, n: Int, dim: Int = 64,
      nearShare: Double = 0.1): (IndexedSeq[(Long, Array[Float], Int)], CorpusStats) = {
    val centroids = (0 until 16).map { c =>
      val r = Rng.at(seed, 0xCE17L, c.toLong)
      Array.fill(dim)(r.nextGaussian() * 0.2)
    }
    val out = new Array[Array[Float]](n)
    var near = 0
    val rows = (0 until n).map { i =>
      val r = Rng.at(seed, 0xE3BL, i.toLong)
      val label = r.nextInt(centroids.size)
      val v =
        if (i > 0 && r.nextDouble() < nearShare) {
          near += 1
          out(r.nextInt(i)).map(x => (x + r.nextGaussian() * 0.005).toFloat)
        } else centroids(label).map(x => (x + r.nextGaussian() * 0.1).toFloat)
      out(i) = v
      (i.toLong, v, label)
    }
    (rows, CorpusStats(n, n.toLong * dim * 4, near.toDouble / n, 0.0))
  }

  /** Canonical text form of the generated rows (determinism tests). */
  def renderDocs(docs: Seq[Doc]): String =
    docs.map(d => s"${d.docId}\t${d.lang}\t${d.source}\t${d.text}").mkString("\n")
  def renderVecs(vs: Seq[(Long, Array[Float], Int)]): String =
    vs.map { case (id, v, l) => s"$id\t$l\t${v.mkString(",")}" }.mkString("\n")
}
