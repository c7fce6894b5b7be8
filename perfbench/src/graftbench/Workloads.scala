package graftbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ext.{CorpusReports, Dedup, SemDedup, SuffixDedup}
import graft.fred.Pipeline
import graft.fred.io.SheetSink

/** One timed call sequence of a pass: `kind` groups steps for the step
  * statistics (e.g. `dag` for one monthly DAG run). */
final case class Step(kind: String, seconds: Double, ok: Boolean)

/** What a workload contributes besides its timed steps. */
trait Workload {
  def name: String
  /** Items one pass works on, at the stated size. */
  def itemsPerPass: Long
  /** Step kinds whose median and tail are `step_p50_s` / `step_tail_s`. */
  def stepKinds: Set[String]
  /** Generate the seeded inputs and write them under the work dir. */
  def makeInputs(): Unit
  /** Sizes and injected shares of the generated inputs. */
  def inputsRecord: Map[String, Any]
  /** One pass; census work for the traced run happens between steps. */
  def pass(k: Int, traced: Boolean): Seq[Step]
  /** Output checks over the last pass, outside the timed region: the
    * names of the failed checks, and how many checks were made. */
  def check(): (Seq[String], Int)
  /** Per-layer metrics from the traced passes. */
  def layerMetrics(spans: Seq[SpanRec], ledger: EngineLedger): Map[String, Double]
}

abstract class WorkloadBase(val spark: SparkSession, val seed: Long,
    val work: String) extends Workload {

  protected val steps = mutable.ArrayBuffer.empty[Step]

  /** Time one step; a step that throws is recorded as failed. */
  protected def step(kind: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime
    val ok = try { body; true } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name $kind step failed: $e")
        false
    }
    steps += Step(kind, (System.nanoTime - t0) / 1e9, ok)
    Tracer.span("heap.sample")(Heap.sampleLive())
  }

  protected def runPass(body: => Unit): Seq[Step] = {
    steps.clear()
    body
    steps.toSeq
  }

  protected def span[T](n: String)(body: => T): T = Tracer.span(n)(body)

  def rmrf(path: String): Unit = {
    def go(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(path))
  }

  /** Data files under a root (Spark's `_SUCCESS`/`.crc` side files and
    * hidden staging dirs excluded), as path -> (bytes, mtime). */
  def dataFiles(root: String): Map[String, (Long, Long)] = {
    val out = mutable.Map.empty[String, (Long, Long)]
    def go(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.filterNot(c =>
        c.getName.startsWith(".") || c.getName.startsWith("_")).foreach(go))
      else out(f.getPath) = (f.length, f.lastModified)
    go(new File(root))
    out.toMap
  }

  /** Layer metrics shared by every workload: engine totals per pass. */
  protected def engineMetrics(spans: Seq[SpanRec], ledger: EngineLedger,
      tree: SpanTree): Map[String, Double] = {
    val perPass = spans.filter(_.name == "pass").map { p =>
      val c = tree.counters(p)
      Map("spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble,
        "spark.sched_delay_s" -> c.schedDelayMs / 1e3,
        "spark.tasks_failed" -> c.tasksFailed.toDouble,
        "spark.shuffle_write_mb" -> c.shuffleWriteB / 1e6,
        "spark.gc_s" -> c.gcMs / 1e3, "spark.executor_cpu_s" -> c.cpuNs / 1e9,
        "spark.driver_s" -> tree.driverS(p))
    }
    SpanTree.medianOf(perPass)
  }
}

/** Spans of a traced run with their engine counters. */
final class SpanTree(val spans: Seq[SpanRec], ledger: EngineLedger) {
  private val kids = spans.groupBy(_.parent)
  def subtree(s: SpanRec): Set[Int] =
    kids.getOrElse(s.id, Nil).flatMap(subtree).toSet + s.id
  def counters(s: SpanRec): Counters =
    ledger.counters(subtree(s), s.startMs, s.endMs + 1)
  /** Call wall not covered by any of its jobs' walls. */
  def driverS(s: SpanRec): Double =
    math.max(0.0, s.durNs / 1e9 - counters(s).jobWallMs / 1e3)
  def passes: Seq[String] = spans.filter(_.name == "pass").map(_.trace)
  def named(n: String): Seq[SpanRec] = spans.filter(_.name == n)
  /** Per-pass sum of `f` over the spans named `n`, median over passes. */
  def perPass(n: String)(f: SpanRec => Double): Double = {
    val byTrace = named(n).groupBy(_.trace)
    Stats.median(passes.map(t => byTrace.getOrElse(t, Nil).map(f).sum))
  }
}

object SpanTree {
  def medianOf(maps: Seq[Map[String, Double]]): Map[String, Double] =
    if (maps.isEmpty) Map.empty
    else maps.head.keys.map(k => k -> Stats.median(maps.map(_(k)))).toMap
}

/** The FRED lake DAG (`extract >> transform >> aggregate >> load`) in its
  * deployment lifecycle: each indicator is first backfilled over the
  * opening `backfillMonths` of the year in one DAG run (one extract call
  * writing one bronze leaf per month), then caught up `@monthly` for
  * `catchupMonths` one-month DAG runs over the growing lake, then one
  * seeded month is erased through `propagateDelete`. The serving sink is
  * an in-memory sheet fed by `SheetSink.syncAppend`. */
final class LakeWorkload(spark: SparkSession, seed: Long, work: String,
    nIndicators: Int, backfillMonths: Int, catchupMonths: Int)
    extends WorkloadBase(spark, seed, work) {

  val name = "lake_catchup"
  val year = 2023
  val source = new SynthFred(seed, SynthFred.Indicators.take(nIndicators),
    LocalDate.of(year, 1, 1),
    LocalDate.of(year, backfillMonths + catchupMonths, 1).plusMonths(1).minusDays(1))
  val ids: Seq[String] = source.indicators
  /** Seeded month each indicator erases after its catch-up. */
  val deletedMonth: Map[String, Int] =
    ids.zipWithIndex.map { case (id, i) => id ->
      (1 + Rng.at(seed, 0xDE1L, i.toLong).nextInt(backfillMonths + catchupMonths))
    }.toMap

  val sheetSchema: StructType = StructType(Seq(
    StructField("indicator", StringType), StructField("observation_year", IntegerType),
    StructField("observation_month", IntegerType), StructField("value", DoubleType),
    StructField("observation_count", LongType)))

  def itemsPerPass: Long = source.observationCount
  def stepKinds: Set[String] = Set("dag")
  def makeInputs(): Unit = ids.foreach(source.monthlyTruth)
  def inputsRecord: Map[String, Any] = Map("indicators" -> ids.size,
    "window" -> s"${source.start}..${source.end}",
    "backfill_months" -> backfillMonths, "catchup_months" -> catchupMonths,
    "observations" -> source.observationCount,
    "source_bytes" -> ids.map(id => graft.fred.io.FredSource.monthRanges(
      source.start, source.end).map { case (f, l) =>
        source.response(id, f, l).length.toLong }.sum).sum)

  private var root = ""
  private var sheet: SheetSink.InMemory = _
  private val censusByPass = mutable.ArrayBuffer.empty[Map[String, (Double, Double, Double)]]
  private val sourceByPass = mutable.ArrayBuffer.empty[(Long, Int, Long)]

  def pass(k: Int, traced: Boolean): Seq[Step] = {
    if (root.nonEmpty) rmrf(root)
    root = s"$work/lake/pass$k"
    sheet = new SheetSink.InMemory(sheetSchema)
    source.resetCounters()
    // no retry delay: a failing layer shows as a failed step, not a hang
    val pipe = new Pipeline(spark, source, root, retries = 1, retryDelayMs = 0L)
    val sink: DataFrame => Unit = df =>
      span("sink.syncAppend")(SheetSink.syncAppend(df, sheet))
    def dag(kind: String, id: String, from: LocalDate, to: LocalDate): Unit = step(kind) {
      span("pipeline.extract")(pipe.extract(id, from, to))
      span("pipeline.transform")(pipe.transform(id, Seq(year)))
      span("pipeline.aggregate")(pipe.aggregate(id, Seq(year)))
      span("pipeline.load")(pipe.load(id, Seq(year))(sink))
    }
    val months = graft.fred.io.FredSource.monthRanges(source.start, source.end)
    val out = runPass {
      ids.foreach(id => dag("backfill", id, source.start, months(backfillMonths - 1)._2))
      months.drop(backfillMonths).foreach { case (f, l) =>
        ids.foreach(id => dag("dag", id, f, l)) }
      ids.foreach(id => step("delete") {
        span("pipeline.delete")(pipe.propagateDelete(id, year, deletedMonth(id)))
      })
    }
    if (traced) {
      censusByPass += takeCensus()
      sourceByPass += ((source.fetches.get, source.months, source.bytes.get))
    }
    out
  }

  /** (rows, files, bytes) the layers left in the lake. */
  private def takeCensus(): Map[String, (Double, Double, Double)] = {
    def layer(dir: String, rows: => Long): (Double, Double, Double) = {
      val fs = dataFiles(s"$root/$dir")
      (if (fs.isEmpty) 0.0 else rows.toDouble, fs.size.toDouble,
        fs.values.map(_._1).sum.toDouble)
    }
    val bronze = layer("raw_data", dataFiles(s"$root/raw_data").keys.toSeq
      .map(p => scala.io.Source.fromFile(p).getLines().size.toLong).sum)
    val silver = layer("processed_data", spark.read.parquet(s"$root/processed_data").count())
    val gold = layer("aggregated_data", spark.read.parquet(s"$root/aggregated_data").count())
    // the gold partitions the deletes re-derived
    val deleted = {
      val dirs = ids.map(id => s"aggregated_data/indicator=$id/observation_year=$year")
      val fs = dirs.flatMap(d => dataFiles(s"$root/$d"))
      (spark.read.parquet(s"$root/aggregated_data")
        .where(col("indicator").isin(ids: _*)).count().toDouble,
        fs.size.toDouble, fs.map(_._2._1).sum.toDouble)
    }
    Map("extract" -> bronze, "transform" -> silver, "aggregate" -> gold,
      "load" -> (sheet.size.toDouble, 0.0, 0.0), "delete" -> deleted)
  }

  def check(): (Seq[String], Int) = {
    val bad = mutable.ArrayBuffer.empty[String]
    val served = sheet.read(spark).collect().map { r =>
      (r.getString(0), r.getInt(1), r.getInt(2)) -> (r.getDouble(3), r.getLong(4))
    }
    if (served.length != served.map(_._1).distinct.length) bad += "sheet: duplicate keys"
    val servedMap = served.toMap
    val truth = ids.flatMap(id => source.monthlyTruth(id).map { case ((y, m), v) =>
      (id, y, m) -> v })
    if (servedMap.keySet != truth.map(_._1).toSet) bad += "sheet: wrong key set"
    truth.foreach { case (key, (n, sum)) =>
      servedMap.get(key).foreach { case (v, c) =>
        if (c != n) bad += s"sheet $key: count $c != $n"
        if (!Checks.halfEven2(sum / n, v)) bad += s"sheet $key: value $v != mean ${sum / n}"
      }
    }
    // the erased indicator-months are gone from gold; the rest remain
    val gold = spark.read.parquet(s"$root/aggregated_data")
      .select("indicator", "observation_year", "observation_month").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val want = truth.map(_._1).toSet.filterNot(t => deletedMonth(t._1) == t._3)
    if (gold != want) bad += s"gold after delete: ${gold.size} rows, want ${want.size}"
    (bad.toSeq, 4)
  }

  def layerMetrics(spans: Seq[SpanRec], ledger: EngineLedger): Map[String, Double] = {
    val tree = new SpanTree(spans, ledger)
    val layers = Seq("extract", "transform", "aggregate", "load", "delete")
    val census = SpanTree.medianOf(censusByPass.toSeq.map(_.flatMap {
      case (l, (r, f, b)) => Seq(s"$l.rows" -> r, s"$l.files" -> f, s"$l.bytes" -> b)
    }))
    val perLayer = layers.flatMap { l =>
      val n = s"pipeline.$l"
      Seq(s"$n.s" -> tree.perPass(n)(_.durNs / 1e9),
        s"$n.calls" -> tree.perPass(n)(_ => 1.0),
        s"$n.jobs" -> tree.perPass(n)(s => tree.counters(s).jobs.toDouble),
        s"$n.tasks" -> tree.perPass(n)(s => tree.counters(s).tasks.toDouble),
        s"$n.driver_s" -> tree.perPass(n)(tree.driverS),
        s"$n.rows_out" -> census(s"$l.rows"),
        s"$n.files_out" -> census(s"$l.files"),
        s"$n.bytes_out" -> census(s"$l.bytes"))
    }
    val src = sourceByPass.toSeq
    val srcBytes = Stats.median(src.map(_._3.toDouble))
    val lakeBytes = Seq("extract", "transform", "aggregate").map(l => census(s"$l.bytes")).sum
    (perLayer ++ Seq(
      "sink.s" -> tree.perPass("sink.syncAppend")(_.durNs / 1e9),
      "sink.calls" -> tree.perPass("sink.syncAppend")(_ => 1.0),
      "sink.rows" -> census("load.rows"),
      "source.fetches" -> Stats.median(src.map(_._1.toDouble)),
      "source.months" -> Stats.median(src.map(_._2.toDouble)),
      "source.bytes" -> srcBytes,
      "io.write_amp" -> (if (srcBytes > 0) lakeBytes / srcBytes else 0.0)
    )).toMap ++ engineMetrics(spans, ledger, tree)
  }
}

/** The suffix-array heads over a seeded sf0.1-shaped `documents` table.
  * Each head is built (eager materializations included), then executed
  * by collecting its rows, which the oracle check reuses. */
final class SuffixWorkload(spark: SparkSession, seed: Long, work: String,
    nDocs: Int) extends WorkloadBase(spark, seed, work) {

  val name = "suffix_dedup"
  val inputs = s"$work/inputs"
  val heads: Seq[(String, DataFrame => DataFrame)] = Seq(
    "spans" -> (d => SuffixDedup.duplicatedSpans(d, "doc_id", "text", minTokens = 5)),
    "longest" -> (d => SuffixDedup.longestMatch(d, "doc_id", "text", minTokens = 5)))
  /** Catalog query whose DuckDB oracle checks each head. */
  val oracleName = Map("spans" -> "dedup_substring_exact",
    "longest" -> "dedup_longest_match")

  private var stats: CorpusStats = _
  private var tokens = 0L
  private val last = mutable.Map.empty[String, (StructType, Array[Row])]
  private val perHead = mutable.ArrayBuffer.empty[Map[String, Double]]

  def itemsPerPass: Long = tokens
  def stepKinds: Set[String] = Set("head")
  def makeInputs(): Unit = {
    val (docs, st) = Corpus.documents(seed, nDocs)
    stats = st
    tokens = docs.map(_.text.split(' ').length.toLong).sum
    Inputs.writeDocuments(spark, docs, s"$inputs/documents.parquet")
  }
  def inputsRecord: Map[String, Any] = Map("documents" -> stats.rows,
    "bytes" -> stats.bytes, "tokens" -> tokens,
    "exact_dup_share" -> stats.exactDupShare,
    "shared_span_share" -> stats.sharedSpanShare)

  def pass(k: Int, traced: Boolean): Seq[Step] = runPass {
    heads.foreach { case (h, f) =>
      step("head")(span(s"suffix.$h") {
        val df = span(s"suffix.$h.build")(f(graft.Tables.documents(spark, inputs)))
        last(h) = (df.schema, span(s"suffix.$h.exec")(df.collect()))
      })
      if (traced) perHead += Map(s"$h.materialized_mb" ->
        spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6)
    }
  }

  /** Writes each head's output and its oracle SQL for the DuckDB
    * hash compare the launcher runs after the JVM exits. */
  def check(): (Seq[String], Int) = {
    val out = s"$work/oracle"
    rmrf(out)
    val sql = graft.SparkEntry.oracleSql
    last.foreach { case (h, (schema, rows)) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
        .write.parquet(s"$out/${oracleName(h)}")
    }
    val json = oracleName.values.toSeq.sorted.map(q =>
      org.json4s.jackson.JsonMethods.compact(org.json4s.JString(q)) + ":" +
        org.json4s.jackson.JsonMethods.compact(org.json4s.JString(sql(q))))
    Checks.writeFile(s"$out/oracle_sql.json", json.mkString("{", ",", "}"))
    // one DuckDB compare per head; the launcher adds the mismatches
    (if (last.size == heads.size) Nil else Seq("suffix: a head produced no output"),
      heads.size)
  }

  def layerMetrics(spans: Seq[SpanRec], ledger: EngineLedger): Map[String, Double] = {
    val tree = new SpanTree(spans, ledger)
    val mat = perHead.toSeq.flatten.groupBy(_._1)
      .map { case (k, vs) => k -> Stats.median(vs.map(_._2)) }
    heads.flatMap { case (h, _) =>
      val n = s"suffix.$h"
      def c(f: Counters => Double): Double = tree.perPass(n)(s => f(tree.counters(s)))
      Seq(s"$n.build_s" -> tree.perPass(s"$n.build")(_.durNs / 1e9),
        s"$n.exec_s" -> tree.perPass(s"$n.exec")(_.durNs / 1e9),
        s"$n.jobs" -> c(_.jobs), s"$n.stages" -> c(_.stages),
        s"$n.shuffle_read_mb" -> c(_.shuffleReadB / 1e6),
        s"$n.shuffle_write_mb" -> c(_.shuffleWriteB / 1e6),
        s"$n.spill_mb" -> c(_.spillB / 1e6),
        s"$n.executor_run_s" -> c(_.runMs / 1e3),
        s"$n.executor_cpu_s" -> c(_.cpuNs / 1e9),
        s"$n.gc_s" -> c(_.gcMs / 1e3),
        s"$n.task_skew" -> c(_.skew),
        s"$n.driver_s" -> tree.perPass(n)(tree.driverS),
        s"$n.materialized_mb" -> mat.getOrElse(s"$h.materialized_mb", 0.0))
    }.toMap ++ engineMetrics(spans, ledger, tree)
  }
}

/** Saved-state lifecycle: batch 0 folds into fresh near-dup, semantic and
  * corpus-report states, batch 1 folds into the near-dup state, a tenth
  * of the folded docs are deleted, the near-dup state is compacted, the
  * semantic state re-centered from 8 to 16 centers, then batch 2 probes
  * both screens against what survived. Batch 2 always holds a duplicate
  * of a surviving doc (doc 2 copies doc 0, see `Corpus.documents`). */
final class StateWorkload(spark: SparkSession, seed: Long, work: String,
    nDocs: Int, nVecs: Int) extends WorkloadBase(spark, seed, work) {

  val name = "state_lifecycle"
  val inputs = s"$work/inputs"
  val ops: Seq[String] = Seq("fold", "delete", "compact", "recenter", "probe")

  private var docStats, vecStats: CorpusStats = _
  private var roots: Seq[String] = Nil
  private var nearOut, semOut: Set[(Long, Long)] = Set.empty
  private val opIo = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** Docs and vectors folded: two doc batches and one vector batch. */
  def itemsPerPass: Long = (2 * nDocs / 3 + nVecs / 3).toLong
  def stepKinds: Set[String] = Set("op")
  def makeInputs(): Unit = {
    val (docs, ds) = Corpus.documents(seed, nDocs)
    val (vecs, vs) = Corpus.embeddings(seed, nVecs)
    docStats = ds; vecStats = vs
    Inputs.writeDocuments(spark, docs, s"$inputs/documents.parquet")
    Inputs.writeEmbeddings(spark, vecs, s"$inputs/embeddings.parquet")
  }
  def inputsRecord: Map[String, Any] = Map("documents" -> docStats.rows,
    "doc_bytes" -> docStats.bytes, "exact_dup_share" -> docStats.exactDupShare,
    "shared_span_share" -> docStats.sharedSpanShare,
    "embeddings" -> vecStats.rows, "dim" -> 64, "vec_bytes" -> vecStats.bytes,
    "near_dup_share" -> vecStats.exactDupShare)

  private def docs = graft.Tables.documents(spark, inputs).select("doc_id", "text", "lang", "source")
  private def vecs = graft.Tables.embeddings(spark, inputs).select("vec_id", "embedding")
  private def batch(df: DataFrame, id: String, b: Int) = df.filter(col(id) % 3 === b)
  private def deleted = docs.filter(col("doc_id") % 3 =!= 2 && col("doc_id") % 10 === 1)

  def pass(k: Int, traced: Boolean): Seq[Step] = {
    roots.foreach(r => rmrf(new File(r).getParent))
    val base = s"$work/state/pass$k"
    val Seq(near, sem, card) = Seq("near", "sem", "card").map(s => s"$base/$s/state")
    roots = Seq(near, sem, card)
    var io = Map.empty[String, Double]
    def op(o: String)(body: => Unit): Unit = {
      val before: Map[String, (Long, Long)] =
        if (traced) roots.flatMap(dataFiles).toMap else Map.empty
      step("op")(span(s"state.$o")(body))
      if (traced) {
        val after = roots.flatMap(dataFiles).toMap
        val written = after.filter { case (p, v) => !before.get(p).contains(v) }
        io = io ++ Map(s"$o.files" -> (io.getOrElse(s"$o.files", 0.0) + written.size),
          s"$o.bytes" -> (io.getOrElse(s"$o.bytes", 0.0) + written.values.map(_._1).sum))
      }
    }
    val out = runPass {
      // batch 0 starts all three states; batch 1 appends to the near-dup
      // state the delete, compaction and probe then work on
      op("fold") {
        Dedup.updateSavedNearDupState(near, batch(docs, "doc_id", 0).select("doc_id", "text"),
          "doc_id", "text", batchId = 0L)
        SemDedup.updateSavedSemanticState(sem, batch(vecs, "vec_id", 0),
          "vec_id", "embedding", nCenters = 8, batchId = 0L)
        CorpusReports.updateSavedCorpusReport(card, batch(docs, "doc_id", 0), batchId = 0L)
      }
      op("fold")(Dedup.updateSavedNearDupState(near,
        batch(docs, "doc_id", 1).select("doc_id", "text"), "doc_id", "text", batchId = 1L))
      op("delete")(Dedup.deleteDocsFromSavedNearDupState(near,
        deleted.select("doc_id", "text"), "doc_id", "text"))
      op("compact")(Dedup.compactSavedNearDupState(spark, near))
      op("recenter")(SemDedup.recenterSavedSemanticState(spark, sem, newNCenters = 16))
      op("probe") {
        nearOut = Dedup.newAgainstIndex(batch(docs, "doc_id", 2).select("doc_id", "text"),
          Dedup.savedNearDupIndex(spark, near), "doc_id", "text").collect()
          .map(r => (r.getLong(0), 0L)).toSet
        semOut = SemDedup.newAgainstSavedSemantic(batch(vecs, "vec_id", 2), sem,
          "vec_id", "embedding", floor = 0.4).collect()
          .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
      }
    }
    if (traced) {
      val live = roots.flatMap(dataFiles)
      opIo += io ++ Map("live.files" -> live.size.toDouble,
        "live.bytes" -> live.map(_._2._1).sum.toDouble)
    }
    out
  }

  /** The saved-state probe must equal the in-memory screens over the
    * surviving corpus (near-dup) and the folded vectors (semantic). */
  def check(): (Seq[String], Int) = {
    val folded = docs.filter(col("doc_id") % 3 =!= 2).select("doc_id", "text")
    val survivors = folded.join(deleted.select("doc_id"), Seq("doc_id"), "left_anti")
    val wantNear = Dedup.newAgainstReferenceNear(
      batch(docs, "doc_id", 2).select("doc_id", "text"), survivors, "doc_id", "text")
      .collect().map(r => (r.getLong(0), 0L)).toSet
    val wantSem = SemDedup.newAgainstReferenceSemantic(batch(vecs, "vec_id", 2),
      batch(vecs, "vec_id", 0), "vec_id", "embedding",
      nCenters = 16, floor = 0.4).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
    val bad = mutable.ArrayBuffer.empty[String]
    // doc 2 copies surviving doc 0: the screens always have a doc to drop
    if (wantNear.contains((2L, 0L)))
      bad += "near probe: in-memory screen kept doc 2, a copy of doc 0"
    else if (nearOut != wantNear)
      bad += s"near probe: ${nearOut.size} survivors, in-memory screen ${wantNear.size}"
    if (semOut != wantSem)
      bad += s"semantic probe: ${semOut.size} survivors, in-memory screen ${wantSem.size}"
    (bad.toSeq, 2)
  }

  def layerMetrics(spans: Seq[SpanRec], ledger: EngineLedger): Map[String, Double] = {
    val tree = new SpanTree(spans, ledger)
    val io = SpanTree.medianOf(opIo.toSeq.map(m =>
      (ops.flatMap(o => Seq(s"$o.files", s"$o.bytes")) ++ Seq("live.files", "live.bytes"))
        .map(k => k -> m.getOrElse(k, 0.0)).toMap))
    val written = ops.map(o => io(s"$o.bytes")).sum
    // logical bytes: the folded two thirds of the docs and third of the
    // vectors, and what survives the delete of a tenth of the folded docs
    val logical = docStats.bytes * 2 / 3.0 + vecStats.bytes / 3.0
    val liveLogical = logical - docStats.bytes * 2 / 30.0
    ops.flatMap { o =>
      val n = s"state.$o"
      Seq(s"$n.s" -> tree.perPass(n)(_.durNs / 1e9),
        s"$n.jobs" -> tree.perPass(n)(s => tree.counters(s).jobs.toDouble),
        s"$n.files_written" -> io(s"$o.files"),
        s"$n.bytes_written" -> io(s"$o.bytes"))
    }.toMap ++ Map(
      "state.bytes_live" -> io("live.bytes"),
      "state.files_live" -> io("live.files"),
      "state.write_amp" -> written / logical,
      "state.space_amp" -> io("live.bytes") / liveLogical
    ) ++ engineMetrics(spans, ledger, tree)
  }
}

/** Several workloads' passes run back to back as one pass, over shared
  * inputs, with their checks and layer metrics combined. */
final class Composite(val name: String, parts: Seq[Workload]) extends Workload {
  def itemsPerPass: Long = parts.map(_.itemsPerPass).sum
  def stepKinds: Set[String] = parts.flatMap(_.stepKinds).toSet
  def makeInputs(): Unit = parts.foreach(_.makeInputs())
  def inputsRecord: Map[String, Any] = parts.map(_.inputsRecord).reduce(_ ++ _)
  def pass(k: Int, traced: Boolean): Seq[Step] = parts.flatMap(_.pass(k, traced))
  def check(): (Seq[String], Int) = {
    val cs = parts.map(_.check())
    (cs.flatMap(_._1), cs.map(_._2).sum)
  }
  def layerMetrics(spans: Seq[SpanRec], ledger: EngineLedger): Map[String, Double] =
    parts.map(_.layerMetrics(spans, ledger)).reduce(_ ++ _)
}

object Inputs {
  def writeDocuments(spark: SparkSession, docs: Seq[Doc], path: String): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docs.map(d =>
      Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)), 1), schema)
      .write.mode("overwrite").parquet(path)
  }
  def writeEmbeddings(spark: SparkSession, vecs: Seq[(Long, Array[Float], Int)],
      path: String): Unit = {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(vecs.map { case (i, v, l) =>
      Row(i, v.toSeq, l) }, 1), schema)
      .write.mode("overwrite").parquet(path)
  }
}

object Checks {
  /** `served` is the mean rounded HALF_EVEN to 2 dp; a mean within 1e-9
    * of a tie may round either way (see the `YearlyGold` scaladoc). */
  def halfEven2(mean: BigDecimal, served: Double): Boolean = {
    val s = BigDecimal(served).setScale(2, BigDecimal.RoundingMode.HALF_EVEN)
    Seq(BigDecimal(0), BigDecimal("1e-9"), BigDecimal("-1e-9")).exists(d =>
      (mean + d).setScale(2, BigDecimal.RoundingMode.HALF_EVEN) == s) &&
      (BigDecimal(served) - s).abs < BigDecimal("1e-9")
  }
  def appendLine(f: File, line: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.FileWriter(f, true)
    try w.write(line + "\n") finally w.close()
  }
  def writeFile(path: String, s: String): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(s) finally w.close()
  }
}
