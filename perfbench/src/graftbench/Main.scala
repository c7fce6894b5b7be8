package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: one workload in one JVM at `local[nproc]`, driven
  * as a closed loop by a single client (each step starts when the
  * previous one returns).
  *
  *   set-up   JVM and session start, seeded input generation (three
  *            times, the median is kept), in CPU seconds of the JVM;
  *   measure  passes until `seconds` have elapsed, at least one. The
  *            first pass runs in the fresh JVM, as a scheduled batch job
  *            does: class loading, JIT and code generation are in it;
  *   check    the outputs of the last pass, outside the timed region.
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics. Traced
  * (`--trace 1`) the same passes run with spans and the engine listener
  * on; it reports the per-layer metrics, the pass wall time, the step
  * median and tail and the tracing overhead (traced pass minus the median
  * untraced pass of earlier runs of the same build, kept in `<trace-dir>`),
  * and writes the spans to `<trace-dir>/<workload>-<seed>.json`. The last
  * stdout line is the result object.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")

    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors, "graftbench")
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = new EngineLedger
    val tracer = new Tracer(spark.sparkContext)
    if (traced) {
      spark.sparkContext.addSparkListener(ledger)
      Tracer.current = Some(tracer)
    }

    val wl: Workload = workload match {
      case "lake_catchup" => new LakeWorkload(spark, seed, work, nIndicators = 1,
        backfillMonths = 3, catchupMonths = 6)
      case "corpus_dedup" => new Composite(workload, Seq(
        new SuffixWorkload(spark, seed, work, nDocs = 200),
        new StateWorkload(spark, seed, work, nDocs = 200, nVecs = 100)))
      case other => sys.error(s"unknown workload $other")
    }

    val gens = (1 to 3).map { _ =>
      val c = Heap.processCpuS(); wl.makeInputs(); Heap.processCpuS() - c }
    val setupS = Heap.processCpuS() - gens.sum + Stats.median(gens)

    val passS, cpuS = mutable.ArrayBuffer.empty[Double]
    val heapMb, gcPeakMb = mutable.ArrayBuffer.empty[Double]
    val steps = mutable.ArrayBuffer.empty[Step]
    val t0 = System.nanoTime
    var k = 0
    while (k == 0 || (System.nanoTime - t0) / 1e9 < seconds) {
      tracer.trace = s"$workload/pass$k"
      Heap.startPass()
      val cpu0 = Heap.processCpuS()
      val (ss, gcPeak) = Heap.gcPeakDuring(Tracer.span("pass")(wl.pass(k, traced)))
      val (livePeak, sampleCpuS) = Heap.endPass()
      cpuS += Heap.processCpuS() - cpu0 - sampleCpuS
      heapMb += livePeak
      gcPeakMb += gcPeak
      passS += ss.map(_.seconds).sum
      steps ++= ss
      System.err.println(f"[bench] pass $k: ${passS.last}%.3f s, live heap peak " +
        f"$livePeak%.1f MB, after any GC $gcPeak%.1f MB, steps " +
        ss.map(s => f"${s.kind} ${s.seconds}%.2f").mkString(", "))
      k += 1
    }
    Tracer.current = None
    val (badChecks, nChecks) = wl.check()
    badChecks.foreach(b => System.err.println(s"[bench] check failed: $b"))
    val attempted = steps.size + nChecks
    val failed = steps.count(!_.ok) + badChecks.size
    val pass = Stats.median(passS.toSeq)
    // untraced pass walls of this build, the base of the tracing overhead
    val walls = new java.io.File(s"${opt("trace-dir")}/untraced-$workload.txt")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        if (failed == 0) Checks.appendLine(walls, pass.toString)
        Seq(("setup_s", setupS, "s"), ("pass_cpu_s", Stats.median(cpuS.toSeq), "s"),
          ("heap_peak_mb", Stats.median(heapMb.toSeq), "MB"))
      } else {
        org.apache.spark.GraftListenerFlush.flush(spark.sparkContext)
        val spans = tracer.spans
        val base = if (walls.exists) scala.io.Source.fromFile(walls).getLines()
          .map(_.toDouble).toSeq else Nil
        val overhead = if (base.isEmpty) None else Some(pass - Stats.median(base))
        TraceReport.write(s"${opt("trace-dir")}/$workload-$seed.json", workload, seed,
          spans, pass, overhead, wl.inputsRecord)
        // wall times and the few steps per pass do not repeat within a
        // tenth on a shared host: these are per-layer metrics
        val kind = steps.filter(s => wl.stepKinds(s.kind) && s.ok).map(_.seconds).toSeq
        val tail = Stats.tailPercentile(kind.size).getOrElse(100)
        val layer = wl.layerMetrics(spans, ledger) ++ Map(
          "pass_s" -> pass, "items_per_s" -> wl.itemsPerPass / pass,
          "step_p50_s" -> Stats.median(kind), "step_tail_s" -> Stats.percentile(kind, tail),
          "error_rate" -> failed.toDouble / attempted,
          "heap_gc_peak_mb" -> Stats.median(gcPeakMb.toSeq),
          "trace.overhead_s" -> overhead.getOrElse(0.0))
        Metrics.perLayer.map(n => (n, layer.getOrElse(n, 0.0), Metrics.unit(n)))
      }
    val body = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${Metrics.num(v)},"unit":"$u"}""" }.mkString(",")
    System.err.println(s"[bench] $workload seed=$seed inputs=${wl.inputsRecord}")
    spark.stop()
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$body}}""")
  }
}

/** Process resources: CPU time and the old-generation heap. */
object Heap {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  /** CPU seconds used by every thread of the JVM so far. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")
  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => isOld(p.getName))

  private var livePeakMb, sampleCpuS = 0.0

  def startPass(): Unit = { livePeakMb = 0.0; sampleCpuS = 0.0 }

  /** Live old-generation heap now (`settle`), kept if it is the pass's
    * largest. Called after every step, outside its timed region; the CPU
    * it costs is left out of the pass's CPU time. */
  def sampleLive(): Unit = {
    val c = processCpuS()
    livePeakMb = math.max(livePeakMb, settle())
    sampleCpuS += processCpuS() - c
  }

  /** Samples once more, then returns the pass's peak live old-generation
    * heap in MB and the CPU seconds all its samples cost. */
  def endPass(): (Double, Double) = {
    sampleLive()
    (livePeakMb, sampleCpuS)
  }

  /** Runs `body` and returns its result with the largest old-generation
    * size in MB that any collection during it left behind (0 when none
    * ran). Young collections leave promoted garbage there, so this is
    * larger and less repeatable than the live peak. */
  def gcPeakDuring[A](body: => A): (A, Double) = {
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if isOld(pool) => u.getUsed }.sum
          peak.accumulateAndGet(old, (a, b) => math.max(a, b))
        }
    }
    val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))
    try (body, peak.get / 1e6)
    finally emitters.foreach(_.removeNotificationListener(listener))
  }

  /** Full collection, then the old generation's post-GC size in MB. The
    * second collection takes what Spark's cleaner released after the
    * first one enqueued its weak references. */
  def settle(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }
}
