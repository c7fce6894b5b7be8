package graftbench

/** Names and units of the per-layer metrics every traced run prints
  * (a layer the workload never calls reports 0). */
object Metrics {
  val pipelineLayers: Seq[String] = Seq("extract", "transform", "aggregate", "load", "delete")
  val suffixHeads: Seq[String] = Seq("spans", "longest")
  val stateOps: Seq[String] = Seq("fold", "delete", "compact", "recenter", "probe")

  val perLayer: Seq[String] =
    pipelineLayers.flatMap(l => Seq("s", "calls", "jobs", "tasks", "driver_s",
      "rows_out", "files_out", "bytes_out").map(m => s"pipeline.$l.$m")) ++
    Seq("sink.s", "sink.calls", "sink.rows",
      "source.fetches", "source.months", "source.bytes", "io.write_amp") ++
    suffixHeads.flatMap(h => Seq("build_s", "exec_s", "jobs", "stages",
      "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "executor_run_s",
      "executor_cpu_s", "gc_s", "task_skew", "driver_s", "materialized_mb")
      .map(m => s"suffix.$h.$m")) ++
    stateOps.flatMap(o => Seq("s", "jobs", "files_written", "bytes_written")
      .map(m => s"state.$o.$m")) ++
    Seq("state.bytes_live", "state.files_live", "state.write_amp", "state.space_amp",
      "spark.jobs", "spark.stages", "spark.tasks", "spark.sched_delay_s",
      "spark.tasks_failed", "spark.shuffle_write_mb", "spark.gc_s",
      "spark.executor_cpu_s", "spark.driver_s", "pass_s", "items_per_s",
      "step_p50_s", "step_tail_s", "error_rate", "heap_gc_peak_mb", "trace.overhead_s")

  def unit(name: String): String = {
    val last = name.split('.').last
    if (last == "items_per_s") "1/s"
    else if (last.endsWith("_s") || last == "s") "s"
    else if (last.endsWith("_mb")) "MB"
    else if (last.startsWith("bytes") || last.endsWith("bytes")) "bytes"
    else if (last.endsWith("amp") || last == "task_skew" || last == "error_rate") "ratio"
    else "count"
  }

  /** A JSON number with all its digits (non-finite values become 0). */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}

/** Writes a traced run's spans, with their self times, for the table
  * printer (`perfbench/trace_table.py`). */
object TraceReport {

  private def q(s: String): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.JString(s))

  def write(path: String, workload: String, seed: Long, spans: Seq[SpanRec],
      passS: Double, overheadS: Option[Double], inputs: Map[String, Any]): Unit = {
    val self = Stats.selfTimes(spans)
    val rows = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${q(s.trace)},""" +
        s""""name":${q(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_s":${s.durNs / 1e9},"self_s":${self(s.id) / 1e9}}"""
    }
    val in = inputs.toSeq.sortBy(_._1).map { case (k, v) =>
      q(k) + ":" + (v match { case n: Number => n.toString; case o => q(o.toString) })
    }
    Checks.writeFile(path, s"""{"workload":${q(workload)},"seed":$seed,""" +
      s""""pass_s":${Metrics.num(passS)},""" +
      s""""overhead_s":${overheadS.map(Metrics.num).getOrElse("null")},""" +
      s""""inputs":{${in.mkString(",")}},""" +
      s""""spans":[\n${rows.mkString(",\n")}\n]}""" + "\n")
  }
}
