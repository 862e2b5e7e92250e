package perfbench

import perfbench.EngineListener.Counters
import perfbench.Main.Op

/** Turns a run's ops, spans and engine counters into the named metrics.
  * Only ops that passed their check count; a failed op has no time.
  */
final class Measures(w: Etl.Workload, ops: Seq[Op], listener: EngineListener, tracer: Tracer) {

  private val ok = ops.filter(_.ok)
  private val traced = ok.filter(_.traced)

  private def window(startNs: Long, endNs: Long): Counters =
    listener.window(tracer.epochMs(startNs), tracer.epochMs(endNs))

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  private val tail = Stats.tail(ok.map(_.seconds))

  def tailJson: String = tail match {
    case Some(t) => Json.obj("percentile" -> t.label, "value" -> t.value, "samples" -> t.samples, "beyond" -> t.beyond)
    case None => Json.obj("percentile" -> "max", "value" -> (if (ok.isEmpty) Double.NaN else ok.map(_.seconds).max),
      "samples" -> ok.size, "beyond" -> 0, "note" -> "fewer than 11 samples: no percentile has 10 beyond it")
  }

  def endToEnd(setups: Seq[Double]): Seq[(String, Double, String)] = {
    val secs = ok.map(_.seconds)
    Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("rows_per_s", ok.map(_.rows).sum / secs.sum, "1/s"),
      ("op_p50_s", med(secs), "s"),
      ("store_bytes_per_row", w.storeBytesPerRow(), "B"))
  }

  // ---- traced ops ----------------------------------------------------------

  private val tracedIds = traced.map(_.i).toSet
  private val spans = tracer.spans.filter(s => tracedIds.contains(s.op))
  private val n = math.max(1, traced.size).toDouble

  private val self: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        Stats.selfTime(s.startNs.toDouble, s.endNs.toDouble,
          children.getOrElse(s.id, Nil).map(k => (k.startNs.toDouble, k.endNs.toDouble)))
      }.sum / 1e9
    }
  }

  /** Self seconds per traced op, by span name. */
  def selfPerOp: Map[String, Double] = self.map { case (k, v) => k -> v / n }

  /** Engine counters of every span named `name`, summed. */
  private def layer(name: String): Counters = {
    val c = new Counters
    spans.filter(_.name == name).foreach(s => c.add(window(s.startNs, s.endNs)))
    c
  }

  private def count(key: String): Double = traced.map(_.counts.getOrElse(key, 0.0)).sum

  def perLayer(heapPeakMb: Double): Seq[(String, Double, String)] = {
    val upsert = layer("upsert")
    val sink = layer("sink")
    val ops = new Counters
    traced.foreach(o => ops.add(window(o.startNs, o.endNs)))
    val opSeconds = traced.map(_.seconds).sum
    val batch = Etl.sinkConfig("x", "x").batchSize
    val store = w.storeCounts()
    def busy(span: String) = self.getOrElse(span, 0.0) / n
    Seq(
      ("fetch.pages", count("fetch.pages") / n, "count"),
      ("fetch.rows", count("fetch.rows") / n, "count"),
      ("fetch.retries", count("fetch.retries") / n, "count"),
      ("fetch.busy_s", busy("fetch"), "s"),
      ("normalize.busy_s", busy("normalize+cache"), "s"),
      ("normalize.jobs", layer("normalize+cache").jobs / n, "count"),
      ("upsert.busy_s", busy("upsert"), "s"),
      ("upsert.jobs", upsert.jobs / n, "count"),
      ("upsert.rows_in", count("upsert.rows_in") / n, "count"),
      ("upsert.rows_written", upsert.outputRecords / n, "count"),
      ("upsert.write_amp", upsert.outputRecords / math.max(1.0, count("upsert.rows_in")), "ratio"),
      ("upsert.partitions_rewritten", count("upsert.partitions_rewritten") / n, "count"),
      ("store.files", store.getOrElse("store.files", 0.0), "count"),
      ("store.row_groups", store.getOrElse("store.row_groups", 0.0), "count"),
      ("store.bytes", store.getOrElse("store.bytes", 0.0), "B"),
      ("serve.busy_s", busy("serve"), "s"),
      ("serve.input_bytes", layer("serve").inputBytes / n, "B"),
      ("sink.busy_s", busy("sink"), "s"),
      ("sink.rows", sink.outputRecords / n, "count"),
      ("sink.batches", sink.outputPerTask.filter(_ > 0).map(r => (r + batch - 1) / batch).sum / n, "count"),
      ("sink.connections", sink.outputPerTask.count(_ > 0) / n, "count"),
      ("spark.input_bytes", ops.inputBytes / n, "B"),
      ("spark.shuffle_write_bytes", ops.shuffleWrite / n, "B"),
      ("spark.shuffle_read_bytes", ops.shuffleRead / n, "B"),
      ("spark.reduce_tasks", ops.reduceTasks / n, "count"),
      ("spark.spill_bytes", ops.spill / n, "B"),
      ("spark.executor_cpu_s", ops.cpuNs / 1e9 / n, "s"),
      ("spark.utilization", ops.runMs / 1000.0 / math.max(1e-9, opSeconds * Main.Cores), "ratio"),
      ("spark.sched_delay_s", ops.schedDelayMs / 1000.0 / n, "s"),
      ("spark.jobs", ops.jobs / n, "count"),
      ("spark.stages", ops.stages / n, "count"),
      ("spark.job_gap_s", ops.gapMs / 1000.0 / n, "s"),
      ("spark.result_bytes", ops.resultBytes / n, "B"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"))
  }

  /** Median traced op against median untraced op of the same run. */
  def traceOverhead: Option[Json.Raw] = {
    val (t, u) = ok.partition(_.traced)
    if (t.isEmpty || u.isEmpty) None
    else {
      val (mt, mu) = (med(t.map(_.seconds)), med(u.map(_.seconds)))
      Some(Json.Raw(Json.obj("traced_op_p50_s" -> mt, "untraced_op_p50_s" -> mu,
        "overhead" -> (mt / mu - 1), "traced_ops" -> t.size, "untraced_ops" -> u.size)))
    }
  }
}
