package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Graft

/** The benchmark's runner. One process, one session on `local[4]`, one
  * client thread driving a closed loop of ops for `--seconds`.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--root <checkout>]
  * }}}
  *
  * The last line of standard output is the result object; the line before
  * it is the run detail, also written under `perfbench/.out/runs/`.
  */
object Main {

  val Cores = 4
  val SetupReps = 3
  /** Warm-up: this many untimed ops. A count, not a time, so the first
    * measured op has the same index however fast the program is.
    */
  val WarmupOps = 5

  /** `inject` (a failure of kind "throw" or "mismatch" at an op index)
    * serves the self test.
    */
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10,
                        trace: Boolean = false, root: File = new File("."),
                        inject: Option[(String, Int)] = None)

  def parse(args: Seq[String], a: Args = Args()): Args = args match {
    case Seq() => a
    case "--workload" +: v +: rest => parse(rest, a.copy(workload = v))
    case "--seed" +: v +: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" +: v +: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" +: v +: rest => parse(rest, a.copy(trace = v == "1"))
    case "--root" +: v +: rest => parse(rest, a.copy(root = new File(v)))
    case other +: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  final case class Op(i: Int, startNs: Long, endNs: Long, ok: Boolean,
                      traced: Boolean, rows: Long, counts: Map[String, Double]) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** What a run produced: the result line's fields plus the detail. */
  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)], detail: String, ops: Seq[Op]) {
    def line: String = Json.obj("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricsJson(metrics))
  }

  private def metricsJson(metrics: Seq[(String, Double, String)]): Json.Raw =
    Json.Raw(metrics.map { case (n, v, u) =>
      Json.str(n) + ":" + Json.obj("value" -> v, "unit" -> u)
    }.mkString("{", ",", "}"))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    require(Etl.names.contains(a.workload), s"--workload must be one of ${Etl.names.mkString(", ")}")
    val r = run(a)
    println(Json.obj("detail" -> Json.Raw(r.detail)))
    println(r.line)
    System.out.flush()
    sys.exit(0)
  }

  private def loadavg(): String =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim.split("\\s+").take(3).mkString(" ") finally s.close()
    } catch { case NonFatal(_) => "" }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def session(root: File): SparkSession = {
    val local = new File(root, "perfbench/.out/spark-local")
    local.mkdirs()
    val spark = Graft.sessionBuilder(appName = "perfbench", localCores = Some(Cores))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(root, "perfbench/.out/warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(a: Args): Result = {
    val loadStart = loadavg()
    val out = new File(a.root, "perfbench/.out")
    val work = new File(out, s"work/${a.workload}-${ProcessHandle.current().pid()}")
    Etl.deleteRecursively(work.getParentFile) // runs are sequential: nothing here is live
    work.mkdirs()
    val sessionT0 = System.nanoTime()
    val spark = session(a.root)
    val sessionS = (System.nanoTime() - sessionT0) / 1e9
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    val w = Etl.make(a.workload, spark, work, a.seed)
    val tracer = new Tracer
    try {
      val setups = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
      }

      val ops = Seq.newBuilder[Op]
      val failures = Seq.newBuilder[String]
      def runOp(i: Int, traced: Boolean): Op = {
        w.before(i)
        tracer.enabled = traced
        val t0 = System.nanoTime()
        val thrown =
          try {
            tracer.op(i, "op") {
              if (a.inject.contains("throw" -> i)) throw new IllegalStateException(s"injected failure in op $i")
              w.op(i, tracer)
            }
            None
          } catch { case NonFatal(e) => Some(s"op $i threw: $e") }
        val t1 = System.nanoTime()
        tracer.enabled = false
        val problem = thrown.orElse(
          try {
            val c = w.check(i)
            if (a.inject.contains("mismatch" -> i)) Some(s"op $i: injected mismatch") else c
          } catch { case NonFatal(e) => Some(s"op $i check threw: $e") })
        problem.foreach { p => failures += p; System.err.println(s"[perfbench] $p") }
        Op(i, t0, t1, problem.isEmpty, traced, w.opRows(i),
          if (problem.isEmpty) w.opCounts else Map.empty)
      }

      // warm-up: untimed ops, so class loading, code generation and most of
      // the JIT compilation are paid before timing starts
      val warm = (0 until WarmupOps).map(runOp(_, traced = false))
      var i = WarmupOps
      heapPools.foreach(_.resetPeakUsage())
      val loopT0 = System.nanoTime()
      while (System.nanoTime() - loopT0 < a.seconds * 1e9) {
        ops += runOp(i, traced = a.trace && i % 2 == 1)
        i += 1
      }
      val loopS = (System.nanoTime() - loopT0) / 1e9
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      listener.quiesce()
      val gates = try w.finish() catch {
        case NonFatal(e) => Seq(("finish", false, e.toString))
      }
      gates.filterNot(_._2).foreach(g => System.err.println(s"[perfbench] gate ${g._1} failed: ${g._3}"))
      val measured = ops.result()
      val all = warm ++ measured
      val failed = all.count(!_.ok)
      val correct = failed == 0 && gates.forall(_._2) && measured.exists(_.ok)
      val m = new Measures(w, measured, listener, tracer)
      val metrics = if (a.trace) m.perLayer(heapPeakMb) else m.endToEnd(setups)
      val spansFile = if (a.trace) Some(writeSpans(out, a, tracer)) else None
      val detail = Json.obj(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
        "context" -> Json.Raw(Json.obj(
          "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
          "nproc" -> Runtime.getRuntime.availableProcessors(), "cores_used" -> Cores,
          "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
          "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
          "spark" -> spark.version)),
        "session_s" -> sessionS, "setup_runs_s" -> setups, "warmup_s" -> warm.map(_.seconds),
        "loop_s" -> loopS, "attempted" -> all.size, "failed" -> failed,
        "error_rate" -> failed.toDouble / all.size,
        "tail" -> Json.Raw(m.tailJson), "op_s" -> measured.filter(_.ok).map(_.seconds),
        "gates" -> gates.map { case (n, ok, d) => Json.Raw(Json.obj("name" -> n, "ok" -> ok, "detail" -> d)) },
        "failures" -> failures.result(),
        "layer_self_s" -> (if (a.trace) Some(m.selfPerOp) else None),
        "trace_overhead" -> (if (a.trace) m.traceOverhead else None),
        "spans_file" -> spansFile,
        "metrics" -> metricsJson(metrics))
      val runs = new File(out, "runs"); runs.mkdirs()
      val pw = new PrintWriter(new File(runs, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"))
      try pw.println(detail) finally pw.close()
      Result(correct, all.size, failed, metrics, detail, all)
    } finally {
      spark.stop()
      Etl.deleteRecursively(work)
    }
  }

  private def writeSpans(out: File, a: Args, tracer: Tracer): String = {
    val dir = new File(out, "trace"); dir.mkdirs()
    val f = new File(dir, s"${a.workload}-seed${a.seed}.spans.json")
    val pw = new PrintWriter(f)
    try pw.print(tracer.json) finally pw.close()
    f.getPath
  }
}
