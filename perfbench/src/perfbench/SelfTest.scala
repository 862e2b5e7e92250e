package perfbench

import java.io.File

/** The benchmark's own tests: its arithmetic, and that a failing op is
  * counted as a failure and never as a time. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on any failure.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    val root = args.sliding(2).collectFirst { case Array("--root", r) => new File(r) }
      .getOrElse(new File("."))

    // tail rule: the highest whole percentile with at least 10 samples beyond it
    val hundred = (1 to 100).map(_.toDouble)
    expect("tail of 100 samples is p90 with 10 beyond") {
      Stats.tail(hundred).contains(Stats.Tail(90, 90.0, 100, 10))
    }
    expect("tail of 20 samples is p50") { Stats.tail((1 to 20).map(_.toDouble)).map(_.percentile).contains(50) }
    expect("tail of 28 samples is p64") { Stats.tail((1 to 28).map(_.toDouble)).map(_.percentile).contains(64) }
    expect("no tail below 11 samples") { Stats.tail((1 to 10).map(_.toDouble)).isEmpty }
    expect("tail ignores sample order") {
      Stats.tail(scala.util.Random.shuffle(hundred)) == Stats.tail(hundred)
    }

    // self time: a span minus the union of its children, overlap counted once
    expect("self time without children is the duration") { close(Stats.selfTime(0, 10, Nil), 10) }
    expect("self time subtracts disjoint children") {
      close(Stats.selfTime(0, 10, Seq((1.0, 3.0), (5.0, 6.0))), 7)
    }
    expect("self time counts overlapping children once") {
      close(Stats.selfTime(0, 10, Seq((1.0, 4.0), (2.0, 6.0), (5.0, 7.0))), 4)
    }
    expect("self time clips children to the span") {
      close(Stats.selfTime(2, 8, Seq((0.0, 3.0), (7.0, 12.0))), 4)
    }
    expect("tracer records the parent and op of nested spans") {
      val tr = new Tracer
      tr.enabled = true
      tr.op(0, "op") { tr.span("a")(Thread.sleep(5)); tr.span("b")(Thread.sleep(5)) }
      val byName = tr.spans.map(s => s.name -> s).toMap
      tr.spans.size == 3 && byName("a").parent == byName("op").id && byName("b").op == 0
    }

    // digest: order-independent, sensitive to content and multiplicity
    val lines = (1 to 50).map(i => s"row|$i|${i * 7}")
    expect("digest ignores row order") {
      Stats.Digest.of(lines) == Stats.Digest.of(scala.util.Random.shuffle(lines))
    }
    expect("digest sees a changed row") { Stats.Digest.of(lines) != Stats.Digest.of(lines.updated(3, "row|4|29")) }
    expect("digest sees a duplicated row") { Stats.Digest.of(lines) != Stats.Digest.of(lines :+ lines.head) }
    expect("digest add then remove is identity") {
      (Stats.Digest.of(lines) + "x" - "x") == Stats.Digest.of(lines)
    }
    expect("driver hash equals Spark's xxhash64 of a string") {
      val spark = Main.session(root)
      try {
        val got = spark.sql("SELECT xxhash64('abc'), xxhash64('S001USDT|binance|1m|µ')").head()
        got.getLong(0) == Stats.hash("abc") && got.getLong(1) == Stats.hash("S001USDT|binance|1m|µ")
      } finally spark.stop()
    }

    // a failing op counts in the error rate and contributes no time
    for (kind <- Seq("throw", "mismatch")) {
      val r = Main.run(Main.Args(workload = "etl_update", seed = 5, seconds = 4, root = root,
        inject = Some(kind -> Main.WarmupOps)))
      val timed = r.ops.filter(_.ok).map(_.i)
      println(s"  $kind run: attempted ${r.attempted}, failed ${r.failed}, correct ${r.correct}, passed ops ${timed.mkString(",")}")
      expect(s"injected $kind counts as failed") { r.failed == 1 && !r.correct && r.attempted >= Main.WarmupOps + 2 }
      expect(s"injected $kind op has no time") {
        !timed.contains(Main.WarmupOps) && r.detail.contains("\"error_rate\":") &&
          r.metrics.find(_._1 == "op_p50_s").exists(m => !m._2.isNaN)
      }
    }
    val clean = Main.run(Main.Args(workload = "etl_backfill", seed = 5, seconds = 1, root = root))
    expect("a clean run is correct") { clean.correct && clean.failed == 0 }

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
