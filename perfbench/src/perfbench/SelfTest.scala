package perfbench

import scala.util.control.NonFatal

/** The benchmark's self-tests: `python3 perfbench/run.py --selftest`.
  * Argument: a scratch directory. Exits non-zero when a test fails. */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case NonFatal(e) => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(sys.error("usage: SelfTest <scratch dir>"))

    test("median and nearest-rank percentile") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5 &&
        Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0 &&
        Stats.percentile(Seq(5.0), 99) == 5.0
    }

    test("tail percentile keeps at least ten samples beyond it") {
      Stats.tailPercentile(10).isEmpty &&
        Stats.tailPercentile(11).contains(9.0) &&
        Stats.tailPercentile(20).contains(50.0) &&
        Stats.tailPercentile(100).contains(90.0) &&
        Stats.tailPercentile(1000).contains(99.0) &&
        Stats.tailPercentile(10000).contains(99.9) &&
        (11 to 500).forall(n => Stats.tailPercentile(n).forall(p => Stats.beyond(n, p) >= 10))
    }

    test("self time subtracts the union of clipped children") {
      val spans = Seq(
        Span(1, 0, "t", "root", "workload", 0, 100),
        Span(2, 1, "t", "a", "ops", 10, 30),
        Span(3, 1, "t", "b", "ops", 20, 50),  // overlaps a
        Span(4, 1, "t", "c", "ops", 60, 70),
        Span(5, 1, "t", "d", "ops", 90, 120), // runs past the parent
        Span(6, 3, "t", "job", "spark.job", 25, 45))
      val self = Spans.selfTimes(spans)
      self(1) == 40 && self(2) == 20 && self(3) == 10 && self(4) == 10 && self(5) == 30 &&
        self(6) == 20 && Spans.selfByKind(spans)("ops") == 70
    }

    test("result line has exactly correct, attempted, failed and metrics") {
      val j = Stats.resultJson(correct = true, 3, 0, Seq("op_s" -> Stats.Metric(1.25, "s", 3)))
      j == """{"correct": true, "attempted": 3, "failed": 0, "metrics": {"op_s": {"value": 1.25, "unit": "s"}}}"""
    }

    val spark = Main.session(s"$work/checksum", 2)
    try {
      def sum(seed: Long) = Inputs.checksum(Inputs.images(spark, seed, Inputs.FlagshipImages, 0L, 5000L, 4)
        .select("image_id", "lat", "lng", "cell16")) ^
        Inputs.checksum(Inputs.queries(spark, seed, Inputs.KnnQueries, 100, -55, 55, -160, 160))
      test("same seed gives the same input checksum, another seed another")(
        sum(7) == sum(7) && sum(7) != sum(8))

      test("traced and untraced calls alternate untraced, traced, traced, untraced") {
        val tracer = new Tracer(true, "t")
        val rec = new Recorder(tracer, spark.sparkContext, alternateKey = "op")
        val traced = (1 to 8).map { _ =>
          rec.time("op", "ops")(spark.sparkContext.getLocalProperty(Tracer.JobGroup) != null)
        }
        rec.time("other", "ops")(())
        traced == Seq(false, true, true, false, false, true, true, false) &&
          rec.seconds("op.untraced").size == 4 && rec.seconds("op.traced").size == 4 &&
          rec.seconds("op").size == 8 && tracer.spans.map(_.name) == Seq.fill(4)("op") :+ "other"
      }
    } finally spark.stop()

    def smoke(workload: String, trace: Boolean): Unit =
      test(s"tiny smoke run: $workload, trace ${if (trace) 1 else 0}") {
        val r = Main.run(Main.Opts(workload, 11L, 1.0, trace, s"$work/$workload-$trace", s"$work/out", tiny = true))
        val names = (if (trace) Main.perLayer else Main.endToEnd).map(_._1)
        r.correct && r.failed == 0 && r.attempted >= 1 && r.metrics.map(_._1) == names &&
          (trace || r.metrics.forall(_._2.value > 0))
      }
    Workloads.names.foreach(smoke(_, trace = false))
    Workloads.names.foreach(smoke(_, trace = true))

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
