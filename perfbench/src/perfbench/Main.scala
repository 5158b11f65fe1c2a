package perfbench

import graft.functions.S2Expressions
import graft.model.Synth
import graft.ops.{Containment, Tiling}
import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's entry point. One invocation runs one workload:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out DIR [--tiny]
  *
  * and prints a report followed, as the last stdout line, by one JSON
  * object: correct, attempted, failed and metrics (the end-to-end metrics
  * with --trace 0, the per-layer metrics with --trace 1). */
object Main {

  /** Session set-ups per run. The first pays the JVM's class loading and
    * is reported apart; `setup_s` is the median of the others. */
  val SetupReps = 6

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String, tiny: Boolean)

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          metrics: Seq[(String, Stats.Metric)], json: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val trace = need("--trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    val seconds = need("--seconds").toDouble
    require(seconds > 0, "--seconds must be positive")
    Opts(need("--workload"), need("--seed").toLong, seconds, trace,
      need("--work"), need("--out"), args.contains("--tiny"))
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use right after a full collection, the highest since `reset`:
    * what the program keeps reachable, not the young generation's configured
    * size or the garbage that minor collections promote. */
  private object HeapAfterGc extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val events = new AtomicLong(0L)
    @volatile private var peak = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }

    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
          events.incrementAndGet()
        }
      }

    def reset(): Unit = synchronized { peak = 0L }

    /** The peak in MB, after one more full collection so that a window
      * without one still has a sample. */
    def peakMb(): Double = {
      val seen = events.get()
      System.gc()
      val deadline = System.nanoTime() + 2000000000L
      while (events.get() == seen && System.nanoTime() < deadline) Thread.sleep(2)
      peak / (1024.0 * 1024.0)
    }
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Runs operations for `seconds` (and at least the workload's minOps). Returns
    * (attempted, failed). Stops early after three failures in a row. */
  private def loop(spark: SparkSession, wl: Workload, rec: Recorder, seconds: Double): (Int, Int) = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var ops, failed, streak = 0
    while ((System.nanoTime() < end || ops - failed < wl.minOps) && streak < 3) {
      ops += 1
      try { wl.op(spark, rec); streak = 0 }
      catch {
        case NonFatal(e) =>
          failed += 1; streak += 1
          System.err.println(s"perfbench: ${wl.name} operation failed: $e")
      }
    }
    (ops, failed)
  }

  /** The per-image path as cumulative prefixes over one image frame; each
    * layer's time is the difference of the medians of consecutive prefixes. */
  private def prefixDeltas(spark: SparkSession, images: () => DataFrame, reps: Int): Seq[(String, Stats.Metric)] = {
    val latLng = col("lat") =!= 999.0 && col("lng") =!= 999.0
    def hex(df: DataFrame) = df
      .withColumn("hex7_9", S2Expressions.hex7Cell(col("lat"), col("lng"), 9))
      .where(col("hex7_9") =!= 0L && col("cell16") =!= 0L)
      .select("image_id", "lat", "lng", "cell16")
    val prefixes: Seq[DataFrame => Long] = Seq(
      df => df.select("image_id", "lat", "lng").where(latLng).count(),
      df => df.where(latLng && col("cell16") =!= 0L).count(),
      df => hex(df).count(),
      df => Containment.containmentProbe(hex(df), Synth.regions).count(),
      df => Tiling.pointManifest(Containment.containmentProbe(hex(df), Synth.regions), 10, 14).count())
    prefixes.foreach(p => p(images())) // warm each plan once
    val med = prefixes.map { p =>
      Stats.median((1 to reps).map { _ =>
        val df = images()
        val t0 = System.nanoTime(); p(df); (System.nanoTime() - t0) / 1e9
      })
    }
    val names = Seq("model.gen_s", "functions.s2_cell16_s", "functions.hex7_cell_s",
      "ops.containment_probe_s", "ops.point_manifest_s")
    names.zip(med.indices.map(i => if (i == 0) med(0) else med(i) - med(i - 1)))
      .map { case (n, v) => n -> Stats.Metric(v, "s", reps) }
  }

  private def sparkLayers(c: SparkCounters, ops: Int, gcS: Double): Seq[(String, Stats.Metric)] = {
    def per(v: Double, unit: String) = Stats.Metric(v / ops, unit, ops)
    Seq(
      "spark.jobs" -> per(c.jobs.toDouble, "count"),
      "spark.stages" -> per(c.stages.toDouble, "count"),
      "spark.tasks" -> per(c.tasks.toDouble, "count"),
      "spark.task_run_s" -> per(c.runMs / 1e3, "s"),
      "spark.task_cpu_s" -> per(c.cpuNs / 1e9, "s"),
      "spark.gc_s" -> per(gcS, "s"),
      "spark.shuffle_write_bytes" -> per(c.shuffleWrite.toDouble, "B"),
      "spark.shuffle_read_bytes" -> per(c.shuffleRead.toDouble, "B"),
      "spark.shuffle_records" -> per(c.shuffleRecords.toDouble, "count"),
      "spark.spill_bytes" -> per(c.spill.toDouble, "B"),
      "spark.input_bytes" -> per(c.inputBytes.toDouble, "B"),
      "spark.input_records" -> per(c.inputRecords.toDouble, "count"),
      "spark.output_bytes" -> per(c.outputBytes.toDouble, "B"),
      "spark.task_failures" -> per(c.failures.toDouble, "count"))
  }

  /** Every per-layer metric a traced run reports, with its unit. A layer a
    * workload does not call reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "core.s2_encode_ns" -> "ns", "core.hex7_encode_ns" -> "ns", "core.tile_chain_ns" -> "ns",
    "core.ray_cast_ns" -> "ns", "ops.probe_ns" -> "ns",
    "ops.probe_candidates" -> "count", "ops.probe_matches" -> "count", "ops.prune_ratio" -> "ratio",
    "model.gen_s" -> "s", "functions.s2_cell16_s" -> "s", "functions.hex7_cell_s" -> "s",
    "ops.containment_probe_s" -> "s", "ops.point_manifest_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.shuffle_records" -> "count", "spark.spill_bytes" -> "B",
    "spark.input_bytes" -> "B", "spark.input_records" -> "count", "spark.output_bytes" -> "B",
    "spark.task_failures" -> "count",
    "lineage.create_s" -> "s", "lineage.append_s" -> "s", "lineage.upsert_s" -> "s",
    "lineage.manifest_read_s" -> "s", "lineage.read_s" -> "s", "lineage.cellstore_write_s" -> "s",
    "lineage.query_s" -> "s", "lineage.files_per_commit" -> "count", "lineage.bytes_per_commit" -> "B",
    "lineage.bytes_per_row" -> "B/row", "lineage.buckets_rewritten" -> "count",
    "lineage.buckets_read" -> "count", "lineage.buckets_total" -> "count",
    "trace.overhead" -> "ratio", "trace.spans" -> "count", "trace.driver_self_s" -> "s",
    "trace.job_self_s" -> "s", "trace.stage_s" -> "s")

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "op_s" -> "s", "peak_heap_mb" -> "MB")

  def run(o: Opts): Result = {
    val sz = Sizes(o.tiny)
    new java.io.File(o.work).mkdirs()
    val wl = Workloads(o.workload, o.seed, sz, o.work)
    println(s"perfbench ${wl.name}: seed ${o.seed}, ${o.seconds} s, trace ${if (o.trace) 1 else 0}" +
      s"${if (o.tiny) ", tiny sizes" else ""}, local[${wl.cores}]")

    // set-up: session start plus a small warm-up operation, several times
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      spark = session(o.work, wl.cores)
      wl.warm(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupReps) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      dt
    }
    try {
      val sc = spark.sparkContext
      val tPrep = System.nanoTime()
      wl.prepare(spark)
      val prepS = (System.nanoTime() - tPrep) / 1e9
      val tWarm = System.nanoTime()
      wl.warmPass(spark, new Recorder(new Tracer(false, ""), sc))
      val warmS = (System.nanoTime() - tWarm) / 1e9

      // Traced, half the calls of the workload's operation key run with the
      // tracer off, interleaved (see Recorder), so the traced and untraced
      // samples share the JIT's and the host's drift; the listener stays
      // registered throughout.
      val tracer = new Tracer(o.trace, s"${wl.name}-${o.seed}-${System.currentTimeMillis()}")
      val probe = new SparkProbe(tracer)
      val rec = new Recorder(tracer, sc, alternateKey = if (o.trace) wl.opKey else "")
      if (o.trace) sc.addSparkListener(probe)
      HeapAfterGc.reset()
      val gc0 = gcSeconds
      val tLoop = System.nanoTime()
      var (attempted, failed) = try tracer.call(sc, wl.name, "workload")(loop(spark, wl, rec, o.seconds))
        finally if (o.trace) { probe.drain(sc); sc.removeSparkListener(probe) }
      val loopS = (System.nanoTime() - tLoop) / 1e9
      val gcS = gcSeconds - gc0
      val peakMb = HeapAfterGc.peakMb()
      if (rec.seconds(wl.opKey).isEmpty)
        throw new IllegalStateException(s"${wl.name}: no operation succeeded")

      val warmSetups = setups.tail
      val setupM = Stats.Metric(Stats.median(warmSetups), "s", warmSetups.size)
      val items = wl.throughput(rec)
      val e2e = Seq(
        "setup_s" -> setupM,
        "items_per_s" -> Stats.Metric(Stats.median(items), "1/s", items.size),
        "op_s" -> Stats.Metric(rec.med(wl.opKey), "s", rec.seconds(wl.opKey).size),
        "peak_heap_mb" -> Stats.Metric(peakMb, "MB", 1))

      var layers = Seq.empty[(String, Stats.Metric)]
      if (o.trace) {
        val ops = math.max(1, attempted - failed)
        val spans = tracer.spans
        val byKind = Spans.selfByKind(spans)
        def selfS(kind: String) = byKind.getOrElse(kind, 0L) / 1e9 / ops
        val (traced, untraced) = (rec.seconds(s"${wl.opKey}.traced"), rec.seconds(s"${wl.opKey}.untraced"))
        if (traced.isEmpty || untraced.isEmpty)
          throw new IllegalStateException(s"${wl.name}: the traced loop needs a traced and an untraced ${wl.opKey}")
        val overhead = Stats.median(traced) / Stats.median(untraced) - 1.0
        val pts = wl.points(spark, sz.kernelPoints)
        val warmNs = if (o.tiny) 20000000L else 300000000L
        layers = Kernels.measure(pts, warmNs, if (o.tiny) 3 else 9) ++
          prefixDeltas(spark, () => wl.prefixImages(spark), sz.prefixReps) ++
          sparkLayers(probe.counters, ops, gcS) ++
          wl.layers(spark, rec) ++ Seq(
            "trace.overhead" -> Stats.Metric(overhead, "ratio", traced.size + untraced.size),
            "trace.spans" -> Stats.Metric(spans.size.toDouble, "count", 1),
            "trace.driver_self_s" -> Stats.Metric(selfS("lineage") + selfS("ops"), "s", ops),
            "trace.job_self_s" -> Stats.Metric(selfS("spark.job"), "s", ops),
            "trace.stage_s" -> Stats.Metric(selfS("spark.stage"), "s", ops))
        new java.io.File(o.out).mkdirs()
        val path = s"${o.out}/spans-${wl.name}-${o.seed}.json"
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          Spans.toJson(spans).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(f"spans: ${spans.size} written to $path")
        println("self time per operation by layer (s): " +
          byKind.toSeq.sortBy(_._1).map { case (k, v) => f"$k=${v / 1e9 / ops}%.4f" }.mkString("  "))
        println(f"tracing overhead on op_s: ${overhead * 100}%.2f%% (untraced median " +
          f"${Stats.median(untraced)}%.4f s of ${untraced.size}, traced ${Stats.median(traced)}%.4f s of ${traced.size})")
      }

      val tChecks = System.nanoTime()
      val checks = wl.checks(spark)
      val checksS = (System.nanoTime() - tChecks) / 1e9
      attempted += checks.size
      failed += checks.count(!_._2)

      println(f"set-up times: ${setups.map(t => f"$t%.3f").mkString(", ")} s (the first is the cold start); " +
        f"inputs prepared in $prepS%.3f s, warm pass $warmS%.3f s, measured loop $loopS%.3f s, checks $checksS%.3f s")
      println(s"end-to-end (trace 0 reports these${if (o.trace) "; here half the operations were traced" else ""}):")
      val failedRatio = failed.toDouble / attempted
      val named = Seq(
        "setup_s" -> setupM,
        wl.itemsName -> Stats.Metric(Stats.median(items), wl.itemsUnit, items.size),
        s"${wl.name}.op_s" -> e2e(2)._2) ++ wl.report(rec) ++ Seq(
        "peak_heap_mb" -> e2e(3)._2,
        "failed_ops_ratio" -> Stats.Metric(failedRatio, "ratio", attempted))
      def samples(xs: Seq[Double]) = xs.map(Stats.fmt(_, 3)).mkString("  [", " ", "]")
      named.foreach { case (k, m) =>
        val detail = k match {
          case "setup_s" => Stats.summary(warmSetups).render()
          case n if n == wl.itemsName => Stats.summary(items).render() + samples(items)
          case n if n.endsWith(".op_s") => Stats.summary(rec.seconds(wl.opKey)).render() + samples(rec.seconds(wl.opKey))
          case _ => s"n=${m.n}"
        }
        println(f"  $k%-32s ${Stats.fmt(m.value, 6)}%14s ${m.unit}%-9s $detail")
      }
      val opS = rec.seconds(wl.opKey)
      if (opS.size >= 2) {
        val (first, second) = opS.splitAt(opS.size / 2)
        println(f"  drift: second-half over first-half median of ${wl.opKey} = ${Stats.median(second) / Stats.median(first)}%.3f")
      }
      checks.foreach { case (n, ok) => println(s"  check ${if (ok) "ok  " else "FAIL"} $n") }
      if (o.trace) {
        println("per-layer (trace 1 reports these):")
        layers.foreach { case (k, m) => println(f"  $k%-32s ${Stats.fmt(m.value, 6)}%14s ${m.unit}%-7s n=${m.n}") }
      }

      val correct = failed == 0
      val metrics =
        if (!o.trace) e2e
        else {
          val got = layers.toMap
          perLayer.map { case (k, unit) => k -> got.getOrElse(k, Stats.Metric(0.0, unit, 0)) }
        }
      Result(correct, attempted, failed, metrics, Stats.resultJson(correct, attempted, failed, metrics))
    } finally {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val r = try run(parse(args)) catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: ${e.getMessage}")
        e.printStackTrace()
        sys.exit(1)
    }
    println(r.json)
    System.out.flush()
    sys.exit(0)
  }
}
