package graft

import graft.model.Synth
import graft.streaming.GeoStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** A geotagged arrival: the streaming face of the image table's point rows. */
case class GeoPing(image_id: Long, ts: java.sql.Timestamp,
                   lat: Double, lng: Double)

/** Streaming-geospatial gate: the geofence and windowed manifests must equal
  * their batch forms (which are oracle-gated) on identical rows SPLIT ACROSS
  * MICRO-BATCHES — the property that makes them streaming operators rather
  * than batch operators that happen to compile against readStream. */
class GeoStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("geostream-test").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ping(id: Long, sec: Long, lat: Double, lng: Double): GeoPing =
    GeoPing(id, new java.sql.Timestamp(sec * 1000L), lat, lng)

  // London urban region (reg-0000) carries a 700 m hole at its center:
  // the exact hot center is NOT contained (even-odd), center+0.01° lat is.
  private val london = Synth.hotCenters(0)
  private val ny = Synth.hotCenters(1)
  private val H = 3600L

  private val pings = Seq(
    ping(1, 100, london._1 + 0.012, london._2),  // reg-0000 shell, past hole
    ping(2, 200, london._1, london._2),          // hole center: no match
    ping(3, 300, ny._1, ny._2),                  // reg-0001
    ping(4, H + 100, ny._1 + 0.005, ny._2),      // reg-0001, next window
    ping(5, H + 200, 0.0, -160.0),               // mid-Pacific
    ping(6, H + 300, london._1 - 0.012, london._2)) // reg-0000 other side

  test("streaming geofence equals the oracle-gated batch probe across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[GeoPing]
    val q = GeoStream.geofence(ms.toDF(), Synth.regions)
      .writeStream.format("memory").queryName("geofence_out")
      .outputMode("append").start()
    try {
      ms.addData(pings.take(3): _*)
      q.processAllAvailable()
      ms.addData(pings.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("geofence_out")
        .select("image_id", "region_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val want = GeoStream.geofence(pings.toDF(), Synth.regions)
        .select("image_id", "region_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want, s"stream $got != batch $want")
      // pin the fixture semantics so the equality can't be vacuous
      assert(want.contains((1L, "reg-0000")) && want.contains((3L, "reg-0001")))
      assert(!want.exists(_._1 == 2L), "hole center must not match (even-odd)")
    } finally q.stop()
  }

  test("streaming pyramid maintenance equals the batch pyramid across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the mergePyramids claim made live: the (z, x, y) keyed count is a
    // plain streaming aggregation — continuous ingest maintains the same
    // overview the batch roll-up builds
    val ms = MemoryStream[GeoPing]
    val q = graft.ops.Tiling.pointManifest(ms.toDF(), 8, 12)
      .groupBy("z", "x", "y").agg(count(lit(1)).as("n_features"))
      .writeStream.format("memory").queryName("pyr_out")
      .outputMode("complete").start()
    try {
      ms.addData(pings.take(3): _*)
      q.processAllAvailable()
      ms.addData(pings.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("pyr_out").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val want = graft.ops.Tiling.pyramidCounts(pings.toDF(), 8, 12).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      graft.ops.EngineCaches.releaseIterationSnapshots()
      assert(got == want && want.nonEmpty, s"stream $got != batch $want")
    } finally q.stop()
  }

  test("windowed region counts accumulate across micro-batches and equal batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[GeoPing]
    val counts = GeoStream.regionWindowCounts(
      ms.toDF(), Synth.regions, "ts", "1 hour", "10 seconds")
    val q = counts.writeStream.format("memory").queryName("regcount_out")
      .outputMode("append").start()
    try {
      // window [0, 1h) fed by TWO micro-batches: ping 1 now, ping 3 later —
      // one combined row must come out, not one per batch
      ms.addData(pings(0), pings(1))
      q.processAllAvailable()
      ms.addData(pings(2))
      q.processAllAvailable()
      assert(spark.table("regcount_out").count() == 0,
        "append mode must hold the window until the watermark passes its end")
      // flusher far past both windows — deliberately matching NO region:
      // the watermark must advance on raw arrivals, not on geofence matches
      // (GeoStream takes the watermark before the probe), then one more
      // batch so the advanced watermark takes effect and evicts
      ms.addData(pings.drop(3): _*)
      q.processAllAvailable()
      ms.addData(ping(99, 10 * H, 0.0, 0.0))
      q.processAllAvailable()
      ms.addData(ping(100, 10 * H + 1, 0.0, 0.0))
      q.processAllAvailable()
      val got = spark.table("regcount_out").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000L, r.getString(1), r.getLong(2)))
        .toSet
      // batch oracle: same function body, watermark a no-op — restrict to
      // the windows the flusher pushed past
      val want = GeoStream.regionWindowCounts(
        pings.toDF(), Synth.regions, "ts", "1 hour", "10 seconds")
        .collect()
        .map(r => (r.getTimestamp(0).getTime / 1000L, r.getString(1), r.getLong(2)))
        .toSet
      assert(got == want, s"stream $got != batch $want")
      assert(want.contains((0L, "reg-0000", 1L)) && want.contains((0L, "reg-0001", 1L))
        && want.contains((H, "reg-0001", 1L)) && want.contains((H, "reg-0000", 1L)))
    } finally q.stop()
  }

  test("geofence windows survive a checkpointed restart, exactly once") {
    // north rule: "resumable from checkpoint" — the STREAMING face. A file
    // source feeds the windowed geofence across FOUR query lifetimes sharing
    // one checkpoint; counts must equal the batch oracle (a broken resume
    // would double window contributions) and no (window, region) row may
    // appear twice (append sink + checkpoint = exactly-once).
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("geo-in").toString
    val out = java.nio.file.Files.createTempDirectory("geo-out").toString
    val ck = java.nio.file.Files.createTempDirectory("geo-ck").toString
    val schema = pings.toDF().schema
    def feed(ps: Seq[GeoPing]): Unit =
      ps.toDF().coalesce(1).write.mode("append").parquet(in)
    def runLifetime(): Unit = {
      val src = spark.readStream.schema(schema).parquet(in)
      val q = GeoStream.regionWindowCounts(
          src, Synth.regions, "ts", "1 hour", "10 seconds")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    feed(pings.take(3)); runLifetime()
    feed(pings.drop(3)); runLifetime()
    feed(Seq(ping(99, 10 * H, 0.0, 0.0))); runLifetime()
    feed(Seq(ping(100, 10 * H + 1, 0.0, 0.0))); runLifetime()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getTimestamp(0).getTime / 1000L, r.getString(1), r.getLong(2)))
    assert(got.length == got.toSet.size, s"duplicate emission after restart: ${got.toSeq}")
    val want = GeoStream.regionWindowCounts(
        pings.toDF(), Synth.regions, "ts", "1 hour", "10 seconds")
      .collect()
      .map(r => (r.getTimestamp(0).getTime / 1000L, r.getString(1), r.getLong(2)))
      .toSet
    assert(got.toSet == want, s"resumed stream ${got.toSet} != batch $want")
  }

  test("windowed tile counts equal the batch run of the same plan") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[GeoPing]
    val counts = GeoStream.tileWindowCounts(
      ms.toDF(), zMin = 10, zMax = 14, "ts", "1 hour", "10 seconds")
    val q = counts.writeStream.format("memory").queryName("tilecount_out")
      .outputMode("append").start()
    try {
      ms.addData(pings.take(3): _*)
      q.processAllAvailable()
      ms.addData(pings.drop(3): _*)
      q.processAllAvailable()
      ms.addData(ping(99, 10 * H, 0.0, 0.0))
      q.processAllAvailable()
      ms.addData(ping(100, 10 * H + 1, 0.0, 0.0))
      q.processAllAvailable()
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getTimestamp(0).getTime / 1000L, r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4))
      val got = spark.table("tilecount_out").collect().map(key).toSet
      val want = GeoStream.tileWindowCounts(
        pings.toDF(), 10, 14, "ts", "1 hour", "10 seconds")
        .collect().map(key).toSet
      assert(got == want, s"stream $got != batch $want")
      // 6 pings x 5 zooms each land somewhere; the batch tile assignment is
      // the oracle-gated pointManifest chain, so nonemptiness suffices here
      assert(want.size >= 10)
      // cross-check one zoom's total against the gated batch manifest
      val manifest = graft.ops.Tiling.pointManifest(
        pings.toDF().withColumn("cell16",
          graft.functions.S2Expressions.s2Cell16(
            org.apache.spark.sql.functions.col("lat"),
            org.apache.spark.sql.functions.col("lng"))), 10, 14)
      assert(want.toSeq.map(_._5).sum == manifest.count(),
        "windowed totals must equal the batch manifest row count")
    } finally q.stop()
  }

  test("streaming geofence transitions equal the oracle-gated batch form under out-of-order arrival") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = (london._1 + 0.015, london._2)   // inside reg-0000's shell
    val out = (london._1 + 0.05, london._2)   // outside
    // user 1's true timeline: out, in, in, out, in -> enter@2, exit@4, enter@5
    val evs = Seq((1L, 1L, 1000L, out), (1L, 2L, 2000L, in), (1L, 3L, 3000L, in),
      (1L, 4L, 4000L, out), (1L, 5L, 5000L, in))
    def fp(u: Long, e: Long, sec: Long, p: (Double, Double)) =
      GeoStream.FencePing(u, e, new java.sql.Timestamp(sec * 1000L), p._1, p._2)
    val ms = MemoryStream[GeoStream.FencePing]
    val q = GeoStream.transitionsStreaming(
        ms.toDS().withWatermark("ts", "600 seconds").as[GeoStream.FencePing],
        Synth.regions)
      .writeStream.format("memory").queryName("fence_trans_out")
      .outputMode("append").start()
    try {
      // arrival order scrambled WITHIN the watermark delay, split across
      // micro-batches; the buffered scan must still process in event order
      ms.addData(fp(1, 2, 2000, in), fp(1, 1, 1000, out))
      q.processAllAvailable()
      ms.addData(fp(1, 4, 4000, out), fp(1, 3, 3000, in))
      q.processAllAvailable()
      ms.addData(fp(1, 5, 5000, in))
      q.processAllAvailable()
      // sentinel user pushes the global watermark far past every real event
      // (twice: the watermark computed in batch N applies in batch N+1)
      ms.addData(fp(99, 100, 10_000_000L, out))
      q.processAllAvailable()
      ms.addData(fp(99, 101, 20_000_000L, out))
      q.processAllAvailable()
      val got = spark.table("fence_trans_out")
        .where($"user_id" === 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4))).toSet
      // batch oracle: the q_geofence_trans-gated operator on the IN-ORDER rows
      val batch = graft.ops.GeoFence.transitions(
          evs.map { case (u, e, s, p) => (u, e, s, p._1, p._2) }
            .toDF("user_id", "event_id", "sec", "lat", "lng"),
          Synth.regions)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4))).toSet
      assert(got === batch, s"stream $got != batch $batch")
      assert(got.contains((1L, 2L, 2000L, "reg-0000", "enter")) &&
        got.contains((1L, 4L, 4000L, "reg-0000", "exit")) &&
        got.contains((1L, 5L, 5000L, "reg-0000", "enter")), got.toString)
    } finally q.stop()
  }

  test("streaming ingest (foreachBatch append) == one-shot cell-store write") {
    // the continuous-ingest face of the CellStore maintenance surface: a
    // stream of geotagged arrivals lands in the bucket layout via
    // foreachBatch -> CellStore.append; the final store must carry the SAME
    // content multiset, merged stats and prune behavior as writing the
    // whole corpus once
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.lineage.CellStore
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (1L to 120L).map { i =>
      val c = Synth.hotCenters((i % 3).toInt)
      ping(i, i, c._1 + (i % 7) * 0.001, c._2 - (i % 5) * 0.001)
    }
    def withCell(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("cell16",
        graft.functions.S2Expressions.s2Cell16(col("lat"), col("lng")))
      .select("image_id", "lat", "lng", "cell16")
    val base = java.nio.file.Files.createTempDirectory("cellstream").toString
    val streamDir = s"$base/stream"; val batchDir = s"$base/batch"
    // seed: the first slice arrives as the initial bulk load
    CellStore.write(withCell(rows.take(40).toDF()), streamDir)
    val ms = MemoryStream[GeoPing]
    val q = ms.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.lineage.SnapshotStore.append(spark, withCell(b), streamDir); ()
      }
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      ms.addData(rows.slice(40, 80): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(80): _*)
      q.processAllAvailable()
    } finally q.stop()
    CellStore.write(withCell(rows.toDF()), batchDir)
    // identical merged stats (bucket, min, max, rows) ...
    val sStats = CellStore.stats(spark, streamDir).toSet
    val bStats = CellStore.stats(spark, batchDir).toSet
    assert(sStats == bStats && sStats.nonEmpty, s"$sStats != $bStats")
    // ... and the identical content multiset
    def content(d: String) = graft.lineage.SnapshotStore.read(spark, d)
      .select("image_id", "cell16").as[(Long, Long)].collect().sorted.toSeq
    assert(content(streamDir) == content(batchDir))
  }
}
