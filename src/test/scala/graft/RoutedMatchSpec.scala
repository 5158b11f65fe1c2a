package graft

import graft.model.{Synth, Tables}
import graft.ops.MapMatch
import graft.oracle.Golden
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Routed-transition map matching (Newson-Krakauer |route - gc| / beta):
  * the behavioral case constant-cost matching gets WRONG (teleporting onto
  * a disconnected road), engine-vs-golden equality on the grid fixture,
  * and the loud driver-bound contracts. */
class RoutedMatchSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("routed-match-test").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def pts(rows: Seq[(Long, Long, Long, Double, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("user_id", "event_id", "sec", "lat", "lng")
      .withColumn("cell16",
        graft.functions.S2Expressions.s2Cell16(col("lat"), col("lng")))
  }

  // a 2-road fixture: a connected "main" road of 3 collinear segments and a
  // DISCONNECTED parallel road ~100 m north that passes slightly closer to
  // the middle fix
  private val mainLat = 51.5000
  private val discLat = 51.5009
  private def segs: DataFrame = {
    import spark.implicits._
    Seq(
      ("m-0", Seq(mainLat, mainLat), Seq(-0.010, -0.005), 0L, 1L),
      ("m-1", Seq(mainLat, mainLat), Seq(-0.005, 0.000), 1L, 2L),
      ("m-2", Seq(mainLat, mainLat), Seq(0.000, 0.005), 2L, 3L),
      ("z-disc", Seq(discLat, discLat), Seq(-0.006, 0.001), 10L, 11L)
    ).toDF("path_id", "lats", "lngs", "node_a", "node_b")
  }
  private def edges: DataFrame = {
    import spark.implicits._
    def cost(lng1: Double, lng2: Double, lat: Double) =
      graft.core.Geo.haversineMeters(lat, lng1, lat, lng2)
    Seq(
      (0L, 1L, cost(-0.010, -0.005, mainLat)), (1L, 0L, cost(-0.010, -0.005, mainLat)),
      (1L, 2L, cost(-0.005, 0.000, mainLat)), (2L, 1L, cost(-0.005, 0.000, mainLat)),
      (2L, 3L, cost(0.000, 0.005, mainLat)), (3L, 2L, cost(0.000, 0.005, mainLat)),
      (10L, 11L, cost(-0.006, 0.001, discLat)), (11L, 10L, cost(-0.006, 0.001, discLat))
    ).toDF("src", "dst", "cost")
  }
  // t1 sits ~61 m from main, ~39 m from the disconnected road
  private val fixes = Seq(
    (1L, 1L, 10L, mainLat, -0.0075),
    (1L, 2L, 20L, 51.50055, -0.0025),
    (1L, 3L, 30L, mainLat, 0.0030))

  test("constant-cost matching teleports to the disconnected road; routed does not") {
    val const = MapMatch.viterbiMatch(pts(fixes), segs, radiusMeters = 250.0,
        sigmaMeters = 50.0, switchCost = 0.1)
      .orderBy("event_id").collect().map(_.getString(2)).toSeq
    // middle fix is closer to the disconnected road, and two cheap constant
    // switches beat the emission gap — the classic constant-cost failure
    assert(const(1) === "z-disc", s"fixture degenerate: $const")
    val routed = MapMatch.viterbiMatchRouted(pts(fixes), segs, edges,
        radiusMeters = 250.0, maxRouteMeters = 2000.0,
        sigmaMeters = 50.0, betaMeters = 200.0)
      .orderBy("event_id").collect().map(_.getString(2)).toSeq
    // no route exists between the roads: the 2*maxRoute unreachable penalty
    // keeps the chain on the connected main road
    assert(routed.size === 3)
    assert(routed.forall(_.startsWith("m-")), s"routed hopped roads: $routed")
  }

  test("engine equals independent Dijkstra golden on the grid fixture") {
    val evs = Golden.loadEvents(spark, sfDir)
    val want = Golden.mapMatchRoutedG(evs, 250.0, 50.0, 200.0, 12000.0)
    assert(want.size > 50, s"fixture degenerate: ${want.size} matches")
    // more than one distinct segment must win, else the DP is vacuous
    assert(want.map(_._3).distinct.size > 5)
    val latU = udf((u: Long, e: Long, sec: Long) => Synth.urbanTrajLat(u, e, sec))
    val lngU = udf((u: Long, e: Long, sec: Long) => Synth.urbanTrajLng(u, e, sec))
    import spark.implicits._
    val ev = evs.toSeq.filter(_.userId % 3 == 0)
      .map(e => (e.userId, e.eventId, e.sec))
      .toDF("user_id", "event_id", "sec")
      .withColumn("lat", latU(col("user_id"), col("event_id"), col("sec")))
      .withColumn("lng", lngU(col("user_id"), col("event_id"), col("sec")))
      .withColumn("cell16",
        graft.functions.S2Expressions.s2Cell16(col("lat"), col("lng")))
    val got = MapMatch.viterbiMatchRouted(ev,
        Tables.gridSegments(spark), Tables.gridEdges(spark),
        radiusMeters = 250.0, maxRouteMeters = 12000.0,
        sigmaMeters = 50.0, betaMeters = 200.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got === want.sortBy(t => (t._1, t._2)))
    graft.ops.EngineCaches.releaseIterationSnapshots()
  }

  test("routing: node-to-node pair routes along the row; unsnappable endpoint keeps a null row") {
    import spark.implicits._
    import graft.ops.Routing
    val pairs = Seq(
      // endpoints exactly ON nodes (0,0) and (0,3): route = the 3 row-0
      // horizontal edges, snaps = 0
      (0L, Synth.gridNodeLat(0), Synth.gridNodeLng(0),
        Synth.gridNodeLat(0), Synth.gridNodeLng(3)),
      // destination in the mid-Atlantic: no snap, null route, request kept
      (1L, Synth.gridNodeLat(0), Synth.gridNodeLng(0), 40.0, -30.0)
    ).toDF("route_id", "a_lat", "a_lng", "b_lat", "b_lng")
    val got = Routing.routeDistance(spark, pairs, Tables.gridSegments(spark),
        Tables.gridEdges(spark), snapRadiusMeters = 300.0, maxRouteMeters = 12000.0)
      .orderBy("route_id").collect()
    val r0 = got(0)
    assert(r0.getLong(1) == Synth.gridNodeId(0, 0) &&
      r0.getLong(2) == Synth.gridNodeId(0, 3))
    val edgeCost = Synth.gridEdges.collect {
      case (s, d, c) if (0 to 2).exists(cc =>
        s == Synth.gridNodeId(0, cc) && d == Synth.gridNodeId(0, cc + 1)) => c
    }.sum
    assert(r0.getDouble(5) === edgeCost, "route must be the 3 straight edges")
    assert(r0.getDouble(3) == 0.0 && r0.getDouble(4) == 0.0)
    assert(r0.getDouble(6) === edgeCost)
    val r1 = got(1)
    assert(r1.getLong(1) == Synth.gridNodeId(0, 0), "origin still snaps")
    assert(r1.isNullAt(2) && r1.isNullAt(5) && r1.isNullAt(6))
    graft.ops.EngineCaches.releaseIterationSnapshots()
  }

  test("projected routing: same-edge pair pays the direct split-edge cost") {
    import spark.implicits._
    import graft.ops.Routing
    // both endpoints exactly ON the row-0 edge (0,0)-(0,1), at ~25% and
    // ~75% along: direct = |f_a - f_b| * c beats every via-node combo
    // (via node 0: (f_a + f_b) * c; via both ends: (f_a + 1 - f_b) * c + c)
    val lat0 = Synth.gridNodeLat(0)
    val lng25 = Synth.gridNodeLng(0) + 0.25 * (Synth.gridNodeLng(1) - Synth.gridNodeLng(0))
    val lng75 = Synth.gridNodeLng(0) + 0.75 * (Synth.gridNodeLng(1) - Synth.gridNodeLng(0))
    val pairs = Seq((0L, lat0, lng25, lat0, lng75))
      .toDF("route_id", "a_lat", "a_lng", "b_lat", "b_lng")
    val r = Routing.routeDistanceProjected(spark, pairs, Tables.gridSegments(spark),
        Tables.gridEdges(spark), snapRadiusMeters = 300.0, maxRouteMeters = 12000.0)
      .collect().head
    val c = Synth.gridEdges.collect {
      case (s, d, cc) if s == Synth.gridNodeId(0, 0) && d == Synth.gridNodeId(0, 1) => cc
    }.head
    assert(r.getString(1) == "gseg-h-00-00" && r.getString(2) == "gseg-h-00-00")
    val fa = r.getDouble(3); val fb = r.getDouble(4)
    assert(fa > 0.2 && fa < 0.3 && fb > 0.7 && fb < 0.8, s"fracs $fa $fb")
    assert(math.abs(r.getDouble(7) - math.abs(fa - fb) * c) < 1e-9,
      s"route must be the direct split-edge cost, got ${r.getDouble(7)}")
    // snaps are ~0 (points are on the segment), so total ~= route
    assert(r.getDouble(5) < 1.0 && r.getDouble(6) < 1.0)
    graft.ops.EngineCaches.releaseIterationSnapshots()
  }

  test("projected routing: mid-segment endpoints route through split-edge costs") {
    import spark.implicits._
    import graft.ops.Routing
    // origin ~40% along edge (0,0)-(0,1) offset 50 m north; destination
    // ~60% along edge (0,2)-(0,3) on the same row: route = (1-f_a)*c01 +
    // c12 + f_b*c23 (west-exit combos are strictly worse)
    val off = 50.0 / 111320.0
    val lngA = Synth.gridNodeLng(0) + 0.4 * (Synth.gridNodeLng(1) - Synth.gridNodeLng(0))
    val lngB = Synth.gridNodeLng(2) + 0.6 * (Synth.gridNodeLng(3) - Synth.gridNodeLng(2))
    val pairs = Seq((0L, Synth.gridNodeLat(0) + off, lngA,
        Synth.gridNodeLat(0) + off, lngB))
      .toDF("route_id", "a_lat", "a_lng", "b_lat", "b_lng")
    val r = Routing.routeDistanceProjected(spark, pairs, Tables.gridSegments(spark),
        Tables.gridEdges(spark), snapRadiusMeters = 300.0, maxRouteMeters = 12000.0)
      .collect().head
    def cost(c0: Int, c1: Int): Double = Synth.gridEdges.collect {
      case (s, d, cc) if s == Synth.gridNodeId(0, c0) && d == Synth.gridNodeId(0, c1) => cc
    }.head
    assert(r.getString(1) == "gseg-h-00-00" && r.getString(2) == "gseg-h-00-02")
    val fa = r.getDouble(3); val fb = r.getDouble(4)
    val want = (1.0 - fa) * cost(0, 1) + cost(1, 2) + fb * cost(2, 3)
    assert(math.abs(r.getDouble(7) - want) < 1e-9,
      s"route ${r.getDouble(7)} vs split-edge $want")
    // snap legs ~50 m each
    assert(math.abs(r.getDouble(5) - 50.0) < 2.0 && math.abs(r.getDouble(6) - 50.0) < 2.0)
    assert(math.abs(r.getDouble(8) - (r.getDouble(5) + r.getDouble(7) + r.getDouble(6))) < 1e-9)
    graft.ops.EngineCaches.releaseIterationSnapshots()
  }

  test("routing: negative route_id fails loudly instead of aliasing snap keys") {
    import spark.implicits._
    import graft.ops.Routing
    val pairs = Seq(
      (-1L, Synth.gridNodeLat(0), Synth.gridNodeLng(0),
        Synth.gridNodeLat(0), Synth.gridNodeLng(1))
    ).toDF("route_id", "a_lat", "a_lng", "b_lat", "b_lng")
    val e = intercept[Throwable] {
      Routing.routeDistance(spark, pairs, Tables.gridSegments(spark),
        Tables.gridEdges(spark), snapRadiusMeters = 300.0,
        maxRouteMeters = 12000.0).collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: messages(t.getCause)
    assert(messages(e).exists(_.contains("route_id must be >= 0")))
    graft.ops.EngineCaches.releaseIterationSnapshots()
  }

  test("routing: origin-node bound fails loudly from a bounded collect") {
    import spark.implicits._
    import graft.ops.Routing
    // three pairs whose origins sit exactly on three distinct nodes
    val pairs = (0 until 3).map { c =>
      (c.toLong, Synth.gridNodeLat(0), Synth.gridNodeLng(c),
        Synth.gridNodeLat(0), Synth.gridNodeLng(c + 1))
    }.toDF("route_id", "a_lat", "a_lng", "b_lat", "b_lng")
    val e = intercept[IllegalStateException] {
      Routing.routeDistance(spark, pairs, Tables.gridSegments(spark),
        Tables.gridEdges(spark), snapRadiusMeters = 300.0,
        maxRouteMeters = 12000.0, maxNetworkNodes = 2)
    }
    assert(e.getMessage.contains("MORE THAN maxNetworkNodes=2"))
    assert(e.getMessage.contains("count truncated at the bound"))
    // at the bound the same request routes
    assert(Routing.routeDistance(spark, pairs, Tables.gridSegments(spark),
      Tables.gridEdges(spark), snapRadiusMeters = 300.0,
      maxRouteMeters = 12000.0, maxNetworkNodes = 3).count() == 3)
    graft.ops.EngineCaches.releaseIterationSnapshots()
  }

  test("distance-table bound fails loudly, naming the bound") {
    // 6 network nodes each reach at least themselves: > 3 table rows
    val e = intercept[IllegalStateException] {
      MapMatch.viterbiMatchRouted(pts(fixes), segs, edges,
        radiusMeters = 250.0, maxRouteMeters = 2000.0,
        maxDistTableRows = 3)
    }
    assert(e.getMessage.contains("MORE THAN maxDistTableRows=3"))
    assert(e.getMessage.contains("count truncated at the bound"))
    graft.ops.EngineCaches.releaseIterationSnapshots()
  }

  test("network-node bound fails loudly") {
    val e = intercept[IllegalStateException] {
      MapMatch.viterbiMatchRouted(pts(fixes), segs, edges,
        radiusMeters = 250.0, maxRouteMeters = 2000.0,
        maxNetworkNodes = 3)
    }
    assert(e.getMessage.contains("maxNetworkNodes"))
  }
}
