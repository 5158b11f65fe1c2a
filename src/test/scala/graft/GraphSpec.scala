package graft

import graft.ops.Reachability
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Hand-computed goldens for the graph family (network closest,
  * paths-to-reach usage counts, building access) on a 4-node graph:
  *
  *   1 --1-- 2 --1-- 3 --1-- 4      plus the chord 1 --3-- 3
  *
  * dist from 1: {1:0, 2:1, 3:2, 4:3}; shortest-path tree 1->2->3->4. */
class GraphSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .appName("graph-test").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def edges = {
    import spark.implicits._
    Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (1L, 3L, 3.0))
      .flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
      .toDF("src", "dst", "cost")
  }

  test("reachableMulti: per-origin settled distances") {
    val got = Reachability.reachableMulti(spark, edges, Seq(1L, 4L), cutoff = 10.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got((1L, 1L)) == 0.0 && got((1L, 2L)) == 1.0 &&
      got((1L, 3L)) == 2.0 && got((1L, 4L)) == 3.0)
    assert(got((4L, 1L)) == 3.0 && got((4L, 3L)) == 1.0)
    assert(got.size == 8)
  }

  test("closest: nearest target by network distance, tie by node id") {
    import spark.implicits._
    val targets = Seq(3L, 4L).toDF("node")
    val got = Reachability.closest(spark, edges, Seq(1L, 4L), targets, cutoff = 10.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 3L, 2.0), (4L, 4L, 0.0)))
  }

  test("buildingAccess: minimal distance per (origin, building)") {
    import spark.implicits._
    // nodes 3 and 4 both belong to building 7
    val buildings = Seq((3L, 7L), (4L, 7L), (2L, 9L)).toDF("node", "building_id")
    val got = Reachability.buildingAccess(spark, edges, Seq(1L), buildings, cutoff = 10.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == Map((1L, 7L) -> 2.0, (1L, 9L) -> 1.0))
  }

  test("isochrone: per-origin reached-count + hull area; degenerate hulls are 0") {
    import spark.implicits._
    // square 0.01-degree coords for nodes 1..4; node 4 has no coordinates
    val coords = Seq((1L, 0.0, 0.0), (2L, 0.01, 0.0), (3L, 0.01, 0.01))
      .toDF("node", "lat", "lng")
    val got = Reachability.isochrone(spark, edges, Seq(1L, 4L), cutoff = 10.0, coords)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // origin 1 reaches {1,2,3,4}; 4 is dropped (no coords) -> 3-point hull
    assert(got(1L)._1 == 3L)
    val la = Array(0.0, 0.01, 0.01); val lo = Array(0.0, 0.0, 0.01)
    val idx = graft.core.Geo.convexHull(la, lo)
    val want = graft.core.Geo.sphericalAreaM2(idx.map(la(_)), idx.map(lo(_)))
    assert(got(1L)._2 == want)
    // origin 4 reaches the same node set -> identical hull
    assert(got(4L) == got(1L))
    // cutoff 1.5 from origin 4: reaches {4, 3} -> one located node, area 0
    val small = Reachability.isochrone(spark, edges, Seq(4L), cutoff = 1.5, coords)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(small.toSeq == Seq((4L, 1L, 0.0)))
  }

  test("pathsToReach: per-edge usage counts of the shortest-path tree") {
    val got = Reachability.pathsToReach(spark, edges, origin = 1L, cutoff = 10.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // leaves 2,3,4 all use edge 1->2; 3,4 use 2->3; 4 uses 3->4
    assert(got == Map((1L, 2L) -> 3L, (2L, 3L) -> 2L, (3L, 4L) -> 1L))
  }

  test("flood throws loudly when maxIters is hit before the fixpoint") {
    // 4-hop chain with maxIters=2: improvements still pending at exit
    val e = intercept[IllegalStateException] {
      Reachability.reachable(spark, edges, Seq(1L), cutoff = 10.0, maxIters = 2)
        .collect()
    }
    assert(e.getMessage.contains("maxIters"))
    // and the same call converges fine with the default budget
    assert(Reachability.reachable(spark, edges, Seq(1L), cutoff = 10.0)
      .count() == 4)
  }

  test("flood accepts a run converging in EXACTLY maxIters improving rounds") {
    // from origin 1 the fixture settles after 3 improving rounds
    // ({2:1,3:3} -> {3:2,4:4} -> {4:3}); with maxIters=3 the loop exits
    // without a zero-improvement round, but the fixpoint IS reached — the
    // confirmation expansion must accept it instead of throwing (review r03)
    val got = Reachability.reachable(spark, edges, Seq(1L), cutoff = 10.0, maxIters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0, 4L -> 3.0))
  }

  test("a flood failing mid-round leaves no snapshot and no cached edges behind") {
    // one edge's cost raises at runtime: the first round's job fails after
    // the flood cached its edge projection and registered its snapshot. The
    // edges come from an RDD, not a local relation, so the optimizer cannot
    // fold the raise into the plan before anything runs.
    val sc = spark.sparkContext
    val cacheManager = spark.sharedState.cacheManager
    assert(cacheManager.isEmpty, "fixture precondition: nothing cached")
    val before = sc.getPersistentRDDs.keySet
    val bad = spark.createDataFrame(edges.rdd, edges.schema).withColumn("cost",
      when(col("src") === 3L, raise_error(lit("bad edge cost"))).otherwise(col("cost")))
    val e = intercept[Exception] {
      Reachability.reachable(spark, bad, Seq(1L), cutoff = 10.0)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("bad edge cost")))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"persisted RDDs left behind: ${sc.getPersistentRDDs.keySet -- before}")
    assert(cacheManager.isEmpty, "the flood's cached edge projection leaked")
  }

  test("connect adds an edge usable by the next reachability query") {
    // without the edge, node 9 is unreachable; connect(4, 9) bridges it
    val bridged = Reachability.connect(edges, 4L, 9L, 1.0)
    val got = Reachability.reachable(spark, bridged, Seq(1L), cutoff = 10.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got(9L) == 4.0)
    val before = Reachability.reachable(spark, edges, Seq(1L), cutoff = 10.0)
      .collect().map(_.getLong(0)).toSet
    assert(!before.contains(9L))
  }
}
