package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The survivor registry (Tracker.survivors / EngineCaches) is kept per
  * SparkSession: a release frees the active session's snapshots only, and
  * sessions whose context has stopped are dropped without reaching into
  * their dead contexts (the full-suite failure mode this guards: one suite
  * registers survivors, stops its session in afterAll, the next suite calls
  * releaseIterationSnapshots). */
class TrackerReleaseSpec extends AnyFunSuite {

  private def session(name: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .appName(name).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def chain(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.col
    s.range(4).select(col("id").as("a"), (col("id") + 1).as("b"))
  }

  /** `body`'s result and the one RDD it left persisted (its snapshot). */
  private def withSnapshot(s: SparkSession)(body: => DataFrame)
      : (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val before = s.sparkContext.getPersistentRDDs.keySet
    val df = body
    val added = s.sparkContext.getPersistentRDDs -- before
    assert(added.size == 1, s"expected one surviving snapshot, got ${added.keys}")
    (df, added.values.head)
  }

  test("release survives survivors from a stopped session; live ones still free") {
    // session 1: leave one survivor behind (connectedComponents registers
    // exactly one persisted snapshot under its returned frame), then stop
    val s1 = session("tracker-rel-1")
    ops.Components.connectedComponents(chain(s1)).collect()
    assert(ops.Tracker.survivorCount(s1) >= 1)
    s1.stop()

    // session 2: register a LIVE survivor, then release — must not throw,
    // must clear the session's survivors and drop the dead session's, and
    // the live frame must stay readable (unpersist only drops cache)
    val s2 = session("tracker-rel-2")
    val (comp, snap) = withSnapshot(s2)(ops.Components.connectedComponents(chain(s2)))
    assert(comp.count() == 5)
    ops.EngineCaches.releaseIterationSnapshots()
    assert(ops.Tracker.survivorCount(s2) == 0)
    assert(ops.Tracker.survivorCount(s1) == 0)
    assert(snap.getStorageLevel == StorageLevel.NONE,
      "release must unpersist every survivor of its session")
    assert(comp.count() == 5) // recomputes through lineage after release
    s2.stop()
  }

  test("one session's release leaves another session's results cached") {
    val s1 = session("tracker-rel-3")
    val s2 = s1.newSession()
    try {
      val (own, ownSnap) = withSnapshot(s1)(ops.Components.connectedComponents(chain(s1)))
      val (other, otherSnap) = withSnapshot(s2)(ops.Components.connectedComponents(chain(s2)))
      val otherRows = other.collect().toSet
      val level = otherSnap.getStorageLevel
      assert(level != StorageLevel.NONE)

      SparkSession.setActiveSession(s1)
      ops.EngineCaches.releaseIterationSnapshots()
      assert(ownSnap.getStorageLevel == StorageLevel.NONE)
      assert(own.count() == 5)
      assert(otherSnap.getStorageLevel == level,
        "a release in one session unpersisted another session's result")
      assert(ops.Tracker.survivorCount(s2) == 1)
      assert(other.collect().toSet == otherRows)

      SparkSession.setActiveSession(s2)
      ops.EngineCaches.releaseIterationSnapshots()
      assert(otherSnap.getStorageLevel == StorageLevel.NONE)
      assert(other.collect().toSet == otherRows)
    } finally {
      SparkSession.setActiveSession(s1)
      s1.stop()
    }
  }

  test("two scoped percentile calls over one input each keep their own anchor") {
    import org.apache.spark.sql.functions.col
    val s = session("tracker-rel-5")
    try {
      val df = s.range(3000).select(col("id"), (col("id") * 7919 % 101).as("v"))
      val (_, release1) = ops.Search.percentilesScoped(df, "v")
      val before = s.sparkContext.getPersistentRDDs.keySet
      val ((f2, release2), anchor2) = {
        val call = ops.Search.percentilesScoped(df, "v")
        val added = s.sparkContext.getPersistentRDDs -- before
        assert(added.size == 1, s"the second call pinned ${added.keys}, not its own anchor")
        (call, added.values.head)
      }
      val level = anchor2.getStorageLevel
      assert(level != StorageLevel.NONE)
      release1()
      assert(anchor2.getStorageLevel == level,
        "the first call's release evicted the second call's live anchor")
      val want = df.selectExpr("id", "PERCENT_RANK() OVER (ORDER BY v) AS pct")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(f2.select(col("id"), col("pct")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap == want)
      release2()
      assert(anchor2.getStorageLevel == StorageLevel.NONE)
    } finally s.stop()
  }

  test("one session's percentile release leaves another session's anchors") {
    import org.apache.spark.sql.functions.col
    def values(s: SparkSession, m: Int): DataFrame =
      s.range(3000).select(col("id"), (col("id") * 7919 % m).as("v"))
    def ranks(df: DataFrame, pct: String): Map[Long, Double] =
      df.select(col("id"), col(pct)).collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val a = session("tracker-rel-4")
    val b = a.newSession()
    try {
      // each session holds a live percentiles frame over its own input (the
      // anchor is the one RDD a call leaves persisted)
      val (_, anchorA) = withSnapshot(a)(ops.Search.percentiles(values(a, 101), "v"))
      val (fb, anchorB) = withSnapshot(b)(ops.Search.percentiles(values(b, 97), "v"))
      val level = anchorB.getStorageLevel
      assert(level != StorageLevel.NONE)

      SparkSession.setActiveSession(a)
      ops.Search.releasePercentileCaches()
      assert(anchorA.getStorageLevel == StorageLevel.NONE)
      assert(anchorB.getStorageLevel == level,
        "a release in one session evicted another session's percentile anchor")
      assert(ranks(fb, "pct") ==
        ranks(values(b, 97).selectExpr("id", "PERCENT_RANK() OVER (ORDER BY v) AS pct"), "pct"))

      SparkSession.setActiveSession(b)
      ops.Search.releasePercentileCaches()
      assert(anchorB.getStorageLevel == StorageLevel.NONE)
    } finally {
      SparkSession.setActiveSession(a)
      a.stop()
    }
  }
}
