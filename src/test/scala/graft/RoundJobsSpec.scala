package graft

import graft.ops.{Components, Knn, Reachability}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The round driver (Tracker.rounds) runs ONE snapshot job per round for
  * every iterative operator, and labels each round's jobs with the job tag
  * `graft:<op>:<round>` without disturbing the caller's job group.
  *
  * A snapshot job is the round's raw RDD action (it carries no SQL
  * execution id). The shuffle-map and broadcast jobs that adaptive
  * execution launches while planning that same snapshot run under the SQL
  * execution and carry the round's tag too; they are counted separately. */
class RoundJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .appName("round-jobs-test").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  private case class Job(tags: Set[String], group: String, snapshot: Boolean)

  /** Every job `body` starts, with its tags, job group and kind. Listener
    * delivery is asynchronous, so a marker job closes the window: once its
    * start event arrives, every earlier job's start has been delivered. */
  private def jobsOf(body: => Unit): Seq[Job] = {
    val marker = "roundjobs-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        def prop(k: String) = p.map(_.getProperty(k)).orNull
        if (prop("spark.job.description") == marker) markerSeen.countDown()
        else jobs.add(Job(
          Option(prop("spark.job.tags")).toSet.flatMap((t: String) => t.split(",").toSet),
          prop("spark.jobGroup.id"), prop("spark.sql.execution.id") == null))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(l)
    scala.jdk.CollectionConverters.IterableHasAsScala(jobs).asScala.toSeq
  }

  /** Runs `call` under a caller job group and checks, per `graft:<op>:<n>`
    * round tag: rounds 1..R all present, exactly one snapshot job each, and
    * the caller's group on every round job. Returns R. */
  private def oneSnapshotPerRound(op: String)(call: => DataFrame): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "round driver spec")
    val jobs = try jobsOf(call.collect()) finally {
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group",
        "the round driver changed the caller's job group")
      assert(!sc.getJobTags().exists(_.startsWith("graft:")),
        s"round tag left on the thread: ${sc.getJobTags()}")
      sc.clearJobGroup()
    }
    val prefix = s"graft:$op:"
    val byRound = jobs.flatMap(j => j.tags.filter(_.startsWith(prefix))
      .map(t => t.stripPrefix(prefix).toInt -> j)).groupBy(_._1)
    val rounds = byRound.keys.max
    assert(byRound.keySet == (1 to rounds).toSet, s"$op rounds ${byRound.keys}")
    byRound.toSeq.sortBy(_._1).foreach { case (r, js) =>
      val snaps = js.count(_._2.snapshot)
      assert(snaps == 1, s"$op round $r ran $snaps snapshot jobs (${js.size} jobs in all)")
      assert(js.forall(_._2.group == "caller-group"), s"$op round $r lost the caller's group")
    }
    rounds
  }

  private def fixture: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (1L, 3L, 3.0))
      .flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
      .toDF("src", "dst", "cost")
  }

  test("reachable: one snapshot job per flood round") {
    // 3 improving rounds plus the confirming one
    assert(oneSnapshotPerRound("flood")(
      Reachability.reachable(spark, fixture, Seq(1L), cutoff = 10.0)) == 4)
  }

  test("pathsToReach: one snapshot job per climb round") {
    // the tree 1->2->3->4 is 3 hops deep
    assert(oneSnapshotPerRound("pathsToReach")(
      Reachability.pathsToReach(spark, fixture, origin = 1L, cutoff = 10.0)) == 3)
  }

  test("connectedComponents: one snapshot job per round on the 500-link chain") {
    import spark.implicits._
    val chain = (0L until 500L).map(i => (i, i + 1)).toDF("a", "b")
    val rounds = oneSnapshotPerRound("connectedComponents")(
      Components.connectedComponentsCounted(chain, maxIters = 50)._1)
    assert(rounds >= 2 && rounds <= 12)
  }

  /** Runs `call` and checks the kNN driver route's job budget: every
    * `graft:knnBatch:<n>` round runs exactly ONE job in all, at most one
    * job (the route test's bounded collect) runs outside the rounds, and
    * collecting the returned frame starts none. Returns the rows. */
  private def oneJobPerKnnRound(call: => DataFrame): Array[org.apache.spark.sql.Row] = {
    var frame: DataFrame = null
    val jobs = jobsOf { frame = call }
    val prefix = "graft:knnBatch:"
    val byRound = jobs.flatMap(j => j.tags.filter(_.startsWith(prefix))
      .map(t => t.stripPrefix(prefix).toInt -> j)).groupBy(_._1)
    assert(byRound.nonEmpty && byRound.keySet == (1 to byRound.keys.max).toSet,
      s"knnBatch rounds ${byRound.keys}")
    byRound.foreach { case (r, js) =>
      assert(js.size == 1, s"knnBatch round $r ran ${js.size} jobs")
    }
    val outside = jobs.count(!_.tags.exists(_.startsWith(prefix)))
    assert(outside <= 1, s"$outside jobs outside the rounds")
    var rows: Array[org.apache.spark.sql.Row] = null
    val collectJobs = jobsOf { rows = frame.collect() }
    assert(collectJobs.isEmpty, s"collecting the result ran ${collectJobs.size} jobs")
    rows
  }

  test("knn driver route: one job per round for knnBatch, knnFromStore and the store batch") {
    val images = graft.model.Tables.images(spark, sfDir)
    val batch = oneJobPerKnnRound(
      Knn.knnBatch(spark, images, graft.model.Synth.batchQueryDf(spark, 50), k = 3))
    assert(batch.length == 150)
    val store = java.nio.file.Files.createTempDirectory("roundjobs-store").toString
    graft.lineage.CellStore.write(images.select("image_id", "lat", "lng", "cell16"), store)
    val qs = graft.model.Synth.knnQueries.toSeq
    val fromStore = oneJobPerKnnRound(Knn.knnFromStore(spark, store, qs, k = 10))
    assert(fromStore.toSeq == Knn.knn(spark, images, qs, k = 10).collect().toSeq)
    // a cached query frame over several partitions, as a caller that reuses
    // its queries holds them: the route test still runs one job
    val regional = graft.model.Synth.regionalBatchQueryDf(spark, 50).cache()
    try {
      assert(regional.count() == 50 && regional.rdd.getNumPartitions > 1)
      val storeBatch = oneJobPerKnnRound(Knn.knnBatchFromStore(spark, store, regional, k = 5))
      assert(storeBatch.toSeq == Knn.knnBatch(spark, images, regional, k = 5).collect().toSeq)
    } finally regional.unpersist()
  }

  test("knnBatch: one snapshot job per round over 50 queries") {
    val rounds = oneSnapshotPerRound("knnBatch")(
      Knn.knnBatch(spark, graft.model.Tables.images(spark, sfDir),
        graft.model.Synth.batchQueryDf(spark, 50), k = 3))
    assert(rounds >= 1)
    graft.ops.EngineCaches.releaseIterationSnapshots()
  }
}
