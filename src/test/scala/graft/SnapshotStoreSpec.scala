package graft

import graft.lineage.{CellStore, SnapshotStore}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** Snapshot-versioned store (Iceberg table-format role): time-travel
  * isolation, file-granular copy-on-write (untouched files carried BY
  * REFERENCE), the cell-sorted file cut and its blooms, the one manifest
  * format, snapshot-scoped pruning, expiry, loud contracts. */
class SnapshotStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("snapshot-store-test").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshDir(tag: String): String = {
    val d = new java.io.File(s"target/snapspec_$tag").getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(d)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
    d
  }

  /** `n` rows, ids 0 until n, spread over the globe by two golden-ratio
    * sequences: many buckets, distinct cells. */
  private def spread(n: Long): DataFrame =
    spark.range(n).select(col("id").as("image_id"), lit("a").as("status"),
      (lit(-80.0) + lit(160.0) * ((col("id") * 0.6180339887) % 1.0)).as("lat"),
      (lit(-180.0) + lit(360.0) * ((col("id") * 0.7548776662) % 1.0)).as("lng"))
      .withColumn("cell16", graft.functions.S2Expressions.s2Cell16(col("lat"), col("lng")))

  /** The store's key hash restated: xxhash64 of the id's string form. */
  private def keyHashes(ids: Seq[Long]): Seq[Long] = {
    import spark.implicits._
    ids.toDF("id").select(xxhash64(col("id").cast("string"))).collect().map(_.getLong(0)).toSeq
  }

  /** The file bloom's probe restated: 7 bits by double hashing over the
    * hash's 32-bit halves, in a bitset of 64 x its word count. */
  private def admits(bits: Array[Long], h: Long): Boolean = {
    val m = bits.length * 64L
    (0 until 7).forall { i =>
      val p = Math.floorMod(h.toInt + i * (h >> 32), m)
      ((bits((p >> 6).toInt) >>> (p & 63)) & 1L) == 1L
    }
  }

  // rows spread across two far-apart buckets: London-ish and Sydney-ish
  private def rows(ids: Seq[Long], flag: String): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val (lat, lng) = if (i % 2 == 0) (51.5 + i * 1e-4, -0.12) else (-33.8 + i * 1e-4, 151.2)
      (i, flag, lat, lng)
    }.toDF("image_id", "status", "lat", "lng")
      .withColumn("cell16",
        graft.functions.S2Expressions.s2Cell16(col("lat"), col("lng")))
  }

  private def content(df: DataFrame): Set[(Long, String)] =
    df.select("image_id", "status").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private val Marker = "snapspec-marker"
  private def isMarker(j: SparkListenerJobStart): Boolean =
    Option(j.properties).exists(_.getProperty("spark.job.description") == Marker)

  /** Runs `body` while `l` listens. The listener bus is asynchronous, so
    * a marker job closes the window: once its start event arrives, every
    * earlier event has been delivered. */
  private def listening(l: SparkListener)(body: => Unit): Unit = {
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val m = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (isMarker(j)) markerSeen.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.addSparkListener(m)
    try {
      body
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally { sc.removeSparkListener(m); sc.removeSparkListener(l) }
  }

  /** Spark jobs started while `body` runs, the marker job left out. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    listening(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (!isMarker(j)) { jobs.incrementAndGet(); () }
    })(body)
    jobs.get()
  }

  /** A snapshot read, planned: the frame, its physical plan and its files. */
  private def planRead(dir: String, v: Int): Seq[String] = {
    val df = SnapshotStore.readVersion(spark, dir, v)
    df.queryExecution.executedPlan
    df.inputFiles.toSeq
  }

  private def relative(dir: String, files: Seq[String]): Set[String] = {
    val base = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(new org.apache.hadoop.fs.Path(dir)).toString + "/"
    files.map(_.stripPrefix(base)).toSet
  }

  test("time travel: v1 unchanged across append and upsert commits") {
    val dir = freshDir("tt")
    assert(SnapshotStore.create(spark, rows(1L to 10L, "a"), dir) == 1)
    assert(SnapshotStore.append(spark, rows(11L to 14L, "b"), dir) == 2)
    val delta = rows(Seq(2L, 4L), "u").withColumn("_deleted", lit(false))
      .unionByName(rows(Seq(3L), "x").withColumn("_deleted", lit(true)))
    assert(SnapshotStore.upsert(spark, delta, dir) == 3)
    assert(SnapshotStore.headVersion(spark, dir) == 3)
    // v1 is bit-identical to the original base
    assert(content(SnapshotStore.readVersion(spark, dir, 1)) ==
      (1L to 10L).map(i => (i, "a")).toSet)
    // v2 = base + append
    assert(content(SnapshotStore.readVersion(spark, dir, 2)) ==
      ((1L to 10L).map(i => (i, "a")) ++ (11L to 14L).map(i => (i, "b"))).toSet)
    // HEAD = v2 with 2,4 replaced and 3 deleted
    val want = ((1L to 10L).filterNot(Set(2L, 3L, 4L)).map(i => (i, "a")) ++
      (11L to 14L).map(i => (i, "b")) ++ Seq((2L, "u"), (4L, "u"))).toSet
    assert(content(SnapshotStore.read(spark, dir)) == want)
  }

  test("copy-on-write is bucket-granular: untouched files carry by reference") {
    val dir = freshDir("cow")
    // cut at 10 rows: the 10 London and the 10 Sydney rows in their own files
    SnapshotStore.overwriteBy(spark, rows(1L to 20L, "a"), dir, targetRows = 10)
    assert(SnapshotStore.manifest(spark, dir, 1).files.size == 2)
    // delta touches ONLY the London bucket (even ids)
    val delta = rows(Seq(2L), "u").withColumn("_deleted", lit(false))
    SnapshotStore.upsert(spark, delta, dir)
    val m1 = SnapshotStore.manifest(spark, dir, 1)
    val m2 = SnapshotStore.manifest(spark, dir, 2)
    val carried = m2.files.toSet intersect m1.files.toSet
    assert(carried.nonEmpty, "no v1 file carried by reference into v2")
    // the touched file must differ (rewritten)
    assert(m2.files.toSet != m1.files.toSet)
    // row content is the CoW result
    assert(content(SnapshotStore.read(spark, dir)) ==
      ((1L to 20L).filterNot(_ == 2L).map(i => (i, "a")) :+ ((2L, "u"))).toSet)
  }

  test("snapshot-scoped range pruning reads fewer buckets than the table") {
    val dir = freshDir("prune")
    SnapshotStore.create(spark, rows(1L to 40L, "a"), dir)
    val m = SnapshotStore.manifest(spark, dir, 1)
    assert(m.stats.size >= 2, "fixture must span >= 2 buckets")
    // range = one bucket's own [min,max]
    val b0 = m.stats.minBy(_.bucket)
    val (df, nRead) = SnapshotStore.readRanges(spark, dir, 1,
      Seq((b0.cellMin, b0.cellMax)))
    assert(nRead < m.stats.size, s"pruning read all $nRead buckets")
    assert(df.count() >= b0.rows)
  }

  test("expireSnapshots deletes unreferenced files; kept snapshots still read") {
    val dir = freshDir("expire")
    SnapshotStore.create(spark, rows(1L to 10L, "a"), dir)
    val delta = rows(Seq(2L), "u").withColumn("_deleted", lit(false))
    SnapshotStore.upsert(spark, delta, dir)
    val headBefore = content(SnapshotStore.read(spark, dir))
    val deleted = SnapshotStore.expireSnapshots(spark, dir, keepFrom = 2)
    assert(deleted > 0, "the rewritten v1 bucket's old file should be orphaned")
    assert(content(SnapshotStore.read(spark, dir)) == headBefore)
    intercept[Throwable](SnapshotStore.readVersion(spark, dir, 1).count())
  }

  test("changelog: insert/delete/update classified; rewritten-but-unchanged rows silent") {
    val dir = freshDir("cdc")
    SnapshotStore.create(spark, rows(1L to 10L, "a"), dir)
    val delta = rows(Seq(2L), "u").withColumn("_deleted", lit(false))
      .unionByName(rows(Seq(3L), "x").withColumn("_deleted", lit(true)))
      .unionByName(rows(Seq(21L), "b").withColumn("_deleted", lit(false)))
    SnapshotStore.upsert(spark, delta, dir)
    val got = SnapshotStore.changelog(spark, dir, 1, 2)
      .select("image_id", "op").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // ids 4,6,8,10 share bucket(s) with 2/3 and were REWRITTEN unchanged —
    // they must not appear in the delta
    assert(got === Set((2L, "update"), (3L, "delete"), (21L, "insert")))
    // appended-only commit surfaces as pure inserts
    SnapshotStore.append(spark, rows(Seq(31L, 33L), "c"), dir)
    val got2 = SnapshotStore.changelog(spark, dir, 2, 3)
      .select("image_id", "op").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2 === Set((31L, "insert"), (33L, "insert")))
  }

  test("streaming ingest: one snapshot per micro-batch, replayed batch ids are no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir("stream")
    SnapshotStore.create(spark, rows(1L to 4L, "a"), dir)
    val ms = MemoryStream[Long]
    val stream = ms.toDF().select(col("value").as("image_id"))
      .withColumn("status", lit("s"))
      .withColumn("lat", lit(51.5) + col("image_id") * 1e-4)
      .withColumn("lng", lit(-0.12))
      .withColumn("cell16",
        graft.functions.S2Expressions.s2Cell16(col("lat"), col("lng")))
    // checkpoint must be as fresh as the MemoryStream: a leftover
    // checkpoint from a previous run carries committed offsets the new
    // stream doesn't have (observed: sliceEnd -1 STREAM_FAILED)
    val ckpt = freshDir("stream_ckpt")
    val q = SnapshotStore.ingestStream(stream, dir, ckpt).start()
    try {
      ms.addData(11L, 12L); q.processAllAvailable()
      ms.addData(13L); q.processAllAvailable()
    } finally q.stop()
    // stream == batch: HEAD holds base + every streamed row
    assert(content(SnapshotStore.read(spark, dir)) ==
      ((1L to 4L).map(i => (i, "a")) ++ Seq((11L, "s"), (12L, "s"), (13L, "s"))).toSet)
    // each non-empty micro-batch committed ONE snapshot; the idempotence
    // cursor tracks the highest batch id
    val head = SnapshotStore.headVersion(spark, dir)
    assert(head >= 3, s"expected >= 3 versions, got $head")
    val last = SnapshotStore.manifest(spark, dir, head).lastBatch
    assert(last >= 1)
    // at-least-once replay: re-delivering an already-committed batch id
    // must not append (no new version, content unchanged)
    val replay = rows(Seq(99L), "x")
    assert(SnapshotStore.appendBatch(spark, replay, dir, last).isEmpty)
    assert(SnapshotStore.headVersion(spark, dir) == head)
    // and the NEXT id commits normally
    assert(SnapshotStore.appendBatch(spark, replay, dir, last + 1).contains(head + 1))
  }

  test("model check: random commit sequences — every snapshot equals the map model") {
    // deterministic pseudo-random op sequence (splitmix64-seeded) replayed
    // against an in-memory Map[id -> status] model; after every commit the
    // model's snapshot is recorded, and at the end EVERY version is read
    // back and compared — time travel over arbitrary histories, not just
    // the hand fixtures
    import graft.core.Hashes
    val dir = freshDir("model")
    var model = (1L to 12L).map(i => i -> "a").toMap
    SnapshotStore.create(spark, rows(1L to 12L, "a"), dir)
    val history = scala.collection.mutable.ArrayBuffer(model)
    var nextId = 100L
    for (step <- 0 until 6) {
      val r = Hashes.splitmix64(7919L * (step + 1))
      if (r % 3 == 0) {
        // append fresh ids
        val ids = Seq(nextId, nextId + 1); nextId += 2
        SnapshotStore.append(spark, rows(ids, s"ap$step"), dir)
        model = model ++ ids.map(_ -> s"ap$step")
      } else {
        // upsert: update 2 existing (pseudo-randomly picked), delete 1,
        // insert 1 fresh
        val existing = model.keys.toSeq.sorted
        def pick(k: Long) = existing(((Hashes.splitmix64(r + k) >>> 11) % existing.size).toInt)
        val (u1, u2, d1) = (pick(1), pick(2), pick(3))
        val ins = nextId; nextId += 1
        val ups = Seq(u1, u2).distinct.filterNot(_ == d1)
        val delta = rows(ups, s"up$step").withColumn("_deleted", lit(false))
          .unionByName(rows(Seq(d1), "x").withColumn("_deleted", lit(true)))
          .unionByName(rows(Seq(ins), s"in$step").withColumn("_deleted", lit(false)))
        SnapshotStore.upsert(spark, delta, dir)
        model = (model -- (ups :+ d1)) ++ ups.map(_ -> s"up$step") + (ins -> s"in$step")
      }
      history += model
    }
    assert(SnapshotStore.headVersion(spark, dir) == history.size)
    history.zipWithIndex.foreach { case (m, i) =>
      val got = content(SnapshotStore.readVersion(spark, dir, i + 1))
      assert(got == m.toSet, s"version ${i + 1} diverged from the model")
    }
    // changelog composes: replaying every consecutive delta over the model
    // of v1 must reproduce HEAD
    var replay = history.head
    (1 until history.size).foreach { v =>
      val delta = SnapshotStore.changelog(spark, dir, v, v + 1)
        .select("image_id", "status", "op").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      delta.foreach {
        case (id, _, "delete") => replay -= id
        case (id, st, _) => replay += (id -> st)
      }
    }
    assert(replay == history.last, "changelog replay diverged from HEAD")
  }

  test("create on an existing table fails loudly") {
    val dir = freshDir("dup")
    SnapshotStore.create(spark, rows(1L to 4L, "a"), dir)
    val e = intercept[IllegalArgumentException](
      SnapshotStore.create(spark, rows(5L to 6L, "a"), dir))
    assert(e.getMessage.contains("HEAD"))
  }

  test("a create missing cell16 fails naming it; a valid create then succeeds") {
    val dir = freshDir("nocell")
    val e = intercept[IllegalArgumentException](
      SnapshotStore.create(spark, rows(1L to 4L, "a").drop("cell16"), dir))
    assert(e.getMessage.contains("cell16"))
    assert(SnapshotStore.create(spark, rows(1L to 4L, "a"), dir) == 1)
    assert(content(SnapshotStore.read(spark, dir)) == (1L to 4L).map(i => (i, "a")).toSet)
  }

  test("a frame carrying the writer's key-hash column fails before its claim") {
    val dir = freshDir("reserved")
    val e = intercept[IllegalArgumentException](
      SnapshotStore.create(spark, rows(1L to 4L, "a").withColumn("_key_hash", lit(1L)), dir))
    assert(e.getMessage.contains("_key_hash"))
    assert(!new java.io.File(s"$dir/_snaps/v1.claim").exists())
  }

  test("optimistic arbitration: a stale writer's commit conflicts; content survives") {
    // Iceberg catalog-CAS role (round 5): two writers race for v2 — the
    // loser must get CommitConflictException, never clobber the winner
    val dir = freshDir("race")
    SnapshotStore.create(spark, rows(1L to 6L, "a"), dir)
    SnapshotStore.append(spark, rows(Seq(7L), "b"), dir) // the winner's v2
    val m1 = SnapshotStore.manifest(spark, dir, 1)
    // the stale writer computed its own v2 from base v1 and now commits
    val e = intercept[SnapshotStore.CommitConflictException] {
      SnapshotStore.commit(spark, dir, m1.copy(version = 2))
    }
    assert(e.version == 2)
    assert(SnapshotStore.headVersion(spark, dir) == 2)
    assert(content(SnapshotStore.read(spark, dir)) ==
      ((1L to 6L).map(i => (i, "a")) :+ ((7L, "b"))).toSet)
  }

  test("optimistic arbitration: data-dir collision conflicts BEFORE damage; release + retry recovers") {
    val dir = freshDir("race2")
    SnapshotStore.create(spark, rows(1L to 6L, "a"), dir)
    // a crashed committer left a half-written v2 attempt (data dir only)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data_v2"))
    intercept[SnapshotStore.CommitConflictException] {
      SnapshotStore.append(spark, rows(Seq(7L), "b"), dir)
    }
    assert(SnapshotStore.headVersion(spark, dir) == 1, "table must stay at v1")
    SnapshotStore.releaseFailedCommit(spark, dir, 2)
    assert(SnapshotStore.append(spark, rows(Seq(7L), "b"), dir) == 2)
    assert(content(SnapshotStore.read(spark, dir)) ==
      ((1L to 6L).map(i => (i, "a")) :+ ((7L, "b"))).toSet)
    // a COMMITTED version must never be releasable
    val g = intercept[IllegalArgumentException](
      SnapshotStore.releaseFailedCommit(spark, dir, 2))
    assert(g.getMessage.contains("refusing"))
  }

  test("a crashed create's claim is releasable; create then succeeds") {
    val dir = freshDir("crashcreate")
    // v1 claimed, then the data job fails: no HEAD was ever written
    val crashing = rows(Seq(1L, 2L), "a").withColumn("cell16",
      when(col("image_id") > 0, raise_error(lit("simulated crash")))
        .otherwise(col("cell16")))
    intercept[Exception](SnapshotStore.create(spark, crashing, dir))
    intercept[SnapshotStore.CommitConflictException] {
      SnapshotStore.create(spark, rows(Seq(1L, 2L), "a"), dir)
    }
    SnapshotStore.releaseFailedCommit(spark, dir, 1)
    assert(SnapshotStore.create(spark, rows(Seq(1L, 2L), "a"), dir) == 1)
    assert(content(SnapshotStore.read(spark, dir)) == Set((1L, "a"), (2L, "a")))
  }

  test("release inside the HEAD swap window reads HEAD.tmp: committed stays refused") {
    val dir = freshDir("swapwindow")
    SnapshotStore.create(spark, rows(Seq(1L, 2L), "a"), dir)
    SnapshotStore.append(spark, rows(Seq(3L), "b"), dir)
    // commit deletes HEAD, then renames HEAD.tmp over it: stop in between
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/_snaps/HEAD"),
      new org.apache.hadoop.fs.Path(s"$dir/_snaps/HEAD.tmp")))
    val g = intercept[IllegalArgumentException](
      SnapshotStore.releaseFailedCommit(spark, dir, 2))
    assert(g.getMessage.contains("HEAD=2"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_snaps/v2.claim")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/data_v2")))
    // a version past HEAD.tmp's is still releasable
    SnapshotStore.releaseFailedCommit(spark, dir, 3)
  }

  test("backoff doubles from its base and is capped") {
    assert((1 to 4).map(SnapshotStore.backoffMs(_, 250L)) == Seq(250L, 500L, 1000L, 2000L))
    assert((1 to 5).map(SnapshotStore.backoffMs(_, 10L)) == Seq(10L, 20L, 40L, 80L, 160L))
    assert(SnapshotStore.backoffMs(7, 250L) == 16000L)
    assert(SnapshotStore.backoffMs(50, 250L) == 16000L, "capped at 64 x base")
    assert(SnapshotStore.backoffMs(0, 250L) == 250L)
  }

  test("headVersion of a table with no HEAD fails naming the directory") {
    val dir = freshDir("nohead")
    val e = intercept[java.io.FileNotFoundException](SnapshotStore.headVersion(spark, dir))
    assert(e.getMessage.contains(dir))
  }

  test("a read of more than 32 files runs as many jobs as a 1-file read") {
    // Spark lists explicit paths past spark.sql.sources.parallelPartition
    // Discovery.threshold (32) with a job of one task per path; a manifest
    // read must plan from the manifest alone at any file count
    val many = freshDir("manyfiles")
    // ids 1..200 at distinct cells, cut at 5 rows: 40 files
    SnapshotStore.overwriteBy(spark, spread(201).where(col("image_id") > 0), many, targetRows = 5)
    val m = SnapshotStore.manifest(spark, many, 1)
    assert(m.files.size > 32, s"fixture must exceed 32 files, has ${m.files.size}")
    val one = freshDir("onefile")
    SnapshotStore.create(spark, rows(Seq(2L), "a").coalesce(1), one)
    assert(SnapshotStore.manifest(spark, one, 1).files.size == 1)
    var manyFiles = Seq.empty[String]
    val jobsMany = jobsDuring { manyFiles = planRead(many, 1) }
    val jobsOne = jobsDuring(planRead(one, 1))
    assert(jobsMany == jobsOne, s"$jobsMany jobs for ${m.files.size} files vs $jobsOne for 1")
    assert(relative(many, manyFiles) == m.files.toSet)
    assert(content(SnapshotStore.readVersion(spark, many, 1)) == (1L to 200L).map(i => (i, "a")).toSet)
  }

  test("CellStore.write over an existing table replaces HEAD; the old version still reads") {
    val dir = freshDir("overwrite")
    assert(CellStore.write(rows(1L to 6L, "a"), dir) == 1)
    assert(CellStore.write(rows(Seq(7L, 8L), "b"), dir) == 2)
    assert(content(SnapshotStore.read(spark, dir)) == Set((7L, "b"), (8L, "b")))
    assert(content(SnapshotStore.readVersion(spark, dir, 1)) == (1L to 6L).map(i => (i, "a")).toSet)
    assert(CellStore.stats(spark, dir).map(_.rows).sum == 2L)
  }

  test("compact commits one file per bucket; the pre-compact version keeps its files") {
    val dir = freshDir("compact")
    SnapshotStore.create(spark, rows(1L to 20L, "a").repartition(4), dir)
    SnapshotStore.append(spark, rows(21L to 30L, "b").repartition(3), dir)
    val pre = SnapshotStore.headManifest(spark, dir)
    val want = content(SnapshotStore.read(spark, dir))
    val summary = SnapshotStore.compact(spark, dir).collect()
    val post = SnapshotStore.headManifest(spark, dir)
    assert(post.version == pre.version + 1)
    // 30 rows: one cell-sorted file holding every bucket
    assert(post.files.size == 1 && post.stats.toSet == pre.stats.toSet)
    assert(summary.map(_.getLong(1)).sum == pre.entries.values.map(_.size).sum.toLong)
    assert(summary.forall(_.getLong(2) == 1L))
    assert(content(SnapshotStore.read(spark, dir)) == want)
    // the pre-compact snapshot still reads exactly its own files
    val old = SnapshotStore.readVersion(spark, dir, pre.version)
    assert(relative(dir, old.inputFiles.toSeq) == pre.files.toSet)
    assert(content(old) == want)
  }

  test("compact whose rewrite disagrees with HEAD's stats fails and leaves HEAD") {
    val dir = freshDir("compactbad")
    SnapshotStore.create(spark, rows(1L to 10L, "a"), dir)
    val m1 = SnapshotStore.manifest(spark, dir, 1)
    // a v2 whose entries claim one row more per bucket than its files hold
    SnapshotStore.commit(spark, dir, m1.copy(version = 2,
      entries = m1.entries.map { case (f, es) => f -> es.map(b => b.copy(rows = b.rows + 1)) }))
    val e = intercept[IllegalStateException](SnapshotStore.compact(spark, dir))
    assert(e.getMessage.contains("HEAD left at v2"))
    assert(SnapshotStore.headVersion(spark, dir) == 2)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_snaps/v3.claim")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/data_v3")))
  }

  /** Writes v2 of `dir` as v1's manifest text passed through `strip`. */
  private def writeStrippedV2(dir: String, strip: Seq[String] => Seq[String]): Unit = {
    val v1 = java.nio.file.Paths.get(s"$dir/_snaps/v1.txt")
    val text = new String(java.nio.file.Files.readAllBytes(v1), "UTF-8").split("\n").toSeq
    val v2 = strip(text).map(l => if (l.startsWith("version:")) "version:2" else l)
    java.nio.file.Files.write(v1.resolveSibling("v2.txt"), v2.mkString("\n").getBytes("UTF-8"))
  }

  test("a manifest missing sizes, entries or schema fails naming what is missing") {
    val dir = freshDir("legacyread")
    SnapshotStore.create(spark, rows(1L to 10L, "a"), dir)
    val m1 = SnapshotStore.manifest(spark, dir, 1)
    assert(m1.files.size == 1 && m1.sizes.keySet == m1.files.toSet)
    val f = m1.files.head
    Seq[(String, String, Seq[String] => Seq[String])](
      ("size", f, _.map(l => if (l.startsWith("file:")) s"file:$f" else l)),
      ("entries", f, _.filterNot(_.startsWith("entry:"))),
      ("schema", "v2", _.filterNot(_.startsWith("schema:")))).foreach { case (part, names, strip) =>
      writeStrippedV2(dir, strip)
      val e = intercept[IllegalArgumentException](SnapshotStore.manifest(spark, dir, 2))
      assert(e.getMessage.contains(names) && e.getMessage.contains(part), e.getMessage)
    }
  }

  test("a manifest file line without its bloom fails naming the file") {
    val dir = freshDir("bloomless")
    SnapshotStore.create(spark, rows(1L to 10L, "a"), dir)
    val f = SnapshotStore.manifest(spark, dir, 1).files.head
    writeStrippedV2(dir, _.filterNot(_.startsWith("fbloom:")))
    val e = intercept[IllegalArgumentException](SnapshotStore.manifest(spark, dir, 2))
    assert(e.getMessage.contains(f) && e.getMessage.contains("bloom"), e.getMessage)
  }

  test("withCommitRetries: lost races retry; exhaustion rethrows") {
    var calls = 0
    val got = SnapshotStore.withCommitRetries(maxRetries = 3) {
      calls += 1
      if (calls < 3) throw new SnapshotStore.CommitConflictException(9, "test")
      "ok"
    }
    assert(got == "ok" && calls == 3)
    intercept[SnapshotStore.CommitConflictException] {
      SnapshotStore.withCommitRetries(maxRetries = 1) {
        throw new SnapshotStore.CommitConflictException(9, "always")
      }
    }
  }

  test("bloom prune: a targeted delta reads fewer head files than the snapshot holds") {
    // VERDICT r04 #6: victim discovery is manifest-bloom-only and the
    // rewrite reads ONLY the victim files — on a one-bucket delta the
    // manifest diff must show a strict subset
    val dir = freshDir("bloom")
    // two buckets in two commits' files: London (even ids), Sydney (odd)
    SnapshotStore.create(spark, rows((1L to 20L).filter(_ % 2 == 0), "a"), dir)
    SnapshotStore.append(spark, rows((1L to 20L).filter(_ % 2 == 1), "a"), dir)
    val delta = rows(Seq(2L), "u").withColumn("_deleted", lit(false))
    val v = SnapshotStore.upsert(spark, delta, dir)
    // the files of v-1 missing from v are exactly the touched files read
    val before = SnapshotStore.manifest(spark, dir, v - 1).files
    val after = SnapshotStore.manifest(spark, dir, v).files.toSet
    val filesScanned = before.count(f => !after(f))
    val filesTotal = before.size
    assert(filesTotal > 0 && filesScanned < filesTotal,
      s"expected a strict file-scan subset, got $filesScanned of $filesTotal")
    // content identical to the full-scan semantics
    val want = ((1L to 20L).filterNot(_ == 2L).map(i => (i, "a")) :+ ((2L, "u"))).toSet
    assert(content(SnapshotStore.read(spark, dir)) == want)
  }

  test("delete-only merge that empties every touched bucket commits cleanly") {
    // ADVICE r04: zero part files are written for the empty rewrite, so the
    // new-bucket stats read must be skipped, not fail schema inference
    val dir = freshDir("delonly")
    // two buckets: Sydney {1}, London {2, 4}
    SnapshotStore.create(spark, rows(Seq(1L, 2L, 4L), "a"), dir)
    val delta = rows(Seq(2L, 4L), "x").withColumn("_deleted", lit(true))
    val v = SnapshotStore.upsert(spark, delta, dir)
    assert(content(SnapshotStore.read(spark, dir)) == Set((1L, "a")))
    // the emptied bucket's stats are gone from the manifest
    val m = SnapshotStore.manifest(spark, dir, v)
    assert(m.stats.map(_.rows).sum == 1L)
  }

  test("a commit cut at T rows writes ceil(rows / T) cell-sorted files over disjoint ranges") {
    import CellStore.BucketStat
    val dir = freshDir("cut")
    val df = spread(1000)
    SnapshotStore.overwriteBy(spark, df, dir, targetRows = 128)
    val m = SnapshotStore.manifest(spark, dir, 1)
    assert(m.files.size == 8, s"1000 rows cut at 128 wrote ${m.files.size} files")
    // each file, read alone, is sorted by cell and its entries are its own
    // per-bucket recompute
    val ranges = m.files.map { f =>
      val cells = spark.read.parquet(s"$dir/$f").select("cell16").collect().map(_.getLong(0)).toSeq
      assert(cells.nonEmpty && cells == cells.sorted, s"$f is not cell-sorted")
      assert(m.entries(f).toSet == cells.groupBy(CellStore.bucketOf).map { case (b, cs) =>
        BucketStat(b, cs.min, cs.max, cs.size.toLong) }.toSet, s"$f entries")
      (cells.head, cells.last)
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall { case Seq(a, b) => a._2 < b._1 }, s"ranges overlap: $ranges")
    // stats equal a one-shot recompute over the frame
    val oneShot = df.groupBy(shiftrightunsigned(col("cell16"), 64 - CellStore.PrefixBits))
      .agg(min("cell16"), max("cell16"), count(lit(1))).collect()
      .map(r => BucketStat(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(oneShot.size > 8 && m.stats.toSet == oneShot)
    assert(content(SnapshotStore.read(spark, dir)) == (0L until 1000L).map(i => (i, "a")).toSet)
  }

  test("a create or an append starts 2 jobs, an upsert 8; a multi-file commit reads nothing back") {
    def cached(df: DataFrame): DataFrame = { val c = df.repartition(4).cache(); c.count(); c }
    val base = cached(spread(2000))
    val first = cached(base.where(col("image_id") < 1000))
    val second = cached(base.where(col("image_id") >= 1000))
    val dir = freshDir("jobs")
    // one count job, then one write task: no exchange, no read-back
    assert(jobsDuring(SnapshotStore.create(spark, first, dir)) == 2)
    assert(jobsDuring(SnapshotStore.append(spark, second, dir)) == 2)
    // 12 before the writer gathered its own stats: its count took 2 jobs,
    // its one-partition range exchange 1 more and its read-back 2
    val delta = cached(base.where(col("image_id") % 100 === 7).withColumn("status", lit("u")))
    assert(jobsDuring(SnapshotStore.upsert(spark, delta, dir)) == 8)
    assert(content(SnapshotStore.read(spark, dir)) ==
      (0L until 2000L).map(i => (i, if (i % 100 == 7) "u" else "a")).toSet)
    // cut at 500 rows: the count, the range bounds' sample, the exchange's
    // map stage and the write; 7 before, with the 2-job count and the
    // 2-job read-back
    val multi = freshDir("jobsmulti")
    assert(jobsDuring(SnapshotStore.overwriteBy(spark, first, multi, targetRows = 500)) == 4)
    assert(SnapshotStore.manifest(spark, multi, 1).files.size == 2)
    Seq(base, first, second, delta).foreach(_.unpersist())
  }

  test("a commit's write-task stats stay out of task and stage accumulables") {
    // what AppStatusListener keeps in the status store and the event log
    // writes: a named accumulator's update and running value per task
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.foreach(a => seen.add(s"${a.name} ${a.update} ${a.value}"))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        e.stageInfo.accumulables.values.foreach(a => seen.add(s"${a.name} ${a.update} ${a.value}"))
    }
    val dir = freshDir("accums")
    listening(l)(SnapshotStore.overwriteBy(spark, spread(2000), dir, targetRows = 500))
    val m = SnapshotStore.manifest(spark, dir, 1)
    assert(m.files.size == 4)
    // the listener heard Spark's own task metrics, but no file's bloom
    assert(seen.asScala.exists(_.contains("internal.metrics")))
    m.files.foreach(f => assert(!seen.asScala.exists(_.contains(m.blooms(f))), s"$f bloom in accumulables"))
  }

  test("each file's entries and bloom come from the rows that file received") {
    import CellStore.BucketStat
    val dir = freshDir("fewcells")
    // 1,000 rows in 3 distinct cells, cut at 128 rows: 8 range partitions
    // planned, at most 3 of them with rows
    val places = Seq((51.5, -0.12), (-33.8, 151.2), (40.7, -74.0))
    val lat = places.indices.foldLeft(lit(null).cast("double")) { (c, i) =>
      when(col("id") % 3 === i, lit(places(i)._1)).otherwise(c) }
    val lng = places.indices.foldLeft(lit(null).cast("double")) { (c, i) =>
      when(col("id") % 3 === i, lit(places(i)._2)).otherwise(c) }
    val df = spark.range(1000).select(col("id").as("image_id"), lit("a").as("status"),
      lat.as("lat"), lng.as("lng"))
      .withColumn("cell16", graft.functions.S2Expressions.s2Cell16(col("lat"), col("lng")))
    assert(df.select("cell16").distinct().count() == 3)
    SnapshotStore.overwriteBy(spark, df, dir, targetRows = 128)
    val m = SnapshotStore.manifest(spark, dir, 1)
    // the manifest lists exactly the files on disk
    val onDisk = new java.io.File(s"$dir/data_v1").listFiles().map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).map(n => s"data_v1/$n").toSet
    assert(m.files.toSet == onDisk, s"manifest ${m.files} vs on disk $onDisk")
    m.files.foreach { f =>
      val rs = spark.read.parquet(s"$dir/$f").select("image_id", "cell16").collect()
      val cells = rs.map(_.getLong(1)).toSeq
      assert(m.entries(f).toSet == cells.groupBy(CellStore.bucketOf).map { case (b, cs) =>
        BucketStat(b, cs.min, cs.max, cs.size.toLong) }.toSet, s"$f entries")
      // no false negatives: the file's bloom admits every key it holds
      val bits = SnapshotStore.bloomDecode(m.blooms(f))
      assert(keyHashes(rs.map(_.getLong(0)).toSeq).forall(admits(bits, _)), s"$f bloom misses a key")
    }
    assert(m.stats.map(_.rows).sum == 1000L)
    assert(content(SnapshotStore.read(spark, dir)) == (0L until 1000L).map(i => (i, "a")).toSet)
  }

  test("file blooms from 1k and 10k keys show <= 2% false positives over 10k absent keys") {
    val absent = keyHashes(1000000L until 1010000L)
    Seq(1000L, 10000L).foreach { n =>
      val dir = freshDir(s"fpp$n")
      SnapshotStore.create(spark, spread(n), dir)
      val m = SnapshotStore.manifest(spark, dir, 1)
      assert(m.files.size == 1)
      val bits = SnapshotStore.bloomDecode(m.blooms(m.files.head))
      // sized from the file's own row count: 10 bits per key
      assert(bits.length == (10 * n + 63) / 64, s"${bits.length} words for $n keys")
      assert(keyHashes(0L until n).forall(admits(bits, _)), s"a present key missed at $n keys")
      val fp = absent.count(admits(bits, _))
      assert(fp <= 200, s"$fp false positives of 10000 at $n keys")
    }
  }

  test("a 20-key upsert into a 50k-row, 8-file table rewrites exactly the files whose blooms admit a key") {
    val dir = freshDir("upsert50k")
    val base = spread(50000)
    SnapshotStore.overwriteBy(spark, base, dir, targetRows = 6250)
    val m1 = SnapshotStore.manifest(spark, dir, 1)
    assert(m1.files.size == 8 && m1.blooms.keySet == m1.files.toSet)
    // 20 keys from one place: the 20 smallest cells
    val keys = base.orderBy("cell16").limit(20).select("image_id").collect().map(_.getLong(0)).toSeq
    val delta = base.where(col("image_id").isin(keys: _*)).withColumn("status", lit("u"))
    val v = SnapshotStore.upsert(spark, delta, dir)
    val rewritten = m1.files.toSet -- SnapshotStore.manifest(spark, dir, v).files
    // the set the manifest blooms admit, probed here over the restated hash
    val hs = keyHashes(keys)
    val admitted = m1.files.filter(f => hs.exists(admits(SnapshotStore.bloomDecode(m1.blooms(f)), _))).toSet
    assert(rewritten == admitted)
    assert(rewritten.size < m1.files.size, s"rewrote ${rewritten.size} of ${m1.files.size} files")
    // every file that holds a key is among them
    val holding = spark.read.parquet(m1.files.map(f => s"$dir/$f"): _*)
      .where(col("image_id").isin(keys: _*)).select(input_file_name()).distinct().collect()
      .map(r => new org.apache.hadoop.fs.Path(new java.net.URI(r.getString(0))).getName).toSet
    assert(holding.nonEmpty && holding.subsetOf(rewritten.map(_.split("/").last)))
    assert(content(SnapshotStore.read(spark, dir)) ==
      (0L until 50000L).map(i => (i, if (keys.contains(i)) "u" else "a")).toSet)
  }

  test("a non-format-2 manifest fails loudly naming version and format") {
    import CellStore.BucketStat
    val dir = freshDir("format1")
    val base = rows(1L to 10L, "a")
    val bucket = shiftrightunsigned(col("cell16"), 64 - CellStore.PrefixBits)
    base.withColumn("_bucket", bucket).write.partitionBy("_bucket").parquet(s"$dir/data_v1")
    val root = java.nio.file.Paths.get(dir)
    val files = {
      val walk = java.nio.file.Files.walk(root.resolve("data_v1"))
      try walk.iterator().asScala.map(root.relativize(_).toString)
        .filter(_.endsWith(".parquet")).toVector.sorted
      finally walk.close()
    }
    val stats = base.groupBy(bucket).agg(min("cell16"), max("cell16"), count(lit(1))).collect()
      .map(r => BucketStat(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(stats.size == 2 && files.forall(_.contains("/_bucket=")))
    // the format-1 text: no format line, stat/bloom lines per bucket, file
    // lines without sizes or schema
    val zeroBloom = java.util.Base64.getEncoder.encodeToString(new Array[Byte](256))
    val text = (Seq("version:1", "batch:-1", "bloomcol:image_id") ++
      stats.map(s => s"stat:${s.bucket},${s.cellMin},${s.cellMax},${s.rows}") ++
      stats.map(s => s"bloom:${s.bucket},$zeroBloom") ++ files.map(f => s"file:$f")).mkString("\n")
    java.nio.file.Files.createDirectories(root.resolve("_snaps"))
    java.nio.file.Files.write(root.resolve("_snaps/v1.txt"), text.getBytes("UTF-8"))
    java.nio.file.Files.write(root.resolve("_snaps/HEAD"), "1".getBytes("UTF-8"))
    Seq[() => Any](() => SnapshotStore.read(spark, dir),
      () => SnapshotStore.append(spark, rows(Seq(11L, 12L), "b"), dir)).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("v1 has format 1"), e.getMessage)
    }
    assert(SnapshotStore.headVersion(spark, dir) == 1)
  }

  test("expireSnapshots leaves an in-flight commit's files above HEAD") {
    val dir = freshDir("inflight")
    SnapshotStore.create(spark, rows(1L to 4L, "a"), dir)
    SnapshotStore.append(spark, rows(Seq(5L), "b"), dir)
    // a concurrent committer has claimed v3 and written its data, not yet
    // its manifest or HEAD
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.createNewFile(new org.apache.hadoop.fs.Path(s"$dir/_snaps/v3.claim")))
    rows(Seq(6L), "c").write.parquet(s"$dir/data_v3")
    val inflight = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data_v3"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(inflight.nonEmpty)
    SnapshotStore.expireSnapshots(spark, dir, keepFrom = 2)
    assert(inflight.forall(fs.exists), "expireSnapshots deleted an in-flight commit's file")
    assert(content(SnapshotStore.read(spark, dir)) == ((1L to 4L).map(i => (i, "a")) :+ ((5L, "b"))).toSet)
    SnapshotStore.releaseFailedCommit(spark, dir, 3)
    assert(!inflight.exists(fs.exists))
  }
}
