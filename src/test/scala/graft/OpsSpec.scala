package graft

import graft.core.Geo
import graft.lineage.Lineage
import graft.model.{Synth, Tables}
import graft.ops._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Operator-level tests against brute-force oracles computed in-process
  * (camden-golden style, FIXTURES.md §3): the cell-pruned plans must equal
  * exhaustive evaluation exactly, covering-independence included. */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .appName("ops-test").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** `dir` as an absolute path, emptied: a store written there starts from
    * nothing instead of stacking one more snapshot per suite run. */
  private def freshDir(dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(new java.io.File(dir).getAbsolutePath)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    p.toString
  }

  private def imagePoints(): Array[(Long, Double, Double)] =
    Tables.images(spark, sfDir).select("image_id", "lat", "lng")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))

  test("containment join equals exhaustive ray-cast over all pairs") {
    val images = Tables.images(spark, sfDir).select("image_id", "lat", "lng", "cell16")
    val got = Containment.containmentJoin(images, Tables.regions(spark))
      .select("image_id", "region_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    val want = (for {
      (id, lat, lng) <- imagePoints()
      r <- Synth.regions
      if Geo.containsPlanarRings(lat, lng, r.rings)
    } yield (id, r.regionId)).toSet
    assert(want.nonEmpty, "fixture must produce matches")
    assert(got == want)
  }

  test("containment broadcast-probe fast path equals the join path") {
    val images = Tables.images(spark, sfDir).select("image_id", "lat", "lng", "cell16")
    val regions = Tables.regions(spark)
    val a = Containment.joinBy(images, regions, broadcastBytesLimit = 0L, coarseLevelMax = -1)
      .select("image_id", "region_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Containment.containmentProbe(images, Synth.regions)
      .select("image_id", "region_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("H3-pruned containment equals the S2 path row-for-row") {
    val images = Tables.images(spark, sfDir).select("image_id", "lat", "lng", "cell16")
    val s2 = Containment.containmentProbe(images, Synth.regions)
      .select("image_id", "region_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val h3 = Containment.containmentProbeHex7(images, Synth.regions)
      .select("image_id", "region_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(h3 == s2 && h3.nonEmpty)
  }

  test("skew: hot cells dominate the distribution and salting splits them") {
    import org.apache.spark.sql.functions._
    val images = Tables.images(spark, sfDir)
    // the fixture puts 20% of rows in 3 urban caps (FIXTURES.md §1): the
    // hottest level-10 cell must dwarf the median — the skew the north rule
    // requires explicit handling for
    val byCell = images
      .withColumn("c10", graft.functions.Udfs.ancestorsAt(Seq(10))(col("cell16"))(0))
      .groupBy("c10").count().collect().map(_.getLong(1)).sorted
    val hottest = byCell.last
    val median = byCell(byCell.length / 2)
    assert(hottest > 20 * median,
      s"fixture skew missing: hottest=$hottest median=$median")
    // salting: the hot key spreads across `saltBuckets` distinct join keys
    val salted = images
      .withColumn("c10", graft.functions.Udfs.ancestorsAt(Seq(10))(col("cell16"))(0))
      .withColumn("salt", pmod(xxhash64(col("image_id")), lit(8)).cast("int"))
      .groupBy("c10", "salt").count()
      .groupBy("c10").agg(count(lit(1)).as("nkeys"), max("count").as("maxpart"))
      .orderBy(desc("maxpart")).limit(1).collect()(0)
    assert(salted.getAs[Long]("nkeys") == 8)
    assert(salted.getAs[Long]("maxpart") < hottest / 4,
      "salted partitions must be much smaller than the unsalted hot key")
  }

  test("containment join: shuffle+salted path equals broadcast path") {
    val images = Tables.images(spark, sfDir).select("image_id", "lat", "lng", "cell16")
    val regions = Tables.regions(spark)
    val a = Containment.containmentJoin(images, regions)
      .select("image_id", "region_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Containment.joinBy(images, regions,
        broadcastBytesLimit = 0L, coarseLevelMax = graft.core.S2.MaxLevel)
      .select("image_id", "region_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b)
  }

  test("auto-planner: strategy from region-side stats; every choice returns the same rows") {
    import org.apache.spark.sql.functions._
    val regions = Tables.regions(spark)
    // the fixture's 24 small regions must choose broadcast under the default
    // budget, and the estimate must be consistent with the real exploded size
    val c = Containment.chooseStrategy(regions)
    assert(c.broadcast && c.saltBuckets == 0)
    val explodedRows =
      regions.select(explode(col("cells"))).count()
    assert(c.estBroadcastBytes > explodedRows * 24,
      "estimate must at least cover the per-row core")
    // a zero budget forces the shuffle path; the salt decision must be
    // exactly "a covering cell at or coarser than coarseLevelMax exists"
    // (the fixture's MaxCells-5 coverings do contain coarse cells)
    val c0 = Containment.chooseStrategy(regions, broadcastBytesLimit = 0L)
    assert(!c0.broadcast &&
      (c0.saltBuckets > 0) == (c0.minCoverLevel <= 9))
    // lowering coarseLevelMax below the fixture's coarsest level: no salt
    val cNoSalt = Containment.chooseStrategy(regions, broadcastBytesLimit = 0L,
      coarseLevelMax = c0.minCoverLevel - 1)
    assert(!cNoSalt.broadcast && cNoSalt.saltBuckets == 0)
    // a coarse covering cell (level 6) on the shuffle path demands salt —
    // the deterministic continent-cell skew case
    val coarse = regions.limit(1)
      .withColumn("cells", array(lit(graft.core.S2.parent(
        graft.core.S2.cellAt(51.5, -0.13, 16), 6))))
    val cc = Containment.chooseStrategy(coarse, broadcastBytesLimit = 0L)
    assert(!cc.broadcast && cc.saltBuckets > 0 && cc.minCoverLevel == 6)
    // an empty region frame plans harmlessly (broadcast of nothing)
    val ce = Containment.chooseStrategy(regions.limit(0))
    assert(ce.broadcast && ce.estBroadcastBytes == 0L && ce.levels.isEmpty)
    // the returned level set (the shuffle route's ancestor levels) is
    // sorted and consistent with the coarsest level and the real distinct set
    assert(c.levels.headOption.contains(c.minCoverLevel) &&
      c.levels == c.levels.sorted &&
      c.levels.toSet == regions.select(explode(col("cells")).as("c"))
        .select(col("c")).collect()
        .map(r => graft.core.S2.level(r.getLong(0))).toSet)
    // and the chosen routes return exactly the fixed-path rows
    val images = Tables.images(spark, sfDir).select("image_id", "lat", "lng", "cell16")
    val want = Containment.containmentProbe(images, Synth.regions)
      .select("image_id", "region_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val auto = Containment.containmentJoin(images, regions)
      .select("image_id", "region_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val autoShuffle = Containment.joinBy(images, regions, broadcastBytesLimit = 0L)
      .select("image_id", "region_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(auto == want && autoShuffle == want && want.nonEmpty)
    // coverless regions add nothing to the estimate, are not collected and
    // match nothing; a null ring array matches nothing on either route
    val bare = regions.withColumn("region_id", concat(col("region_id"), lit("_bare")))
      .withColumn("cells", array().cast("array<bigint>"))
    assert(Containment.chooseStrategy(bare).estBroadcastBytes == 0L)
    val withBare = Containment.containmentJoin(images, regions.unionByName(bare))
      .select("image_id", "region_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(withBare == want)
    val ringless = regions.withColumn("rings_lat", lit(null).cast("array<array<double>>"))
    assert(Containment.containmentJoin(images, ringless).isEmpty &&
      Containment.joinBy(images, ringless, broadcastBytesLimit = 0L).isEmpty)
  }

  test("containment rejects a covering cell finer than level 16 on both routes") {
    import org.apache.spark.sql.functions._
    // a level-16 image cell has no level-17 ancestor: the shuffle route
    // would compare it with a fixed child of itself and drop the match
    val regions = Tables.regions(spark).limit(1)
      .withColumn("cells", array(lit(graft.core.S2.cellAt(
        Synth.regions(0).rings(0)._1(0), Synth.regions(0).rings(0)._2(0), 17))))
    val images = Tables.images(spark, sfDir).select("image_id", "lat", "lng", "cell16")
    Seq[() => Any](
      () => Containment.containmentJoin(images, regions),
      () => Containment.joinBy(images, regions, broadcastBytesLimit = 0L)
    ).foreach { run =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("level 17") &&
        e.getMessage.contains(Synth.regions(0).regionId), e.getMessage)
    }
  }

  test("PII/URL redaction: masks and counts; email-inside-URL order pinned") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail me at a.b+c@x-mail.org now"),
      (2L, "see https://a.b/c?q=1 and http://plain end"),
      (3L, "u@v.w x@y.zz"),          // 1-letter TLD is NOT an email
      (4L, "https://h.co/a@b.cc t"), // email inside URL: email first, then
                                     // the URL mask swallows the remainder
      (5L, "")
    ).toDF("doc_id", "text")
    val r = graft.ops.TextOps.redactPii(docs, "text")
      .select("doc_id", "n_emails", "n_urls", "text_redacted")
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getString(3))))
      .toMap
    assert(r(1L) == ((1L, 0L, "mail me at <EMAIL> now")))
    assert(r(2L) == ((0L, 2L, "see <URL> and <URL> end")))
    assert(r(3L) == ((1L, 0L, "u@v.w <EMAIL>")))
    assert(r(4L) == ((1L, 1L, "<URL> t")))
    assert(r(5L) == ((0L, 0L, "")))
  }

  test("repetition signals: exact fractions on a crafted corpus, empty-doc guards") {
    import spark.implicits._
    val docs = Seq(
      // 4 non-empty lines, one duplicate ("same"); 1 bullet line, 1
      // ellipsis line; word duplication from "same" x2 and "w w"
      (1L, "same\nsame\n- bullet w w x\ntrailing line..."),
      (2L, ""),                         // empty: every fraction 0, n_lines 0
      (3L, "* b ...\nplain"),           // bullet line ends with "..." too
      (4L, "one line only"),
      // the line-boundary case (review r03h): a fully duplicated two-line
      // doc must show duplication in BOTH signals — a space-only word
      // split would fuse "cat\nthe" and report dup_word_frac 0
      (5L, "the cat\nthe cat")
    ).toDF("doc_id", "text")
    val r = graft.ops.TextOps.repetitionScores(docs, "text")
      .select("doc_id", "n_lines", "dup_line_frac", "dup_word_frac",
        "bullet_line_frac", "ellipsis_line_frac")
      .collect().map(x => (x.getLong(0),
        (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4), x.getDouble(5))))
      .toMap
    // doc 1: lines = [same, same, "- bullet w w x", "trailing line..."]
    //        words (whitespace-class split) =
    //        [same, same, -, bullet, w, w, x, trailing, line...]: 9, distinct 7
    assert(r(1L) == ((4L, 1.0 / 4, 2.0 / 9, 1.0 / 4, 1.0 / 4)))
    assert(r(2L) == ((0L, 0.0, 0.0, 0.0, 0.0)))
    // doc 3: 2 lines, 0 dup; words [*, b, ..., plain] distinct; bullet 1/2;
    //        "* b ..." ends with "..." -> ellipsis 1/2
    assert(r(3L) == ((2L, 0.0, 0.0, 1.0 / 2, 1.0 / 2)))
    assert(r(4L) == ((1L, 0.0, 0.0, 0.0, 0.0)))
    assert(r(5L) == ((2L, 1.0 / 2, 2.0 / 4, 0.0, 0.0)))
  }

  test("kNN cell-ring expansion equals brute-force top-k, dense and sparse") {
    val images = Tables.images(spark, sfDir)
    val qs = Synth.knnQueries.toSeq
    val got = Knn.knn(spark, images, qs, k = 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet

    val pts = imagePoints()
    val want = qs.flatMap { q =>
      pts.map { case (id, lat, lng) =>
        val d2 = (lat - q.lat) * (lat - q.lat) +
          ((lng - q.lng) * q.cosLat) * ((lng - q.lng) * q.cosLat)
        (id, d2)
      }.sortBy { case (id, d2) => (d2, id) }.take(10).zipWithIndex.map {
        case ((id, _), i) => (q.queryId, id, i + 1)
      }
    }.toSet
    assert(got == want)
  }

  test("EngineCaches releases iteration snapshots; released results stay correct") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val frame = graft.ops.Components.connectedComponents(edges)
    val before = frame.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(graft.ops.Tracker.survivorCount(spark) >= 1,
      "a completed connectedComponents must register its one surviving snapshot")
    // the registry is per session: a probe RDD registered under this
    // session is released with the connectedComponents snapshot, and the
    // session's count drops to zero
    val probe: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.ops.Tracker.registerSurvivor(spark, probe)
    graft.ops.EngineCaches.releaseIterationSnapshots()
    assert(probe.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "release must unpersist every registered survivor")
    assert(graft.ops.Tracker.survivorCount(spark) == 0)
    // the already-returned frame recomputes through lineage — same rows
    val after = frame.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before)
    // a driver-route kNN call leaves nothing persisted behind
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val qdf = Synth.knnQueries.toSeq.take(3).map(q => (q.queryId, q.lat, q.lng))
      .toDF("query_id", "qlat", "qlng")
    assert(Knn.knnBatch(spark, Tables.images(spark, sfDir), qdf, k = 5).collect().length == 15)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    assert(graft.ops.Tracker.survivorCount(spark) == 0)
  }

  test("distributed batch kNN equals brute force AND the driver-resident path") {
    import org.apache.spark.sql.functions._
    val images = Tables.images(spark, sfDir)
    // (a) the 25 pinned query points as a DataFrame: knnBatch must equal knn
    val qdf25 = {
      import spark.implicits._
      Synth.knnQueries.toSeq.map(q => (q.queryId, q.lat, q.lng))
        .toDF("query_id", "qlat", "qlng")
    }
    val batch = Knn.knnBatch(spark, images, qdf25, k = 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    val resident = Knn.knn(spark, images, Synth.knnQueries.toSeq, k = 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    assert(batch == resident)
    // the at-scale join path: broadcastQueryRowLimit=0 forces the exploded
    // query side through the shuffle join instead of the broadcast — results
    // must be identical
    val shuffled = Knn.knnBatchBy(spark, images, qdf25, k = 10,
        initialRadiusDeg = 2.0, broadcastQueryRowLimit = 0L).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    assert(shuffled == resident)
    // dirty input: duplicated query_id rows must NOT duplicate results
    // (the status join emits per input row; knnBatch dedups up front)
    val dup = Knn.knnBatch(spark, images, qdf25.union(qdf25), k = 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    assert(dup == resident)
    assert(Knn.knnBatch(spark, images, qdf25.union(qdf25), k = 10).count()
      == resident.size)
    // (b) generated batch queries vs an in-test brute force (covers the
    //     expansion + distributed-resolution loop at n >> driver shapes)
    val n = 500
    val qdf = Synth.batchQueryDf(spark, n)
    val got = Knn.knnBatch(spark, images, qdf, k = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    val pts = imagePoints()
    val want = (0 until n).flatMap { qi =>
      val qla = Synth.batchQueryLat(qi.toLong); val qlo = Synth.batchQueryLng(qi.toLong)
      val c = math.cos(math.toRadians(qla))
      pts.map { case (id, lat, lng) =>
        val dy = lat - qla; val dx = (lng - qlo) * c
        (id, dy * dy + dx * dx)
      }.sortBy { case (id, d2) => (d2, id) }.take(3).zipWithIndex.map {
        case ((id, _), i) => (qi, id, i + 1)
      }
    }.toSet
    assert(got == want)
  }

  test("batch kNN rounds stay one materializing job each (plan-shape guard)") {
    // Regression guard for the round-3 restructure: each expansion round is
    // ONE materializing job (status snapshot; its covering computed in the
    // prior snapshot, its levels read from the bitmask accumulator, its
    // unresolved count folded into the materializing pass) plus the round's
    // broadcast build. The pre-restructure shape paid ~5 driver jobs per
    // round (levels collect, topk broadcast + materialize, status, count) —
    // for this deterministic 5-round fixture that was ~29 jobs vs 13 now.
    val images = Tables.images(spark, sfDir).limit(300)
      .select("image_id", "lat", "lng", "cell16").cache()
    images.count() // settle the cache outside the counted window
    val qdf = {
      import spark.implicits._
      Seq((0, 10.0, 10.0), (1, -40.0, 120.0), (2, 51.5, -0.1))
        .toDF("query_id", "qlat", "qlng")
    }
    val counter = new org.apache.spark.scheduler.SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // AQE off for a deterministic job count (query-stage materialization
    // shows up as extra jobs under AQE); restored below
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(counter)
    try {
      // tiny initial radius forces a 5-round expansion on this fixture
      Knn.knnBatch(spark, images, qdf, k = 3, initialRadiusDeg = 0.01).count()
      // listener bus is async; give in-flight job-start events time to land
      Thread.sleep(2000)
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      images.unpersist()
    }
    val jobs = counter.jobs.get()
    assert(jobs <= 16,
      s"knnBatch ran $jobs jobs for the 5-round fixture; the one-job-per-" +
        "round shape needs 13 (snapshot + 2/round + final + caller count) — " +
        "a regression re-introduced per-round driver jobs")
  }

  test("store-backed batch kNN equals the direct batch AND prunes buckets") {
    import graft.lineage.CellStore
    val images = Tables.images(spark, sfDir)
    val store = freshDir("target/opsspec_store_batch")
    CellStore.write(images.select("image_id", "lat", "lng", "cell16"), store)
    val nBuckets = CellStore.stats(spark, store).size
    val qdf = Synth.regionalBatchQueryDf(spark, 100)
    val direct = Knn.knnBatch(spark, images, qdf, k = 5, initialRadiusDeg = 2.0)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    val reads = scala.collection.mutable.Buffer.empty[Int]
    Knn.storeReadTelemetry.set(reads)
    val stored =
      try Knn.knnBatchFromStore(spark, store, qdf, k = 5, initialRadiusDeg = 2.0)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
      finally Knn.storeReadTelemetry.remove()
    assert(stored == direct)
    // round 1 is always regional-pruned; later rounds may legitimately
    // escalate to every bucket on a sparse region
    assert(reads.nonEmpty && reads.head < nBuckets,
      s"rounds read ${reads.mkString(",")} of $nBuckets buckets — no pruning")
    // auto radius THROUGH the store: the initial radius derives from the
    // bucket stats (metadata only) — results must be identical (radius
    // invariance) and the branch must actually execute
    val auto = Knn.knnBatchFromStore(spark, store, qdf, k = 5, initialRadiusDeg = 0)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    assert(auto == direct)
    // full-sphere escalation THROUGH the store: the straggler-round span
    // expression must survive the face-3 range-end cell (c + lsb overflows
    // its intermediate; ANSI mode would abort the job — review r03d2)
    val store2 = freshDir("target/opsspec_store_batch_tiny")
    CellStore.write(images.limit(5).select("image_id", "lat", "lng", "cell16"), store2)
    val qdf1 = {
      import spark.implicits._
      Seq((0, 10.0, 10.0)).toDF("query_id", "qlat", "qlng")
    }
    val full = Knn.knnBatchFromStore(spark, store2, qdf1, k = 8, initialRadiusDeg = 2.0)
    assert(full.count() == 5)
    // the distributed route through the store (limit 0): the same rows, and
    // its per-round span expression survives the full-sphere escalation
    def distributed(dir: String, q: org.apache.spark.sql.DataFrame, k: Int) =
      Knn.knnBatchCore(spark, None, q, k, 2.0, 0L, meters = false, Some(dir))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    assert(distributed(store, qdf, 5) == direct)
    assert(distributed(store2, qdf1, 8) ==
      full.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet)
  }

  test("batch kNN full-sphere termination: k larger than the table") {
    import org.apache.spark.sql.functions._
    // 5-row image table, k=8: no query can ever reach k candidates, so every
    // query must terminate via the full-sphere round with all 5 rows ranked
    val tiny = Tables.images(spark, sfDir).limit(5)
      .select("image_id", "lat", "lng", "cell16").cache()
    val pts = tiny.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val qdf = {
      import spark.implicits._
      Seq((0, 10.0, 10.0), (1, -40.0, 120.0)).toDF("query_id", "qlat", "qlng")
    }
    val got = Knn.knnBatch(spark, tiny, qdf, k = 8).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    val want = Seq((10.0, 10.0, 0), (-40.0, 120.0, 1)).flatMap { case (qla, qlo, qid) =>
      val c = math.cos(math.toRadians(qla))
      pts.map { case (id, lat, lng) =>
        val dy = lat - qla; val dx = (lng - qlo) * c
        (id, dy * dy + dx * dx)
      }.sortBy { case (id, d2) => (d2, id) }.zipWithIndex.map {
        case ((id, _), i) => (qid, id, i + 1)
      }
    }.toSet
    tiny.unpersist()
    assert(got == want && got.size == 10)
  }

  test("haversine kNN equals brute-force great-circle top-k") {
    val images = Tables.images(spark, sfDir)
    val qs = Synth.knnQueries.toSeq.take(8)
    val got = Knn.knnHaversine(spark, images, qs, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    // the distributed batch form under the same metric must agree
    val qdf = {
      import spark.implicits._
      qs.map(q => (q.queryId, q.lat, q.lng)).toDF("query_id", "qlat", "qlng")
    }
    val batch = Knn.knnBatchHaversine(spark, images, qdf, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    assert(batch == got)
    val pts = imagePoints()
    val want = qs.flatMap { q =>
      pts.map { case (id, lat, lng) =>
        (id, Geo.haversineMeters(lat, lng, q.lat, q.lng))
      }.sortBy { case (id, d) => (d, id) }.take(5).zipWithIndex.map {
        case ((id, _), i) => (q.queryId, id, i + 1)
      }
    }.toSet
    assert(got == want)
  }

  test("the scalar haversine kernel equals the Column form bit for bit") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val pairs = Seq((0.0, 0.0, 0.0, 0.0), (51.5, -0.12, 51.5, -0.12), (90.0, 0.0, -90.0, 0.0),
      (0.0, 180.0, 0.0, -180.0), (10.0, 10.0, -10.0, -170.0)) ++
      Seq.fill(500)((rnd.nextDouble() * 180 - 90, rnd.nextDouble() * 360 - 180,
        rnd.nextDouble() * 180 - 90, rnd.nextDouble() * 360 - 180))
    val got = {
      import spark.implicits._
      // an RDD source: the Column form runs through whole-stage codegen
      spark.sparkContext.parallelize(pairs, 2).toDF("a", "b", "c", "d")
        .select(col("a"), col("b"), col("c"), col("d"), graft.functions.Udfs.haversineMeters(
          col("a"), col("b"), col("c"), col("d")).as("m"))
        .collect()
    }
    assert(got.length == pairs.length)
    got.foreach { r =>
      val want = graft.functions.Udfs.haversineMeters(
        r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(4)) ==
        java.lang.Double.doubleToRawLongBits(want), s"$r vs $want")
    }
  }

  test("point tile manifest: each zoom is the halved parent of the next") {
    val m = Tiling.pointManifest(Tables.images(spark, sfDir), 8, 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val byImage = m.groupBy(_._1)
    assert(byImage.values.forall(_.length == 5))
    byImage.values.foreach { rows =>
      val z = rows.sortBy(_._2)
      for (i <- 1 until z.length) {
        assert(z(i - 1)._3 == z(i)._3 / 2 && z(i - 1)._4 == z(i)._4 / 2)
      }
    }
  }

  test("tile-count pyramid equals the explode-per-zoom uncapped recount") {
    val imgs = Tables.images(spark, sfDir)
    val before = graft.ops.Tracker.survivorCount(spark)
    val got = Tiling.pyramidCounts(imgs, 8, 12)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the zMax histogram persists as exactly one iteration snapshot,
    // released by the engine-wide hook
    assert(graft.ops.Tracker.survivorCount(spark) == before + 1)
    graft.ops.EngineCaches.releaseIterationSnapshots()
    val want = Tiling.pointManifest(imgs, 8, 12)
      .groupBy("z", "x", "y").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_features"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
  }

  test("computed DCT pHash: lossy re-encode stays close, distinct images far") {
    import graft.core.Hashes
    def pixels(id: Long, quantize: Boolean): (Int, Array[Byte]) = {
      val w = if (id % 16 == 7) 16 else 8
      val px = new Array[Byte](w * w * 3)
      var i = 0
      while (i < px.length) {
        val v = ((Hashes.splitmix64(id * 1315423911L + i) >>> 56) & 0xff).toInt
        px(i) = (if (quantize) v & ~3 else v).toByte
        i += 1
      }
      (w, px)
    }
    val ids = (1L to 50L).filter(_ % 16 != 0) // png ids: lossless source
    val lossyHam = ids.map { id =>
      val (w, p0) = pixels(id, quantize = false)
      val (_, p1) = pixels(id, quantize = true)
      java.lang.Long.bitCount(
        Media.phashOfPixels(w, w, p0) ^ Media.phashOfPixels(w, w, p1))
    }
    val distinctHam = ids.sliding(2).collect { case Seq(a, b) =>
      val (wa, pa) = pixels(a, false); val (wb, pb) = pixels(b, false)
      java.lang.Long.bitCount(
        Media.phashOfPixels(wa, wa, pa) ^ Media.phashOfPixels(wb, wb, pb))
    }.toSeq
    assert(lossyHam.max <= 12, s"lossy re-encode drifted: ${lossyHam.max}")
    assert(distinctHam.sum.toDouble / distinctHam.size >= 16.0,
      s"distinct images too close: avg ${distinctHam.sum.toDouble / distinctHam.size}")
    // engine column form agrees with the kernel on real payloads
    val got = Media.computedPhash(
        Media.withPayload(Tables.images(spark, sfDir).select("image_id").limit(20)))
      .select("image_id", "phash_dct")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, h) =>
      val (w, _, _, px) = Media.decode(Media.encode(id))
      assert(h == Media.phashOfPixels(w, w, px))
    }
  }

  test("hex k-ring disk smoothing equals brute-force hash-map convolution") {
    import graft.core.Hex7
    // interior disk sizes follow the centered-hexagonal sequence
    val c = Hex7.fromLatLngDegrees(51.3, -0.2, 8)
    assert(Hex7.kRing(c, 0).length == 1 && Hex7.kRing(c, 1).length == 7 &&
      Hex7.kRing(c, 2).length == 19)
    assert(Hex7.kRing(c, 2).count(_._2 == 2) == 12)
    val imgs = Tables.images(spark, sfDir).select("lat", "lng")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val counts = scala.collection.mutable.HashMap.empty[Long, Long]
    imgs.foreach { case (la, ln) =>
      val h = Hex7.fromLatLngDegrees(la, ln, 8)
      counts(h) = counts.getOrElse(h, 0L) + 1L
    }
    val want = scala.collection.mutable.HashMap.empty[Long, Long]
    counts.foreach { case (h, n) =>
      Hex7.kRing(h, 2).foreach { case (c2, d) =>
        want(c2) = want.getOrElse(c2, 0L) + n * (3 - d)
      }
    }
    val got = Tiling.hexSmoothedDensity(Tables.images(spark, sfDir), 8, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want.toMap)
  }

  test("mosaic pyramid: counts match the tile pyramid; channel sums roll up exactly") {
    val imgs = Tables.images(spark, sfDir).select("image_id", "lat", "lng")
    val mos = Media.mosaicPyramid(Media.withPayload(imgs), 10, 12)
      .collect().map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val counts = Tiling.pyramidCounts(imgs, 10, 12)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    graft.ops.EngineCaches.releaseIterationSnapshots()
    assert(mos.keySet == counts.keySet)
    assert(mos.forall { case (k, v) => v._1 == counts(k) })
    // parent sums are exactly the sum of their z12 descendants
    val z12 = mos.filter(_._1._1 == 12)
    mos.filter(_._1._1 == 10).foreach { case ((_, x, y), v) =>
      val kids = z12.filter { case ((_, cx, cy), _) => (cx >> 2) == x && (cy >> 2) == y }.values
      assert(v == ((kids.map(_._1).sum, kids.map(_._2).sum, kids.map(_._3).sum, kids.map(_._4).sum)))
    }
  }

  test("pyramid merge: 3-way batch split reproduces the whole-corpus pyramid") {
    val imgs = Tables.images(spark, sfDir)
    val whole = Tiling.pyramidCounts(imgs, 9, 11)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val parts = (0 to 2).map(i =>
      Tiling.pyramidCounts(imgs.where(col("image_id") % 3 === i), 9, 11))
    val merged = Tiling.mergePyramids(parts: _*)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    graft.ops.EngineCaches.releaseIterationSnapshots()
    assert(merged == whole)
  }

  test("exact dedup groups by content key with min-id canonical") {
    import spark.implicits._
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "ccc"), (5L, "aaa"))
      .toDF("id", "content")
    val got = Dedup.exactDuplicates(df, "id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (3L, 1L), (5L, 1L)))
    // null content keys form a duplicate GROUP (md5(null) is null — the
    // join must be null-safe or these rows silently vanish; review r03d)
    val withNulls = Seq((1L, Some("aaa")), (2L, None), (3L, Some("aaa")),
        (4L, None), (5L, None))
      .toDF("id", "content")
    val gotN = Dedup.exactDuplicates(withNulls, "id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotN == Set((1L, 1L), (3L, 1L), (2L, 2L), (4L, 2L), (5L, 2L)))
  }

  test("keep-canonical: one min-id row per key, null keys grouped, extra columns survive") {
    import spark.implicits._
    val df = Seq((5L, Some("aaa"), "p5"), (2L, None, "p2"), (3L, Some("aaa"), "p3"),
        (4L, None, "p4"), (1L, Some("bbb"), "p1"))
      .toDF("id", "content", "tag")
    val got = Dedup.keepCanonical(df, "id", "content")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    // aaa -> min(3,5)=3; null group -> min(2,4)=2; singleton bbb passes
    assert(got == Set((3L, "p3"), (2L, "p2"), (1L, "p1")))
    // schema preserved exactly (no dedup_key / _row leakage)
    assert(Dedup.keepCanonical(df, "id", "content").columns.toSeq ==
      Seq("id", "content", "tag"))
  }

  test("minhash LSH finds planted near-dups and skips unrelated docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    val docs = Seq(
      (1L, base), (2L, base + " tail"),
      (3L, "completely different content about spark catalyst optimizer plans"),
      (4L, "unrelated text regarding s2 geometry cells and hilbert curves"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("ngram Jaccard: prefix-filtered join equals all-pairs brute force") {
    import spark.implicits._
    // deterministic corpus with planted near-dups, exact dups, disjoint
    // docs, a sub-3-word doc (single combined shingle) and repeated-shingle
    // texts — the shapes that stress the prefix-length arithmetic
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val base = (0 until 24).map { i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val docs = (base ++ base.map { case (id, t) => (id + 100L, t + " tailword") }
      ++ Seq((900L, "alpha beta"), (901L, "alpha beta"), (902L, "")))
      .toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = t)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val sh = docs.collect()
        .map(r => (r.getLong(0), graft.functions.Udfs.wordShingleHashes(r.getString(1), 3).distinct.sorted))
        .filter(_._2.nonEmpty).sortBy(_._1)
      def jac(a: Array[Long], b: Array[Long]): Double = {
        val inter = a.intersect(b).length.toLong
        val union = a.length.toLong + b.length - inter
        if (union == 0) 1.0 else inter.toDouble / union
      }
      val want = (for {
        i <- sh.indices; j <- (i + 1) until sh.length
        jc = jac(sh(i)._2, sh(j)._2) if jc >= t
      } yield ((sh(i)._1, sh(j)._1), jc)).toMap
      assert(got == want, s"threshold $t: got ${got.size} pairs, want ${want.size}")
    }
  }

  test("simhash: identical texts at hamming 0; near texts within 6") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    val docs = Seq((1L, base), (2L, base), (3L, base + " tail x")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.contains((1L, 3L)))
  }

  test("phash near-dup: banded join equals brute force; group structure exact") {
    import spark.implicits._
    // 32 groups of 8 ids with the dup-structured fixture phash
    val ids = (0L until 256L).toDF("image_id")
      .withColumn("ph", org.apache.spark.sql.functions.expr(
        graft.model.Synth.phashDupExpr("image_id")))
    val got = Dedup.phashNearDup(ids, "image_id", "ph", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // brute force in-process
    val ph = ids.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = (for {
      a <- 0L until 256L; b <- (a + 1) until 256L
      h = java.lang.Long.bitCount(ph(a) ^ ph(b)) if h <= 3
    } yield ((a, b), h)).toMap
    assert(got == want, s"banded ${got.size} pairs != brute ${want.size}")
    // fixture structure: within a group hamming(m_a, m_b) = m_a + m_b, so
    // exactly pairs (0,1),(0,2),(0,3),(1,2) qualify per group of 8
    assert(want.size == 4 * 32)
    assert(got((8L, 9L)) == 1 && got((8L, 10L)) == 2
      && got((8L, 11L)) == 3 && got((9L, 10L)) == 3)
    // unsound operating points are rejected, not silently lossy
    intercept[IllegalArgumentException] {
      Dedup.phashNearDup(ids, "image_id", "ph", maxHamming = 4, bands = 4)
    }
  }

  test("brute-force ANN top-k equals in-process cosine ranking") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val got = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") === 0),
        "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(1), r.getInt(2)))

    val all = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = all.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(5)
      .zipWithIndex.map { case ((id, _), i) => (id, i + 1) }
    assert(got.toSeq == want.toSeq)
  }

  test("media: GRFT container round-trips; PSNR gate holds per format") {
    val png = Media.encode(1L)
    val (w, h, fmt, px) = Media.decode(png)
    assert((w, h, fmt) == (8, 8, "png"))
    assert(px.toSeq == Media.sourcePixels(1L, 8, 8).toSeq)
    assert(Media.psnr(Media.sourcePixels(1L, 8, 8), px).isPosInfinity)

    val jpeg = Media.encode(16L) // 16 % 16 == 0 -> lossy
    val (_, _, fmtJ, pxJ) = Media.decode(jpeg)
    assert(fmtJ == "jpeg")
    val p = Media.psnr(Media.sourcePixels(16L, 8, 8), pxJ)
    assert(p >= 40.0 && p < 60.0, s"psnr $p")

    val big = Media.encode(7L) // 7 % 16 == 7 -> 16x16
    assert(Media.decode(big)._1 == 16)
  }

  test("cell store: range read prunes buckets yet returns exactly the covered rows") {
    import graft.core.{Geo, S2}
    import graft.lineage.{CellStore, SnapshotStore}
    val dir = java.nio.file.Files.createTempDirectory("cellstore").toString
    val images = Tables.images(spark, sfDir).select("image_id", "lat", "lng", "cell16")
    CellStore.write(images, dir)
    val total = CellStore.stats(spark, dir).size

    // spatial query: 100 km cap at the London hot center -> covering ranges
    val (cLat, cLng) = Synth.hotCenters(0)
    val cov = S2.covering(S2.Cap(Geo.toXYZ(cLat, cLng), 100000.0 / Geo.EarthRadiusMeters))
    val ranges = cov.map(c => (S2.rangeMin(c), S2.rangeMax(c))).toSeq
    val (pruned, read) = SnapshotStore.readRanges(spark, dir, SnapshotStore.headVersion(spark, dir), ranges)
    assert(read < total, s"pruning must skip buckets ($read of $total)")

    // correctness: pruned scan + exact filter == full scan + exact filter
    val inCap = graft.functions.Udfs.haversineMeters(
      col("lat"), col("lng"), lit(cLat), lit(cLng)) <= 100000.0
    val got = pruned.where(inCap).select("image_id").collect().map(_.getLong(0)).toSet
    val want = images.where(inCap).select("image_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("cell store: a regional range read over a multi-file store opens strictly fewer files") {
    import graft.core.{Geo, S2}
    import graft.lineage.SnapshotStore
    val dir = java.nio.file.Files.createTempDirectory("cellstore_files").toString
    val images = Tables.images(spark, "/root/testdata/sf0.01").select("image_id", "lat", "lng", "cell16")
    // a small cut: at the default one the fixture is a single file
    SnapshotStore.overwriteBy(spark, images, dir, targetRows = math.max(1L, images.count() / 16))
    val head = SnapshotStore.headManifest(spark, dir)
    assert(head.files.size >= 8, s"fixture must span several files, has ${head.files.size}")
    val (cLat, cLng) = Synth.hotCenters(0)
    val cov = S2.covering(S2.Cap(Geo.toXYZ(cLat, cLng), 100000.0 / Geo.EarthRadiusMeters))
    val ranges = cov.map(c => (S2.rangeMin(c), S2.rangeMax(c))).toSeq
    val (pruned, _) = SnapshotStore.readRanges(spark, dir, head.version, ranges)
    val read = pruned.inputFiles.length
    assert(read > 0 && read < head.files.size, s"pruning must skip files ($read of ${head.files.size})")
    val inCap = graft.functions.Udfs.haversineMeters(
      col("lat"), col("lng"), lit(cLat), lit(cLng)) <= 100000.0
    val got = pruned.where(inCap).select("image_id").collect().map(_.getLong(0)).toSet
    val want = images.where(inCap).select("image_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("cell store: append merges stats; compact pays file debt, preserves content + pruning") {
    import graft.core.{Geo, S2}
    import graft.lineage.{CellStore, SnapshotStore}
    val dir = java.nio.file.Files.createTempDirectory("cellstore_c").toString
    val images = Tables.images(spark, sfDir).select("image_id", "lat", "lng", "cell16")
    CellStore.write(images.where(col("image_id") % 3 === 0), dir)
    SnapshotStore.append(spark, images.where(col("image_id") % 3 === 1), dir)
    SnapshotStore.append(spark, images.where(col("image_id") % 3 === 2), dir)
    // merged stats equal a from-scratch recomputation (the monoid claim)
    val refDir = java.nio.file.Files.createTempDirectory("cellstore_r").toString
    CellStore.write(images, refDir)
    assert(CellStore.stats(spark, dir).toSet == CellStore.stats(spark, refDir).toSet)

    val summary = SnapshotStore.compact(spark, dir).collect()
    assert(summary.map(_.getLong(1)).sum > summary.map(_.getLong(2)).sum,
      "compaction must reduce file count after 3 ingests")
    assert(summary.forall(r => r.getLong(2) == 1L),
      "one cell-sorted file per bucket after compaction")
    // content preserved exactly (multiset by id)
    val got = SnapshotStore.read(spark, dir).select("image_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = images.select("image_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
    // pruned reads still work against the untouched stats
    val (cLat, cLng) = Synth.hotCenters(0)
    val cov = S2.covering(S2.Cap(Geo.toXYZ(cLat, cLng), 100000.0 / Geo.EarthRadiusMeters))
    val ranges = cov.map(c => (S2.rangeMin(c), S2.rangeMax(c))).toSeq
    val (pruned, read) = SnapshotStore.readRanges(spark, dir, SnapshotStore.headVersion(spark, dir), ranges)
    assert(read < CellStore.stats(spark, dir).size)
    assert(pruned.count() > 0)
  }

  test("media: frame sampling and feature extraction over the binary column") {
    import org.apache.spark.sql.functions.col
    val withBytes = Media.withPayload(
      Tables.images(spark, sfDir).select("image_id").limit(64))
    val fs = Media.frameSampled(withBytes, 2).select("image_id", "h", "frames", "n_frames")
      .collect()
    fs.foreach { r =>
      val h = r.getInt(1)
      val frames = r.getAs[Array[Byte]](2)
      assert(r.getAs[Long]("n_frames") == (h + 1) / 2)
      assert(frames.length == ((h + 1) / 2) * (h * 3)) // w == h in fixtures
    }
    val feats = Media.features(withBytes).select("image_id", "embedding").collect()
    feats.foreach { r =>
      val e = r.getSeq[Float](1)
      assert(e.length == 3 && e.forall(v => v >= 0 && v <= 255))
    }
    // features flow into the ANN operator unchanged
    val emb = Media.features(withBytes).select(col("image_id").as("vec_id"), col("embedding"))
    val topk = Similarity.bruteForceTopK(emb, emb.limit(2), "vec_id", "embedding", 3)
    assert(topk.count() == 6)
  }

  test("lineage: stage commits per bucket and resume skips committed work") {
    val dir = java.nio.file.Files.createTempDirectory("lineage").toString
    val images = Tables.images(spark, sfDir).select("image_id", "lat", "lng", "cell16")
    val r1 = Lineage.runStage(spark, images, df => df.where(col("lat") > 0),
      "run1", "filter", dir, "image_id", "cell16", buckets = 4)
    assert(r1.bucketsRun == Seq(0, 1, 2, 3) && r1.bucketsSkipped.isEmpty)

    // simulate a crash that lost bucket 3's commit
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/_committed_3"))
    val r2 = Lineage.runStage(spark, images, df => df.where(col("lat") > 0),
      "run1", "filter", dir, "image_id", "cell16", buckets = 4)
    assert(r2.bucketsRun == Seq(3) && r2.bucketsSkipped == Seq(0, 1, 2))

    val out = Lineage.output(spark, dir).count()
    val want = images.where(col("lat") > 0).count()
    assert(out == want)

    val m = Lineage.metrics(spark, dir)
    assert(m.count() == 4)
    assert(m.agg(sum("output_rows")).collect()(0).getLong(0) == want)
    assert(m.select("checksum").collect().forall(!_.isNullAt(0)))
  }

  test("CellStore-backed kNN equals the cached-projection path") {
    val images = Tables.images(spark, sfDir)
      .select("image_id", "lat", "lng", "cell16")
    val dir = java.nio.file.Files.createTempDirectory("knnstore").toString
    graft.lineage.CellStore.write(images, dir)
    val qs = Synth.knnQueries.toSeq.take(8)
    val a = graft.ops.Knn.knn(spark, images, qs, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
    val b = graft.ops.Knn.knnFromStore(spark, dir, qs, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("batch-shaped resize (mapPartitions) equals the per-row UDF form") {
    val imgs = Media.withPayload(
      Tables.images(spark, sfDir).select("image_id").limit(64))
    val a = Media.resized(imgs, 4, 4)
      .select("image_id", "resized").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    val b = Media.resizedPartitions(imgs, 4, 4)
      .select("image_id", "resized").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(a == b && a.nonEmpty)
  }

  test("native contains_rings expression equals the UDF reference implementation") {
    // exhaustive pairs at sf0.001 (~40k rows): the ArrayData-walking codegen
    // kernel and the boxed Seq UDF must agree on every (point, region) pair,
    // boundary vertices included
    val images = Tables.images(spark, sfDir).select("image_id", "lat", "lng")
    val regions = Tables.regions(spark)
      .select(col("region_id"), col("rings_lat"), col("rings_lng"))
    val pairs = images.crossJoin(broadcast(regions))
    def hits(pred: org.apache.spark.sql.Column) =
      pairs.where(pred).select("image_id", "region_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val native = hits(graft.functions.S2Expressions.containsRings(
      col("lat"), col("lng"), col("rings_lat"), col("rings_lng")))
    val viaUdf = hits(graft.functions.Udfs.containsRings(
      col("lat"), col("lng"), col("rings_lat"), col("rings_lng")))
    assert(native == viaUdf && native.nonEmpty)
  }

  test("registerBase memo: regenerated-in-place tables re-register") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_reg").toFile
    try {
      Seq((1L, "a")).toDF("o_orderkey", "o_x")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Tables.registerBase(spark, dir.toString)
      assert(spark.table("orders").count() == 1)
      // same dir, same fingerprint: the memo must short-circuit (no way to
      // observe directly, but the rewrite below proves it does NOT stick)
      Thread.sleep(1100) // cross mtime granularity on coarse filesystems
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("o_orderkey", "o_x")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Tables.registerBase(spark, dir.toString)
      assert(spark.table("orders").count() == 3,
        "in-place regeneration must invalidate the registration memo")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }
}
