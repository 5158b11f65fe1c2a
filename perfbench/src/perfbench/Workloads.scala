package perfbench

import graft.core.{Geo, S2, Tiles}
import graft.functions.S2Expressions
import graft.lineage.{CellStore, SnapshotStore}
import graft.model.Synth
import graft.ops.{Containment, EngineCaches, Knn, Tiling}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Input sizes. `tiny` is the self-test size; the full sizes keep one
  * measured operation between about 1 and 3 s. */
final case class Sizes(tiny: Boolean) {
  val flagshipRows: Long = if (tiny) 20000L else 1000000L
  val flagshipParts: Int = if (tiny) 4 else 16
  val kernelPoints: Int = if (tiny) 2000 else 100000
  val checkEvery: Int = if (tiny) 20 else 1000
  val knnImages: Long = if (tiny) 5000L else 150000L
  val knnQueries: Int = if (tiny) 50 else 300
  val knnChecked: Int = if (tiny) 10 else 25
  val storeBatch: Long = if (tiny) 50L else 1000L
  val storeAppends: Int = 1
  val deltaBuckets: Int = if (tiny) 2 else 4
  val deltaKeys: Int = if (tiny) 10 else 20
  val storeQueries: Int = if (tiny) 10 else 50
  /** Even, so a traced run has as many untraced as traced queries. */
  val storeQueryReps: Int = 4
  val prefixReps: Int = if (tiny) 1 else 3
  val warmPasses: Int = if (tiny) 1 else 10
}

/** One workload: its set-up warm-up, its inputs, one measured operation,
  * its output checks and its figures. */
trait Workload {
  def name: String
  /** Task slots of the workload's local session (the host has 4 cores). */
  def cores: Int
  /** The sample key of the operation `op_s` reports. */
  def opKey: String
  /** The report's name and unit of `items_per_s` for this workload. */
  def itemsName: String
  def itemsUnit: String
  /** A small operation on a fresh session: the warm-up part of set-up. */
  def warm(spark: SparkSession): Unit
  /** Builds the inputs the measured operations share (not timed). */
  def prepare(spark: SparkSession): Unit
  def op(spark: SparkSession, rec: Recorder): Unit
  /** Fewest measured operations per run, even past the time budget. */
  def minOps: Int = 3
  /** Runs before measuring, unmeasured: by default one operation. */
  def warmPass(spark: SparkSession, rec: Recorder): Unit = op(spark, rec)
  /** Items per second, one sample per operation (or per commit). */
  def throughput(rec: Recorder): Seq[Double]
  /** Workload-specific figures printed next to the end-to-end metrics. */
  def report(rec: Recorder): Seq[(String, Stats.Metric)] = Nil
  /** Named output checks, run after the measured operations. */
  def checks(spark: SparkSession): Seq[(String, Boolean)]
  /** Workload-specific per-layer metrics. */
  def layers(spark: SparkSession, rec: Recorder): Seq[(String, Stats.Metric)] = Nil
  /** The points the kernel harness runs over. */
  def points(spark: SparkSession, n: Int): Kernels.Points
  /** The image frame the per-image-path prefix deltas run over. */
  def prefixImages(spark: SparkSession): DataFrame

  protected def collectPoints(df: DataFrame, n: Int): Kernels.Points = {
    val rows = df.select("lat", "lng", "cell16").limit(n).collect()
    Kernels.Points(rows.map(_.getDouble(0)), rows.map(_.getDouble(1)), rows.map(_.getLong(2)))
  }
}

object Workloads {
  val names: Seq[String] = Seq("flagship", "knn_batch", "store_mixed")

  def apply(name: String, seed: Long, sz: Sizes, work: String): Workload = name match {
    case "flagship" => new Flagship(seed, sz)
    case "knn_batch" => new KnnBatch(seed, sz)
    case "store_mixed" => new StoreMixed(seed, sz, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  /** The flagship per-image plan of `graft.Bench.pipeline`: S2 cell, Hex7
    * res-9 cell (kept in the plan by its validity filter), containment
    * probe against the 24 regions, tile chain z10-14. */
  def perImagePath(images: DataFrame): DataFrame = {
    val imgs = images
      .withColumn("hex7_9", S2Expressions.hex7Cell(col("lat"), col("lng"), 9))
      .where(col("hex7_9") =!= 0L)
      .select("image_id", "lat", "lng", "cell16")
    Tiling.pointManifest(Containment.containmentProbe(imgs, Synth.regions), 10, 14)
  }

  /** Full-scan top-k by the kNN's d2 metric, ties broken by image_id. */
  def bruteTopK(ids: Array[Long], lat: Array[Double], lng: Array[Double],
                qlat: Double, qlng: Double, k: Int): Seq[Long] = {
    val qcos = math.cos(math.toRadians(qlat))
    ids.indices.map { i =>
      val dl = lat(i) - qlat
      val dg = (lng(i) - qlng) * qcos
      (dl * dl + dg * dg, ids(i))
    }.sorted.take(k).map(_._2)
  }
}

/** The north star's per-image path: no shuffle and no store, so the core
  * and functions kernels do almost all of the work. */
final class Flagship(seed: Long, sz: Sizes) extends Workload {
  val name = "flagship"
  /** CPU-bound on every slot: two of the host's four cores leave headroom,
    * so other load on a shared host moves the figures less. */
  val cores = 2
  val opKey = "pass"
  val itemsName = "flagship.images_per_s"
  val itemsUnit = "images/s"
  private val counts = mutable.ArrayBuffer.empty[Long]

  private def images(spark: SparkSession, n: Long): DataFrame =
    Inputs.images(spark, seed, Inputs.FlagshipImages, 0L, n, sz.flagshipParts)

  def warm(spark: SparkSession): Unit =
    Workloads.perImagePath(images(spark, 20000L)).count()

  def prepare(spark: SparkSession): Unit = ()

  /** Unmeasured passes: the JIT takes about ten full-size passes to settle. */
  override def warmPass(spark: SparkSession, rec: Recorder): Unit =
    (1 to sz.warmPasses).foreach(_ => op(spark, rec))

  def op(spark: SparkSession, rec: Recorder): Unit =
    counts += rec.time("pass", "ops") {
      Workloads.perImagePath(images(spark, sz.flagshipRows)).count()
    }

  def throughput(rec: Recorder): Seq[Double] = rec.seconds("pass").map(sz.flagshipRows / _)

  def checks(spark: SparkSession): Seq[(String, Boolean)] = {
    val sample = images(spark, sz.flagshipRows)
      .where(pmod(xxhash64(col("image_id"), lit(seed)), lit(sz.checkEvery.toLong)) === 0L)
      .select("image_id", "lat", "lng", "cell16")
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val rows = sample.collect()
      val pos = rows.map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val matched = Containment.containmentProbe(sample, Synth.regions)
        .select("image_id", "region_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val brute = (for {
        r <- rows
        reg <- Synth.regions
        if Geo.containsPlanarRings(r.getDouble(1), r.getDouble(2), reg.rings)
      } yield (r.getLong(0), reg.regionId)).toSet
      val tiles = Tiling.pointManifest(
          Containment.containmentProbe(sample, Synth.regions), 10, 14)
        .select("image_id", "z", "x", "y").collect()
      val tilesOk = tiles.length == 5 * matched.size && tiles.forall { t =>
        val (la, ln) = pos(t.getLong(0))
        Tiles.tileFromLatLng(la, ln, t.getInt(1)) == ((t.getLong(2), t.getLong(3)))
      }
      val pts = Kernels.Points(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)), rows.map(_.getLong(3)))
      val (_, _, missed) = Kernels.pruneCounts(pts)
      Seq(
        "flagship: every pass returns the same manifest size" -> (counts.nonEmpty && counts.distinct.size == 1),
        "flagship: sample is non-trivial (has matches)" -> (rows.nonEmpty && brute.nonEmpty),
        "flagship: s2Cell16 equals S2.cellAt on the sample" ->
          rows.forall(r => r.getLong(3) == S2.cellAt(r.getDouble(1), r.getDouble(2), 16)),
        "flagship: probe equals brute-force ray cast over all 24 regions" -> (matched == brute),
        "flagship: tile keys equal Tiles.tileFromLatLng" -> tilesOk,
        "flagship: region coverings hold every contained sample point" -> (missed == 0L))
    } finally sample.unpersist()
  }

  def points(spark: SparkSession, n: Int): Kernels.Points = collectPoints(images(spark, n.toLong), n)
  def prefixImages(spark: SparkSession): DataFrame = images(spark, sz.flagshipRows)
}

/** Batch kNN: iterative rounds, shuffles and iteration snapshots do the
  * work; Hex7 and containment do none. */
final class KnnBatch(seed: Long, sz: Sizes) extends Workload {
  val name = "knn_batch"
  val cores = 4
  val opKey = "knn"
  val itemsName = "knn_batch.queries_per_s"
  val itemsUnit = "queries/s"
  val K = 10
  private var images: DataFrame = _
  private var queries: DataFrame = _
  private val results = mutable.ArrayBuffer.empty[Array[Row]]

  private def imagesOf(spark: SparkSession, n: Long): DataFrame =
    Inputs.images(spark, seed, Inputs.KnnImages, 0L, n, 8).select("image_id", "lat", "lng", "cell16")
  private def queriesOf(spark: SparkSession, n: Int): DataFrame =
    Inputs.queries(spark, seed, Inputs.KnnQueries, n, -55.0, 55.0, -160.0, 160.0)

  private def knn(spark: SparkSession, im: DataFrame, q: DataFrame): Array[Row] =
    try Knn.knnBatch(spark, im, q, K, initialRadiusDeg = 0.0).collect()
    finally EngineCaches.releaseIterationSnapshots()

  def warm(spark: SparkSession): Unit = knn(spark, imagesOf(spark, 2000L), queriesOf(spark, 20))

  def prepare(spark: SparkSession): Unit = {
    images = imagesOf(spark, sz.knnImages).persist(StorageLevel.MEMORY_ONLY)
    queries = queriesOf(spark, sz.knnQueries).persist(StorageLevel.MEMORY_ONLY)
    images.count(); queries.count()
  }

  /** Two unmeasured calls: per-call planning and code generation take
    * several calls to settle. */
  override def warmPass(spark: SparkSession, rec: Recorder): Unit = { op(spark, rec); op(spark, rec) }

  def op(spark: SparkSession, rec: Recorder): Unit = {
    val out = rec.time("knn", "ops")(Knn.knnBatch(spark, images, queries, K, initialRadiusDeg = 0.0).collect())
    EngineCaches.releaseIterationSnapshots()
    if (results.size < 2) results += out else results(1) = out
  }

  def throughput(rec: Recorder): Seq[Double] = rec.seconds("knn").map(sz.knnQueries / _)

  def checks(spark: SparkSession): Seq[(String, Boolean)] = {
    val last = results.last
    val byQ = last.groupBy(_.getInt(0))
    val shapeOk = byQ.size == sz.knnQueries && byQ.values.forall { rs =>
      rs.map(_.getInt(2)).sorted.toSeq == (1 to K) && rs.map(_.getLong(1)).distinct.length == K
    }
    val im = images.collect()
    val ids = im.map(_.getLong(0)); val lat = im.map(_.getDouble(1)); val lng = im.map(_.getDouble(2))
    val qs = queries.collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val picked = (0 until sz.knnChecked).map(i =>
      Math.floorMod(Inputs.mix(seed, Inputs.KnnQueries, 1000000L + i), sz.knnQueries.toLong).toInt).distinct
    val bruteOk = picked.forall { q =>
      val (ql, qg) = qs(q)
      val got = byQ.getOrElse(q, Array.empty[Row]).sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
      got == Workloads.bruteTopK(ids, lat, lng, ql, qg, K)
    }
    def key(rs: Array[Row]) = rs.map(r => (r.getInt(0), r.getInt(2), r.getLong(1))).sorted.toSeq
    Seq(
      s"knn_batch: every query has exactly $K distinct neighbours ranked 1..$K" -> shapeOk,
      s"knn_batch: ${picked.size} sampled queries equal a full-scan top-$K (ties by image_id)" -> bruteOk,
      "knn_batch: repeated calls return the same result" -> (key(results.head) == key(last)))
  }

  def points(spark: SparkSession, n: Int): Kernels.Points = collectPoints(imagesOf(spark, n.toLong), n)
  def prefixImages(spark: SparkSession): DataFrame =
    Inputs.images(spark, seed, Inputs.KnnImages, 0L, sz.knnImages, 8)
}

/** Writes beside reads on the lineage layer. Each cycle creates a
  * snapshot store, appends to it, upserts a delta confined to a few seeded
  * buckets and reads HEAD; then it writes HEAD to a cell store and runs a
  * regional batch kNN over it (the pruned read). Every commit frame has as
  * many partitions as the session has cores, as a micro-batch would, so a
  * commit writes (partitions x buckets touched) files. */
final class StoreMixed(seed: Long, sz: Sizes, work: String) extends Workload {
  val name = "store_mixed"
  /** Per-job and per-file latency bound: four slots overlap it. */
  val cores = 4
  val opKey = "query"
  val itemsName = "store_mixed.ingest_rows_per_s"
  val itemsUnit = "rows/s"
  val K = 10
  /** Round-1 radius of the regional store kNN, degrees. */
  val RadiusDeg = 1.0
  private var parts = 0
  private var batches: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var delta: DataFrame = _
  private var deltaLat: Map[Long, Double] = Map.empty
  private var queries: DataFrame = _
  private var cycles = 0
  private val heads = mutable.ArrayBuffer.empty[Long]
  private var lastQuery: Array[Row] = Array.empty

  /** One cycle is the operation; it outlasts the time budget on its own. */
  override def minOps: Int = 1

  private def dirs(c: Int) = (s"$work/store-$c", s"$work/cells-$c")
  private def slice(spark: SparkSession, j: Int): DataFrame =
    Inputs.images(spark, seed, Inputs.StoreRows, j * sz.storeBatch, (j + 1) * sz.storeBatch, parts)
      .select("image_id", "lat", "lng", "cell16")
  private def totalRows: Long = (sz.storeAppends + 1) * sz.storeBatch

  private def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => deleteTree(c.getPath)))
    f.delete()
  }

  private def fileBytes(dir: String, files: Seq[String]): Long =
    files.map(f => new java.io.File(s"$dir/$f").length()).sum

  private def bucketOf(file: String): Long =
    file.split("/").find(_.startsWith("_bucket=")).map(_.stripPrefix("_bucket=").toLong).getOrElse(-1L)

  /** `n` rows in a 0.2-degree box in the London cap: a handful of buckets. */
  private def capRows(spark: SparkSession, n: Int): DataFrame =
    Inputs.queries(spark, seed, Inputs.StoreRows, n, 51.4, 51.6, -0.2, 0.0)
      .select(col("query_id").cast("long").as("image_id"), col("qlat").as("lat"), col("qlng").as("lng"))
      .withColumn("cell16", S2Expressions.s2Cell16(col("lat"), col("lng")))
      .repartition(spark.sparkContext.defaultParallelism)

  /** Set-up warm-up: one create of a few rows in one hot cap. */
  def warm(spark: SparkSession): Unit = {
    val dir = s"$work/warm-store"
    deleteTree(dir)
    SnapshotStore.create(spark, capRows(spark, 40), dir)
    deleteTree(dir)
  }

  /** No warm cycle: the set-up warm-ups have run `create`, and the cycle
    * makes one unmeasured query before its measured ones. */
  override def warmPass(spark: SparkSession, rec: Recorder): Unit = ()

  def prepare(spark: SparkSession): Unit = {
    parts = spark.sparkContext.defaultParallelism
    // the commit frames, cached as a micro-batch arrives: generated, with
    // `parts` partitions
    batches = (0 to sz.storeAppends).map(j => slice(spark, j).persist(StorageLevel.MEMORY_ONLY))
    batches.foreach(_.count())
    // the delta: seeded keys from a seeded handful of the populated buckets,
    // each moved 1e-6 degree north (a re-geotag)
    val all = Inputs.images(spark, seed, Inputs.StoreRows, 0L, totalRows, parts)
      .select("image_id", "lat", "lng", "cell16").collect()
    val byBucket = all.groupBy(r => CellStore.bucketOf(r.getLong(3)))
    val chosen = byBucket.keys.toSeq.sortBy(b => Inputs.mix(seed, Inputs.StoreDelta, b)).take(sz.deltaBuckets)
    val rows = chosen.flatMap(b => byBucket(b).toSeq).sortBy(r => Inputs.mix(seed, Inputs.StoreDelta, r.getLong(0)))
      .take(sz.deltaKeys).map(r => (r.getLong(0), r.getDouble(1) + 1e-6, r.getDouble(2)))
    deltaLat = rows.map(r => r._1 -> r._2).toMap
    delta = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts))
      .toDF("image_id", "lat", "lng")
      .withColumn("cell16", S2Expressions.s2Cell16(col("lat"), col("lng")))
      .persist(StorageLevel.MEMORY_ONLY)
    delta.count()
    queries = Inputs.queries(spark, seed, Inputs.StoreQueries, sz.storeQueries, 49.0, 54.0, -3.0, 2.0)
      .persist(StorageLevel.MEMORY_ONLY)
    queries.count()
  }

  /** Files and bytes a commit added, from the manifest diff. */
  private def commitFiles(spark: SparkSession, dir: String, v: Int): Seq[String] = {
    val now = SnapshotStore.manifest(spark, dir, v).files
    val before = if (v > 1) SnapshotStore.manifest(spark, dir, v - 1).files.toSet else Set.empty[String]
    now.filterNot(before)
  }

  /** One cycle: create from the first batch, append the others, upsert the
    * delta, read HEAD, write it to a cell store and query that. */
  def op(spark: SparkSession, rec: Recorder): Unit = {
    if (cycles > 0) { val (d, c) = dirs(cycles - 1); deleteTree(d); deleteTree(c) }
    val (dir, cdir) = dirs(cycles)
    cycles += 1
    def ingest(key: String)(commit: => Int): Unit = {
      val v = rec.time(key, "lineage")(commit)
      rec.count("ingest_rows_per_s", sz.storeBatch / rec.seconds(key).last)
      val added = commitFiles(spark, dir, v)
      rec.count("files_per_commit", added.size.toDouble)
      rec.count("bytes_per_commit", fileBytes(dir, added).toDouble)
    }
    ingest("create")(SnapshotStore.create(spark, batches(0), dir))
    batches.tail.foreach(b => ingest("append")(SnapshotStore.append(spark, b, dir)))
    val vu = rec.time("upsert", "lineage")(SnapshotStore.upsert(spark, delta, dir))
    rec.count("buckets_rewritten", commitFiles(spark, dir, vu).map(bucketOf).distinct.size.toDouble)
    val head = rec.time("manifest_read", "lineage")(
      SnapshotStore.manifest(spark, dir, SnapshotStore.headVersion(spark, dir)))
    rec.count("bytes_per_row", fileBytes(dir, head.files).toDouble / head.stats.map(_.rows).sum)
    heads += rec.time("read", "lineage")(Inputs.checksum(SnapshotStore.read(spark, dir)))
    rec.time("cellstore_write", "lineage")(CellStore.write(SnapshotStore.read(spark, dir), cdir))
    // one unmeasured query first: the first call of a session runs cold
    def query(): Array[Row] =
      try Knn.knnBatchFromStore(spark, cdir, queries, K, RadiusDeg).collect()
      finally EngineCaches.releaseIterationSnapshots()
    lastQuery = query()
    (1 to sz.storeQueryReps).foreach(_ => lastQuery = rec.time("query", "ops")(query()))
  }

  def throughput(rec: Recorder): Seq[Double] = rec.counted("ingest_rows_per_s")

  override def report(rec: Recorder): Seq[(String, Stats.Metric)] = {
    def s(key: String) = Stats.Metric(rec.med(key), "s", rec.seconds(key).size)
    Seq(
      "store_mixed.upsert_s" -> s("upsert"),
      "store_mixed.query_s" -> s("query"),
      "store_mixed.bytes_per_row" -> Stats.Metric(rec.mean("bytes_per_row"), "B/row", rec.counted("bytes_per_row").size),
      "store_mixed.files_per_commit" -> Stats.Metric(rec.mean("files_per_commit"), "count", rec.counted("files_per_commit").size))
  }

  /** Buckets under the round-1 caps of the regional queries. */
  private def bucketsUnderCaps(qs: Array[Row], stats: Set[Long]): Int =
    qs.flatMap { r =>
      val cap = S2.Cap(Geo.toXYZ(r.getDouble(1), r.getDouble(2)), math.toRadians(RadiusDeg))
      S2.covering(cap, maxCells = 12, maxLevel = 16).flatMap(c =>
        CellStore.bucketOf(S2.rangeMin(c)) to CellStore.bucketOf(S2.rangeMax(c)))
    }.toSet.intersect(stats).size

  override def layers(spark: SparkSession, rec: Recorder): Seq[(String, Stats.Metric)] = {
    val (_, cdir) = dirs(cycles - 1)
    val stats = CellStore.stats(spark, cdir).map(_.bucket).toSet
    def s(key: String) = Stats.Metric(rec.med(key), "s", rec.seconds(key).size)
    def c(key: String, unit: String) = Stats.Metric(rec.mean(key), unit, rec.counted(key).size)
    Seq(
      "lineage.create_s" -> s("create"),
      "lineage.append_s" -> s("append"),
      "lineage.upsert_s" -> s("upsert"),
      "lineage.manifest_read_s" -> s("manifest_read"),
      "lineage.read_s" -> s("read"),
      "lineage.cellstore_write_s" -> s("cellstore_write"),
      "lineage.query_s" -> s("query"),
      "lineage.files_per_commit" -> c("files_per_commit", "count"),
      "lineage.bytes_per_commit" -> c("bytes_per_commit", "B"),
      "lineage.bytes_per_row" -> c("bytes_per_row", "B/row"),
      "lineage.buckets_rewritten" -> c("buckets_rewritten", "count"),
      "lineage.buckets_read" -> Stats.Metric(bucketsUnderCaps(queries.collect(), stats).toDouble, "count", 1),
      "lineage.buckets_total" -> Stats.Metric(stats.size.toDouble, "count", 1))
  }

  def checks(spark: SparkSession): Seq[(String, Boolean)] = {
    val (dir, _) = dirs(cycles - 1)
    val headDf = SnapshotStore.read(spark, dir).persist(StorageLevel.MEMORY_ONLY)
    val (head, direct) =
      try (headDf.select("image_id", "lat").collect(), Knn.knnBatch(spark, headDf, queries, K, RadiusDeg).collect())
      finally { EngineCaches.releaseIterationSnapshots(); headDf.unpersist() }
    val ids = head.map(_.getLong(0))
    val expected = (0L until totalRows).map(Inputs.imageId(seed, Inputs.StoreRows, _))
    val headLat = head.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def key(rs: Array[Row]) = rs.map(r => (r.getInt(0), r.getInt(2), r.getLong(1))).sorted.toSeq
    Seq(
      s"store_mixed: HEAD holds $totalRows rows" -> (ids.length.toLong == totalRows),
      "store_mixed: HEAD key set equals created + appended keys" -> (ids.sorted.toSeq == expected),
      s"store_mixed: HEAD carries the ${deltaLat.size} upserted values" ->
        (deltaLat.nonEmpty && deltaLat.forall { case (id, la) => headLat.get(id).contains(la) }),
      "store_mixed: every cycle reads the same HEAD content" -> (heads.nonEmpty && heads.distinct.size == 1),
      s"store_mixed: store kNN equals knnBatch over HEAD" ->
        (lastQuery.nonEmpty && key(lastQuery) == key(direct)))
  }

  def points(spark: SparkSession, n: Int): Kernels.Points = collectPoints(slice(spark, 0), n)
  def prefixImages(spark: SparkSession): DataFrame =
    Inputs.images(spark, seed, Inputs.StoreRows, 0L, totalRows, parts)
}
