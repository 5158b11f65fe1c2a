package graft.ops

import graft.core.{Geo, S2}
import graft.functions.Udfs
import graft.model.Synth.KnnQuery
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Geometric kNN via iterative S2 cell-ring (cap-covering) expansion — the
  * north star's kNN operator (SURVEY.md §2.4 "closest"; the reference's own
  * `closest` walks the street graph, api/functions/graph.go:106-153 — the
  * target engine's semantics are geometric per BASELINE.json).
  *
  * Round r: cover cap(q, radius_r) with S2 cells, probe the image table
  * map-side (no shuffle of the big side), rank candidates per query with a
  * distance-bounded top-k. A query resolves when it has >= k candidates
  * whose k-th distance, converted to a sound great-circle bound, fits
  * inside the probed radius; unresolved queries expand the radius
  * (terminates at the full sphere).
  *
  * Every entry — the Seq forms `knn` / `knnHaversine` / `knnFromStore` and
  * the DataFrame forms `knnBatch*` — runs `knnBatchCore`, which picks its
  * route from the size of the deduplicated query set:
  *   - it fits the broadcast bound (`BroadcastQueryRowLimit / 12` queries,
  *     about 12 covering cells each): the DRIVER route. Query state stays on
  *     the driver, and each round is ONE Spark job over the probe rows: a
  *     broadcast ANCESTOR-HASH stab (covering cell id -> query ordinals; an
  *     image matches query q iff one of its cell16's ancestors IS one of q's
  *     covering cells — coverings are normalized, so at most one level hits
  *     per query, O(#levels) lookups per row) feeding a per-partition
  *     bounded top-k, merged on the driver. The result is a local frame.
  *   - it does not (or the limit is 0): the DISTRIBUTED route — the
  *     10^5-query "nearest landmark for every city" workload. The same stab
  *     becomes an equi-join of exploded query coverings with exploded image
  *     ancestors; resolution is a distributed aggregate + status join, and
  *     the driver sees only per-round counts. Over-bound query sets run in
  *     regional chunks that each fit the broadcast.
  * Both routes apply one status rule in one metric arithmetic, so their
  * results are identical (OpsSpec).
  *
  * Metrics: squared equirectangular degrees (exact arithmetic shared with
  * the oracle, Synth.KnnQuery.d2Sql) or great-circle meters. Soundness of
  * the d2 stop rule: a point with d2 < T has |dlat| < sqrt(T) and
  * |dlng| < sqrt(T)/cosLat, so its great-circle distance is
  * < sqrt(T) * (1 + 1/cosLat) degrees.
  */
object Knn {

  /** The 6 face cells — the full-sphere "covering". */
  private val FaceCells: Array[Long] =
    (0 until 6).map(f => S2.parent(f.toLong << S2.PosBits | (1L << (S2.PosBits - 1)), 0)).toArray

  // Bounded top-k aggregation (TopK / TopKAgg) lives in ops/TopK.scala —
  // shared with the ANN/similarity family (r03c audit: the row_number
  // window the others used funnels a group's full candidate set into one
  // task at scale; this partial aggregate is the replacement everywhere).

  /** Bitmask-of-S2-levels accumulator: the covering UDF records the level of
    * every cell it emits, so the driver learns the exact level set of a
    * round's coverings from the SAME job that computes them — no separate
    * levels job, and (unlike a CollectionAccumulator) the payload is one
    * Long regardless of query count. Task retries can only re-OR bits, and a
    * completed job has reported every partition's bits, so the read-after-
    * materialize value is a sound (exact-or-superset across rounds) level
    * set for the ancestors explode. */
  private final class LevelMaskAcc extends org.apache.spark.util.AccumulatorV2[Int, Long] {
    private var mask = 0L
    def isZero: Boolean = mask == 0L
    def copy(): LevelMaskAcc = { val a = new LevelMaskAcc; a.mask = mask; a }
    def reset(): Unit = mask = 0L
    def add(v: Int): Unit = mask |= (1L << v)
    def merge(o: org.apache.spark.util.AccumulatorV2[Int, Long]): Unit = mask |= o.value
    def value: Long = mask
  }

  /** THE candidate distance metric of the distributed route. `dist` is the
    * same arithmetic for the driver route, operation for operation: the
    * cross-route equality gates (OpsSpec: driver route == limit-0 route;
    * the DuckDB bit-exact compares) require it (the same one-definition
    * discipline as the `bound` of the status rule). */
  private def distExpr(meters: Boolean): Column =
    if (meters) Udfs.haversineMeters(col("lat"), col("lng"), col("qlat"), col("qlng"))
    else (col("lat") - col("qlat")) * (col("lat") - col("qlat")) +
      ((col("lng") - col("qlng")) * col("qcos")) * ((col("lng") - col("qlng")) * col("qcos"))

  /** `distExpr` on one (image, query) pair. */
  private def dist(meters: Boolean, lat: Double, lng: Double,
                   qlat: Double, qlng: Double, qcos: Double): Double =
    if (meters) Udfs.haversineMeters(lat, lng, qlat, qlng)
    else {
      val dy = lat - qlat
      val dx = (lng - qlng) * qcos
      dy * dy + dx * dx
    }

  private def maskLevels(mask: Long): Array[Int] =
    (0 to 30).filter(l => (mask & (1L << l)) != 0L).toArray

  /** The full-sphere radius in the metric's own unit. */
  private def fullSphere(meters: Boolean): Double =
    if (meters) math.Pi * Geo.EarthRadiusMeters else 180.0

  /** A query's cap covering at `radius` (the metric's unit): the face
    * cells once the radius reaches the full sphere. */
  private def coveringOf(meters: Boolean, lat: Double, lng: Double, radius: Double): Array[Long] =
    if (radius >= fullSphere(meters)) FaceCells
    else S2.covering(S2.Cap(Geo.toXYZ(lat, lng),
      if (meters) radius / Geo.EarthRadiusMeters else math.toRadians(radius)),
      maxCells = 12, maxLevel = 16)

  /** A cell id's store bucket is its top PrefixBits. */
  private val BucketShift = 64 - graft.lineage.CellStore.PrefixBits

  /** Store-probe telemetry: when a caller (the q_store_knn_batch gate, a
    * spec) sets a buffer here, the store-backed calls append the number of
    * buckets each round actually read — the pruning evidence, observable
    * without widening the operator's return type. Null by default, zero
    * cost. */
  private[graft] val storeReadTelemetry =
    new ThreadLocal[scala.collection.mutable.Buffer[Int]]

  /** `buckets` of the store at manifest `m`, counted into
    * `storeReadTelemetry`. */
  private def readStore(spark: SparkSession, dir: String,
                        m: graft.lineage.SnapshotStore.Manifest, buckets: Set[Long]): DataFrame = {
    val (df, nRead) = graft.lineage.SnapshotStore.readBuckets(spark, dir, m, buckets)
    val telemetry = storeReadTelemetry.get()
    if (telemetry != null) telemetry += nRead
    df
  }

  /** The probe projection (callers cache it), widened to the session's
    * parallelism when the source partitioning is BELOW it. Small single-row-group parquet
    * (the local test tables) scans as ONE task, and every probe round would
    * otherwise run on one core; at design scale source partitions >> cores
    * so the branch is a no-op and the projection keeps the scan layout —
    * nothing extra shuffles. */
  private def probeProjection(images: DataFrame): DataFrame = {
    val proj = images.select(col("image_id"), col("lat"), col("lng"), col("cell16"))
    val par = proj.sparkSession.sparkContext.defaultParallelism
    if (proj.rdd.getNumPartitions < par) proj.repartition(par) else proj
  }

  /** The query Seq as the batch entries' query frame (a local relation). */
  private def queryFrame(spark: SparkSession, queries: Seq[KnnQuery]): DataFrame =
    spark.createDataFrame(queries.map(q => (q.queryId, q.lat, q.lng)))
      .toDF("query_id", "qlat", "qlng")

  def knn(spark: SparkSession, images: DataFrame, queries: Seq[KnnQuery],
          k: Int = 10, initialRadiusDeg: Double = 2.0): DataFrame =
    knnBatchCore(spark, Some(images), queryFrame(spark, queries), k, initialRadiusDeg,
      BroadcastQueryRowLimit, meters = false)
      .select("query_id", "image_id", "rank")

  /** Cell-store-backed kNN: identical semantics and results to `knn`, but
    * each expansion round READS ONLY the store buckets overlapping the
    * round's cap coverings instead of re-scanning the full projection — the
    * design-scale shape (VERDICT r01 hazard): early rounds touch only the
    * files under the query caps, so a 10^12-row table costs IO proportional
    * to the caps, not the table. Every round reads through the ONE HEAD
    * manifest taken at the call's start. */
  def knnFromStore(spark: SparkSession, storeDir: String, queries: Seq[KnnQuery],
                   k: Int = 10, initialRadiusDeg: Double = 2.0): DataFrame =
    knnBatchCore(spark, None, queryFrame(spark, queries), k, initialRadiusDeg,
      BroadcastQueryRowLimit, meters = false, storeDir = Some(storeDir))
      .select("query_id", "image_id", "rank")

  /** Great-circle kNN — the production metric (b6 distance semantics,
    * units/units.go). The stop rule is direct: the probed cap has
    * great-circle radius r, so once the k-th candidate's haversine distance
    * is <= r the result is complete. Each row carries its distance
    * (`dist_m`). */
  def knnHaversine(spark: SparkSession, images: DataFrame, queries: Seq[KnnQuery],
                   k: Int = 10, initialRadiusMeters: Double = 200000.0): DataFrame =
    knnBatchCore(spark, Some(images), queryFrame(spark, queries), k, initialRadiusMeters,
      BroadcastQueryRowLimit, meters = true)
      .withColumnRenamed("dist", "dist_m")

  /** Batch kNN (d2 metric): the query side is a DataFrame
    * `(query_id INT, qlat DOUBLE, qlng DOUBLE)` of arbitrary cardinality;
    * duplicated query ids answer once. The route (object doc) follows the
    * query count. On the distributed route, per round:
    *
    *   1. explode each unresolved query's cap covering at the query's OWN
    *      current radius to (cov_cell, qid) — executor-side S2 math;
    *   2. collect the round's DISTINCT covering LEVELS (<= 17 scalars — the
    *      only driver traffic besides counts) and explode each image's
    *      cell16 ancestors at exactly those levels;
    *   3. equi-join on the cell id — ALWAYS a broadcast of the exploded
    *      query side: a query set beyond `BroadcastQueryRowLimit` is split
    *      into REGIONAL chunks (contiguous S2-prefix spans) each under the
    *      limit, so the huge probe side is never exchanged (VERDICT r03 #4;
    *      a single over-limit prefix falls back to shuffle-hash, loudly);
    *   4. resolution as a distributed aggregate: cnt >= k and the k-th d2's
    *      sound great-circle bound within the query's probed radius.
    *
    * Radii are PER-QUERY ADAPTIVE on both routes (measured 2-4x over a
    * shared ladder): a query that saw >= k candidates re-probes at
    * exactly its k-th distance bound — the NEXT round is then guaranteed to
    * resolve it (the true top-k all lie inside that cap, and the bound can
    * only shrink) — while a query with < k candidates grows 8x. Shared-ladder
    * rounds instead drag every unresolved query up the same 8^i radii, and
    * one straggler round at 64 degrees costs more than all tight rounds
    * together. A query whose probed radius reached the full sphere resolves
    * unconditionally (covers tables smaller than k).
    *
    * Distributed per-round tables are snapshotted to persisted RDDs (the
    * shared ops.Tracker) so planning cost stays constant across rounds. At
    * 100 TB the image side never shuffles: only candidate rows (bounded per
    * query per round) enter the exchange.
    *
    * `initialRadiusDeg <= 0` auto-derives the round-1 radius from the table
    * density (see knnBatchCore) — the right default for density-varying
    * inputs; correctness is radius-invariant either way. */
  def knnBatch(spark: SparkSession, images: DataFrame, queries: DataFrame,
               k: Int = 10, initialRadiusDeg: Double = 2.0): DataFrame =
    knnBatchBy(spark, images, queries, k, initialRadiusDeg)

  /** The exploded query side's broadcast row limit (about 12 covering
    * cells per query): a larger query set takes the distributed route in
    * regional chunks. */
  private val BroadcastQueryRowLimit = 2000000L

  /** `knnBatch` under a given query-side broadcast limit: specs force the
    * shuffle (0) and chunked routes through it. */
  private[graft] def knnBatchBy(spark: SparkSession, images: DataFrame, queries: DataFrame,
                                k: Int, initialRadiusDeg: Double,
                                broadcastQueryRowLimit: Long = BroadcastQueryRowLimit): DataFrame =
    knnBatchCore(spark, Some(images), queries, k, initialRadiusDeg,
      broadcastQueryRowLimit, meters = false)
      .select("query_id", "image_id", "rank")

  /** `knnBatch` under the production great-circle metric (b6 distance
    * semantics): radii in meters, the stop rule direct (k-th haversine
    * distance <= probed cap radius). Same adaptive loop, same routes. */
  def knnBatchHaversine(spark: SparkSession, images: DataFrame, queries: DataFrame,
                        k: Int = 10, initialRadiusMeters: Double = 300000.0): DataFrame =
    knnBatchCore(spark, Some(images), queries, k, initialRadiusMeters,
      BroadcastQueryRowLimit, meters = true)
      .select("query_id", "image_id", "rank")

  /** `knnBatch` THROUGH the cell-bucketed store: each round reads ONLY the
    * buckets under the remaining queries' coverings
    * (SnapshotStore.readBuckets), so a regional query batch touches a
    * fraction of the table's files — the IO half of the store story for a
    * query FRAME (the Seq form is `knnFromStore`). One HEAD manifest, read at
    * the call's start, gives the auto radius's row count and every round's
    * files. Same adaptive loop, same results as `knnBatch` over the store's
    * content (OpsSpec-asserted). */
  def knnBatchFromStore(spark: SparkSession, storeDir: String, queries: DataFrame,
                        k: Int = 10, initialRadiusDeg: Double = 2.0): DataFrame =
    knnBatchCore(spark, None, queries, k, initialRadiusDeg,
      BroadcastQueryRowLimit, meters = false, storeDir = Some(storeDir))
      .select("query_id", "image_id", "rank")

  /** One partition's probe rows as columns: the driver route's probe unit
    * (a cached block is 32 bytes a row). */
  private final class ProbeBlock(val ids: Array[Long], val lat: Array[Double],
                                 val lng: Array[Double], val cell: Array[Long]) extends Serializable

  /** `df`'s (image_id, lat, lng, cell16) as one block per partition, read
    * through `queryExecution.toRdd`: an RDD-level pipeline, so the round's
    * action is its only job. `spread` widens a source with fewer partitions
    * than the session's parallelism (as `probeProjection` does) with an
    * RDD shuffle, a stage of the same job. A row with a null field matches
    * no query, as on the distributed route. */
  private def probeBlocks(df: DataFrame, spread: Boolean): RDD[ProbeBlock] = {
    val rows = df.select(col("image_id").cast("long"), col("lat").cast("double"),
      col("lng").cast("double"), col("cell16").cast("long")).queryExecution.toRdd
    val par = df.sparkSession.sparkContext.defaultParallelism
    val src = if (spread && rows.getNumPartitions < par) rows.map(_.copy()).repartition(par) else rows
    src.mapPartitions { it =>
      val ids = Array.newBuilder[Long]; val lat = Array.newBuilder[Double]
      val lng = Array.newBuilder[Double]; val cell = Array.newBuilder[Long]
      it.foreach { r =>
        if (!r.anyNull) {
          ids += r.getLong(0); lat += r.getDouble(1); lng += r.getDouble(2); cell += r.getLong(3)
        }
      }
      Iterator.single(new ProbeBlock(ids.result(), lat.result(), lng.result(), cell.result()))
    }
  }

  /** One driver-route round's queries, broadcast once per round: covering
    * cell -> query ordinals as an open-addressing table over flat arrays
    * (`keys`; 0 marks an empty slot, and no S2 id is 0), the ordinals of
    * slot s at `ords(start(s)) until ords(start(s + 1))`, the coverings'
    * level set, and each query's point. */
  private final class RoundIndex(covs: Array[Array[Long]], val qlat: Array[Double],
                                 val qlng: Array[Double], val qcos: Array[Double]) extends Serializable {
    val levels: Array[Int] = covs.flatten.map(S2.level).distinct.sorted
    private val nCells = covs.map(_.length).sum
    private val mask = (Integer.highestOneBit(math.max(2, 2 * nCells) - 1) << 1) - 1
    private val keys = new Array[Long](mask + 1)
    val start = new Array[Int](mask + 2)
    val ords = new Array[Int](nCells)

    /** The slot holding `c`, or -1. */
    def slotOf(c: Long): Int = {
      val s = find(c)
      if (keys(s) == c) s else -1
    }

    /** The slot holding `c`, else the empty slot that would. */
    private def find(c: Long): Int = {
      var s = ((c * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask
      while (keys(s) != 0L && keys(s) != c) s = (s + 1) & mask
      s
    }

    covs.foreach(_.foreach { c => val s = find(c); keys(s) = c; start(s + 1) += 1 })
    (1 until start.length).foreach(s => start(s) += start(s - 1))
    private val fill = start.clone()
    covs.indices.foreach(o => covs(o).foreach { c =>
      val s = find(c); ords(fill(s)) = o; fill(s) += 1
    })
  }

  /** Merges per-partition top-k arrays (one entry per round query, null
    * for none) into `a`, through `TopKAgg.merge`. */
  private def mergeTops(agg: TopKAgg)(a: Array[List[(Double, Long)]],
                                      b: Array[List[(Double, Long)]]): Array[List[(Double, Long)]] =
    if (a.isEmpty) b
    else {
      var i = 0
      while (i < b.length) {
        if (b(i) != null) a(i) = if (a(i) == null) b(i) else agg.merge(a(i), b(i))
        i += 1
      }
      a
    }

  /** Exactly one probe source: a direct image frame OR a store directory
    * (review r03c: an Option pair instead of a null DataFrame, so a future
    * edit can't dereference the absent side). Returns
    * (query_id, image_id, rank, dist) sorted by (query_id, rank). */
  private[graft] def knnBatchCore(spark: SparkSession, images: Option[DataFrame],
                                  queries: DataFrame,
                                  k: Int, initialRadius0: Double,
                                  broadcastQueryRowLimit: Long, meters: Boolean,
                                  storeDir: Option[String] = None): DataFrame = {
    require(images.isDefined != storeDir.isDefined,
      "knnBatchCore: exactly one of images / storeDir")
    val FullDeg = fullSphere(meters)
    val growth = if (meters) 4.0 else 8.0
    val absEps = if (meters) 1e-6 else 1e-12
    // the store's HEAD manifest is read ONCE per call and pins every round
    // to that version
    val storeHead = storeDir.map(d => graft.lineage.SnapshotStore.headManifest(spark, d))
    // initialRadius <= 0 -> auto from density: aim for ~48*k candidates per
    // round-1 cap so virtually every query resolves immediately — the d2
    // stop rule needs kth * (1 + 1/cos) <= r, i.e. ~(1+1/cos)^2 * k ~ 6-8k
    // candidates even at high latitudes. 16k resolved 98% of the uniform
    // batch in round 1 but left the low-density tail (~1.7k of 10^4 at
    // sf0.01) paying a second full round whose cost is mostly fixed (job
    // launch + covering + window) — 48k resolves the tail too and measures
    // FASTER end-to-end (2 rounds 1.2+0.9 s -> 1 round ~1.3 s warm): per-
    // query candidates stay tiny (~150 rows at k=3) and the top-k partial
    // aggregate absorbs the 3x fan-in map-side. The count is one cheap job
    // over the probe rows (for the store, a pure metadata read of the
    // bucket stats); correctness is radius-invariant (OpsSpec), this only
    // tunes round counts across densities (a fixed 2 deg was right at sf0.1
    // but cost an extra full round at sf0.01).
    def initialRadius(count: => Long): Double =
      if (initialRadius0 > 0) initialRadius0
      else {
        val n = math.max(1L, storeHead match {
          case Some(m) => m.stats.map(_.rows).sum
          case None => count
        })
        val deg = math.min(60.0, math.sqrt(48.0 * k * 41253.0 / (math.Pi * n)))
        if (meters) deg * 111320.0 else deg
      }
    val q = queries.select(col("query_id").cast("int"),
      col("qlat").cast("double"), col("qlng").cast("double"))
    val chunkQueries =
      if (broadcastQueryRowLimit > 0) math.max(1L, broadcastQueryRowLimit / 12)
      else Long.MaxValue
    // the route test: one bounded collect of at most chunkQueries + 1 rows,
    // ONE job. Over several partitions a limit collect is Spark's incremental
    // take, a job for the first partition and another for the rest; one
    // partition reads them all in one task that stops at the bound
    val fits: Option[Array[Row]] =
      if (broadcastQueryRowLimit <= 0) None
      else {
        val rows = q.coalesce(1).limit(math.min(chunkQueries, Int.MaxValue - 1L).toInt + 1).collect()
        if (rows.length <= chunkQueries) Some(rows) else None
      }
    fits match {
      case Some(rows) =>
        val schema = StructType(Seq(q.schema("query_id"),
          StructField("image_id", LongType, nullable = false),
          StructField("rank", IntegerType, nullable = false),
          StructField("dist", DoubleType, nullable = false)))
        // the driver route holds at most chunkQueries queries, their
        // coverings and queries x k result rows: the same order as the
        // exploded query side a broadcast round collects
        val blocks = images.map(i => probeBlocks(i, spread = true)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        try {
          val r0 = initialRadius(blocks.get.map(_.ids.length.toLong).fold(0L)(_ + _))
          val out = driverRounds(spark, rows, k, r0, meters, FullDeg, growth, absEps,
            covs => blocks.getOrElse {
              // the buckets of each covering cell's id span [rangeMin,
              // rangeMax]: descendant ids at any level stay inside the
              // ancestor's id range, so every image row the cell matches
              // lives in them
              probeBlocks(readStore(spark, storeDir.get, storeHead.get,
                covs.iterator.flatten.flatMap(c =>
                  (S2.rangeMin(c) >>> BucketShift) to (S2.rangeMax(c) >>> BucketShift)).toSet),
                spread = false)
            })
          spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
        } finally blocks.foreach(_.unpersist(blocking = false))
      case None =>
        distributedRounds(spark, images, q, k, broadcastQueryRowLimit, chunkQueries, meters,
          FullDeg, growth, absEps, storeDir, storeHead, initialRadius)
    }
  }

  /** The driver route (object doc): each round covers every unresolved
    * query on the driver, broadcasts the round's `RoundIndex` and runs ONE
    * job over `probeFor(coverings)` — a per-partition stab plus bounded
    * top-k per query (`TopKAgg.reduce`), merged by `treeAggregate`
    * (`TopKAgg.merge`) into at most queries x k entries. The driver then
    * applies the distributed route's status rule to them. Returns the rows
    * (query_id, image_id, rank, dist) sorted by (query_id, rank). */
  private def driverRounds(spark: SparkSession, rows: Array[Row], k: Int, radius0: Double,
                           meters: Boolean, FullDeg: Double, growth: Double, absEps: Double,
                           probeFor: Array[Array[Long]] => RDD[ProbeBlock]): Array[Row] = {
    // query_id must identify ONE query point: keep the first row of each id
    // (the dropDuplicates contract); a null field matches nothing
    val seen = scala.collection.mutable.HashSet.empty[Int]
    val qs = rows.filter(r => !r.anyNull && seen.add(r.getInt(0)))
    val qid = qs.map(_.getInt(0))
    val qlat = qs.map(_.getDouble(1))
    val qlng = qs.map(_.getDouble(2))
    val qcos = qlat.map(l => math.cos(math.toRadians(l)))
    val radius = Array.fill(qs.length)(radius0)
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    val agg = new TopKAgg(k)
    var pending = qs.indices.toArray
    // no loud bound: every query resolves once its radius reaches the full
    // sphere
    if (pending.nonEmpty) Tracker.rounds(spark, "knnBatch", Int.MaxValue) { _ =>
      val covs = pending.map(o => coveringOf(meters, qlat(o), qlng(o), radius(o)))
      val probe = probeFor(covs)
      val bc = spark.sparkContext.broadcast(
        new RoundIndex(covs, pending.map(qlat), pending.map(qlng), pending.map(qcos)))
      val tops = try probe.mapPartitions { blocks =>
        val ix = bc.value
        val top = new Array[List[(Double, Long)]](ix.qlat.length)
        blocks.foreach { b =>
          var i = 0
          while (i < b.ids.length) {
            var l = 0
            while (l < ix.levels.length) {
              val s = ix.slotOf(S2.parent(b.cell(i), ix.levels(l)))
              if (s >= 0) {
                var j = ix.start(s)
                while (j < ix.start(s + 1)) {
                  val o = ix.ords(j)
                  val d = dist(meters, b.lat(i), b.lng(i), ix.qlat(o), ix.qlng(o), ix.qcos(o))
                  top(o) = agg.reduce(if (top(o) == null) Nil else top(o), (b.ids(i), d))
                  j += 1
                }
              }
              l += 1
            }
            i += 1
          }
        }
        Iterator.single(top)
      }.treeAggregate(Array.empty[List[(Double, Long)]])(mergeTops(agg), mergeTops(agg))
      finally bc.destroy()
      // the distributed route's status rule, per query: resolve on >= k
      // candidates whose k-th bound fits the probed radius, or on the full
      // sphere; else re-probe at the k-th bound (resolution guaranteed next
      // round) or grow, clamped past the full sphere
      val still = scala.collection.mutable.ArrayBuffer.empty[Int]
      pending.indices.foreach { i =>
        val o = pending(i)
        val top = if (i < tops.length && tops(i) != null) tops(i) else Nil
        val cnt = top.length
        val bound =
          if (cnt < k) Double.NaN
          else if (meters) top.last._1
          else math.sqrt(top.last._1) * (1.0 + 1.0 / qcos(o))
        if ((cnt >= k && bound <= radius(o)) || radius(o) >= FullDeg)
          top.iterator.zipWithIndex.foreach { case ((d, id), r) => out += Row(qid(o), id, r + 1, d) }
        else {
          radius(o) = math.min(FullDeg + 1.0,
            if (cnt >= k) bound * (1.0 + 1e-9) + absEps else radius(o) * growth)
          still += o
        }
      }
      pending = still.toArray
      pending.length.toLong
    }
    out.sortBy(r => (r.getInt(0), r.getInt(2))).toArray
  }

  /** The distributed route (object doc): the query snapshot, the regional
    * chunk dispatch and the status-join round loop. */
  private def distributedRounds(spark: SparkSession, images: Option[DataFrame], q: DataFrame,
                                k: Int, broadcastQueryRowLimit: Long, chunkQueries: Long,
                                meters: Boolean, FullDeg: Double, growth: Double, absEps: Double,
                                storeDir: Option[String],
                                storeHead: Option[graft.lineage.SnapshotStore.Manifest],
                                initialRadius: (=> Long) => Double): DataFrame =
    Tracker.run(spark) { t =>
      // store-backed probes read only the buckets under the round's
      // coverings (no global projection to cache); the direct form caches
      // the projected image side once for all rounds
      val imgs = images.map(i => t.cache(probeProjection(i)))
      val radius0 = initialRadius(imgs.get.count())
      var results: DataFrame = null
      // round-invariant expressions hoisted OUT of the loop: re-creating a
      // udf/udaf per round gives each round distinct closure identities, so
      // Catalyst's codegen cache misses and every round pays full
      // compile+JIT again (measured as driver time between jobs, not
      // executor time)
      val levelsAcc = new LevelMaskAcc
      spark.sparkContext.register(levelsAcc, "knnBatchLevels")
      val coveringUdf = udf((lat: Double, lng: Double, radius: Double) => {
        val cells = coveringOf(meters, lat, lng, radius)
        cells.foreach(c => levelsAcc.add(S2.level(c)))
        cells.toSeq
      })
      // query_id must identify ONE query point: the status join emits each
      // resolved top-k once per matching input row, so duplicated ids would
      // duplicate (and, with conflicting coords, corrupt) results. Dedup up
      // front; the materialized snapshot freezes the surviving row — and the
      // snapshot job ALSO computes each query's covering (array column) and
      // reports its levels through the accumulator, so the round loop never
      // re-runs the covering kernel or pays a separate levels job.
      val snap = t.snapshot(
        q.dropDuplicates("query_id")
          .withColumn("qcos", cos(radians(col("qlat"))))
          .withColumn("qradius", lit(radius0))
          .withColumn("cov", coveringUdf(col("qlat"), col("qlng"), col("qradius"))))
      val distCol = distExpr(meters)
      val topkUdaf = TopKAgg.udafFor(k)
      /** The adaptive round loop over ONE query set (the whole snapshot, or
        * one regional chunk of it — see the dispatch below). Appends each
        * round's resolved top-k to `results`. */
      def runLoop(remaining0: DataFrame, n0: Long): Unit =
      if (n0 > 0) {
      var remaining = remaining0
      var nRemaining = n0
      // no loud bound: every query resolves once its radius reaches the
      // full sphere
      Tracker.rounds(spark, "knnBatch", Int.MaxValue) { _ =>
        // levels come from the accumulator the SNAPSHOT job already filled —
        // across rounds the mask only accumulates (radii grow -> coarser
        // levels join the set), so it is exact for round 1 and a sound
        // superset after: an extra ancestors level explodes image rows that
        // match no covering cell, it can never drop a candidate
        val levels: Array[Int] = maskLevels(levelsAcc.value)
        // native codegen ancestors: the explode input over the (huge) image
        // side stays inside whole-stage codegen — no ScalaUDF encoder
        // round-trip per image row
        val anc = (c: Column) =>
          graft.functions.S2Expressions.s2Ancestors(c, levels)
        // the covering rows come straight off the snapshot's array column —
        // the covering kernel ran exactly once per query, in the snapshot job
        val qcov = remaining.select(col("query_id"), col("qlat"), col("qlng"),
          col("qcos"), col("qradius"), explode(col("cov")).as("cov_cell"))
        // regional chunking (dispatch below) keeps every chunk's round under
        // the broadcast limit, so this condition normally holds; it can fail
        // only for a single over-limit prefix (or the limit<=0 test knob),
        // where the fallback must be a SHUFFLE-HASH build, not a
        // SortMergeJoin: without the hint the LogicalRDD's default (huge)
        // size stats make Catalyst sort-merge, which shuffles AND SORTS the
        // |images| x |levels| exploded probe side every round — the one
        // thing this plan exists to avoid (review r03b). With the hint only
        // the hash build (query side) and the probe exchange remain, no sort.
        val qside =
          if (nRemaining * 12 <= broadcastQueryRowLimit) broadcast(qcov)
          else qcov.hint("shuffle_hash")
        // probe frame: the cached projection, or — store-backed — ONLY the
        // buckets under THIS round's coverings: each covering cell's
        // [rangeMin, rangeMax] id span maps to a bucket span by its top
        // PrefixBits (descendant ids at any level stay inside the ancestor's
        // id range, so every matching image row lives in those buckets —
        // sound, PropertySpec-pinned), from ONE tiny distinct-collect over
        // the remaining queries' coverings per round. The
        // manifest was read once before the loop.
        val probe = storeDir match {
          case None => imgs.get
          case Some(d) =>
            val c = col("c")
            // (lsb - 1) FIRST: the naive c + lsb - 1 overflows its
            // intermediate for a face-3 range-end cell (0x70.. + 2^60 =
            // 2^63) and Spark 4's default ANSI mode turns that into an
            // ArithmeticException; c +/- (lsb - 1) never overflows for
            // valid S2 ids (same form as S2.rangeMax)
            val lsbM1 = c.bitwiseAND(-c) - lit(1L)
            // at most 2^PrefixBits x 2^PrefixBits distinct (lo, hi) spans
            val bucketSet: Set[Long] = remaining.select(explode(col("cov")).as("c"))
              .select(shiftrightunsigned(c - lsbM1, BucketShift).as("lo"),
                shiftrightunsigned(c + lsbM1, BucketShift).as("hi"))
              .distinct().limit(1 << (2 * graft.lineage.CellStore.PrefixBits)).collect()
              .flatMap(r => r.getLong(0) to r.getLong(1)).toSet
            readStore(spark, d, storeHead.get, bucketSet)
              .select(col("image_id"), col("lat"), col("lng"), col("cell16"))
        }
        // one row per PROBED query: bounded top-k via PARTIAL aggregation —
        // map-side combiners cut each partition to <= k rows per query, so
        // the exchange carries O(queries * k), not every candidate (the
        // row_number window it replaces shuffled + sorted the full set)
        val topk = probe
          .withColumn("cov_cell", explode(anc(col("cell16"))))
          .join(qside, Seq("cov_cell"))
          .withColumn("d2", distCol)
          .groupBy("query_id")
          .agg(topkUdaf(col("image_id"), col("d2")).as("top"))
        // ONE materialized STATUS row per unresolved query — and ONE Spark
        // job per round: the top-k aggregation above stays a LAZY subtree of
        // the status plan (review r03 folded the separate topk snapshot in),
        // the left join brings each query's bounded top-k (null if its cap
        // matched nothing), and the resolution predicate, the adaptive next
        // radius AND the next round's covering are plain columns over it.
        // The snapshot job doubles as the unresolved count, so each round's
        // barrier is a single job.
        val kd2 = element_at(col("top.d2s"), -1)
        // sound radius bound of the k-th candidate in the metric's unit:
        // haversine IS the great-circle distance; d2 needs the equirect ->
        // great-circle inflation. ONE definition, materialized as a status
        // column: the resolution predicate and the adaptive next radius
        // must stay bit-identical for the "guaranteed resolution next
        // round" invariant, so neither is allowed its own copy.
        val bound =
          if (meters) kd2
          else sqrt(kd2) * (lit(1.0) + lit(1.0) / col("qcos"))
        // resolve: enough candidates with the k-th bound inside the probed
        // cap, OR the probe already covered the full sphere; coalesce keeps
        // zero-candidate queries (null cnt/bound) unresolved rather than
        // dropping them from BOTH filters below. Next radius (unresolved
        // rows only): the SAME materialized k-th bound when cnt >= k
        // (guarantees resolution next round), geometric growth otherwise;
        // both clamp to the full sphere.
        // the status join gets the same shuffle-hash treatment: both sides
        // are O(queries) rows with unknown (default-huge) stats, and a
        // sort-merge would sort them both for no benefit
        val statusDf = remaining.drop("cov")
          .join(topk.hint("shuffle_hash"), Seq("query_id"), "left")
          .withColumn("cnt", size(col("top.ids")))
          .withColumn("bound", bound)
          .withColumn("resolved",
            coalesce(col("cnt") >= k && col("bound") <= col("qradius"), lit(false)) ||
              col("qradius") >= FullDeg)
          .withColumn("qradius", when(col("resolved"), col("qradius"))
            .otherwise(least(lit(FullDeg + 1.0),
              when(col("cnt") >= k, col("bound") * lit(1.0 + 1e-9) + lit(absEps))
                .otherwise(col("qradius") * growth))))
          .withColumn("cov", when(!col("resolved"),
            coveringUdf(col("qlat"), col("qlng"), col("qradius"))))
        val resolvedIdx = statusDf.schema.fieldIndex("resolved")
        val status = t.snapshot(statusDf, !_.getBoolean(resolvedIdx))
        val res = status.df.where(col("resolved") && col("top").isNotNull)
          .select(col("query_id"),
            posexplode(arrays_zip(col("top.ids"), col("top.d2s"))).as(Seq("pos", "z")))
          .select(col("query_id"), col("z.ids").as("image_id"),
            (col("pos") + 1).cast("int").as("rank"), col("z.d2s").as("dist"))
        results = if (results == null) res else results.unionByName(res)
        // next round's input: a lazy projection of the persisted status
        // snapshot — plan depth stays constant (scan -> filter -> project)
        remaining = status.df.where(!col("resolved"))
          .select("query_id", "qlat", "qlng", "qcos", "qradius", "cov")
        nRemaining = status.matched
        nRemaining
      }
      } // runLoop
      // ---- dispatch (VERDICT r03 #4): one pass while the exploded query
      // side fits the broadcast; beyond it, REGIONAL CHUNKS each under the
      // limit instead of a shuffle-hash join that exchanges the
      // |images| x |levels| exploded probe side every round. Chunks are
      // contiguous spans of the queries' top-16-bit S2 prefix (~level-6
      // cells; Hilbert locality makes a span a compact region), sized by one
      // tiny per-prefix count and packed greedily — so every chunk's join is
      // a true BROADCAST (queries move, images never do), and store-backed
      // probes read only the chunk's buckets. A single prefix whose query
      // count alone exceeds the limit stays one chunk and falls back to the
      // per-round shuffle-hash join (loud stderr note) — the pre-r4 behavior,
      // still sort-free. broadcastQueryRowLimit <= 0 keeps the global
      // shuffle-hash path (the plan-shape test knob).
      if (broadcastQueryRowLimit <= 0 || snap.rows <= chunkQueries) {
        runLoop(snap.df, snap.rows)
      } else {
        val qpfx = shiftrightunsigned(
          graft.functions.S2Expressions.s2Cell16(col("qlat"), col("qlng")), 48)
        // one row per 16-bit prefix: at most 2^16 rows
        val counts = snap.df.groupBy(qpfx.as("qpfx")).agg(count(lit(1)).as("n"))
          .limit(1 << 16).collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val ranges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var lo = -1L; var hi = -1L; var tot = 0L
        counts.foreach { case (p, c) =>
          if (tot == 0L) { lo = p; hi = p; tot = c }
          else if (tot + c <= chunkQueries) { hi = p; tot += c }
          else { ranges += ((lo, hi, tot)); lo = p; hi = p; tot = c }
        }
        if (tot > 0) ranges += ((lo, hi, tot))
        System.err.println(s"[knnBatch] query side beyond broadcast limit: " +
          s"${ranges.size} regional chunks (<= $chunkQueries queries each)")
        ranges.foreach { case (l, h, nq) =>
          if (nq > chunkQueries)
            System.err.println(s"[knnBatch] heavy prefix chunk [$l,$h]: $nq queries " +
              "exceed the broadcast limit alone - shuffle-hash fallback for this chunk")
          runLoop(snap.df.where(qpfx.between(l, h)), nq)
        }
      }
      // snapshot the result UNSORTED and return the sort lazily over the
      // persisted RDD: count-style consumers get the sort eliminated
      // outright (EliminateSorts), write-style consumers pay it exactly once
      // — and the snapshot job skips the range-sampling pass a sorted .rdd
      // would have added
      t.snapshot(Option(results).getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], StructType(Seq(q.schema("query_id"),
          StructField("image_id", LongType), StructField("rank", IntegerType),
          StructField("dist", DoubleType))))))
    }.orderBy("query_id", "rank")
}
