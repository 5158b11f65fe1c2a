package graft.oracle

import graft.core.{Geo, Hashes, Hex7, S2, Tiles}
import graft.functions.Udfs
import graft.model.{Synth, Tables}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import scala.reflect.runtime.universe.TypeTag

/** Independent single-threaded recomputation of every gated query whose math
  * is not ANSI-SQL-expressible, written as golden parquet that the driver's
  * DuckDB oracle reads back (`SELECT * FROM read_parquet(...)`). This closes
  * the round-1 `no_oracle` gap (VERDICT r01 #1): the DISTRIBUTED plumbing —
  * joins, prunes, windows, aggregations, dedup, iteration — is recomputed
  * here as plain driver-side loops (brute force, no cell pruning, real
  * Dijkstra, hash-map grouping), so any Spark-side plumbing bug hash-fails.
  *
  * Kernel sharing policy (documented per query below): where a query's
  * OUTPUT contains doubles produced by a pure kernel (haversine, hull area,
  * Hex7 ids, tile math, MVT bytes), the golden reuses the same kernel —
  * bit-exactness across independent float implementations is not achievable,
  * and those kernels are separately pinned by ScalaTest golden vectors
  * (CoreSpec/Hex7Spec/PropertySpec). Everything around the kernel (candidate
  * generation, grouping, ranking, thresholds) is recomputed independently.
  */
object Golden {

  /** Absolute location the oracle SQL references (regenerated by every
    * Verify run; never read by the engine itself). Derived from the working
    * directory (overridable via GRAFT_GOLDEN_DIR) so a checkout anywhere
    * works — the oracle SQL is generated in the same run that writes the
    * goldens, so both always agree on the path. */
  val Dir: String = sys.env.getOrElse("GRAFT_GOLDEN_DIR",
    new java.io.File("target/goldens").getAbsolutePath)

  /** DuckDB oracle SQL for a golden-backed query. */
  def sql(name: String, orderBy: String): String =
    s"SELECT * FROM read_parquet('$Dir/$name.parquet/*.parquet') ORDER BY $orderBy"

  /** Mirrors Udfs.haversineMeters (the COLUMN form) operation-for-operation
    * — Math.pow/sin/cos exactly as Catalyst codegen emits them — so engine
    * and golden agree bit-for-bit. (Geo.haversineMeters, the kernel form,
    * uses sin*sin instead of pow and is NOT interchangeable at the ulp
    * level.) */
  def haversineColumn(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val dp = Math.toRadians(lat2 - lat1) / 2
    val dl = Math.toRadians(lng2 - lng1) / 2
    val a = Math.pow(Math.sin(dp), 2) +
      Math.cos(Math.toRadians(lat1)) * Math.cos(Math.toRadians(lat2)) * Math.pow(Math.sin(dl), 2)
    2.0 * Geo.EarthRadiusMeters * Math.asin(Math.min(1.0, Math.sqrt(a)))
  }

  final case class Img(id: Long, lat: Double, lng: Double, status: String = "")

  def loadImages(spark: SparkSession, sfDir: String): Array[Img] = {
    Tables.registerBase(spark, sfDir)
    spark.sql(Synth.imagesSelect).select("image_id", "lat", "lng", "status")
      .collect().map(r => Img(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
      .sortBy(_.id)
  }

  def loadDocs(spark: SparkSession, sfDir: String): Array[(Long, String)] = {
    Tables.registerBase(spark, sfDir)
    spark.table("documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
  }

  def loadEmbeddings(spark: SparkSession, sfDir: String): Array[(Long, Array[Float])] = {
    Tables.registerBase(spark, sfDir)
    spark.table("embeddings").select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
  }

  /** The inputs golden builders read for one sf directory, each loaded
    * lazily and at most once. */
  final class Inputs(val spark: SparkSession, sfDir: String) {
    lazy val images: Array[Img] = loadImages(spark, sfDir)
    lazy val docs: Array[(Long, String)] = loadDocs(spark, sfDir)
    /** documents plus the "+1000000 / ' mutato'" mutated twin set used by
      * the near-dup gate queries. */
    lazy val docsWithMutants: Array[(Long, String)] =
      docs ++ docs.map { case (id, t) => (id + 1000000L, t + " mutato") }
    lazy val embeddings: Array[(Long, Array[Float])] = loadEmbeddings(spark, sfDir)
    lazy val events: Array[Ev] = loadEvents(spark, sfDir)
    lazy val orderKeys: Array[Long] = images.map(_.id) // image_id IS o_orderkey
    /** (doc_id, lang, n_chars + 1): the q_sample_reservoir weights. */
    lazy val docWeights: Array[(Long, String, Long)] = {
      Tables.registerBase(spark, sfDir)
      spark.table("documents").select("doc_id", "lang", "n_chars")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2) + 1L))
    }

    /** `rows` as a DataFrame with columns `cols`. */
    def df[T <: Product : TypeTag](rows: Seq[T], cols: String*): DataFrame =
      spark.createDataset(rows)(Encoders.product[T]).toDF(cols: _*)
  }

  /** Writes golden `name`; a build that fails is logged and any stale
    * parquet of that name deleted, so its oracle fails loudly instead of
    * comparing against outdated data. */
  def write(name: String)(df: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    try {
      df.coalesce(1).write.mode("overwrite").parquet(s"$Dir/$name.parquet")
      System.err.println(f"[golden] $name ok (${(System.nanoTime() - t0) / 1e9}%.1f s)")
    } catch {
      case e: Throwable =>
        System.err.println(s"[golden] $name FAILED: $e")
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(s"$Dir/$name.parquet"))
    }
  }

  // =====================================================================
  // per-query goldens
  // =====================================================================

  /** q_ann_lsh — hyperplane-LSH candidate generation + exact cosine refine,
    * recomputed with hash-map buckets (vs the engine's band equi-join). */
  def annLsh(emb: Array[(Long, Array[Float])]): Seq[(Long, Long)] = {
    val bits = 32; val dim = 64; val seed = 42L; val bands = 4; val rows = bits / bands
    val planes = Array.tabulate(bits, dim) { (b, d) =>
      (Hashes.splitmix64(seed + b * 1000003L + d) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    def sketch(v: Array[Float]): Long = {
      var sig = 0L; var b = 0
      while (b < bits) {
        var s = 0.0; var d = 0
        val p = planes(b)
        while (d < p.length && d < v.length) { s += p(d) * v(d); d += 1 }
        if (s >= 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
    def dotNorm(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    def cos(a: Array[Float], b: Array[Float], na: Double, nb: Double): Double = {
      var s = 0.0; var i = 0
      while (i < a.length && i < b.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s / (na * nb)
    }
    val sk = emb.map { case (id, v) => (id, v, sketch(v), dotNorm(v)) }
    val buckets = scala.collection.mutable.HashMap.empty[(Int, Long), List[Int]]
    sk.indices.foreach { i =>
      (0 until bands).foreach { b =>
        val key = (b, (sk(i)._3 >>> (b * rows)) & ((1L << rows) - 1))
        buckets(key) = i :: buckets.getOrElse(key, Nil)
      }
    }
    val pairs = scala.collection.mutable.SortedSet.empty[(Long, Long)]
    buckets.valuesIterator.foreach { members =>
      val m = members.toArray
      for (i <- m.indices; j <- m.indices if i < j) {
        val (a, b) = if (sk(m(i))._1 < sk(m(j))._1) (m(i), m(j)) else (m(j), m(i))
        if (sk(a)._1 != sk(b)._1 &&
            cos(sk(a)._2, sk(b)._2, sk(a)._4, sk(b)._4) >= 0.4)
          pairs += ((sk(a)._1, sk(b)._1))
      }
    }
    pairs.toSeq
  }

  /** q_ann_ivf — IVF probe-pruned top-k recomputed with plain loops: the
    * k-means quantizer is the shared kernel (Similarity.trainCentroids —
    * driver-side deterministic math in both); assignment, probe filtering,
    * the exact cosine, ranking and tie-breaks are independent. */
  def annIvf(emb: Array[(Long, Array[Float])]): Seq[(Long, Long, Int)] = {
    import graft.ops.Similarity
    // same bounded lowest-id training subset as the gate's quantizerSample
    val centroids = Similarity.trainCentroids(
      Similarity.quantizerTrainingSubset(emb), 16, 5)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def norm(v: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(s)
      }
      var s = 0.0; var i = 0
      while (i < a.length && i < b.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s / (norm(a) * norm(b))
    }
    val clusters = emb.map { case (_, v) =>
      Similarity.nearestCentroid(v.map(_.toDouble), centroids)
    }
    emb.filter(_._1 < 5).toSeq.flatMap { case (qid, qv) =>
      val probes = Similarity.probeList(qv.map(_.toDouble), centroids, 4).toSet
      emb.indices
        .filter(i => emb(i)._1 != qid && probes.contains(clusters(i)))
        .map(i => (emb(i)._1, cos(emb(i)._2, qv)))
        // undefined (NaN) similarities are excluded, same contract as
        // the engine's rankTopK (review r03i)
        .filterNot(_._2.isNaN)
        .sortWith { case ((idA, cA), (idB, cB)) =>
          val c = java.lang.Double.compare(cB, cA)
          if (c != 0) c < 0 else idA < idB
        }
        .take(10).zipWithIndex
        .map { case ((id, _), r) => (qid, id, r + 1) }
    }
  }

  /** q_semdedup — SemDeDup within-cluster pairs recomputed with plain
    * loops: quantizer + assignment are the shared kernel (same policy as
    * [[annIvf]]); the pair enumeration, exact cosine and threshold compare
    * are independent (hash-map grouping by cluster vs the engine's
    * equi-join). */
  def semDedup(emb: Array[(Long, Array[Float])], threshold: Double,
               nClusters: Int = 16): Seq[(Long, Long)] = {
    import graft.ops.Similarity
    // same bounded lowest-id training subset as the gate's quantizerSample
    val centroids = Similarity.trainCentroids(
      Similarity.quantizerTrainingSubset(emb), nClusters, 5)
    val byCluster = emb.indices.groupBy { i =>
      Similarity.nearestCentroid(emb(i)._2.map(_.toDouble), centroids)
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def norm(v: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(s)
      }
      val d = norm(a) * norm(b)
      if (d == 0.0) Double.NaN
      else {
        var s = 0.0; var i = 0
        while (i < a.length && i < b.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
        s / d
      }
    }
    (for {
      members <- byCluster.valuesIterator
      i <- members; j <- members
      if emb(i)._1 < emb(j)._1
      if cos(emb(i)._2, emb(j)._2) > threshold
    } yield (emb(i)._1, emb(j)._1)).toSeq.sorted
  }

  /** q_winnow / q_winnow_pairs — winnowing selection recomputed with an
    * independent per-window right-to-left rescan (vs the engine's monotone
    * deque, Hashes.winnow); the char-k-gram FNV hash kernel is shared per
    * the kernel-sharing policy, the SELECTION logic — the algorithm under
    * test — is not. Rightmost minimum: scan right-to-left, strict `<`
    * keeps the latest index among equals. */
  def winnowSelect(grams: Array[Long], w: Int): Seq[(Long, Int)] = {
    if (grams.length < w) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    var last = -1
    var end = w - 1
    while (end < grams.length) {
      var best = end
      var j = end - 1
      while (j > end - w) {
        if (grams(j) < grams(best)) best = j
        j -= 1
      }
      if (best != last) { last = best; out += ((grams(best), best)) }
      end += 1
    }
    out.toSeq
  }

  def winnowG(docs: Array[(Long, String)], k: Int, w: Int): Seq[(Long, Int, Long)] =
    docs.toSeq.flatMap { case (id, text) =>
      winnowSelect(Udfs.shingles(text, k).map(Hashes.fnv1a(_)), w)
        .map { case (fp, pos) => (id, pos, fp) }
    }.sortBy(t => (t._1, t._2))

  /** Pair counting via hash-map postings (fp -> doc list), independent of
    * the engine's explode + equi-join + groupBy. */
  def winnowPairs(docs: Array[(Long, String)], k: Int, w: Int,
                  minShared: Int, maxDocFreq: Int): Seq[(Long, Long, Long)] = {
    val perDoc = docs.map { case (id, text) =>
      id -> winnowSelect(Udfs.shingles(text, k).map(Hashes.fnv1a(_)), w).map(_._1).toSet
    }
    val postings = scala.collection.mutable.HashMap.empty[Long, List[Long]]
    for ((id, fps) <- perDoc; fp <- fps)
      postings(fp) = id :: postings.getOrElse(fp, Nil)
    val shared = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    for ((_, ids) <- postings if ids.lengthCompare(maxDocFreq) <= 0) {
      val sorted = ids.sorted
      for (i <- sorted.indices; j <- (i + 1) until sorted.length) {
        val key = (sorted(i), sorted(j))
        shared(key) = shared.getOrElse(key, 0L) + 1L
      }
    }
    shared.iterator.collect {
      case ((a, b), n) if n >= minShared => (a, b, n)
    }.toSeq.sorted
  }

  /** q_connect — brute-force nearest path over ALL paths (vs the engine's
    * cell-pruned join); also gates the prune's soundness. */
  def connect(images: Array[Img], maxDist: Double): Seq[(Long, String)] =
    images.toSeq.flatMap { im =>
      var bestD = Double.MaxValue; var bestP: String = null
      Synth.paths.foreach { p =>
        val d = graft.ops.Polyline.distanceToPolylineMeters(im.lat, im.lng, p.lats, p.lngs)
        if (d <= maxDist && (d < bestD || (d == bestD && (bestP == null || p.pathId < bestP)))) {
          bestD = d; bestP = p.pathId
        }
      }
      if (bestP == null) None else Some((im.id, bestP))
    }

  /** q_dist_pairs — distance-bounded self-join recomputed as a lat-sorted
    * plane sweep (vs the engine's cell-covering equi-join): sound because
    * great-circle distance is >= the latitude difference in radians times
    * the earth radius, so pairs outside the lat window cannot qualify. The
    * haversine kernel is shared (haversineColumn, per the float policy) and
    * called in (smaller id, larger id) order exactly as the engine's
    * projection after its id_a < id_b filter. */
  def distPairsG(images: Array[Img], latLo: Double, latHi: Double,
                 lngLo: Double, lngHi: Double, r: Double): Seq[(Long, Long, Double)] = {
    val pts = images.filter(p =>
      p.lat >= latLo && p.lat <= latHi && p.lng >= lngLo && p.lng <= lngHi)
      .sortBy(p => (p.lat, p.id))
    val latWin = math.toDegrees(r / Geo.EarthRadiusMeters) * 1.0000001
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var i = 0
    while (i < pts.length) {
      var j = i + 1
      while (j < pts.length && pts(j).lat - pts(i).lat <= latWin) {
        val (a, b) = if (pts(i).id < pts(j).id) (pts(i), pts(j)) else (pts(j), pts(i))
        val d = haversineColumn(a.lat, a.lng, b.lat, b.lng)
        if (d <= r) out += ((a.id, b.id, d))
        j += 1
      }
      i += 1
    }
    out.sortBy(p => (p._1, p._2)).toSeq
  }

  /** q_dist_join — two-table distance join recomputed with the same
    * lat-sorted plane sweep as distPairsG, over the rectangle subset split
    * into disjoint left (id % mod == 0) / right (id % mod != 0) sides; emits
    * DIRECTED (left_id, right_id, dist) rows, matching the engine's
    * withinDistanceJoin output contract. Haversine kernel shared per the
    * float policy; everything else (windowing, side split, pair emission)
    * is an independent recomputation. */
  def distJoinG(images: Array[Img], latLo: Double, latHi: Double,
                lngLo: Double, lngHi: Double, r: Double,
                mod: Long): Seq[(Long, Long, Double)] = {
    val pts = images.filter(p =>
      p.lat >= latLo && p.lat <= latHi && p.lng >= lngLo && p.lng <= lngHi)
      .sortBy(p => (p.lat, p.id))
    val latWin = math.toDegrees(r / Geo.EarthRadiusMeters) * 1.0000001
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    def emit(a: Img, b: Img): Unit =
      if (a.id % mod == 0 && b.id % mod != 0) {
        val d = haversineColumn(a.lat, a.lng, b.lat, b.lng)
        if (d <= r) out += ((a.id, b.id, d))
      }
    var i = 0
    while (i < pts.length) {
      var j = i + 1
      while (j < pts.length && pts(j).lat - pts(i).lat <= latWin) {
        emit(pts(i), pts(j)); emit(pts(j), pts(i))
        j += 1
      }
      i += 1
    }
    out.sortBy(p => (p._1, p._2)).toSeq
  }

  final case class Ev(userId: Long, eventId: Long, sec: Long)

  /** Events with the SAME seconds derivation the gate uses (Spark's
    * timestamp cast in the session's UTC zone — input prep, not algorithm). */
  def loadEvents(spark: SparkSession, sfDir: String): Array[Ev] = {
    Tables.registerBase(spark, sfDir)
    spark.table("events")
      .selectExpr("user_id", "event_id", "CAST(CAST(ts AS TIMESTAMP) AS LONG) AS sec")
      .collect().map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  /** q_staypoints — the published greedy stay-point spec recomputed
    * independently as a RECURSION over (anchor, rest) instead of the
    * engine's in-place two-pointer scan; shares only the great-circle
    * kernel (Geo.haversineMeters — the engine's scan uses the kernel form,
    * float policy) and the Synth.traj* fixture generators. Centroid means
    * sum in the same (sec, event_id) scan order, so floats agree exactly. */
  def stayPointsG(events: Array[Ev], r: Double,
                  minDur: Long): Seq[(Long, Long, Long, Int, Double, Double)] = {
    import graft.core.Geo
    events.groupBy(_.userId).toSeq.sortBy(_._1).flatMap { case (uid, evs) =>
      val pts = evs.map(e =>
        (e.sec, e.eventId, Synth.trajLat(uid, e.eventId, e.sec),
          Synth.trajLng(uid, e.eventId, e.sec))).sortBy(p => (p._1, p._2))
      def go(rest: List[(Long, Long, Double, Double)],
             acc: List[(Long, Long, Long, Int, Double, Double)]): List[(Long, Long, Long, Int, Double, Double)] =
        rest match {
          case Nil => acc.reverse
          case anchor :: _ =>
            val run = rest.takeWhile(p =>
              Geo.haversineMeters(anchor._3, anchor._4, p._3, p._4) <= r)
            if (run.length > 1 && run.last._1 - anchor._1 >= minDur) {
              val n = run.length
              var sl = 0.0; var sg = 0.0
              run.foreach { p => sl += p._3; sg += p._4 }
              go(rest.drop(n),
                (uid, anchor._1, run.last._1, n, sl / n, sg / n) :: acc)
            } else go(rest.tail, acc)
        }
      go(pts.toList, Nil)
    }
  }

  /** q_zonal_area — per-tile rasterized region areas recomputed over an
    * INDEPENDENT candidate set: the shell ring's lat/lng BBOX converted to
    * an exhaustive tile RANGE (vs the engine's S2-covering re-tiling — both
    * are sound supersets of the intersecting tiles, and empty clips drop on
    * area > 0, so the survivors must agree). The clip + spherical-area +
    * tile-bounds kernels are shared (Geo.clipRingToRect / sphericalAreaM2 /
    * Tiles.tileBoundsDeg, float policy). */
  def rasterizeAreaG(zoom: Int): Seq[(String, Int, Long, Long, Double)] = {
    import graft.core.{Geo, Tiles}
    Synth.regions.toSeq.flatMap { reg =>
      val shell = reg.rings(0)
      val (xLo, yLo) = Tiles.tileFromLatLng(shell._1.max, shell._2.min, zoom)
      val (xHi, yHi) = Tiles.tileFromLatLng(shell._1.min, shell._2.max, zoom)
      for {
        x <- xLo to xHi
        y <- yLo to yHi
        area = {
          val (latLo, latHi, lngLo, lngHi) = Tiles.tileBoundsDeg(zoom, x, y)
          reg.rings.zipWithIndex.map { case ((rl, rg), i) =>
            val (cl, cg) = Geo.clipRingToRect(rl, rg, latLo, latHi, lngLo, lngHi)
            val a = if (cl.length >= 3) Geo.sphericalAreaM2(cl, cg) else 0.0
            if (i == 0) a else -a
          }.sum
        }
        if area > 0
      } yield (reg.regionId, zoom, x, y, area)
    }.sortBy(t => (t._1, t._3, t._4))
  }

  /** q_odometer — per-user track stats recomputed as a functional fold over
    * the sorted leg list (vs the engine's imperative single pass); the
    * great-circle kernel is shared (Geo.haversineMeters, float policy) and
    * legs sum in the same (sec, event_id) order, so doubles agree exactly. */
  def trackStatsG(events: Array[Ev]): Seq[(Long, Long, Double, Double, Double)] =
    events.groupBy(_.userId).toSeq.sortBy(_._1).map { case (uid, evs) =>
      import graft.core.Geo
      val pts = evs.map(e => (e.sec, e.eventId,
        Synth.trajLat(uid, e.eventId, e.sec),
        Synth.trajLng(uid, e.eventId, e.sec))).sortBy(p => (p._1, p._2))
      val legs = pts.sliding(2).collect { case Array(a, b) =>
        Geo.haversineMeters(a._3, a._4, b._3, b._4) }.toSeq
      val net = if (pts.length < 2) 0.0
        else Geo.haversineMeters(pts.head._3, pts.head._4, pts.last._3, pts.last._4)
      (uid, pts.length.toLong, legs.foldLeft(0.0)(_ + _),
        legs.foldLeft(0.0)(math.max), net)
    }

  /** q_geofence_trans — geofence transitions recomputed with NO candidate
    * pruning: every point ray-casts against EVERY region (gating the
    * engine's covering-prune soundness, the crossingG pattern), then an
    * explicit per-user sequential scan diffs consecutive membership sets.
    * Shares the exact ray-cast kernel (Geo.containsPlanarRings — the
    * engine's refine, float policy) and the Synth.urbanTraj* fixture
    * kernels; pruning, windowing and set-difference are independent. */
  def geofenceTransG(events: Array[Ev]): Seq[(Long, Long, Long, String, String)] = {
    import graft.core.Geo
    events.groupBy(_.userId).toSeq.sortBy(_._1).flatMap { case (uid, evs) =>
      val pts = evs.map(e => (e.sec, e.eventId,
        Synth.urbanTrajLat(uid, e.eventId, e.sec),
        Synth.urbanTrajLng(uid, e.eventId, e.sec))).sortBy(p => (p._1, p._2))
      var prev = Set.empty[String]
      pts.flatMap { p =>
        val cur = Synth.regions.filter(r =>
          Geo.containsPlanarRings(p._3, p._4, r.rings)).map(_.regionId).toSet
        val out = (cur -- prev).toSeq.sorted.map(rid => (uid, p._2, p._1, rid, "enter")) ++
          (prev -- cur).toSeq.sorted.map(rid => (uid, p._2, p._1, rid, "exit"))
        prev = cur
        out
      }
    }
  }

  /** q_covisit — spatio-temporal co-visit pairs recomputed as the lat-sorted
    * plane sweep (vs the engine's (cell x time-bucket) composite equi-join)
    * with the time filter applied directly — no banding at all, so the
    * bucket construction is independently checked. Haversine kernel shared
    * (haversineColumn, float policy); ts arithmetic is exact integers. */
  def covisitG(images: Array[Img], latLo: Double, latHi: Double,
               lngLo: Double, lngHi: Double, r: Double,
               w: Long): Seq[(Long, Long, Double, Long)] = {
    def ts(id: Long): Long = (id * 40507L) % 86400L
    val pts = images.filter(p =>
      p.lat >= latLo && p.lat <= latHi && p.lng >= lngLo && p.lng <= lngHi)
      .sortBy(p => (p.lat, p.id))
    val latWin = math.toDegrees(r / Geo.EarthRadiusMeters) * 1.0000001
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
    var i = 0
    while (i < pts.length) {
      var j = i + 1
      while (j < pts.length && pts(j).lat - pts(i).lat <= latWin) {
        val (a, b) = if (pts(i).id < pts(j).id) (pts(i), pts(j)) else (pts(j), pts(i))
        val dt = math.abs(ts(a.id) - ts(b.id))
        if (dt <= w) {
          val d = haversineColumn(a.lat, a.lng, b.lat, b.lng)
          if (d <= r) out += ((a.id, b.id, d, dt))
        }
        j += 1
      }
      i += 1
    }
    out.sortBy(p => (p._1, p._2)).toSeq
  }

  /** q_dbscan — DBSCAN recomputed independently: the lat-sorted plane sweep
    * (not the engine's cell-covering join) builds full adjacency lists, core
    * flags come from list sizes, clusters from a driver-side BFS over the
    * core graph relabeled to each component's minimum id, and border points
    * take the min label among their core neighbors. Only the haversine
    * kernel is shared (haversineColumn, per the float policy) — and the
    * output carries no floats at all, so the compare is exact. */
  def dbscanG(images: Array[Img], latLo: Double, latHi: Double,
              lngLo: Double, lngHi: Double, eps: Double,
              minPts: Int): Seq[(Long, Option[Long], String)] = {
    val pts = images.filter(p =>
      p.lat >= latLo && p.lat <= latHi && p.lng >= lngLo && p.lng <= lngHi)
      .sortBy(p => (p.lat, p.id))
    val latWin = math.toDegrees(eps / Geo.EarthRadiusMeters) * 1.0000001
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    def link(a: Long, b: Long): Unit = {
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
    }
    var i = 0
    while (i < pts.length) {
      var j = i + 1
      while (j < pts.length && pts(j).lat - pts(i).lat <= latWin) {
        val (a, b) = if (pts(i).id < pts(j).id) (pts(i), pts(j)) else (pts(j), pts(i))
        if (haversineColumn(a.lat, a.lng, b.lat, b.lng) <= eps) link(a.id, b.id)
        j += 1
      }
      i += 1
    }
    val core = pts.map(_.id).filter(id =>
      adj.get(id).map(_.size).getOrElse(0) + 1 >= minPts).toSet
    // BFS over core-core edges; label = min id of the component
    val label = scala.collection.mutable.Map.empty[Long, Long]
    core.toSeq.sorted.foreach { s =>
      if (!label.contains(s)) {
        val seen = scala.collection.mutable.Set(s)
        val queue = scala.collection.mutable.Queue(s)
        while (queue.nonEmpty) {
          val u = queue.dequeue()
          adj.getOrElse(u, Nil).foreach { v =>
            if (core(v) && !seen(v)) { seen += v; queue += v }
          }
        }
        val m = seen.min
        seen.foreach(v => label(v) = m)
      }
    }
    pts.map { p =>
      if (core(p.id)) (p.id, Some(label(p.id)), "core")
      else {
        val cn = adj.getOrElse(p.id, Nil).filter(core.contains)
        if (cn.nonEmpty) (p.id, Some(cn.map(label).min), "border")
        else (p.id, None, "noise")
      }
    }.sortBy(_._1).toSeq
  }

  /** q_crossing — brute-force path x region-shell crossing matrix over ALL
    * pairs (no prune; the arc-crossing kernel is shared and separately
    * pinned in PolylineSpec) — gates the cell prune's soundness. */
  def crossingG(): Seq[(String, String)] =
    (for {
      p <- Synth.paths.toSeq ++ Synth.spokePaths
      r <- Synth.regions.toSeq
      closedLat = r.rings(0)._1 :+ r.rings(0)._1(0)
      closedLng = r.rings(0)._2 :+ r.rings(0)._2(0)
      if graft.ops.Polyline.polylinesCross(p.lats, p.lngs, closedLat, closedLng)
    } yield (p.pathId, r.regionId)).sorted

  /** q_elevation — brute-force IDW over ALL samples in range, replicating
    * the operator's fixed-point accumulation exactly. */
  def elevation(images: Array[Img], radius: Double): Seq[(Long, Double)] = {
    val samples = images.filter(_.id % 40 == 0)
      .map(im => (im.lat, im.lng, (im.id % 1000).toDouble))
    images.toSeq.flatMap { im =>
      var sumWq = 0L; var sumCq = 0L; var any = false
      samples.foreach { case (sla, slo, h) =>
        val d = haversineColumn(im.lat, im.lng, sla, slo)
        if (d <= radius) {
          any = true
          val w = 1.0 / math.max(d, 1.0)
          sumWq += math.floor(w * (1L << 24).toDouble).toLong
          sumCq += math.floor(w * h * (1L << 20).toDouble).toLong
        }
      }
      if (!any) None
      else Some((im.id,
        (sumCq.toDouble / (1L << 20).toDouble) / (sumWq.toDouble / (1L << 24).toDouble)))
    }
  }

  /** q_fingerprint — independent BigInt reimplementation of the Karp-Rabin
    * polynomial hash (base 257 mod 2^61-1), vs the kernel's mulmod tricks. */
  def fingerprints(docs: Array[(Long, String)]): Seq[(Long, Long)] = {
    val M = BigInt((1L << 61) - 1)
    docs.toSeq.map { case (id, s) =>
      var h = BigInt(0)
      s.foreach { c => h = (h * 257 + c.toLong) % M }
      (id, h.toLong)
    }
  }

  /** q_map_match — HMM Viterbi map matching recomputed independently:
    * brute-force candidates (ALL paths scanned per fix — no cell pruning)
    * and a FUNCTIONAL fold DP carrying full traces (vs the engine's
    * covering equi-join + imperative array DP with backpointers). Kernel
    * sharing (float policy): Polyline.distanceToPolylineMeters and the
    * documented cost op order (min-plus over prev, THEN + emission);
    * candidates iterate in path_id order with strictly-less argmin on both
    * sides, so ties and doubles agree bit-for-bit. */
  def mapMatchG(events: Array[Ev], radiusM: Double, sigmaM: Double,
                switchCost: Double): Seq[(Long, Long, String)] = {
    val paths = Synth.paths
    def emit(d: Double): Double = (d * d) / (2.0 * sigmaM * sigmaM)
    events.groupBy(_.userId).toSeq.sortBy(_._1).flatMap { case (uid, evs) =>
      val steps = evs.toSeq.map { e =>
        val la = Synth.urbanTrajLat(uid, e.eventId, e.sec)
        val lo = Synth.urbanTrajLng(uid, e.eventId, e.sec)
        val cands = paths.toSeq
          .map(p => (p.pathId,
            graft.ops.Polyline.distanceToPolylineMeters(la, lo, p.lats, p.lngs)))
          .filter(_._2 <= radiusM).sortBy(_._1)
        ((e.sec, e.eventId), cands)
      }.filter(_._2.nonEmpty).sortBy(_._1)
      if (steps.isEmpty) Nil
      else {
        val init = steps.head._2.map { case (pid, d) => (pid, emit(d), List(pid)) }
        val fin = steps.tail.foldLeft(init) { (prev, step) =>
          step._2.map { case (pid, d) =>
            val (bc, bt) = prev.foldLeft((Double.MaxValue, List.empty[String])) {
              case ((bc0, bt0), (ppid, pc, ptr)) =>
                val t = pc + (if (ppid == pid) 0.0 else switchCost)
                if (t < bc0) (t, ptr) else (bc0, bt0)
            }
            (pid, bc + emit(d), pid :: bt)
          }
        }
        val best = fin.foldLeft(fin.head)((b, c) => if (c._2 < b._2) c else b)
        steps.map(_._1._2).zip(best._3.reverse)
          .map { case (eid, pid) => (uid, eid, pid) }
      }
    }
  }

  /** q_map_match_routed — routed-transition HMM matching recomputed
    * independently: brute-force candidates over ALL grid segments (no cell
    * pruning), route distances from a REAL binary-heap Dijkstra per node
    * (vs the engine's distributed min-plus flood — the grid's integral edge
    * costs make both sums exact, so the two shortest-path engines must
    * agree to the bit), and a functional trace-carrying fold DP. Kernel
    * sharing (float policy): Polyline.distanceToPolylineMeters,
    * Geo.haversineMeters, and the documented transition op order
    * (gc(a,x) + D + gc(y,b), fixed aa/ab/ba/bb combo scan, strictly-less
    * everywhere, unreachable -> 2*maxRoute). */
  /** All-pairs bounded-radius grid distances by an INDEPENDENT binary-heap
    * Dijkstra per node — shared by the routed-match and routing goldens
    * (the engine's min-plus flood is the thing both gates check; integral
    * edge costs make the two shortest-path engines exactly equal). */
  def gridRouteDistances(maxRouteM: Double): Map[(Long, Long), Double] = {
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
    Synth.gridEdges.foreach { case (s, d, c) =>
      adj.getOrElseUpdate(s, scala.collection.mutable.ArrayBuffer.empty) += ((d, c))
    }
    val nodes = Synth.gridEdges.iterator.flatMap(e => Iterator(e._1, e._2))
      .toSet.toSeq.sorted
    def dijkstra(src: Long): Map[Long, Double] = {
      val dist = scala.collection.mutable.HashMap(src -> 0.0)
      val settled = scala.collection.mutable.HashSet.empty[Long]
      val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), Double](_._1).reverse)
      pq.enqueue((0.0, src))
      while (pq.nonEmpty) {
        val (d, u) = pq.dequeue()
        if (!settled(u) && d <= maxRouteM) {
          settled += u
          adj.getOrElse(u, Nil).foreach { case (v, c) =>
            val nd = d + c
            if (nd <= maxRouteM && nd < dist.getOrElse(v, Double.MaxValue)) {
              dist(v) = nd; pq.enqueue((nd, v))
            }
          }
        }
      }
      dist.toMap
    }
    nodes.flatMap(s => dijkstra(s).map { case (n, d) => ((s, n), d) }).toMap
  }

  /** q_route — point-to-point routing recomputed independently: brute-force
    * nearest-node snap over every grid node (min (dist, id) tuple — the
    * engine's struct-min tiebreak; distance via [[haversineColumn]], the
    * COLUMN-form kernel the engine's snap join refines with — the scalar
    * sin*sin form diverges at the ulp) + the [[gridRouteDistances]]
    * Dijkstra; op order sa + route + sb mirrors the engine's total_m
    * exactly. */
  def routeG(nPairs: Int, snapR: Double, maxRouteM: Double)
      : Seq[(Long, Option[Long], Option[Long], Option[Double], Option[Double],
             Option[Double], Option[Double])] = {
    val nodes = Synth.gridSegs.iterator.flatMap(s => Iterator(
        (s.nodeA, s.lats(0), s.lngs(0)), (s.nodeB, s.lats.last, s.lngs.last)))
      .toSeq.distinct.sortBy(_._1)
    val distMap = gridRouteDistances(maxRouteM)
    (0L until nPairs.toLong).map { i =>
      def snap(side: Int): Option[(Double, Long)] = {
        val la = Synth.routePairLat(i, side); val lo = Synth.routePairLng(i, side)
        val cands = nodes.map(n => (haversineColumn(la, lo, n._2, n._3), n._1))
          .filter(_._1 <= snapR)
        if (cands.isEmpty) None else Some(cands.min)
      }
      (snap(0), snap(1)) match {
        case (Some((sa, na)), Some((sb, nb))) =>
          val r = distMap.get((na, nb))
          (i, Some(na), Some(nb), Some(sa), Some(sb), r, r.map(rm => sa + rm + sb))
        case (sa, sb) =>
          (i, sa.map(_._2), sb.map(_._2), sa.map(_._1), sb.map(_._1),
            Option.empty[Double], Option.empty[Double])
      }
    }
  }

  /** q_route_proj — projected (on-segment) routing: brute-force snap over
    * ALL segments (shared selection kernel distanceToPolylineMeters + the
    * shared projection kernel projectToPolylineFrac, per the kernel
    * policy; enumeration and selection independent), then the split-edge
    * shortest path from first principles: the independent binary-heap
    * Dijkstra node table ([[gridRouteDistances]]) + the exact four-combo +
    * same-segment-direct minimum — provably the shortest path of the
    * node-inserted split graph, computed with the engine's expression
    * shapes so integral edge sums stay bit-exact. */
  def routeProjG(nPairs: Int, snapR: Double, maxRouteM: Double)
      : Seq[(Long, Option[String], Option[String], Option[Double],
             Option[Double], Option[Double], Option[Double], Option[Double],
             Option[Double])] = {
    import graft.ops.Polyline
    val segs = Synth.gridSegs
    val costOf: Map[String, Double] = segs.iterator.map(s =>
      s.pathId -> math.rint(graft.core.Geo.haversineMeters(
        s.lats(0), s.lngs(0), s.lats(1), s.lngs(1)))).toMap
    val distMap = gridRouteDistances(maxRouteM)
    final case class Snap(pid: String, na: Long, nb: Long, c: Double,
                          d: Double, f: Double)
    val pairIds = 0L until nPairs.toLong
    pairIds.map { i =>
      def snap(side: Int): Option[Snap] = {
        val la = Synth.routeProjPairLat(i, side)
        val lo = Synth.routeProjPairLng(i, side)
        val cands = segs.iterator
          .map(s => (Polyline.distanceToPolylineMeters(la, lo, s.lats, s.lngs), s))
          .filter(_._1 <= snapR).toSeq
        if (cands.isEmpty) None
        else {
          val s = cands.minBy(t => (t._1, t._2.pathId))._2
          val (_, _, d, f) = Polyline.projectToPolylineFrac(la, lo, s.lats, s.lngs)
          Some(Snap(s.pathId, s.nodeA, s.nodeB, costOf(s.pathId), d, f))
        }
      }
      (snap(0), snap(1)) match {
        case (Some(a), Some(b)) =>
          var best = Double.NaN
          def consider(v: Double): Unit = if (best.isNaN || v < best) best = v
          for ((xn, xadd) <- Seq((a.na, a.f * a.c), (a.nb, (1.0 - a.f) * a.c));
               (yn, yadd) <- Seq((b.na, b.f * b.c), (b.nb, (1.0 - b.f) * b.c)))
            distMap.get((xn, yn)).foreach(mid => consider(xadd + mid + yadd))
          if (a.pid == b.pid) consider(math.abs(a.f - b.f) * a.c)
          val r = if (best.isNaN) None else Some(best)
          (i, Some(a.pid), Some(b.pid), Some(a.f), Some(b.f), Some(a.d),
            Some(b.d), r, r.map(rm => a.d + rm + b.d))
        case (sa, sb) =>
          (i, sa.map(_.pid), sb.map(_.pid), sa.map(_.f), sb.map(_.f),
            sa.map(_.d), sb.map(_.d), Option.empty[Double], Option.empty[Double])
      }
    }
  }

  def mapMatchRoutedG(events: Array[Ev], radiusM: Double, sigmaM: Double,
                      betaM: Double, maxRouteM: Double): Seq[(Long, Long, String)] = {
    import graft.core.Geo
    val segs = Synth.gridSegs
    val distMap: Map[(Long, Long), Double] = gridRouteDistances(maxRouteM)
    final case class GC(pid: String, d: Double, aId: Long, aLat: Double,
                        aLng: Double, bId: Long, bLat: Double, bLng: Double)
    def emit(d: Double): Double = (d * d) / (2.0 * sigmaM * sigmaM)
    def trans(la: Double, lo: Double, p: GC, lb: Double, lb2: Double, q: GC,
              gc: Double): Double = {
      if (p.pid == q.pid) return 0.0
      var route = Double.PositiveInfinity
      for (xi <- 0 until 2; yi <- 0 until 2) {
        val (xid, xLat, xLng) =
          if (xi == 0) (p.aId, p.aLat, p.aLng) else (p.bId, p.bLat, p.bLng)
        val (yid, yLat, yLng) =
          if (yi == 0) (q.aId, q.aLat, q.aLng) else (q.bId, q.bLat, q.bLng)
        val mid = if (xid == yid) 0.0 else distMap.getOrElse((xid, yid), Double.NaN)
        if (!mid.isNaN) {
          val r = Geo.haversineMeters(la, lo, xLat, xLng) + mid +
            Geo.haversineMeters(yLat, yLng, lb, lb2)
          if (r < route) route = r
        }
      }
      if (route.isInfinity) route = 2.0 * maxRouteM
      math.abs(route - gc) / betaM
    }
    events.filter(_.userId % 3 == 0).groupBy(_.userId).toSeq.sortBy(_._1)
      .flatMap { case (uid, evs) =>
        val steps = evs.toSeq.map { e =>
          val la = Synth.urbanTrajLat(uid, e.eventId, e.sec)
          val lo = Synth.urbanTrajLng(uid, e.eventId, e.sec)
          val cands = segs.toSeq
            .map(p => GC(p.pathId,
              graft.ops.Polyline.distanceToPolylineMeters(la, lo, p.lats, p.lngs),
              p.nodeA, p.lats(0), p.lngs(0), p.nodeB, p.lats.last, p.lngs.last))
            .filter(_.d <= radiusM).sortBy(_.pid)
          ((e.sec, e.eventId), la, lo, cands)
        }.filter(_._4.nonEmpty).sortBy(_._1)
        if (steps.isEmpty) Nil
        else {
          val init = steps.head._4.map(c => (c, emit(c.d), List(c.pid)))
          val fin = steps.tail.zip(steps.init).foldLeft(init) {
            case (prev, ((_, lb, lb2, cs), (_, la, lo, _))) =>
              val gc = Geo.haversineMeters(la, lo, lb, lb2)
              cs.map { c =>
                val (bc, bt) = prev.foldLeft((Double.MaxValue, List.empty[String])) {
                  case ((bc0, bt0), (pc, pcost, ptr)) =>
                    val t = pcost + trans(la, lo, pc, lb, lb2, c, gc)
                    if (t < bc0) (t, ptr) else (bc0, bt0)
                }
                (c, bc + emit(c.d), c.pid :: bt)
              }
          }
          val best = fin.foldLeft(fin.head)((b, c) => if (c._2 < b._2) c else b)
          steps.map(_._1._2).zip(best._3.reverse)
            .map { case (eid, pid) => (uid, eid, pid) }
        }
      }
  }

  /** q_traj_legs — per-leg kinematics recomputed as a functional
    * sliding-pair pass (vs the engine's imperative indexed scan). Kernel
    * sharing (float policy): Geo.haversineMeters / Geo.initialBearingDeg and
    * the same speed-division + exact CASE turn normalization op order. */
  def trajLegsG(events: Array[Ev]): Seq[(Long, Long, Long, Long, Double,
      Option[Double], Double, Option[Double])] = {
    import graft.core.Geo
    events.groupBy(_.userId).toSeq.sortBy(_._1).flatMap { case (uid, evs) =>
      val pts = evs.toSeq.sortBy(e => (e.sec, e.eventId)).map(e =>
        (e.eventId, e.sec, Synth.trajLat(uid, e.eventId, e.sec),
          Synth.trajLng(uid, e.eventId, e.sec)))
      val legs = pts.sliding(2).filter(_.size == 2).toSeq.map { w =>
        val a = w(0); val b = w(1)
        val dist = Geo.haversineMeters(a._3, a._4, b._3, b._4)
        val brg = Geo.initialBearingDeg(a._3, a._4, b._3, b._4)
        val dt = b._2 - a._2
        (b._1, b._2, dt, dist,
          if (dt > 0) Some(dist / dt.toDouble) else None, brg)
      }
      legs.zipWithIndex.map { case ((eid, sec, dt, dist, speed, brg), i) =>
        val turn =
          if (i == 0) None
          else {
            val d = brg - legs(i - 1)._6
            Some(if (d > 180.0) d - 360.0 else if (d <= -180.0) d + 360.0 else d)
          }
        (uid, eid, sec, dt, dist, speed, brg, turn)
      }
    }
  }

  /** q_geohash — independent geohash construction: two separate per-axis
    * halving tracks producing bit lists, interleaved, then mapped through
    * the spec's own base-32 table (vs the kernel's single-pass interleaved
    * accumulator). Midpoints are the same exactly-representable doubles, so
    * the strings agree; the histogram is a hash map. */
  def geohashG(images: Array[Img], precision: Int, prefixLen: Int)
      : Seq[(String, Long)] = {
    val table = "0123456789bcdefghjkmnpqrstuvwxyz"
    def bitsOf(v: Double, lo0: Double, hi0: Double, n: Int): IndexedSeq[Int] = {
      var lo = lo0; var hi = hi0
      (0 until n).map { _ =>
        val mid = (lo + hi) / 2
        if (v >= mid) { lo = mid; 1 } else { hi = mid; 0 }
      }
    }
    def enc(lat: Double, lng: Double): String = {
      val total = precision * 5
      val lngBits = bitsOf(lng, -180.0, 180.0, (total + 1) / 2)
      val latBits = bitsOf(lat, -90.0, 90.0, total / 2)
      val bits = (0 until total).map(i =>
        if (i % 2 == 0) lngBits(i / 2) else latBits(i / 2))
      bits.grouped(5).map(g => table(g.foldLeft(0)((a, b) => a * 2 + b))).mkString
    }
    images.toSeq.map(im => enc(im.lat, im.lng).substring(0, prefixLen))
      .groupBy(identity).toSeq.map { case (gh, v) => (gh, v.size.toLong) }
      .sortBy(_._1)
  }

  /** q_traj_hausdorff — trajectory-pair Hausdorff join recomputed by brute
    * force: ALL user pairs (no cell candidate join), pruned only by the
    * sound first-fix test d(a1,b1) <= D + min(diam_A, diam_B) (H <= D
    * implies both h's <= D, so a1 is within D of B and b1 within diam_B of
    * that point, and symmetrically), with exact per-user diameters. The
    * Hausdorff value is max-of-min SELECTIONS over the shared haversine
    * kernel — order-independent, so the functional loops here agree
    * bit-for-bit with the engine's imperative ones. */
  def trajHausdorffG(events: Array[Ev], maxDistM: Double): Seq[(Long, Long, Double)] = {
    import graft.core.Geo
    val trajs = events.groupBy(_.userId).toSeq.sortBy(_._1).map { case (uid, evs) =>
      val pts = evs.toSeq.sortBy(e => (e.sec, e.eventId)).map(e =>
        (Synth.urbanTrajLat(uid, e.eventId, e.sec),
          Synth.urbanTrajLng(uid, e.eventId, e.sec)))
      (uid, pts)
    }
    def d(p: (Double, Double), q: (Double, Double)): Double =
      Geo.haversineMeters(p._1, p._2, q._1, q._2)
    val diam = trajs.map { case (uid, pts) =>
      uid -> pts.map(p => pts.map(q => d(p, q)).max).max
    }.toMap
    def dh(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double =
      a.map(p => b.map(q => d(p, q)).min).max
    for {
      i <- trajs.indices
      j <- (i + 1) until trajs.size
      (ua, pa) = trajs(i); (ub, pb) = trajs(j)
      if d(pa.head, pb.head) <= maxDistM + math.min(diam(ua), diam(ub))
      h = math.max(dh(pa, pb), dh(pb, pa))
      if h <= maxDistM
    } yield (ua, ub, h)
  }

  /** q_bm25 — BM25 top-k recomputed with driver-side hash maps (vs the
    * engine's explode/groupBy/pivot plan). Kernel-sharing policy: the ln is
    * StrictMath.log (what Spark's `log` evaluates/codegens), all other float
    * ops follow the documented op order of TextOps.bm25TopK exactly, and
    * terms sum in sorted order with absent-term 0.0 — so the doubles agree
    * bit-for-bit while the counting/ranking machinery stays independent. */
  def bm25G(docs: Array[(Long, String)], terms: Seq[String], topK: Int,
            k1: Double = 1.2, b: Double = 0.75): Seq[(Long, Double, Int)] = {
    val ts = terms.sorted
    val toks = docs.map { case (id, t) =>
      (id, t.toLowerCase.split(" ").filter(_.nonEmpty)) }
    val nn = toks.length.toLong
    val sumdl = toks.map(_._2.length.toLong).sum
    val tf = toks.map { case (id, w) =>
      (id, w.length.toLong,
        ts.map(t => t -> w.count(_ == t).toLong).filter(_._2 > 0).toMap) }
    val df = ts.map(t => t -> tf.count(_._3.contains(t)).toLong).toMap
    val scored = tf.filter(_._3.nonEmpty).toSeq.map { case (id, dl, m) =>
      val s = ts.foldLeft(0.0) { (acc, t) =>
        acc + (m.get(t) match {
          case Some(f) =>
            val idf = StrictMath.log(1.0 +
              (nn.toDouble - df(t).toDouble + 0.5) / (df(t).toDouble + 0.5))
            idf * (f.toDouble * (k1 + 1.0)) /
              (f.toDouble + k1 * (1.0 - b +
                b * dl.toDouble / (sumdl.toDouble / nn.toDouble)))
          case None => 0.0
        })
      }
      (id, s)
    }
    scored.sortBy { case (id, s) => (-s, id) }.take(topK).zipWithIndex
      .map { case ((id, s), i) => (id, s, i + 1) }
  }

  /** q_ngram_lm — bigram stupid-backoff LM scoring, recomputed with plain
    * hash-map counts and a sequential per-doc loop (the engine runs groupBy
    * counts + three equi-joins + a fixed-point distributed sum). Kernel
    * sharing policy: the per-position log-probability mirrors the engine's
    * Column formula operation-for-operation — StrictMath.log (what Catalyst
    * codegen emits for `log`), double division of exact integer counts,
    * floor(x * 1e6) quantization — so the LONG fixed-point sums match
    * exactly; everything around it (counting, joins, grouping) is
    * independent. */
  def ngramLmG(docs: Array[(Long, String)]): Seq[(Long, Long, Long, Long, Option[Double])] = {
    def words(t: String): Array[String] = t.split("[ \n\t]").filter(_.nonEmpty)
    val train = docs.filter(_._1 % 2 == 0)
    val c1 = new scala.collection.mutable.HashMap[String, Long]()
    val c12 = new scala.collection.mutable.HashMap[(String, String), Long]()
    var total = 0L
    for ((_, t) <- train) {
      val ws = words(t)
      for (w <- ws) { c1.update(w, c1.getOrElse(w, 0L) + 1L); total += 1L }
      var i = 0
      while (i < ws.length - 1) {
        val k = (ws(i), ws(i + 1))
        c12.update(k, c12.getOrElse(k, 0L) + 1L)
        i += 1
      }
    }
    val tTot = total.toDouble
    docs.toSeq.map { case (id, t) =>
      val ws = words(t)
      var nBi = 0L; var nBack = 0L; var lpSum = 0L
      var i = 0
      while (i < ws.length - 1) {
        val logp = c12.get((ws(i), ws(i + 1))) match {
          case Some(c) =>
            StrictMath.log(c.toDouble / c1(ws(i)).toDouble)
          case None =>
            nBack += 1L
            StrictMath.log(0.4) +
              StrictMath.log(c1.get(ws(i + 1)).map(_.toDouble).getOrElse(0.5) / tTot)
        }
        lpSum += math.floor(logp * 1e6).toLong
        nBi += 1L
        i += 1
      }
      val avg = if (nBi > 0) Some(lpSum.toDouble / 1e6 / nBi.toDouble) else None
      (id, nBi, nBack, lpSum, avg)
    }
  }

  /** q_image_quality — decoded-pixel quality signals: pixels REGENERATED
    * from the generator formula independently of Media.encode/decode (as in
    * mosaicG), then the SHARED quality kernel (Media.qualityOfPixels, the
    * float-kernel policy); keep mirrors the one threshold constant. */
  def imageQualityG(images: Array[Img]): Seq[(Long, Long, Long, Long, Double, Double, Boolean)] = {
    images.toSeq.map { im =>
      val w = if (im.id % 16 == 7) 16 else 8
      val jpeg = im.id % 16 == 0
      val px = new Array[Byte](w * w * 3)
      var i = 0
      while (i < px.length) {
        var v = ((Hashes.splitmix64(im.id * 1315423911L + i) >>> 56) & 0xff).toInt
        if (jpeg) v = v & ~3
        px(i) = v.toByte
        i += 1
      }
      val (n, ls, lq, ent, con) = graft.ops.Media.qualityOfPixels(px)
      (im.id, n, ls, lq, ent, con, ent >= graft.SparkEntry.ImageQualityMinEntropy)
    }
  }

  /** q_tfidf — hashed TF-IDF vectors recomputed with hash-map counts, an
    * independent MessageDigest md5 and a sequential per-doc loop (the
    * engine runs two groupBy counts + stats-attach + array_sort fold).
    * Kernel mirror per the float policy: smooth idf
    * `StrictMath.log((n+1)/(df+1)) + 1`, squared-norm fold in
    * bucket-sorted order, Math.sqrt, one division per weight. */
  def tfidfG(docs: Array[(Long, String)]): Seq[(Long, Long, Double, Option[Int], Option[String], Option[Double])] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(tok: String): String = {
      val d = md.digest(tok.getBytes("UTF-8"))
      f"${d(0) & 0xff}%02x"
    }
    val toks = docs.map { case (id, t) =>
      (id, t.split("[ \n\t]").filter(_.nonEmpty).map(bucket)) }
    val n = docs.length.toLong
    val dfq = new scala.collection.mutable.HashMap[String, Long]()
    for ((_, bs) <- toks; b <- bs.distinct) dfq.update(b, dfq.getOrElse(b, 0L) + 1L)
    toks.toSeq.flatMap { case (id, bs) =>
      if (bs.isEmpty) Seq((id, 0L, 0.0, None, None, None))
      else {
        val ent = bs.groupBy(identity).map { case (b, g) =>
          val w = g.length.toLong.toDouble *
            (StrictMath.log((n + 1L).toDouble / (dfq(b) + 1L).toDouble) + 1.0)
          (b, w)
        }.toSeq.sortBy(_._1)
        val norm = Math.sqrt(ent.foldLeft(0.0) { case (a, (_, w)) => a + w * w })
        ent.zipWithIndex.map { case ((b, w), i) =>
          (id, ent.length.toLong, norm, Some(i), Some(b), Some(w / norm))
        }
      }
    }
  }

  /** q_geojson — expected round-trip shape straight from the region
    * fixtures (fully independent of the GeoJSON writer/parser). */
  def geojson(): Seq[(String, String, Int, Int)] =
    Synth.regions.toSeq.map(r =>
      (r.regionId, "Polygon", r.rings.length, r.rings(0)._1.length))

  /** q_geometry — region scalars via the pure kernels (kernel-shared by
    * necessity; gates the Spark projection plumbing). */
  def geometry(): Seq[(String, Double, Double, Double, Double)] =
    Synth.regions.toSeq.map { r =>
      val (la, lo) = r.rings(0)
      val c = Geo.centroid(la, lo)
      (r.regionId, c._1, c._2, Geo.polylineLengthMeters(la, lo), Geo.sphericalAreaM2(la, lo))
    }

  /** q_hex7_cells — hex assignment per row (kernel) + independent hash-map
    * histogram (vs the engine's groupBy). */
  def hex7Cells(images: Array[Img]): Seq[(Long, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[Long, Long]
    images.foreach { im =>
      val h9 = Hex7.fromLatLngDegrees(im.lat, im.lng, 9)
      val h5 = Hex7.parent(h9, 5)
      counts(h5) = counts.getOrElse(h5, 0L) + 1L
    }
    counts.toSeq.sortBy(_._1)
  }

  /** q_hex_smooth — hex disk smoothing: assignment + kRing via the SHARED
    * Hex7 kernels (documented policy — hex math is the kernel, pinned by
    * Hex7Spec), histogram + convolution recomputed independently as hash
    * maps (vs the engine's groupBy + explode + re-sum plan). */
  def hexSmooth(images: Array[Img], res: Int, k: Int): Seq[(Long, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[Long, Long]
    images.foreach { im =>
      val c = Hex7.fromLatLngDegrees(im.lat, im.lng, res)
      counts(c) = counts.getOrElse(c, 0L) + 1L
    }
    val out = scala.collection.mutable.HashMap.empty[Long, Long]
    counts.foreach { case (c, n) =>
      Hex7.kRing(c, k).foreach { case (c2, d) =>
        out(c2) = out.getOrElse(c2, 0L) + n * (k + 1 - d)
      }
    }
    out.toSeq.sortBy(_._1)
  }

  /** q_hull_area — brute-force containment membership + one hull per region
    * (same strict-hull + spherical-area kernels as HullAreaAgg.finish; the
    * aggregator's bounded-buffer merging is what this gates). */
  def hullArea(images: Array[Img]): Seq[(String, Double)] =
    Synth.regions.toSeq.flatMap { reg =>
      val pts = images.filter { im =>
        var odd = false
        reg.rings.foreach { case (rla, rlo) =>
          if (Geo.containsPlanar(im.lat, im.lng, rla, rlo)) odd = !odd
        }
        odd
      }
      if (pts.isEmpty) None
      else {
        val la = pts.map(_.lat); val lo = pts.map(_.lng)
        val idx = Geo.convexHull(la, lo)
        val area =
          if (idx.length < 3) 0.0
          else Geo.sphericalAreaM2(idx.map(la(_)), idx.map(lo(_)))
        Some((reg.regionId, area))
      }
    }

  /** q_knn_meters — brute-force great-circle kNN per query point (vs the
    * engine's cell-ring expansion + stop rule). */
  def knnMeters(images: Array[Img], k: Int): Seq[(Int, Long, Int)] =
    Synth.knnQueries.toSeq.flatMap { q =>
      images.map(im => (haversineColumn(im.lat, im.lng, q.lat, q.lng), im.id))
        .sortBy(identity).take(k).zipWithIndex
        .map { case ((_, id), i) => (q.queryId, id, i + 1) }
    }

  /** q_knn_batch — brute-force d2 kNN over ALL images for every one of the
    * 10^4 generated query points (vs the engine's fully distributed
    * covering-join expansion). The d2 arithmetic mirrors the engine's Column
    * expression operation-for-operation (dy*dy + dx*dx with dx pre-scaled by
    * cos), so ranks agree bit-for-bit; candidate generation, top-k and
    * tie-breaks are independent (insertion into a bounded array vs window). */
  def knnBatchG(images: Array[Img], n: Int, k: Int): Seq[(Int, Long, Int)] =
    knnBatchG(images, n, k, Synth.batchQueryLat, Synth.batchQueryLng)

  /** Generator-parameterized form: the store-backed gate reuses the same
    * brute force over the REGIONAL query points. */
  def knnBatchG(images: Array[Img], n: Int, k: Int,
                latOf: Long => Double, lngOf: Long => Double): Seq[(Int, Long, Int)] = {
    val lats = images.map(_.lat)
    val lngs = images.map(_.lng)
    val ids = images.map(_.id)
    val out = Seq.newBuilder[(Int, Long, Int)]
    var qi = 0
    while (qi < n) {
      val qla = latOf(qi.toLong)
      val qlo = lngOf(qi.toLong)
      val c = Math.cos(Math.toRadians(qla))
      val bestD = Array.fill(k)(Double.MaxValue)
      val bestI = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < lats.length) {
        val dy = lats(i) - qla
        val dx = (lngs(i) - qlo) * c
        val d2 = dy * dy + dx * dx
        if (d2 < bestD(k - 1) || (d2 == bestD(k - 1) && ids(i) < bestI(k - 1))) {
          var p = k - 1
          while (p > 0 && (d2 < bestD(p - 1) ||
              (d2 == bestD(p - 1) && ids(i) < bestI(p - 1)))) {
            bestD(p) = bestD(p - 1); bestI(p) = bestI(p - 1); p -= 1
          }
          bestD(p) = d2; bestI(p) = ids(i)
        }
        i += 1
      }
      var r = 0
      while (r < k && bestI(r) != Long.MaxValue) {
        out += ((qi, bestI(r), r + 1))
        r += 1
      }
      qi += 1
    }
    out.result()
  }

  /** q_knn_batch_meters — EXACT great-circle kNN for the same 10^4
    * generated query points (haversineColumn mirrors the engine's Column
    * kernel bit-for-bit; candidate generation/top-k independent of the
    * engine's covering join). Exhaustive within a sound latitude band: the
    * great-circle distance is >= R * |dlat|, so once the k-th best is
    * settled, rows whose latitude separation alone exceeds it cannot win —
    * scanning outward from the query latitude over the lat-sorted array
    * visits every row that could possibly enter the top-k (the transcendental
    * per-pair cost dropped the sf0.01 golden from 62 s to under 1 s without
    * changing a single output row). */
  def knnBatchMetersG(images: Array[Img], n: Int, k: Int): Seq[(Int, Long, Int)] = {
    val byLat = images.sortBy(_.lat)
    val lats = byLat.map(_.lat)
    val lngs = byLat.map(_.lng)
    val ids = byLat.map(_.id)
    val m = lats.length
    val out = Seq.newBuilder[(Int, Long, Int)]
    var qi = 0
    while (qi < n) {
      val qla = Synth.batchQueryLat(qi.toLong)
      val qlo = Synth.batchQueryLng(qi.toLong)
      val bestD = Array.fill(k)(Double.MaxValue)
      val bestI = Array.fill(k)(Long.MaxValue)
      def offer(i: Int): Unit = {
        val d = haversineColumn(lats(i), lngs(i), qla, qlo)
        if (d < bestD(k - 1) || (d == bestD(k - 1) && ids(i) < bestI(k - 1))) {
          var p = k - 1
          while (p > 0 && (d < bestD(p - 1) ||
              (d == bestD(p - 1) && ids(i) < bestI(p - 1)))) {
            bestD(p) = bestD(p - 1); bestI(p) = bestI(p - 1); p -= 1
          }
          bestD(p) = d; bestI(p) = ids(i)
        }
      }
      def latLowerBound(i: Int): Double =
        Geo.EarthRadiusMeters * Math.toRadians(Math.abs(lats(i) - qla))
      // binary search the first index with lat >= qla
      var lo = 0; var hi = m
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (lats(mid) < qla) lo = mid + 1 else hi = mid
      }
      var up = lo
      var dn = lo - 1
      var continue = true
      while (continue) {
        val upOk = up < m && (bestD(k - 1) == Double.MaxValue || latLowerBound(up) <= bestD(k - 1))
        val dnOk = dn >= 0 && (bestD(k - 1) == Double.MaxValue || latLowerBound(dn) <= bestD(k - 1))
        if (upOk && (!dnOk || lats(up) - qla <= qla - lats(dn))) { offer(up); up += 1 }
        else if (dnOk) { offer(dn); dn -= 1 }
        else continue = false
      }
      var r = 0
      while (r < k && bestI(r) != Long.MaxValue) {
        out += ((qi, bestI(r), r + 1))
        r += 1
      }
      qi += 1
    }
    out.result()
  }

  /** q_shell_cap — the shell pipeline `find [#status=O] | within-cap
    * 51.5074 -0.1278 5000 | take 20` recomputed as plain filters + sort:
    * the great-circle kernel (Geo.haversineMeters) is shared with the
    * engine's WithinCapMeters expression per the kernel policy; the tag
    * filter, cap threshold, ordering and limit are independent. */
  def shellCapG(images: Array[Img]): Seq[(Long, Double, Double)] =
    images.filter(im => im.status == "O" &&
        Geo.haversineMeters(im.lat, im.lng, 51.5074, -0.1278) <= 5000.0)
      .sortBy(_.id).take(20).toSeq
      .map(im => (im.id, im.lat, im.lng))

  /** q_poly_bool — general polygon booleans over ALL region pairs (no
    * covering prune; the Greiner-Hormann kernel is shared per the kernel
    * policy and pinned by PolyBoolSpec hand vectors + the independent
    * Sutherland-Hodgman convex cross-check) — gates the pairwise candidate
    * join's soundness. */
  def polyBoolG(): Seq[(String, String, Int, Double, Double, Double, Double, Double)] = {
    import graft.core.PolyBool
    // hole-aware (round 4): ALL rings of both sides through the SHARED
    // inclusion-exclusion (PolyBool.areasWithHoles — kernel policy; its own
    // verification is the PolyBoolSpec hand vectors); pair enumeration,
    // ordering and the no-prune sweep stay independent of the engine. The
    // courtyard + degenerate fixtures join the region set exactly as the
    // gate's union.
    val rs = Synth.regions ++ Synth.courtyardRegions ++ Synth.degenRegions
    val out = Seq.newBuilder[(String, String, Int, Double, Double, Double, Double, Double)]
    for (i <- rs.indices; j <- rs.indices if i < j) {
      val a = rs(i).rings.toSeq.map(r => (r._1, r._2))
      val b = rs(j).rings.toSeq.map(r => (r._1, r._2))
      // id order must mirror the engine's id_a < id_b, not index order
      val (x, y, idX, idY) =
        if (rs(i).regionId < rs(j).regionId) (a, b, rs(i).regionId, rs(j).regionId)
        else (b, a, rs(j).regionId, rs(i).regionId)
      val shellInter = PolyBool.intersection(x.head._1, x.head._2, y.head._1, y.head._2)
      if (shellInter.nonEmpty) {
        val (areaA, areaB, inter, uni, diff) = PolyBool.areasWithHoles(x, y)
        if (inter > 0)
          out += ((idX, idY, shellInter.length, areaA, areaB, inter, uni, diff))
      }
    }
    out.result()
  }

  /** q_poly_rings — ring STRUCTURE of the booleans over the rectilinear
    * fixture family, recomputed by a FULLY INDEPENDENT algorithm: the
    * pair's coordinates are compressed into an occupancy grid, each cell
    * midpoint is classified by an independent even-odd ray cast, the op's
    * truth table fills the grid, and rings/holes/area fall out of
    * flood-fill component counting (4-connected foreground, 8-connected
    * background — the duality matching the kernel's sharpest-left-turn ring
    * decomposition) and exact cell-rectangle sums. No kernel code shared. */
  def polyRingsG(): Seq[(String, String, String, Int, Int, Long)] = {
    val rs = Synth.courtyardRegions ++ Synth.degenRegions
    // independent even-odd PIP (standard crossing rule, written here)
    def inRings(y: Double, x: Double,
                rings: Seq[(Array[Double], Array[Double])]): Boolean = {
      var in = false
      rings.foreach { case (lat, lng) =>
        val n = lat.length
        var i = 0; var j = n - 1
        while (i < n) {
          if ((lat(i) > y) != (lat(j) > y) &&
              x < lng(j) + (lng(i) - lng(j)) * (y - lat(j)) / (lat(i) - lat(j)))
            in = !in
          j = i; i += 1
        }
      }
      in
    }
    val out = Seq.newBuilder[(String, String, String, Int, Int, Long)]
    for (i <- rs.indices; j <- rs.indices if i < j) {
      val (x, y, idX, idY) =
        if (rs(i).regionId < rs(j).regionId)
          (rs(i).rings.toSeq, rs(j).rings.toSeq, rs(i).regionId, rs(j).regionId)
        else (rs(j).rings.toSeq, rs(i).rings.toSeq, rs(j).regionId, rs(i).regionId)
      val lats = (x ++ y).flatMap(_._1).distinct.sorted
      val lngs = (x ++ y).flatMap(_._2).distinct.sorted
      val ny = lats.length - 1; val nx = lngs.length - 1
      // occupancy per op over cell midpoints
      def grid(f: (Boolean, Boolean) => Boolean): Array[Array[Boolean]] =
        Array.tabulate(ny, nx) { (yi, xi) =>
          val my = (lats(yi) + lats(yi + 1)) / 2
          val mx = (lngs(xi) + lngs(xi + 1)) / 2
          f(inRings(my, mx, x), inRings(my, mx, y))
        }
      def areaOf(g: Array[Array[Boolean]]): Double = {
        var s = 0.0
        for (yi <- 0 until ny; xi <- 0 until nx) if (g(yi)(xi))
          s += (lats(yi + 1) - lats(yi)) * (lngs(xi + 1) - lngs(xi))
        s
      }
      /** Count components of `value` cells; diag = 8-connectivity.
        * When `fromBorder`, only counts components NOT reachable from the
        * grid border (the hole count). */
      def components(g: Array[Array[Boolean]], value: Boolean,
                     diag: Boolean, excludeBorder: Boolean): Int = {
        val seen = Array.ofDim[Boolean](ny, nx)
        def flood(y0: Int, x0: Int): Unit = {
          var stack = List((y0, x0))
          while (stack.nonEmpty) {
            val (cy, cx) = stack.head
            stack = stack.tail
            if (cy >= 0 && cy < ny && cx >= 0 && cx < nx &&
                !seen(cy)(cx) && g(cy)(cx) == value) {
              seen(cy)(cx) = true
              stack = (cy + 1, cx) :: (cy - 1, cx) :: (cy, cx + 1) ::
                (cy, cx - 1) :: stack
              if (diag)
                stack = (cy + 1, cx + 1) :: (cy + 1, cx - 1) ::
                  (cy - 1, cx + 1) :: (cy - 1, cx - 1) :: stack
            }
          }
        }
        if (excludeBorder) {
          for (yi <- 0 until ny; xi <- 0 until nx)
            if ((yi == 0 || yi == ny - 1 || xi == 0 || xi == nx - 1) &&
                g(yi)(xi) == value && !seen(yi)(xi)) flood(yi, xi)
        }
        var c = 0
        for (yi <- 0 until ny; xi <- 0 until nx)
          if (g(yi)(xi) == value && !seen(yi)(xi)) { c += 1; flood(yi, xi) }
        c
      }
      val gi = grid(_ && _)
      if (areaOf(gi) > 0) {
        Seq("inter" -> gi, "union" -> grid(_ || _),
            "diff" -> grid((a, b) => a && !b)).foreach { case (op, g) =>
          val nOuter = components(g, value = true, diag = false, excludeBorder = false)
          val nHole = components(g, value = false, diag = true, excludeBorder = true)
          out += ((idX, idY, op, nOuter, nHole,
            math.rint(areaOf(g) * 1e9).toLong))
        }
      }
    }
    out.result()
  }

  /** q_snap_edges — per-region snap over ALL paths (no prune; the snap
    * kernel is shared per the kernel policy and pinned by PolylineSpec hand
    * vectors) — gates the cell-prune soundness of the candidate join. */
  def snapEdgesG(): Seq[(String, Int, Int, Long)] = {
    // path_id order — the engine sorts pruned candidates by path_id before
    // the kernel (the kernel keeps the FIRST of dmax-tied candidates, so
    // both sides must agree on iteration order)
    val cands = (Synth.paths ++ Synth.spokePaths).sortBy(_.pathId)
      .map(p => (p.lats, p.lngs))
    Synth.regions.toSeq.map { r =>
      val (la, lo) = r.rings(0)
      val (sla, slo, n) =
        graft.ops.Polyline.snapRingKernel(la, lo, cands, 2000.0, 0.1)
      val checksum = sla.indices.map(i =>
        math.floor(sla(i) * 100000.0).toLong + math.floor(slo(i) * 100000.0).toLong).sum
      (r.regionId, sla.length, n, checksum)
    }
  }

  /** q_media_psnr — encode/decode/PSNR per row via the Media kernels
    * (kernel-shared; gates the Spark payload plumbing + the >=40 dB gate). */
  def mediaPsnr(images: Array[Img]): Seq[(Long, String, Boolean)] = {
    import graft.ops.Media
    images.toSeq.map { im =>
      val (w, h, _, px) = Media.decode(Media.encode(im.id))
      val p = Media.psnr(Media.sourcePixels(im.id, w, h), px)
      (im.id, Media.fmtOf(im.id), p >= 40.0)
    }
  }

  /** q_mosaic — image-overview mosaic pyramid: per-id pixels recomputed
    * DIRECTLY from the documented generator formula
    * (splitmix64(id*1315423911 + i) >>> 56, jpeg rows quantized &~3, size
    * 16 for id%16==7 else 8) — independent of Media.encode/decode — tile
    * assignment via the mercator SQL-text formula (independent of the
    * TileChainExpr packing), roll-up via hash map (independent of the
    * keyed re-sum plan). Integer arithmetic throughout, so bit-exact. */
  def mosaicG(images: Array[Img], zMin: Int, zMax: Int): Seq[(Int, Long, Long, Long, Long, Long, Long)] = {
    val m = scala.collection.mutable.HashMap.empty[(Int, Long, Long), Array[Long]]
    val half = (1L << zMax) / 2
    for (im <- images) {
      val x = math.floor(half + half * math.toRadians(im.lng) / math.Pi).toLong
      val y = math.floor(half - half * math.log(
        math.tan(math.Pi / 4 + math.toRadians(im.lat) / 2)) / math.Pi).toLong
      val w = if (im.id % 16 == 7) 16 else 8
      val jpeg = im.id % 16 == 0
      var r = 0L; var g0 = 0L; var b = 0L
      var i = 0
      val len = w * w * 3
      while (i < len) {
        var v = ((Hashes.splitmix64(im.id * 1315423911L + i) >>> 56) & 0xff).toInt
        if (jpeg) v = v & ~3
        (i % 3) match {
          case 0 => r += v
          case 1 => g0 += v
          case _ => b += v
        }
        i += 1
      }
      var z = zMin
      while (z <= zMax) {
        val s = zMax - z
        val a = m.getOrElseUpdate((z, x >>> s, y >>> s), Array.fill(4)(0L))
        a(0) += 1; a(1) += r; a(2) += g0; a(3) += b
        z += 1
      }
    }
    m.toSeq.map { case ((z, x, y), a) => (z, x, y, a(0), a(1), a(2), a(3)) }
      .sortBy(t => (t._1, t._2, t._3))
  }

  /** q_phash_dct — pixels regenerated from the generator formula
    * (independent of Media.encode/decode, as in mosaicG); the DCT + median
    * threshold reuses Media.phashOfPixels per the float-kernel policy
    * (the kernel's lossy-close/distinct-far properties are pinned in
    * OpsSpec). */
  def phashDct(images: Array[Img]): Seq[(Long, Long)] =
    images.toSeq.map { im =>
      val w = if (im.id % 16 == 7) 16 else 8
      val jpeg = im.id % 16 == 0
      val px = new Array[Byte](w * w * 3)
      var i = 0
      while (i < px.length) {
        val v = ((Hashes.splitmix64(im.id * 1315423911L + i) >>> 56) & 0xff).toInt
        px(i) = (if (jpeg) v & ~3 else v).toByte
        i += 1
      }
      (im.id, graft.ops.Media.phashOfPixels(w, w, px))
    }

  /** q_minhash_lsh — minhash banding via hash-map buckets + exact Jaccard
    * refine, recomputed independently of the band equi-join / re-attach
    * plan. */
  def minhashLsh(docs: Array[(Long, String)]): Seq[(Long, Long, Double)] = {
    import graft.functions.Udfs
    val k = 64; val bands = 16; val rows = k / bands
    val prepped = docs.map { case (id, t) =>
      val sh = Udfs.wordShingleHashes(t, 3)
      (id, Hashes.minhash(sh, k), sh.distinct.sorted)
    }
    val buckets = scala.collection.mutable.HashMap.empty[(Int, Seq[Long]), List[Int]]
    prepped.indices.foreach { i =>
      (0 until bands).foreach { b =>
        val key = (b, prepped(i)._2.slice(b * rows, b * rows + rows).toSeq)
        buckets(key) = i :: buckets.getOrElse(key, Nil)
      }
    }
    def jaccard(a: Array[Long], b: Array[Long]): Double = {
      var i = 0; var j = 0; var inter = 0L
      while (i < a.length && j < b.length) {
        val c = java.lang.Long.compare(a(i), b(j))
        if (c == 0) { inter += 1; i += 1; j += 1 } else if (c < 0) i += 1 else j += 1
      }
      val union = a.length.toLong + b.length - inter
      if (union == 0) 1.0 else inter.toDouble / union
    }
    val out = scala.collection.mutable.SortedMap.empty[(Long, Long), Double]
    buckets.valuesIterator.foreach { members =>
      val m = members.toArray
      for (i <- m.indices; j <- m.indices if i < j) {
        val (a, b) = if (prepped(m(i))._1 < prepped(m(j))._1) (m(i), m(j)) else (m(j), m(i))
        val key = (prepped(a)._1, prepped(b)._1)
        if (prepped(a)._1 != prepped(b)._1 && !out.contains(key)) {
          val jc = jaccard(prepped(a)._3, prepped(b)._3)
          if (jc >= 0.5) out(key) = jc
        }
      }
    }
    out.toSeq.map { case ((a, b), jc) => (a, b, jc) }
  }

  /** q_ngram_jaccard — brute-force ALL-PAIRS exact Jaccard (no prefix
    * filter, no candidate generation at all): the independent oracle for the
    * prefix-filtered plan. Shares the shingle/Jaccard arithmetic kernels per
    * the kernel policy (FIXTURES.md) — what this validates is the
    * distributed candidate generation + joins, exactly the part the prefix
    * filter could get wrong. */
  def ngramJaccard(docs: Array[(Long, String)], threshold: Double): Seq[(Long, Long, Double)] = {
    import graft.functions.Udfs
    val prepped = docs
      .map { case (id, t) => (id, Udfs.wordShingleHashes(t, 3).distinct.sorted) }
      .filter(_._2.nonEmpty)
      .sortBy(_._1)
    def jaccard(a: Array[Long], b: Array[Long]): Double = {
      var i = 0; var j = 0; var inter = 0L
      while (i < a.length && j < b.length) {
        val c = java.lang.Long.compare(a(i), b(j))
        if (c == 0) { inter += 1; i += 1; j += 1 } else if (c < 0) i += 1 else j += 1
      }
      val union = a.length.toLong + b.length - inter
      if (union == 0) 1.0 else inter.toDouble / union
    }
    // sound size prune (EXACT, not a heuristic): |A∩B| <= min(|A|,|B|) and
    // |A∪B| >= max(|A|,|B|), so J <= min/max — a pair whose size ratio is
    // below the threshold cannot qualify and its merge is skipped. Keeps
    // the all-pairs oracle tractable at the 10x verify scale without
    // borrowing any candidate-generation logic from the engine.
    for {
      i <- prepped.indices
      j <- (i + 1) until prepped.length
      la = prepped(i)._2.length
      lb = prepped(j)._2.length
      if math.min(la, lb).toDouble / math.max(la, lb) >= threshold
      jc = jaccard(prepped(i)._2, prepped(j)._2) if jc >= threshold
    } yield (prepped(i)._1, prepped(j)._1, jc)
  }

  /** q_mvt_tiles — tile assignment + id-sorted cap + MVT encoding via the
    * Mvt kernel, with independent hash-map grouping (vs window + groupBy). */
  def mvtTiles(images: Array[Img], zoom: Int, cap: Int): Seq[(Int, Long, Long, Long, Int)] = {
    import graft.sources.Mvt
    val groups = scala.collection.mutable.HashMap.empty[(Long, Long), List[Img]]
    images.foreach { im =>
      val (x, y) = Tiles.tileFromLatLng(im.lat, im.lng, zoom)
      groups((x, y)) = im :: groups.getOrElse((x, y), Nil)
    }
    groups.toSeq.map { case ((x, y), members) =>
      val kept = members.sortBy(_.id).take(cap)
      val feats = kept.map { im =>
        val (px, py) = Mvt.tileLocal(im.lat, im.lng, zoom, x, y)
        Mvt.PointFeature(Mvt.featureId(0L, "graft/image", im.id), px, py)
      }
      val bytes = Mvt.encodePointLayer("images", feats)
      (zoom, x, y, kept.length.toLong, bytes.length)
    }.sortBy(t => (t._2, t._3))
  }

  /** q_reachable — real priority-queue multi-source Dijkstra (vs the
    * engine's Pregel-style frontier loop). Costs are integer-valued doubles,
    * so sums are exact and order-independent. */
  def reachable(orderKeys: Array[Long], origins: Seq[Long], cutoff: Double): Seq[(Long, Double)] = {
    val adj = scala.collection.mutable.HashMap.empty[Long, List[(Long, Double)]]
    def add(s: Long, d: Long, c: Double): Unit = adj(s) = (d, c) :: adj.getOrElse(s, Nil)
    orderKeys.foreach { k =>
      val d = (k % 1000) * 7 + 1
      val c = 1.0 + (k % 13)
      add(k, d, c); add(d, k, c)
    }
    val dist = scala.collection.mutable.HashMap.empty[Long, Double]
    val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), Double](_._1).reverse)
    origins.distinct.foreach { o => dist(o) = 0.0; pq.enqueue((0.0, o)) }
    while (pq.nonEmpty) {
      val (d, n) = pq.dequeue()
      if (d == dist(n)) {
        adj.getOrElse(n, Nil).foreach { case (m, c) =>
          val nd = d + c
          if (nd <= cutoff && nd < dist.getOrElse(m, Double.MaxValue)) {
            dist(m) = nd; pq.enqueue((nd, m))
          }
        }
      }
    }
    dist.toSeq.sortBy(_._1)
  }

  private def graphAdj(orderKeys: Array[Long])
      : scala.collection.mutable.HashMap[Long, List[(Long, Double)]] = {
    val adj = scala.collection.mutable.HashMap.empty[Long, List[(Long, Double)]]
    def add(s: Long, d: Long, c: Double): Unit = adj(s) = (d, c) :: adj.getOrElse(s, Nil)
    orderKeys.foreach { k =>
      val d = (k % 1000) * 7 + 1
      val c = 1.0 + (k % 13)
      add(k, d, c); add(d, k, c)
    }
    adj
  }

  private def dijkstra(adj: scala.collection.mutable.HashMap[Long, List[(Long, Double)]],
                       origins: Seq[Long], cutoff: Double)
      : scala.collection.mutable.HashMap[Long, Double] = {
    val dist = scala.collection.mutable.HashMap.empty[Long, Double]
    val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), Double](_._1).reverse)
    origins.distinct.foreach { o => dist(o) = 0.0; pq.enqueue((0.0, o)) }
    while (pq.nonEmpty) {
      val (d, n) = pq.dequeue()
      if (d == dist(n)) {
        adj.getOrElse(n, Nil).foreach { case (m, c) =>
          val nd = d + c
          if (nd <= cutoff && nd < dist.getOrElse(m, Double.MaxValue)) {
            dist(m) = nd; pq.enqueue((nd, m))
          }
        }
      }
    }
    dist
  }

  /** q_closest — per-origin Dijkstra + argmin over target nodes. */
  def closestG(orderKeys: Array[Long], origins: Seq[Long], cutoff: Double)
      : Seq[(Long, Long, Double)] = {
    val adj = graphAdj(orderKeys)
    origins.flatMap { o =>
      val dist = dijkstra(adj, Seq(o), cutoff)
      val targets = dist.filter { case (n, _) => n % 97 == 0 }
      if (targets.isEmpty) None
      else {
        val (n, d) = targets.minBy { case (n, d) => (d, n) }
        Some((o, n, d))
      }
    }
  }

  /** q_sample_reservoir — weighted reservoir selection recomputed with a
    * plain hash-map-of-lists grouping + full sort (vs the engine's window).
    * Kernel sharing (documented policy): the E-S key formula — md5 13-hex
    * draw, (v+0.5)/2^52, -Math.log(u)/w — mirrors Sampling.uniformDraw /
    * sampleWeighted operation-for-operation (same JVM libm in the Verify
    * process), so keys are bit-identical; grouping, ranking and the k cut
    * are recomputed independently. */
  def sampleReservoirG(rows: Array[(Long, String, Long)], k: Int)
      : Seq[(String, Long, Int)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def esKey(id: Long, w: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 13)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4503599627370496.0
      -Math.log(u) / w.toDouble
    }
    rows.groupBy(_._2).toSeq.flatMap { case (lang, grp) =>
      grp.map { case (id, _, w) => (id, esKey(id, w)) }
        .sortBy { case (id, key) => (key, id) }
        .take(k).zipWithIndex
        .map { case ((id, _), i) => (lang, id, i + 1) }
    }.sortBy(t => (t._1, t._3))
  }

  /** q_isochrone — per-origin Dijkstra, then hull area over the reached
    * nodes that have image coordinates. Kernel sharing (documented policy):
    * the hull/spherical-area kernel is the same pinned Geo kernel as
    * [[hullArea]]; the flood, the coord join and the count are recomputed
    * independently (real priority-queue Dijkstra + hash map). */
  def isochroneG(images: Array[Img], origins: Seq[Long], cutoff: Double)
      : Seq[(Long, Long, Double)] = {
    val adj = graphAdj(images.map(_.id))
    val coord = images.map(im => im.id -> (im.lat, im.lng)).toMap
    origins.distinct.sorted.flatMap { o =>
      val dist = dijkstra(adj, Seq(o), cutoff)
      val pts = dist.keys.toSeq.filter(coord.contains).sorted.map(coord)
      if (pts.isEmpty) None
      else {
        val la = pts.map(_._1).toArray; val lo = pts.map(_._2).toArray
        val idx = Geo.convexHull(la, lo)
        val area =
          if (idx.length < 3) 0.0
          else Geo.sphericalAreaM2(idx.map(la(_)), idx.map(lo(_)))
        Some((o, pts.length.toLong, area))
      }
    }
  }

  /** q_building_access — per-origin Dijkstra + min dist per building. */
  def buildingAccessG(orderKeys: Array[Long], origins: Seq[Long], cutoff: Double)
      : Seq[(Long, Long, Double)] = {
    val adj = graphAdj(orderKeys)
    origins.flatMap { o =>
      val dist = dijkstra(adj, Seq(o), cutoff)
      dist.toSeq.filter(_._1 % 5 == 0)
        .groupBy(_._1 % 500)
        .map { case (b, ns) => (o, b, ns.map(_._2).min) }
    }.sortBy(t => (t._1, t._2))
  }

  /** q_paths_to_reach — Dijkstra, then the same deterministic tree rule as
    * the engine (pred(v) = min src attaining dist(src)+cost == dist(v),
    * computed from FINAL distances), then per-node walk-back counting —
    * the reference's own algorithm shape (graph.go:155-200). */
  def pathsToReachG(orderKeys: Array[Long], origin: Long, cutoff: Double)
      : Seq[(Long, Long, Long)] = {
    val adj = graphAdj(orderKeys)
    val dist = dijkstra(adj, Seq(origin), cutoff)
    val pred = scala.collection.mutable.HashMap.empty[Long, Long]
    dist.keysIterator.filter(_ != origin).foreach { v =>
      var best = Long.MaxValue
      // incoming edges of v = all (u, c) with edge u->v; graph symmetric so
      // scan v's adjacency (u, c) pairs
      adj.getOrElse(v, Nil).foreach { case (u, c) =>
        dist.get(u).foreach { du =>
          if (du + c == dist(v) && u < best) best = u
        }
      }
      if (best != Long.MaxValue) pred(v) = best
    }
    val uses = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    dist.keysIterator.filter(_ != origin).foreach { leaf =>
      var cur = leaf
      var guard = 0
      while (cur != origin && guard < 1000) {
        val p = pred(cur)
        uses((p, cur)) = uses.getOrElse((p, cur), 0L) + 1L
        cur = p
        guard += 1
      }
    }
    uses.toSeq.map { case ((s, d), u) => (s, d, u) }.sortBy(t => (t._1, t._2))
  }

  /** q_typed_take — first 4 FeatureID-ordered features per type, straight
    * from the fixtures (images sorted by id; paths/regions/relations by
    * numeric fid). Gates the unified-world union + Typed window. */
  def typedTakeG(images: Array[Img]): Seq[(Int, String, Long, Int)] = {
    val pts = images.map(_.id).sorted.take(4).zipWithIndex
      .map { case (id, i) => (0, "graft/image", id, i + 1) }
    val paths = (0 until 4).map(i => (1, "graft/path", i.toLong, i + 1))
    val areas = (0 until 4).map(i => (2, "graft/region", i.toLong, i + 1))
    val rels = (0 until 4).map(i => (3, "graft/relation", i.toLong, i + 1))
    pts.toSeq ++ paths ++ areas ++ rels
  }

  /** q_relation_members — the relation fixture expanded independently from
    * the region fixtures; every member must resolve. */
  def relationMembersG(): Seq[(Long, String, Int, String, Long, Boolean)] =
    Synth.regions.toSeq.zipWithIndex.map { case (r, i) =>
      ((i % 5).toLong, r.zone, 2, "graft/region", i.toLong, true)
    }.sortBy(t => (t._1, t._5))

  /** q_clip — per-region inner-half-rect clip via the shared clip/area
    * kernels (pinned by Ops2Spec hand vectors); rect arithmetic recomputed
    * independently. */
  def clipG(): Seq[(String, Int, Double)] =
    Synth.regions.toSeq.map { r =>
      val (la, lo) = r.rings(0)
      val latLo = (la.min * 3.0 + la.max) / 4.0
      val latHi = (la.min + la.max * 3.0) / 4.0
      val lngLo = (lo.min * 3.0 + lo.max) / 4.0
      val lngHi = (lo.min + lo.max * 3.0) / 4.0
      val (cl, cg) = Geo.clipRingToRect(la, lo, latLo, latHi, lngLo, lngHi)
      (r.regionId, cl.length,
        if (cl.length >= 3) Geo.sphericalAreaM2(cl, cg) else 0.0)
    }

  /** q_path_join — expected rejoined paths straight from the fixtures (the
    * query splits each path, reverses the second half, and ordered-joins;
    * the correct result IS the original path — fully independent). */
  def pathJoinG(): Seq[(String, Int, Double, Double, Double, Double)] =
    Synth.paths.toSeq.map(p =>
      (p.pathId, p.lats.length, p.lats(0), p.lngs(0),
        p.lats(p.lats.length - 1), p.lngs(p.lngs.length - 1)))

  /** q_geojson_full — expected parse shapes + inversion flags from the
    * underlying fixture arrays, with an INLINE independent shoelace. */
  def geojsonFullG(): Seq[(String, String, Option[Int], Int, Int, Option[Boolean])] = {
    // cw (not !ccw): matches the engine's `shoelace < 0` exactly, including
    // the degenerate zero-area case (review r02)
    def cw(lats: Array[Double], lngs: Array[Double]): Boolean = {
      var s = 0.0
      var i = 0
      val n = lats.length
      while (i < n) {
        val j = (i + 1) % n
        s += lngs(i) * lats(j) - lngs(j) * lats(i)
        i += 1
      }
      s < 0
    }
    val noIdx = Option.empty[Int]
    val lines = Synth.paths.take(5).toSeq.map(p =>
      (s"line-${p.pathId}", "LineString", noIdx, 1, p.lats.length, Option.empty[Boolean]))
    val mp = ("mp-0", "MultiPoint", noIdx, Synth.hotCenters.length,
      Synth.hotCenters.length, Option.empty[Boolean])
    val mline = ("mline-56", "MultiLineString", noIdx, 2,
      Synth.paths(5).lats.length + Synth.paths(6).lats.length,
      Option.empty[Boolean])
    val r0 = Synth.regions(0).rings(0)
    val polyRev = ("poly-rev", "Polygon", noIdx, 1, r0._1.length,
      Some(cw(r0._1.reverse, r0._2.reverse)))
    val p1 = Synth.regions(1).rings(0); val p2 = Synth.regions(2).rings(0)
    val mpoly = ("mpoly-12", "MultiPolygon", noIdx, 2, p1._1.length + p2._1.length,
      Some(cw(p1._1, p1._2)))
    // GeometryCollection flattens to one row per member (round 4)
    val gcPoint = ("gc-0", "Point", Some(0), 1, 1, Option.empty[Boolean])
    val gcLine = ("gc-0", "LineString", Some(1), 1, Synth.paths(7).lats.length,
      Option.empty[Boolean])
    lines ++ Seq(mp, mline, polyRev, mpoly, gcPoint, gcLine)
  }

  /** q_mvt_paths — line/area tile blobs with independent hash-map grouping
    * and id ordering. Shared kernels: simplify, tile projection, command
    * encoding (pinned by SourcesSpec hand-computed command sequences) AND
    * the supercover tile-assignment traversal (Tiles.tilesOnSegment — the
    * assignment policy is part of the operator's spec, exact w.r.t. the
    * drawn chord, so both sides share it deliberately). */
  def mvtPathsG(): Seq[(String, Int, Long, Long, Long, Int)] = {
    import graft.core.{Geo, Tiles}
    import graft.sources.Mvt
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, Long, Long, Int)]
    // LINESTRING layer at z10
    locally {
      val zoom = 10
      val tol = 360.0 / ((1L << zoom).toDouble * Mvt.Extent)
      val groups = scala.collection.mutable.HashMap.empty[(Long, Long), List[Synth.Path]]
      Synth.paths.foreach { p =>
        val tiles = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
        if (p.lats.length == 1) tiles += Tiles.tileFromLatLng(p.lats(0), p.lngs(0), zoom)
        (1 until p.lats.length).foreach { i =>
          Tiles.tilesOnSegment(p.lats(i - 1), p.lngs(i - 1),
            p.lats(i), p.lngs(i), zoom).foreach(tiles += _)
        }
        tiles.foreach(t => groups(t) = p :: groups.getOrElse(t, Nil))
      }
      groups.toSeq.sortBy(_._1).foreach { case ((x, y), ps) =>
        val sorted = ps.sortBy(_.pathId)
        val feats = sorted.map { p =>
          val keep = Geo.simplify(p.lats, p.lngs, tol)
          val xs = keep.map(k => Mvt.tileLocal(p.lats(k), p.lngs(k), zoom, x, y)._1)
          val ys = keep.map(k => Mvt.tileLocal(p.lats(k), p.lngs(k), zoom, x, y)._2)
          (Mvt.featureId(1L, "graft/path", p.pathId.split("-").last.toLong), 2,
            Mvt.lineGeometry(xs, ys))
        }
        out += (("paths", zoom, x, y, sorted.length.toLong,
          Mvt.encodeGeomLayer("paths", feats).length))
      }
    }
    // POLYGON layer at z6
    locally {
      val zoom = 6
      val tol = 360.0 / ((1L << zoom).toDouble * Mvt.Extent)
      val groups = scala.collection.mutable.HashMap.empty[(Long, Long), List[Synth.Region]]
      Synth.regions.foreach { r =>
        Tiles.coverCellUnionWithTiles(r.cells, zoom, robust = true).foreach {
          case (x, y, _) => groups((x, y)) = r :: groups.getOrElse((x, y), Nil)
        }
      }
      groups.toSeq.sortBy(_._1).foreach { case ((x, y), rs) =>
        val sorted = rs.sortBy(_.regionId)
        val feats = sorted.map { r =>
          val rings = r.rings.toSeq.map { case (la, lo) =>
            val keep = Geo.simplify(la, lo, tol)
            (keep.map(k => Mvt.tileLocal(la(k), lo(k), zoom, x, y)._1),
              keep.map(k => Mvt.tileLocal(la(k), lo(k), zoom, x, y)._2))
          }
          (Mvt.featureId(2L, "graft/region", r.regionId.split("-").last.toLong), 3,
            Mvt.polygonGeometry(rings))
        }
        out += (("areas", zoom, x, y, sorted.length.toLong,
          Mvt.encodeGeomLayer("areas", feats).length))
      }
    }
    out.toSeq
  }

  /** q_s2_covering — fixture coverings + token kernel (gates the explode /
    * token projection plumbing). */
  def s2Covering(): Seq[(String, String)] =
    Synth.regions.toSeq.flatMap(r => r.cells.map(c => (r.regionId, S2.token(c))))
      .sorted

  /** q_sightline — brute-force barrier selection over ALL region segments
    * (vs the engine's covering equi-join prune) + the shared sweep kernel. */
  def sightline(radius: Double): Seq[(Long, Int, Long)] = {
    import graft.ops.{Polyline, Sightline}
    Synth.hotCenters.toSeq.zipWithIndex.map { case ((oLat, oLng), i) =>
      val cosO = math.cos(math.toRadians(oLat))
      def local(lat: Double, lng: Double): (Double, Double) =
        ((lng - oLng) * 111320.0 * cosO, (lat - oLat) * 111320.0)
      val barriers = Synth.regions.flatMap { reg =>
        val (ys, xs) = reg.rings(0)
        ys.indices.flatMap { s =>
          val t = (s + 1) % ys.length
          val d = Polyline.distanceToPolylineMeters(oLat, oLng,
            Array(ys(s), ys(t)), Array(xs(s), xs(t)))
          if (d <= radius) Some((local(ys(s), xs(s)), local(ys(t), xs(t)))) else None
        }
      }
      val poly = Sightline.visibilityPolygon(barriers, radius)
      val checksum = poly.map { case (x, y) =>
        math.floor(math.sqrt(x * x + y * y) * 1000.0).toLong
      }.sum
      (i.toLong, poly.length, checksum)
    }
  }

  /** q_simhash — simhash banding via hash-map buckets + popcount refine. */
  def simhash(docs: Array[(Long, String)]): Seq[(Long, Long, Int)] = {
    import graft.functions.Udfs
    val hashed = docs.map { case (id, t) =>
      (id, Hashes.simhash(Udfs.tokenize(t).map(Hashes.fnv1a)))
    }
    val buckets = scala.collection.mutable.HashMap.empty[(Int, Long), List[Int]]
    hashed.indices.foreach { i =>
      (0 until 4).foreach { b =>
        val key = (b, (hashed(i)._2 >>> (b * 16)) & 0xffffL)
        buckets(key) = i :: buckets.getOrElse(key, Nil)
      }
    }
    val out = scala.collection.mutable.SortedMap.empty[(Long, Long), Int]
    buckets.valuesIterator.foreach { members =>
      val m = members.toArray
      for (i <- m.indices; j <- m.indices if i < j) {
        val (a, b) = if (hashed(m(i))._1 < hashed(m(j))._1) (m(i), m(j)) else (m(j), m(i))
        val key = (hashed(a)._1, hashed(b)._1)
        if (hashed(a)._1 != hashed(b)._1 && !out.contains(key)) {
          val h = java.lang.Long.bitCount(hashed(a)._2 ^ hashed(b)._2)
          if (h <= 6) out(key) = h
        }
      }
    }
    out.toSeq.map { case ((a, b), h) => (a, b, h) }
  }

  /** q_tiles_regions — per-region tile cover via the Tiles kernel (pinned
    * against reference tiles_test.go vectors in CoreSpec); gates the explode
    * plumbing. */
  def tilesRegions(): Seq[(String, Int, Long, Long)] =
    Synth.regions.toSeq.flatMap { r =>
      Tiles.coverCellUnionAcrossZooms(r.cells, 6, 10, robust = true)
        .map { case (x, y, z) => (r.regionId, z, x, y) }
    }
}
