package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The b6 Query algebra and collection combinators as thin Dataset
  * combinators (SURVEY.md §2.2/§2.5/§2.6). Each maps a reference operator to
  * the declarative Spark primitive so Catalyst keeps pushdown/pruning:
  *
  *   tagged/keyed  -> Column predicates          (search.go:79-134)
  *   and/or        -> && / ||                    (search.go:189-275)
  *   within rect   -> range predicates           (spatial.go:16-46 prune)
  *   within cap    -> exact distance predicate   (spatial.go:168-305 refine)
  *   find          -> where                      (api/functions/search.go:11-80)
  *   take          -> orderBy(id).limit          (collections.go:88-119; id
  *                    order pins b6's FeatureID iteration, world.go:157-177)
  *   top           -> orderBy(desc).limit        (collections.go:121-208)
  *   count-values  -> groupBy(value).count       (collections.go:274-297)
  *   sum-by-key    -> groupBy(key).sum           (collections.go:248-272)
  *   percentiles   -> percent_rank window        (math.go:57-103, exact)
  */
object Search {

  /** `[#key=value]` — b6 Tagged query. */
  def tagged(key: String, value: String): Column = col(key) === value

  /** `[#key]` — b6 Keyed query. */
  def keyed(key: String): Column = col(key).isNotNull

  /** Lat/lng rectangle prune (MightIntersect analogue for rects). */
  def withinRect(latLo: Double, latHi: Double, lngLo: Double, lngHi: Double): Column =
    col("lat").between(latLo, latHi) && col("lng").between(lngLo, lngHi)

  /** Exact squared-equirectangular cap predicate (shared arithmetic with the
    * oracle; the engine's haversine cap lives in Udfs.haversineMeters). */
  def withinCapD2(qLat: Double, qLng: Double, cosLat: Double, d2Max: Double): Column = {
    val d2 = (col("lat") - lit(qLat)) * (col("lat") - lit(qLat)) +
      ((col("lng") - lit(qLng)) * lit(cosLat)) * ((col("lng") - lit(qLng)) * lit(cosLat))
    d2 < lit(d2Max)
  }

  def find(df: DataFrame, pred: Column): DataFrame = df.where(pred)

  /** First n in id order — b6 `take` semantics need an explicit total order
    * (SURVEY.md §7.4), never a bare limit. */
  def take(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.orderBy(col(idCol)).limit(n)

  /** Top n by value, id tie-break — TakeOrderedAndProject, no full sort. */
  def top(df: DataFrame, valueCol: String, idCol: String, n: Int): DataFrame =
    df.orderBy(col(valueCol).desc, col(idCol)).limit(n)

  def countValues(df: DataFrame, valueCol: String): DataFrame =
    df.groupBy(valueCol).agg(count(lit(1)).as("n"))

  def sumByKey(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(keyCol).agg(sum(valueCol).as("total"))

  /** Exact percentile of each value (full-sort semantics of math.go:57-103)
    * with NO single-partition stage anywhere (r01 hazard closed):
    *
    *   1. aggregate to distinct values (hash agg, partial+final);
    *   2. range-partition + sort the distinct values, take per-partition
    *      totals (one tiny collect), prefix them on the driver;
    *   3. per-partition cumulative sum seeded with the partition's offset
    *      (mapPartitions — genuinely imperative per-partition logic);
    *   4. join the ranks back on the value.
    *
    * percent_rank(v) = (#rows strictly below v) / (n - 1) — exact long
    * arithmetic until one final double division, so results are identical
    * to the window form and to SQL PERCENT_RANK regardless of partitioning.
    * Scales to continuous high-cardinality columns: the widest stage is a
    * range-partitioned sort of the distinct values. */
  def percentiles(df: DataFrame, valueCol: String): DataFrame = {
    val (frame, release) = percentilesScoped(df, valueCol)
    percentileCaches.register(df.sparkSession, release)
    frame
  }

  /** `percentiles` with a PER-CALL release handle: call `release()` once the
    * returned frame is consumed (collected/written) or discarded, and ONLY
    * this call's determinism-anchor cache is dropped — safe with other
    * threads' still-live percentile frames, which a global release would
    * silently corrupt (review r03e: their offsets were collected against the
    * now-evicted range partitioning). Release is idempotent. */
  def percentilesScoped(df: DataFrame, valueCol: String): (DataFrame, () => Unit) = {
    val spark = df.sparkSession
    val n = df.count()
    // the persisted RDD pins the (sampled, hence per-run) range boundaries
    // so both passes see identical partitions. A per-call RDD, not
    // `cache()`: two calls over one input plan would share one
    // CacheManager entry, and the first call's release would evict the
    // second call's live anchor (as Tracker#snapshot persists per call)
    val counts = df.groupBy(valueCol).agg(count(lit(1)).as("_cnt"))
      .repartitionByRange(col(valueCol))
      .sortWithinPartitions(valueCol)
    val anchor = counts.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one total per partition: at most spark.sql.shuffle.partitions rows
    val totals = anchor.mapPartitionsWithIndex((pid, it) =>
      Iterator.single((pid, it.map(_.getLong(1)).sum))).collect().toMap
    val offsets = Array.tabulate(anchor.getNumPartitions)(identity)
      .scanLeft(0L)((acc, pid) => acc + totals.getOrElse(pid, 0L))
    val schema = counts.schema.add("_cum", org.apache.spark.sql.types.LongType)
    val cumRdd = anchor.mapPartitionsWithIndex { (pid, it) =>
      var acc = offsets(pid)
      it.map { r => acc += r.getLong(1); org.apache.spark.sql.Row.fromSeq(r.toSeq :+ acc) }
    }
    // The anchor stays alive for the returned frame's lifetime BY DESIGN:
    // range-partition boundaries are sampled, so recomputing counts could
    // repartition differently and invalidate the collected offsets; the
    // persisted RDD is the determinism anchor AND stays recomputable on
    // block loss (unlike a checkpoint). It is bounded by the distinct-value
    // count. One-shot callers use the scoped handle (percentilesScoped) or,
    // in single-owner contexts, `releasePercentileCaches()`.
    val pct = spark.createDataFrame(cumRdd, schema)
      .withColumn("pct",
        (col("_cum") - col("_cnt")).cast("double") / lit(math.max(1L, n - 1)).cast("double"))
      .select(col(valueCol).as("_v"), col("pct"))
    val frame = df.join(pct, df(valueCol) === col("_v")).drop("_v")
    // a frame may belong to an already-stopped session (e.g. a previous
    // test suite): Tracker.safeUnpersist then has nothing to do
    val release: () => Unit = () => Tracker.safeUnpersist(anchor)
    (frame, release)
  }

  private val percentileCaches = new SessionRegistry[() => Unit](_.apply())

  /** Release every determinism-anchor cache accumulated by `percentiles`
    * in the ACTIVE session; other sessions' anchors stay. SINGLE-OWNER
    * within the session (the gate driver, a test suite): it must only run
    * when no other thread of the session holds a live un-consumed
    * `percentiles` frame — an evicted anchor's frame RE-executes with fresh
    * range samples against the already-collected offsets (silently wrong
    * ranks). Concurrent callers use `percentilesScoped` and release their
    * own handle instead. */
  def releasePercentileCaches(): Unit = percentileCaches.releaseActive()
}
