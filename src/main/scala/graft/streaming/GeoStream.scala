package graft.streaming

import graft.functions.S2Expressions
import graft.model.Synth
import graft.ops.Containment
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming face of the geospatial core: continuous ingestion of geotagged
  * image rows -> geofence matches / tile manifests, via Structured Streaming.
  *
  * The reference serves its spatial queries over a STATIC world (SURVEY.md
  * §2.9 — the only incremental construct is the overlay world); this module
  * is the engine's forward surface for the north star's ingest side: a
  * continuous feed of (image_id, ts, lat, lng) rows geofenced against the
  * polygon regions and rolled into per-window tile/region manifests.
  *
  * Why this is safe to run streaming UNCHANGED from the batch operators:
  * `Containment.containmentProbe` and the tile-chain assignment are pure
  * map-side plans (scan -> native codegen expression -> generate — zero
  * shuffle, zero state), so they run per-micro-batch in append mode with
  * no watermark at all; correctness is literally the batch operator's,
  * which is oracle-gated (q_containment / q_tiles_points). The windowed
  * counts below add the one genuinely stateful piece (event-time windows +
  * watermark-bounded state), and the SAME function body serves as its own
  * batch oracle: `withWatermark` is a documented no-op under batch
  * execution, so GeoStreamSpec asserts stream == batch on identical rows
  * split across micro-batches.
  *
  * State discipline at design scale: the windowed aggregates keep one state
  * row per (window, region) / (window, z, x, y) — bounded by the watermark
  * delay, NOT by the corpus (the dedupStreaming trade, EventStream.scala).
  * The geofence itself keeps NO state.
  */
object GeoStream {

  /** Per-arrival geofence: emit one row per (image, containing region) with
    * the input columns preserved — the streaming form of the oracle-gated
    * containment probe (map-side, append mode, no watermark needed).
    * Adds `cell16` from (lat, lng) when the feed doesn't carry the
    * write-time cell assignment. */
  def geofence(images: DataFrame, regions: Array[Synth.Region]): DataFrame = {
    val withCell =
      if (images.columns.contains("cell16")) images
      else images.withColumn("cell16",
        graft.functions.S2Expressions.s2Cell16(col("lat"), col("lng")))
    Containment.containmentProbe(withCell, regions)
  }

  /** Windowed per-region arrival counts (geofence occupancy): tumbling
    * event-time windows of `windowDur`, state evicted once the watermark
    * (max event time - `delay`) passes a window's end. Emits in append mode
    * only after eviction — each (window, region) row is final when it
    * appears, the contract a downstream manifest sink wants.
    *
    * Run on a BATCH DataFrame this is its own oracle (watermark no-op).
    *
    * The watermark is taken BEFORE the geofence, on the raw arrival stream:
    * the probe is a filter (most arrivals match no region), and a watermark
    * placed after it would only advance on MATCHING rows — a quiet spell
    * inside the fences would hold every open window hostage to traffic that
    * happens to land in a region. Event time is a property of the feed, not
    * of the matches (GeoStreamSpec pins this with a no-match flusher). */
  def regionWindowCounts(images: DataFrame, regions: Array[Synth.Region],
                         tsCol: String, windowDur: String,
                         delay: String): DataFrame =
    geofence(images.withWatermark(tsCol, delay), regions)
      .groupBy(window(col(tsCol), windowDur), col("region_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("region_id"), col("n"))

  /** Windowed per-tile feature counts: the continuous tile-manifest feed
    * (the reference's serving-path counts, renderer/query.go:34, rolled per
    * event-time window instead of per static world). Tile assignment is the
    * SAME packed-TileID chain expression as the oracle-gated batch manifest
    * (Tiling.pointManifest); the window/watermark shape matches
    * `regionWindowCounts`.
    *
    * No 10k cap here: the batch cap ranks by id WITHIN a finished tile
    * (Tiling.tileCounts), which under streaming would need per-tile top-k
    * state; a serving layer caps at read time instead. */
  def tileWindowCounts(images: DataFrame, zMin: Int, zMax: Int,
                       tsCol: String, windowDur: String,
                       delay: String): DataFrame = {
    val (z, x, y) = S2Expressions.tileXYZ(col("tid"))
    images
      .withColumn("tid", explode(S2Expressions.tileChain(
        col("lat"), col("lng"), zMin, zMax)))
      .withColumns(Map("z" -> z, "x" -> x, "y" -> y))
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur), col("z"), col("x"), col("y"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"),
        col("z"), col("x"), col("y"), col("n"))
  }

  // ---- stateful: streaming geofence ENTER/EXIT transitions ----------------

  final case class FencePing(user_id: Long, event_id: Long,
                             ts: java.sql.Timestamp, lat: Double, lng: Double)
  // public: GroupState encoders generate accessor code that cannot see
  // private members (Janino compile failure observed)
  final case class FenceBuf(ms: Long, event_id: Long,
                            lat: Double, lng: Double)
  final case class FenceState(member: Seq[Int], buf: Seq[FenceBuf])
  final case class FenceTransition(user_id: Long, event_id: Long, sec: Long,
                                   region_id: String, kind: String)

  /** Streaming form of `GeoFence.transitions` (whose batch body is
    * oracle-gated by q_geofence_trans): per-user enter/exit events, correct
    * under OUT-OF-ORDER arrival within the watermark delay. Events buffer in
    * GroupState and are processed — sorted by (ts, event_id), diffed against
    * the retained membership set — only once the watermark passes their
    * event time, so no later arrival can reorder an emitted transition;
    * rows later than the watermark are dropped by Spark upstream (the
    * standard stateful contract). A buffered remainder arms an event-time
    * timeout clamped above the current watermark (the sessionizeStreaming
    * lesson, ADVICE r02), so quiet users still flush when the feed's
    * watermark advances past their buffered rows.
    *
    * Membership uses the SAME exact even-odd ray-cast kernel as the batch
    * probe's refine (Geo.containsPlanarRings), evaluated against every
    * region per event — fence sets are small (the broadcast-index prune is
    * the BULK path's optimization; per-event O(|regions|) is the honest
    * streaming cost). State per user = membership ordinals + the
    * watermark-bounded buffer; membership persists for the user's lifetime
    * (a fence you are inside must be remembered to emit its exit).
    *
    * Callers must set `.withWatermark("ts", delay)` upstream. */
  def transitionsStreaming(pings: org.apache.spark.sql.Dataset[FencePing],
                           regions: Array[Synth.Region]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import pings.sparkSession.implicits._
    def membership(lat: Double, lng: Double): Seq[Int] =
      regions.indices.filter(i =>
        graft.core.Geo.containsPlanarRings(lat, lng, regions(i).rings))
    def fn(uid: Long, evs: Iterator[FencePing],
           state: GroupState[FenceState]): Iterator[FenceTransition] = {
      val st0 = state.getOption.getOrElse(FenceState(Nil, Nil))
      val buf = st0.buf ++ evs.map(e =>
        FenceBuf(e.ts.getTime, e.event_id, e.lat, e.lng))
      val w = state.getCurrentWatermarkMs()
      val (ready, rest) = buf.partition(_.ms < w)
      val out = scala.collection.mutable.ArrayBuffer.empty[FenceTransition]
      var member = st0.member
      ready.sortBy(b => (b.ms, b.event_id)).foreach { b =>
        val cur = membership(b.lat, b.lng)
        (cur.diff(member)).foreach(i => out +=
          FenceTransition(uid, b.event_id, b.ms / 1000, regions(i).regionId, "enter"))
        (member.diff(cur)).foreach(i => out +=
          FenceTransition(uid, b.event_id, b.ms / 1000, regions(i).regionId, "exit"))
        member = cur
      }
      state.update(FenceState(member, rest))
      if (rest.nonEmpty)
        state.setTimeoutTimestamp(math.max(w + 1, rest.map(_.ms).min + 1))
      out.iterator
    }
    pings.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, evs: Iterator[FencePing], state: GroupState[FenceState]) =>
          fn(uid, evs, state))
      .toDF()
  }
}
