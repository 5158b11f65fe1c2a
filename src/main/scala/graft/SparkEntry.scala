package graft

import graft.functions.Udfs
import graft.model.{Synth, Tables}
import graft.ops.{Containment, Dedup, Geometry, Knn, Media, Overlay, Reachability, Search, Similarity, TextOps, Tiling}
import graft.Gate.Sql
import graft.oracle.Golden
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one [[Gate]] per implemented operator (SURVEY.md §2),
  * in the ordered registry [[gates]].
  *
  * Every gate carries its oracle beside its engine query. A SQL oracle
  * shares the gate's arithmetic as exact-IEEE DuckDB SQL (see Synth), so
  * engine and oracle agree bit-for-bit and the driver's hash compare is
  * stable. A gate whose math is not ANSI-SQL expressible (S2 tokens,
  * coverings, hashes, iterative graph work) has a golden oracle instead: an
  * independent driver-side recomputation from `graft.oracle.Golden` that
  * Verify writes as parquet and the oracle SQL reads back.
  */
object SparkEntry {

  /** Flagship: the minimum end-to-end slice (SURVEY.md §7.2) — containment
    * join of geotagged images against polygon regions on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val images = Tables.images(spark, "/root/testdata/sf0.001")
      .select("image_id", "lat", "lng", "cell16")
    Containment.containmentJoin(images, Tables.regions(spark))
      .select("image_id", "region_id")
  }

  private def images(s: SparkSession, dir: String): DataFrame =
    Tables.images(s, dir)

  /** The containment join on its shuffle route (a zero broadcast budget),
    * salted when a covering level is at or below `coarseLevelMax`. */
  private def forcedShuffle(s: SparkSession, dir: String, coarseLevelMax: Int): DataFrame =
    Containment.joinBy(images(s, dir).select("image_id", "lat", "lng", "cell16"),
        Tables.regions(s), broadcastBytesLimit = 0L, coarseLevelMax = coarseLevelMax)
      .select("image_id", "region_id").orderBy("image_id", "region_id")

  /** A store directory under target/ for `dir`, emptied. */
  private def freshStoreDir(s: SparkSession, dir: String, tag: String): String = {
    val store = new java.io.File(
      s"target/${tag}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}").getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
    store
  }

  /** The gate cell store for `dir`, written at most once per Spark
    * application: both store gates (q_store_knn, q_store_knn_batch) share
    * the identical content, and a shared memo also removes the write-write
    * race a parallel gate execution would otherwise have on the directory.
    * The memo is keyed by application id, so a later session in the same
    * JVM writes its own store instead of reusing another session's. */
  private val storesWritten = scala.collection.mutable.Map.empty[(String, String), String]
  private def cellStoreFor(s: SparkSession, dir: String): String = synchronized {
    storesWritten.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      val store = freshStoreDir(s, dir, "cellstore_gate")
      graft.lineage.SnapshotStore.create(s,
        images(s, dir).select("image_id", "lat", "lng", "cell16"), store)
      store
    })
  }

  /** The images CTE prefix shared by every oracle query. */
  private val W = s"WITH images AS (${Synth.imagesSelect})"

  /** Exact cosine top-10 over embeddings in DuckDB's own list functions —
    * ONE text shared by the q_ann_topk oracle and the q_ann_recall
    * oracle's exact side. */
  private val AnnExactTopkSql: String =
    "SELECT query_id, result_id, rank FROM (" +
      "SELECT q.vec_id AS query_id, e.vec_id AS result_id, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
      "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS INT) AS rank " +
      "FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q " +
      "WHERE e.vec_id != q.vec_id " +
      "AND NOT isnan(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))" +
      ") t WHERE rank <= 10"

  /** Snapshot-store upsert fixture shared by q_store_upsert and
    * q_store_timetravel: v1 = images with image_id % 4 == 1; v2 = ONE CoW
    * MERGE commit — updates (% 5 == 0 and not % 7 == 0: status 'U',
    * lat + 0.5, cell16 RECOMPUTED so the row moves buckets), deletes
    * (% 7 == 0), inserts (% 4 == 2 and % 9 == 0). The three id sets are
    * pairwise disjoint by construction; the dir is rebuilt from scratch
    * every call (gates are re-entrant). */
  private def snapshotUpsertFixture(s: SparkSession, dir: String,
                                    tag: String): String = {
    import graft.lineage.SnapshotStore
    val store = freshStoreDir(s, dir, s"snapstore_$tag")
    val imgs = images(s, dir).select("image_id", "status", "lat", "lng", "cell16")
    val base = imgs.where(col("image_id") % 4 === 1)
    SnapshotStore.create(s, base, store)
    val upd = base.where(col("image_id") % 5 === 0 && col("image_id") % 7 =!= 0)
      .withColumn("status", lit("U"))
      .withColumn("lat", col("lat") + 0.5)
      .withColumn("cell16",
        graft.functions.S2Expressions.s2Cell16(col("lat"), col("lng")))
      .withColumn("_deleted", lit(false))
    val del = base.where(col("image_id") % 7 === 0)
      .withColumn("_deleted", lit(true))
    val ins = imgs.where(col("image_id") % 4 === 2 && col("image_id") % 9 === 0)
      .withColumn("_deleted", lit(false))
    SnapshotStore.upsert(s, upd.unionByName(del).unionByName(ins), store)
    store
  }

  /** Leakage-free split fractions (q_split_leakfree) — the oracle CASE is
    * generated from this SAME list via Sampling.splitByGroupHashSql. */
  private val SplitFracs: Seq[(String, Double)] =
    Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))

  /** documents + their "+1000000 / ' mutato'" mutated twins — the shared
    * near-dup fixture corpus (mirrored by Golden.Inputs.docsWithMutants and
    * the oracle SQL's UNION ALL; ONE construction so the five gates that
    * depend on it cannot drift). */
  private def docsWithMutants(s: SparkSession, dir: String): DataFrame = {
    Tables.registerBase(s, dir)
    val docs = s.table("documents").select("doc_id", "text")
    docs.unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" mutato")).as("text")))
  }

  /** The phash+chain near-dup pair graph shared by the component-family
    * gates (q_dedup_components / q_dedup_canonical / q_split_leakfree);
    * mirrored in SQL by `componentClosureCtes`. Returns (sub, pairs). */
  private def componentPairGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    Tables.registerBase(s, dir)
    val sub = s.table("orders")
      .select(col("o_orderkey").as("image_id"))
      .where(expr("CAST(floor(image_id / 8) AS BIGINT) % 40 = 0"))
      .withColumn("ph", expr(graft.model.Synth.phashDupExpr("image_id")))
    val phPairs = Dedup.phashNearDup(sub, "image_id", "ph", maxHamming = 3, bands = 4)
      .select(col("id_a"), col("id_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(expr("CAST(floor(image_id / 2560) AS BIGINT)"))
      .orderBy("image_id")
    val chain = sub
      .select(col("image_id").as("id_a"), lead("image_id", 1).over(w).as("id_b"))
      .where(col("id_b").isNotNull)
    (sub, phPairs.unionByName(chain))
  }

  /** Component labels for the shared fixture, computed at most once per
    * (session, dir): three gates consume the same labeling
    * (q_dedup_components / q_split_leakfree / q_image_canonical), and the
    * iterative star-contraction is the expensive part — the memo removes
    * the 2 redundant re-runs in a full Verify sweep. The returned frame is
    * snapshot-backed (Components' Tracker survivor); if EngineCaches
    * releases it, it recomputes through lineage, unchanged.
    *
    * WEAK on the session (the Tables.registered discipline) so stopped
    * sessions don't pin their plan graphs for the JVM's lifetime. The
    * multi-job contraction runs under the HOLDER's lazy-init monitor, not
    * the map's: concurrent callers on other keys (or cellStoreFor) never
    * wait behind it, while same-key racers share ONE compute — the old
    * getOrElseUpdate race let a losing run materialize, register its
    * Tracker snapshots as survivors, and then be discarded, leaving those
    * cached RDDs pinned with no consumer until the next global release
    * (ADVICE r03). A failed init is not memoized (lazy vals re-evaluate
    * after an exception), matching the old retry-on-next-call behavior. */
  private final class ComponentsHolder(s: SparkSession, dir: String) {
    lazy val df: DataFrame =
      graft.ops.Components.connectedComponents(componentPairGraph(s, dir)._2)
  }
  private val componentsMemo =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, ComponentsHolder]]()
  private def componentsFor(s: SparkSession, dir: String): DataFrame = {
    val perSession = componentsMemo.synchronized {
      var m = componentsMemo.get(s)
      if (m == null) { m = scala.collection.mutable.Map.empty; componentsMemo.put(s, m) }
      m
    }
    perSession.synchronized(
      perSession.getOrElseUpdate(dir, new ComponentsHolder(s, dir))).df
  }

  /** Fixed query terms for the q_bm25 gate — ONE definition, used by both
    * the engine query and the golden recomputation. */
  val Bm25Terms: Seq[String] = Seq("spark", "vector", "window", "customer")

  /** Deterministic rectangular (w, h) metadata for the aspect/crop gates,
    * derived from image_id with exact integer arithmetic — ONE definition
    * for the three Column sites and (via [[SynthDimsSql]]) the three
    * oracle CTEs, so the 48271/69621/1792/256 literals cannot drift. */
  private def withSynthDims(df: DataFrame): DataFrame = df
    .withColumn("w", lit(256L) + (col("image_id") * 48271L) % 1792L)
    .withColumn("h", lit(256L) + (col("image_id") * 69621L) % 1792L)
  private val SynthDimsSql: String =
    "CAST(256 + (image_id * 48271) % 1792 AS BIGINT) AS w, " +
      "CAST(256 + (image_id * 69621) % 1792 AS BIGINT) AS h"

  /** Blocklist for q_blocklist — ONE definition; the oracle's OR-chain is
    * generated from this list. */
  val BlockTerms: Seq[String] = Seq("slow", "hash")

  /** Entropy keep-threshold for q_image_quality — ONE definition for the
    * engine query and the golden recomputation. 8×8 payloads (64 px over
    * 16 bins) straddle this under sampling noise; 16×16 sit above. */
  val ImageQualityMinEntropy: Double = 3.9

  /** Softer screen for the q_image_curation composition: 3.9 rejects nearly
    * every 64-px payload (the fixture population), which would make the
    * downstream stages vacuous; 3.5 keeps most while still dropping a tail,
    * so every stage processes real rows. ONE definition, both engines. */
  val ImageCurationMinEntropy: Double = 3.5

  /** Per-language keep rates for the q_sample_hash gate; the oracle CASE
    * expression is generated from this SAME map via Sampling.thresholdHex,
    * so the threshold literals cannot drift between engines. */
  private val SampleRates = Map(
    "en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.125, "zh" -> 0.125)

  /** Per-language mix weights for q_upsample — integer parts and fractional
    * thresholds are derived from this one map on both engine and oracle
    * sides. */
  private val UpsampleWeights = Map(
    "en" -> 0.5, "de" -> 2.0, "fr" -> 1.5, "es" -> 2.5, "zh" -> 1.0)

  // cap fixture: 5.5 km-ish equirect cap at the London hot center
  private val capLat = 51.5074
  private val capLng = -0.1278
  private val capCos = math.cos(math.toRadians(capLat))
  private val capD2 = 0.0025
  private def capD2Sql: String = {
    val l = Synth.dlit(capLat); val g = Synth.dlit(capLng); val c = Synth.dlit(capCos)
    s"((lat - $l) * (lat - $l) + ((lng - $g) * $c) * ((lng - $g) * $c)) < ${Synth.dlit(capD2)}"
  }

  private lazy val containmentUnion = Synth.regions.map { r =>
    s"SELECT image_id, '${r.regionId}' AS region_id FROM images WHERE ${Synth.rayCastSql(r)}"
  }.mkString(" UNION ALL ")

  private lazy val knnSql = Synth.knnQueries.map { q =>
    s"""SELECT CAST(${q.queryId} AS INT) AS query_id, image_id, rank FROM (
       |SELECT image_id, CAST(ROW_NUMBER() OVER (ORDER BY ${q.d2Sql}, image_id) AS INT) AS rank FROM images) t
       |WHERE rank <= 10""".stripMargin
  }.mkString(" UNION ALL ")

  private lazy val tileZooms = (8 to 12).map { z =>
    val div = 1L << (12 - z)
    s"""SELECT image_id, CAST($z AS INT) AS z,
       |CAST(FLOOR(x12 / CAST($div AS DOUBLE)) AS BIGINT) AS x,
       |CAST(FLOOR(y12 / CAST($div AS DOUBLE)) AS BIGINT) AS y FROM base""".stripMargin
  }.mkString(" UNION ALL ")
  // q_render_rules: zooms 10..12 from the SAME z12 mercator base text
  private lazy val renderZooms = (10 to 12).map { z =>
    val div = 1L << (12 - z)
    s"""SELECT image_id, CAST($z AS INT) AS z,
       |CAST(FLOOR(x12 / CAST($div AS DOUBLE)) AS BIGINT) AS x,
       |CAST(FLOOR(y12 / CAST($div AS DOUBLE)) AS BIGINT) AS y FROM base""".stripMargin
  }.mkString(" UNION ALL ")

  // same mercator base text as q_tiles_points; roll-up = integer >>
  // halving (exact — Mercator parents are pure coordinate halving);
  // CAST around DuckDB's HUGEINT SUM
  private lazy val pyramidSql =
    s"$W, base AS (SELECT " +
      "CAST(FLOOR(2048 + 2048 * RADIANS(lng) / PI()) AS BIGINT) AS x12, " +
      "CAST(FLOOR(2048 - 2048 * LN(TAN(PI() / 4 + RADIANS(lat) / 2)) / PI()) AS BIGINT) AS y12 FROM images), " +
      "b AS (SELECT x12 AS x, y12 AS y, COUNT(*) AS n_features FROM base GROUP BY 1, 2) " +
      "SELECT * FROM (" +
      (8 to 12).map { z =>
        val s2 = 12 - z
        if (s2 == 0) s"SELECT CAST($z AS INT) AS z, x, y, n_features FROM b"
        else s"SELECT CAST($z AS INT) AS z, x >> $s2 AS x, y >> $s2 AS y, " +
          s"CAST(SUM(n_features) AS BIGINT) AS n_features FROM b GROUP BY 2, 3"
      }.mkString(" UNION ALL ") +
      ") u ORDER BY z, x, y"

  // transitive closure over the phash+chain pair graph — shared by the
  // component-labeling and the cluster-canonical-survivor oracles (same
  // fixture, two different result shapes over the same `reach` relation)
  private lazy val componentClosureCtes =
    ("WITH RECURSIVE " +
      s"sub AS (SELECT o_orderkey AS image_id, ${graft.model.Synth.phashDupExpr("o_orderkey")} AS ph " +
      "FROM orders WHERE CAST(floor(o_orderkey / 8) AS BIGINT) % 40 = 0), " +
      "p AS (" +
      "SELECT a.image_id AS id_a, b.image_id AS id_b FROM sub a JOIN sub b " +
      "ON a.image_id < b.image_id AND bit_count(xor(a.ph, b.ph)) <= 3 " +
      "UNION " +
      "SELECT id_a, id_b FROM (SELECT image_id AS id_a, " +
      "LEAD(image_id) OVER (PARTITION BY CAST(floor(image_id / 2560) AS BIGINT) ORDER BY image_id) AS id_b " +
      "FROM sub) WHERE id_b IS NOT NULL), " +
      "e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p), " +
      "reach(id, r) AS (" +
      "SELECT DISTINCT u, u FROM e " +
      "UNION " +
      "SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u)")

  /** Every correctness gate, in declaration order; names are unique. */
  lazy val gates: Seq[Gate] = Gate.registry(
    // --- §2.6 take: b6 FeatureID-ordered limit; carries `caption` so the
    //     oracle hash also gates the input-hint caption byte-equality ---
    Gate("q_take", (s, dir) =>
      Search.take(images(s, dir).select("image_id", "caption", "lat", "lng"), "image_id", 10),
      Sql(s"$W SELECT image_id, caption, lat, lng FROM images ORDER BY image_id LIMIT 10")),

    // --- §2.2 find + tagged + rect prune ---
    Gate("q_find_tagged", (s, dir) =>
      Search.find(images(s, dir),
          Search.tagged("status", "O") && Search.withinRect(40.70, 40.72, -74.02, -73.99))
        .select("image_id").orderBy("image_id"),
      Sql(s"$W SELECT image_id FROM images WHERE status = 'O' " +
        "AND lat BETWEEN CAST(40.70 AS DOUBLE) AND CAST(40.72 AS DOUBLE) " +
        "AND lng BETWEEN CAST(-74.02 AS DOUBLE) AND CAST(-73.99 AS DOUBLE) ORDER BY image_id")),

    // --- §2.2 intersecting-cap + tag (camden-style benchmark query,
    //     ingest/compact/world_test.go:130-133) ---
    Gate("q_cap_count", (s, dir) =>
      images(s, dir)
        .where(Search.tagged("status", "F") &&
          Search.withinCapD2(capLat, capLng, capCos, capD2))
        .agg(count(lit(1)).as("n")),
      Sql(s"$W SELECT COUNT(*) AS n FROM images WHERE status = 'F' AND $capD2Sql")),

    // --- §2.3/§2.5 tags as MAP + count-tag-value histogram
    //     (b6 dynamic-tag model: all-tags -> (key,value) -> count) ---
    Gate("q_tag_histogram", (s, dir) =>
      images(s, dir)
        .withColumn("tags", map(lit("status"), col("status"),
          lit("priority"), col("priority")))
        .select(explode(map_entries(col("tags"))).as("t"))
        .groupBy(col("t.key").as("tag_key"), col("t.value").as("tag_value"))
        .agg(count(lit(1)).as("n"))
        .orderBy("tag_key", "tag_value"),
      Sql(s"$W, kv AS (SELECT 'status' AS tag_key, status AS tag_value FROM images " +
        "UNION ALL SELECT 'priority' AS tag_key, priority AS tag_value FROM images) " +
        "SELECT tag_key, tag_value, COUNT(*) AS n FROM kv " +
        "GROUP BY tag_key, tag_value ORDER BY tag_key, tag_value")),

    // --- §2.5 count-values ---
    Gate("q_count_values", (s, dir) =>
      Search.countValues(images(s, dir), "priority").orderBy("priority"),
      Sql(s"$W SELECT priority, COUNT(*) AS n FROM images GROUP BY priority ORDER BY priority")),

    // --- §2.5 sum-by-key ---
    Gate("q_sum_by_key", (s, dir) => {
      Tables.registerBase(s, dir)
      Search.sumByKey(s.table("documents"), "source", "n_chars").orderBy("source")
    },
      Sql("SELECT source, CAST(SUM(n_chars) AS BIGINT) AS total FROM documents GROUP BY source ORDER BY source")),

    // --- §2.5/2.6 top n (bounded heap -> TakeOrderedAndProject) ---
    Gate("q_top", (s, dir) =>
      Search.top(images(s, dir).select("image_id", "price"), "price", "image_id", 15),
      Sql(s"$W SELECT image_id, price FROM images ORDER BY price DESC, image_id LIMIT 15")),

    // --- §2.5 percentiles (exact, math.go:57-103) ---
    Gate("q_percentiles", (s, dir) => {
      Tables.registerBase(s, dir)
      Search.percentiles(s.table("documents").select("doc_id", "n_chars"), "n_chars")
        .orderBy("doc_id")
    },
      Sql("SELECT doc_id, n_chars, PERCENT_RANK() OVER (ORDER BY n_chars) AS pct " +
        "FROM documents ORDER BY doc_id")),

    // --- §2.4 point-in-polygon containment join (the canonical join) ---
    Gate("q_containment", (s, dir) =>
      Containment.containmentJoin(
          images(s, dir).select("image_id", "lat", "lng", "cell16"),
          Tables.regions(s))
        .select("image_id", "region_id").orderBy("image_id", "region_id"),
      Sql(s"$W SELECT * FROM ($containmentUnion) u ORDER BY image_id, region_id")),

    // --- same join pruned by the H3 hex index (north rule "H3/S2"):
    //     identical exact refine, so it shares q_containment's oracle ---
    Gate("q_hex7_containment", (s, dir) =>
      Containment.containmentProbeHex7(
          images(s, dir).select("image_id", "lat", "lng", "cell16"),
          Synth.regions)
        .select("image_id", "region_id").orderBy("image_id", "region_id"),
      Sql(s"$W SELECT * FROM ($containmentUnion) u ORDER BY image_id, region_id")),

    // --- same join, forced salted shuffle route (north-rule skew path):
    //     no budget, and every covering level counts as coarse ---
    Gate("q_containment_salted", (s, dir) =>
      forcedShuffle(s, dir, coarseLevelMax = graft.core.S2.MaxLevel),
      Sql(s"$W SELECT * FROM ($containmentUnion) u ORDER BY image_id, region_id")),

    // --- same join, forced unsalted shuffle-hash route: no budget, and no
    //     covering level counts as coarse. Routes are result-independent,
    //     so it shares the oracle ---
    Gate("q_containment_auto", (s, dir) =>
      forcedShuffle(s, dir, coarseLevelMax = -1),
      Sql(s"$W SELECT * FROM ($containmentUnion) u ORDER BY image_id, region_id")),

    // --- §2.4 kNN via S2 cell-ring expansion ---
    Gate("q_knn", (s, dir) =>
      Knn.knn(s, images(s, dir), Synth.knnQueries.toSeq, k = 10),
      Sql(s"$W SELECT * FROM ($knnSql) u ORDER BY query_id, rank")),

    // --- kNN, great-circle metric (production variant; rows-only) ---
    Gate("q_knn_meters", (s, dir) =>
      Knn.knnHaversine(s, images(s, dir), Synth.knnQueries.toSeq, k = 10)
        .select("query_id", "image_id", "rank"),
      Gate.Golden("query_id, rank", in =>
        in.df(Golden.knnMeters(in.images, 10), "query_id", "image_id", "rank"))),

    // --- §2.4 kNN with a DISTRIBUTED query side: 10^4 query points as a
    //     DataFrame (no driver-resident query state; VERDICT r02 #1) ---
    Gate("q_knn_batch", (s, dir) =>
      Knn.knnBatch(s, images(s, dir), Synth.batchQueryDf(s, 10000),
        k = 3, initialRadiusDeg = 0), // auto radius
      Gate.Golden("query_id, rank", in =>
        in.df(Golden.knnBatchG(in.images, 10000, 3), "query_id", "image_id", "rank"))),

    // --- same distributed batch under the production great-circle metric ---
    Gate("q_knn_batch_meters", (s, dir) =>
      Knn.knnBatchHaversine(s, images(s, dir), Synth.batchQueryDf(s, 10000),
        k = 3, initialRadiusMeters = 0), // auto radius
      Gate.Golden("query_id, rank", in =>
        in.df(Golden.knnBatchMetersG(in.images, 10000, 3), "query_id", "image_id", "rank"))),

    // --- §1.4/§2.1 compact-index sink + pruned kNN read (VERDICT r02 #5):
    //     write the cell-bucketed store, prove the range read touches
    //     STRICTLY fewer buckets than the store holds, then answer the same
    //     kNN queries THROUGH the store — same oracle as q_knn ---
    Gate("q_store_knn", (s, dir) => {
      import graft.core.{Geo, S2}
      import graft.lineage.SnapshotStore
      val store = cellStoreFor(s, dir)
      val head = SnapshotStore.headManifest(s, store)
      val nBuckets = head.stats.size
      val ranges = Synth.knnQueries.toSeq.flatMap { q =>
        S2.covering(S2.Cap(Geo.toXYZ(q.lat, q.lng), math.toRadians(2.0)),
            maxCells = 12, maxLevel = 16)
          .map(c => (S2.rangeMin(c), S2.rangeMax(c))).toSeq
      }
      val read = SnapshotStore.readRanges(s, store, head.version, ranges)._2
      require(read < nBuckets,
        s"cell-store prune ineffective: read $read of $nBuckets buckets")
      Knn.knnFromStore(s, store, Synth.knnQueries.toSeq, k = 10)
    },
      // identical semantics through the bucket-pruned store read
      Sql(s"$W SELECT * FROM ($knnSql) u ORDER BY query_id, rank")),

    // --- §1.4 store-backed DISTRIBUTED batch kNN: a REGIONAL 2000-query
    //     batch answered THROUGH the cell store — every round's probe must
    //     read strictly fewer buckets than the store holds (telemetry
    //     asserted below), and the result matches the brute-force golden ---
    Gate("q_store_knn_batch", (s, dir) => {
      val store = cellStoreFor(s, dir)
      val nBuckets = graft.lineage.SnapshotStore.headManifest(s, store).stats.size
      val reads = scala.collection.mutable.Buffer.empty[Int]
      Knn.storeReadTelemetry.set(reads)
      val out =
        try Knn.knnBatchFromStore(s, store, Synth.regionalBatchQueryDf(s, 2000),
          k = 5, initialRadiusDeg = 2.0)
        finally Knn.storeReadTelemetry.remove()
      // assert on ROUND 1 — always regional, hence pruned; a later
      // full-sphere escalation round legitimately reads every bucket, so
      // reads.max would fail spuriously on a sparse region (review r03c)
      require(reads.nonEmpty && reads.head < nBuckets,
        s"store-batch prune ineffective: rounds read ${reads.mkString(",")} " +
          s"of $nBuckets buckets")
      out
    },
      Gate.Golden("query_id, rank", in =>
        in.df(Golden.knnBatchG(in.images, 2000, 5, Synth.regionalQueryLat, Synth.regionalQueryLng),
          "query_id", "image_id", "rank"))),

    // --- §1.4 store MAINTENANCE: ingest-append (monoid stats merge, no
    //     store re-read) + small-file compaction (Iceberg
    //     rewrite_data_files analogue: HEAD rewritten into cell-sorted
    //     files, validated against HEAD's stats before it commits). The gate builds
    //     the store as create + 2 appends, compacts (telemetry must show debt
    //     paid), then answers the SAME pruned kNN as q_store_knn — the
    //     oracle proves append+compact preserved content exactly ---
    Gate("q_store_compact", (s, dir) => {
      import graft.lineage.SnapshotStore
      val store = freshStoreDir(s, dir, "cellstore_compact")
      val imgs = images(s, dir).select("image_id", "lat", "lng", "cell16")
      SnapshotStore.create(s, imgs.where(col("image_id") % 3 === 0), store)
      SnapshotStore.append(s, imgs.where(col("image_id") % 3 === 1), store)
      SnapshotStore.append(s, imgs.where(col("image_id") % 3 === 2), store)
      val sm = SnapshotStore.compact(s, store).agg(
        sum("files_before").as("fb"), sum("files_after").as("fa")).collect().head
      require(sm.getLong(1) < sm.getLong(0),
        s"compact gate: no small-file debt paid (before=${sm.getLong(0)} after=${sm.getLong(1)})")
      Knn.knnFromStore(s, store, Synth.knnQueries.toSeq, k = 10)
    },
      // and through write + 2 appends + compaction: content preservation
      // proves the monoid stats merge AND the rewrite row-for-row
      Sql(s"$W SELECT * FROM ($knnSql) u ORDER BY query_id, rank")),

    // --- Iceberg-role SNAPSHOT store (round 4): copy-on-write MERGE —
    //     create v1, ONE upsert commit mixing updates that MOVE the row to
    //     a new cell (lat + 0.5 re-geotag), deletes, and inserts; read HEAD.
    //     Oracle = the merge semantics recomputed in pure SQL. ---
    Gate("q_store_upsert", (s, dir) => {
      val store = snapshotUpsertFixture(s, dir, "upsert")
      graft.lineage.SnapshotStore.read(s, store)
        .select(col("image_id"), col("status"), col("lat"))
        .orderBy("image_id")
    },
      // CoW MERGE semantics recomputed in pure SQL: kept = base minus every
      // delta id; updates replace (lat + 0.5, status 'U'); inserts append
      Sql(s"$W, base AS (SELECT image_id, status, lat FROM images WHERE image_id % 4 = 1), " +
        "kept AS (SELECT image_id, status, lat FROM base " +
        "WHERE NOT (image_id % 7 = 0) AND NOT (image_id % 5 = 0 AND image_id % 7 <> 0)), " +
        "upd AS (SELECT image_id, 'U' AS status, lat + 0.5 AS lat FROM base " +
        "WHERE image_id % 5 = 0 AND image_id % 7 <> 0), " +
        "ins AS (SELECT image_id, status, lat FROM images WHERE image_id % 4 = 2 AND image_id % 9 = 0) " +
        "SELECT * FROM kept UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins " +
        "ORDER BY image_id")),

    // --- Iceberg-role TIME TRAVEL: after the SAME upsert commit, reading
    //     snapshot v1 must return the ORIGINAL base exactly — immutable
    //     files + manifest-pinned reads (the north rule's resume-from-
    //     committed-snapshot read contract). Oracle = the base SQL. ---
    Gate("q_store_timetravel", (s, dir) => {
      val store = snapshotUpsertFixture(s, dir, "tt")
      graft.lineage.SnapshotStore.readVersion(s, store, 1)
        .select(col("image_id"), col("status"), col("lat"))
        .orderBy("image_id")
    },
      // time travel: v1 must read back as the untouched base
      Sql(s"$W SELECT image_id, status, lat FROM images WHERE image_id % 4 = 1 " +
        "ORDER BY image_id")),

    // --- point-to-point network ROUTING (the reference's routing surface,
    //     set-at-a-time): 60 deterministic request pairs near the grid —
    //     snap via the gated distance-join kernel, route via ONE
    //     multi-origin flood; unsnappable endpoints keep null rows. Golden
    //     = brute-force snap + independent binary-heap Dijkstra. ---
    Gate("q_route", (s, _) => {
      import s.implicits._
      val pairs = (0L until 60L).map(i => (i,
          graft.model.Synth.routePairLat(i, 0), graft.model.Synth.routePairLng(i, 0),
          graft.model.Synth.routePairLat(i, 1), graft.model.Synth.routePairLng(i, 1)))
        .toDF("route_id", "a_lat", "a_lng", "b_lat", "b_lng")
      graft.ops.Routing.routeDistance(s, pairs, Tables.gridSegments(s),
          Tables.gridEdges(s), snapRadiusMeters = 300.0, maxRouteMeters = 12000.0)
        .orderBy("route_id")
    },
      Gate.Golden("route_id", in =>
        in.df(Golden.routeG(60, 300.0, 12000.0),
          "route_id", "node_a", "node_b", "snap_a_m", "snap_b_m", "route_m", "total_m"))),

    // --- §2.4 PROJECTED point-to-point routing (round 5, VERDICT r04 #3):
    //     endpoints snap to the projected point on the nearest SEGMENT and
    //     routing pays split-edge costs — the fixture's endpoints sit
    //     strictly mid-segment, where node snapping and projection disagree;
    //     golden = brute-force projection + independent Dijkstra over the
    //     split graph (four-combo + same-segment-direct minimum) ---
    Gate("q_route_proj", (s, _) => {
      import s.implicits._
      val pairs = (0L until 60L).map(i => (i,
          graft.model.Synth.routeProjPairLat(i, 0), graft.model.Synth.routeProjPairLng(i, 0),
          graft.model.Synth.routeProjPairLat(i, 1), graft.model.Synth.routeProjPairLng(i, 1)))
        .toDF("route_id", "a_lat", "a_lng", "b_lat", "b_lng")
      graft.ops.Routing.routeDistanceProjected(s, pairs, Tables.gridSegments(s),
          Tables.gridEdges(s), snapRadiusMeters = 300.0, maxRouteMeters = 12000.0)
        .orderBy("route_id")
    },
      Gate.Golden("route_id", in =>
        in.df(Golden.routeProjG(60, 300.0, 12000.0),
          "route_id", "path_a", "path_b", "frac_a", "frac_b", "snap_a_m", "snap_b_m", "route_m",
          "total_m"))),

    // --- Iceberg-role CHANGELOG (CDC / incremental scan): the row-level
    //     delta between two snapshots, classified insert/delete/update —
    //     what a training run that last consumed v1 reads instead of the
    //     whole table. Only the removed and added files are read;
    //     rewritten-but-unchanged rows are filtered by the null-safe row
    //     compare. ---
    Gate("q_store_changelog", (s, dir) => {
      val store = snapshotUpsertFixture(s, dir, "cdc")
      graft.lineage.SnapshotStore.changelog(s, store, 1, 2)
        .select(col("image_id"), col("op"), col("status"))
        .orderBy("image_id")
    },
      // CDC semantics in pure SQL: deletes carry the OLD row, updates the
      // NEW one, inserts the inserted row
      Sql(s"$W, base AS (SELECT image_id, status FROM images WHERE image_id % 4 = 1), " +
        "del AS (SELECT image_id, 'delete' AS op, status FROM base WHERE image_id % 7 = 0), " +
        "upd AS (SELECT image_id, 'update' AS op, 'U' AS status FROM base " +
        "WHERE image_id % 5 = 0 AND image_id % 7 <> 0), " +
        "ins AS (SELECT image_id, 'insert' AS op, status FROM images " +
        "WHERE image_id % 4 = 2 AND image_id % 9 = 0) " +
        "SELECT image_id, op, status FROM del " +
        "UNION ALL SELECT image_id, op, status FROM upd " +
        "UNION ALL SELECT image_id, op, status FROM ins ORDER BY image_id")),

    // --- §2.4/§2.7 tile-assignment join (point manifest, zooms 8..12) ---
    Gate("q_tiles_points", (s, dir) =>
      Tiling.pointManifest(images(s, dir), 8, 12)
        .orderBy("image_id", "z"),
      Sql(s"$W, base AS (SELECT image_id, " +
        "CAST(FLOOR(2048 + 2048 * RADIANS(lng) / PI()) AS BIGINT) AS x12, " +
        "CAST(FLOOR(2048 - 2048 * LN(TAN(PI() / 4 + RADIANS(lat) / 2)) / PI()) AS BIGINT) AS y12 FROM images) " +
        s"SELECT * FROM ($tileZooms) u ORDER BY image_id, z")),

    // --- §2.1/§3.3 basemap RenderRules (round 5, VERDICT r04 #9): rule
    //     table (tag query + zoom window + layer) -> per-zoom styled layer
    //     manifest over the MVT tile math; first-match layer assignment,
    //     keyed/tagged rules, zoom-window exclusion all exercised; oracle =
    //     pure SQL (the shared mercator text + arg_min first-match) ---
    Gate("q_render_rules", (s, dir) => {
      import s.implicits._
      val feats = images(s, dir).select(col("image_id").as("feature_id"),
        col("lat"), col("lng"),
        map(lit("status"), col("status"),
          lit("priority"), col("priority").cast("string")).as("tags"))
      val rules = Seq(
        (0, "priority", "1-URGENT", 12, 12, "urgent"),
        (1, "status", "O", 0, 11, "open"),
        (2, "status", null.asInstanceOf[String], 11, 0, "any"))
        .toDF("rule_idx", "tag_key", "tag_value", "min_zoom", "max_zoom", "layer")
      Tiling.renderLayers(feats, rules, 10, 12)
        .orderBy("z", "x", "y", "layer")
    },
      // RenderRules: first-match = arg_min over unique rule_idx; the tile
      // math is the q_tiles_points shared mercator text
      Sql(s"$W, rules(rule_idx, tag_key, tag_value, min_zoom, max_zoom, layer) AS " +
        "(VALUES (0, 'priority', '1-URGENT', 12, 12, 'urgent'), " +
        "(1, 'status', 'O', 0, 11, 'open'), " +
        "(2, 'status', NULL, 11, 0, 'any')), " +
        "tags AS (SELECT image_id, 'status' AS tag_key, status AS tag_value FROM images " +
        "UNION ALL SELECT image_id, 'priority', CAST(priority AS VARCHAR) FROM images), " +
        "assigned AS (SELECT t.image_id, zz.z, arg_min(r.layer, r.rule_idx) AS layer " +
        "FROM tags t JOIN rules r ON t.tag_key = r.tag_key " +
        "AND (r.tag_value IS NULL OR r.tag_value = t.tag_value) " +
        "CROSS JOIN (SELECT UNNEST(range(10, 13)) AS z) zz " +
        "WHERE (r.min_zoom = 0 OR zz.z >= r.min_zoom) " +
        "AND (r.max_zoom = 0 OR zz.z <= r.max_zoom) " +
        "GROUP BY t.image_id, zz.z), " +
        "base AS (SELECT image_id, " +
        "CAST(FLOOR(2048 + 2048 * RADIANS(lng) / PI()) AS BIGINT) AS x12, " +
        "CAST(FLOOR(2048 - 2048 * LN(TAN(PI() / 4 + RADIANS(lat) / 2)) / PI()) AS BIGINT) AS y12 FROM images), " +
        s"tiles AS ($renderZooms) " +
        "SELECT CAST(a.z AS INT) AS z, ti.x AS x, ti.y AS y, a.layer AS layer, " +
        "CAST(COUNT(*) AS BIGINT) AS n_features, MIN(a.image_id) AS first_id " +
        "FROM assigned a JOIN tiles ti ON a.image_id = ti.image_id AND a.z = ti.z " +
        "GROUP BY 1, 2, 3, 4 ORDER BY z, x, y, layer")),

    // --- §2.7 tile-count pyramid: ONE point pass at zMax, coarser zooms by
    //     child->parent roll-up on the occupied-tile table (the overview
    //     build; oracle = same mercator text + integer >> halving) ---
    Gate("q_tile_pyramid", (s, dir) =>
      Tiling.pyramidCounts(images(s, dir), 8, 12)
        .orderBy("z", "x", "y"),
      // same mercator base text as q_tiles_points; roll-up = integer >>
      // halving (exact — Mercator parents are pure coordinate halving);
      // CAST around DuckDB's HUGEINT SUM
      Sql(pyramidSql)),

    // --- §2.7 incremental overview maintenance: per-batch pyramids merged
    //     by keyed count sum; the gate proves batch-split == whole-corpus
    //     (the oracle is the SAME whole-corpus SQL as q_tile_pyramid) ---
    Gate("q_pyramid_merge", (s, dir) => {
      val imgs = images(s, dir)
      Tiling.mergePyramids(
          Tiling.pyramidCounts(imgs.where(col("image_id") % 2 === 0), 8, 12),
          Tiling.pyramidCounts(imgs.where(col("image_id") % 2 === 1), 8, 12))
        .orderBy("z", "x", "y")
    },
      // the merge gate's oracle is the SAME whole-corpus pyramid: count
      // histograms form a commutative monoid, so batch-split + keyed-sum
      // merge must reproduce it exactly
      Sql(pyramidSql)),

    // --- §2.7 region covering -> tile manifest (S2 math; rows-only check,
    //     pinned against reference tile math by ScalaTest goldens) ---
    Gate("q_tiles_regions", (s, _) =>
      Tiling.coveringManifest(Tables.regions(s), 6, 10)
        .orderBy("region_id", "z", "x", "y"),
      Gate.Golden("region_id, z, x, y", in =>
        in.df(Golden.tilesRegions(), "region_id", "z", "x", "y"))),

    // --- §2.7 s2-covering/s2-grid surface: region coverings as tokens ---
    Gate("q_s2_covering", (s, _) =>
      Tables.regions(s)
        .select(col("region_id"), explode(col("cells")).as("cell"))
        .select(col("region_id"), Udfs.cellToken(col("cell")).as("token"))
        .orderBy("region_id", "token"),
      Gate.Golden("region_id, token", in => in.df(Golden.s2Covering(), "region_id", "token"))),

    // --- §2.7 H3 dual index: per-cell histograms at matched resolutions
    //     (S2 level 16 <-> H3 res 9); rows-only (hex math not ANSI-SQL) ---
    Gate("q_hex7_cells", (s, dir) =>
      images(s, dir)
        .withColumn("hex7_9", graft.functions.S2Expressions.hex7Cell(col("lat"), col("lng"), 9))
        .withColumn("hex7_5", Udfs.hex7Parent(col("hex7_9"), lit(5)))
        .groupBy("hex7_5").agg(count(lit(1)).as("n"))
        .orderBy("hex7_5"),
      Gate.Golden("hex7_5", in => in.df(Golden.hex7Cells(in.images), "hex7_5", "n"))),

    // --- H3-analogue neighborhood analytics: hex-bin density smoothed over
    //     the k-ring disk (gridDisk), aggregate-first, integer weights ---
    Gate("q_hex_smooth", (s, dir) =>
      Tiling.hexSmoothedDensity(images(s, dir), 8, 2)
        .orderBy("cell"),
      Gate.Golden("cell", in => in.df(Golden.hexSmooth(in.images, 8, 2), "cell", "density"))),

    // --- dedup: exact (hash-groupBy on content key) ---
    Gate("q_dedup_exact", (s, dir) => {
      Tables.registerBase(s, dir)
      Dedup.exactDuplicates(
          s.table("documents").withColumn("prefix", substring(col("text"), 1, 20)),
          "doc_id", "prefix")
        .orderBy("doc_id")
    },
      Sql("WITH k AS (SELECT doc_id, MD5(SUBSTRING(text, 1, 20)) AS key FROM documents), " +
        "g AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY key) AS canonical_id, " +
        "COUNT(*) OVER (PARTITION BY key) AS n FROM k) " +
        "SELECT doc_id, canonical_id FROM g WHERE n > 1 ORDER BY doc_id")),

    // --- BM25 keyword retrieval (Okapi, Lucene idf) over the documents:
    //     term-filtered explode before any shuffle, broadcast df/global
    //     stats, TakeOrderedAndProject top-k; golden = driver hash-map
    //     recomputation (StrictMath.log kernel, documented op order) ---
    Gate("q_bm25", (s, dir) => {
      Tables.registerBase(s, dir)
      TextOps.bm25TopK(s.table("documents"), "doc_id", "text", Bm25Terms, 25)
        .orderBy("rank")
    },
      Gate.Golden("rank", in =>
        in.df(Golden.bm25G(in.docs, graft.SparkEntry.Bm25Terms, 25), "doc_id", "score", "rank"))),

    // --- dedup: incremental new-vs-corpus (day-2 ingestion) — broadcast
    //     Bloom prune + exact anti-join confirm on the Bloom-positive slice;
    //     corpus = 3/4 of the docs, batch = the doc_id%4==0 slice; oracle =
    //     plain NOT EXISTS anti-join on the same content key ---
    Gate("q_bloom_dedup", (s, dir) => {
      Tables.registerBase(s, dir)
      val docs = s.table("documents").withColumn("prefix", substring(col("text"), 1, 20))
      Dedup.newAgainstCorpus(
          docs.where(col("doc_id") % 4 =!= 0),
          docs.where(col("doc_id") % 4 === 0), "prefix")
        .select("doc_id").orderBy("doc_id")
    },
      // same content key text as q_dedup_exact; the Bloom filter is a pure
      // prune, so the oracle is the exact anti-join semantics
      Sql("WITH c AS (SELECT MD5(SUBSTRING(text, 1, 20)) AS key FROM documents WHERE doc_id % 4 <> 0), " +
        "b AS (SELECT doc_id, MD5(SUBSTRING(text, 1, 20)) AS key FROM documents WHERE doc_id % 4 = 0) " +
        "SELECT doc_id FROM b WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.key = b.key) ORDER BY doc_id")),

    // --- dedup: MinHash+LSH banding + exact n-gram Jaccard refine ---
    Gate("q_minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairs(docsWithMutants(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b"),
      Gate.Golden("id_a, id_b", in =>
        in.df(Golden.minhashLsh(in.docsWithMutants), "id_a", "id_b", "jaccard"))),

    // --- text: C4-style blocklist screen (whole-token match over the
    //     shared wsWords stream; codegen OR-chain, no join) ---
    Gate("q_blocklist", (s, dir) => {
      Tables.registerBase(s, dir)
      TextOps.blocklistFilter(s.table("documents"), "text", BlockTerms)
        .select("doc_id", "n_blocked", "kept")
        .orderBy("doc_id")
    },
      // blocked-term OR-chain generated from the one BlockTerms list
      Sql {
        val ors = BlockTerms.map(t => s"x = '$t'").mkString(" OR ")
        "SELECT doc_id, n_blocked, n_blocked = 0 AS kept FROM (" +
          "SELECT doc_id, CAST(LEN(LIST_FILTER(LIST_FILTER(" +
          "regexp_split_to_array(text, '[ \\n\\t]'), x -> LENGTH(x) > 0), " +
          s"x -> $ors)) AS BIGINT) AS n_blocked " +
          "FROM documents) t ORDER BY doc_id"
      }),

    // --- multimodal: image-side benchmark decontamination — corpus images
    //     within hamming 3 of ANY benchmark phash dropped (bipartite band
    //     join, benchmark side broadcast; the leaked-benchmark scenario of
    //     q_decontaminate on the image axis) ---
    Gate("q_image_decontaminate", (s, dir) => {
      val (sub, _) = componentPairGraph(s, dir)
      val bench = sub.where(col("image_id") % 80 === 0)
      Dedup.phashDecontaminate(sub, bench, "image_id", "ph")
        .select("image_id")
        .orderBy("image_id")
    },
      // image decontamination: all-pairs popcount on the oracle side (the
      // engine's band join is the scale path under test)
      Sql(s"WITH sub AS (SELECT o_orderkey AS image_id, ${graft.model.Synth.phashDupExpr("o_orderkey")} AS ph " +
        "FROM orders WHERE CAST(floor(o_orderkey / 8) AS BIGINT) % 40 = 0), " +
        "bench AS (SELECT * FROM sub WHERE image_id % 80 = 0), " +
        "hit AS (SELECT DISTINCT s.image_id FROM sub s JOIN bench b " +
        "ON bit_count(xor(s.ph, b.ph)) <= 3) " +
        "SELECT image_id FROM sub WHERE image_id NOT IN (SELECT image_id FROM hit) " +
        "ORDER BY image_id")),

    // --- FLAGSHIP image-curation composition (the image twin of
    //     q_curation): benchmark decontamination -> entropy quality screen
    //     -> keep-best-per-near-dup-cluster -> aspect bucket + crop plan
    //     -> per-bucket training-batch stats, one lazy plan over the gated
    //     stages. Oracle: closure CTEs + popcount NOT IN + the
    //     q_image_quality golden + the bucket/crop CASE mirrors. ---
    Gate("q_image_curation", (s, dir) => {
      val (sub, _) = componentPairGraph(s, dir)
      val bench = sub.where(col("image_id") % 80 === 0)
      val clean = Dedup.phashDecontaminate(sub, bench, "image_id", "ph")
      val qual = Media.imageQuality(
          Media.withPayload(clean.select("image_id")), ImageCurationMinEntropy)
        .where(col("keep"))
        .select("image_id", "entropy")
      val comp = componentsFor(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("component").orderBy(col("entropy").desc, col("image_id").asc)
      // LEFT join + own-id fallback: an image absent from the near-dup pair
      // graph is its own singleton cluster and must survive keep-best — an
      // inner join would silently drop it from the curated set (ADVICE r03;
      // the chain fixture happens to label every image, so the oracle
      // mirror below is what pins the semantics, not the fixture)
      val canon = qual.join(comp, col("image_id") === col("id"), "left")
        .select(col("image_id"),
          coalesce(col("component"), col("image_id")).as("component"),
          col("entropy"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
      Media.cropPlan(
          Media.aspectBucket(
            withSynthDims(canon.select("image_id")), "w", "h"),
          "w", "h")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_images"),
          sum(col("cw") * col("ch")).as("total_crop_px"))
        .orderBy("bucket")
    },
      // image-curation composition: every CTE mirrors a gated stage
      // (decontaminate / quality via the shared-kernel golden / canonical /
      // bucket / crop), reassembled into one independent query
      Sql(componentClosureCtes +
        ", bench AS (SELECT * FROM sub WHERE image_id % 80 = 0), " +
        "hit AS (SELECT DISTINCT s.image_id FROM sub s JOIN bench b " +
        "ON bit_count(xor(s.ph, b.ph)) <= 3), " +
        "clean AS (SELECT image_id FROM sub WHERE image_id NOT IN (SELECT image_id FROM hit)), " +
        s"qual AS (SELECT q.image_id, q.entropy FROM read_parquet('${graft.oracle.Golden.Dir}/q_image_quality.parquet/*.parquet') q " +
        s"JOIN clean c ON q.image_id = c.image_id WHERE q.entropy >= $ImageCurationMinEntropy), " +
        "comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id), " +
        "canon AS (SELECT image_id FROM (SELECT qual.image_id, " +
        "COALESCE(comp.component, qual.image_id) AS component, " +
        "ROW_NUMBER() OVER (PARTITION BY COALESCE(comp.component, qual.image_id) " +
        "ORDER BY qual.entropy DESC, qual.image_id ASC) AS rk " +
        "FROM qual LEFT JOIN comp ON qual.image_id = comp.id) t WHERE rk = 1), " +
        "base AS (SELECT image_id, " +
        s"$SynthDimsSql FROM canon), " +
        s"a2 AS (SELECT image_id, w, h, ${graft.ops.Media.aspectBucketSql("w", "h")} AS bucket FROM base), " +
        s"c2 AS (SELECT image_id, bucket, ${graft.ops.Media.cropPlanSql("w", "h")} FROM a2) " +
        "SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_images, " +
        "CAST(SUM(cw * ch) AS BIGINT) AS total_crop_px " +
        "FROM c2 GROUP BY bucket ORDER BY bucket")),

    // --- dedup: edit-distance PRECISION refine over the minhash candidate
    //     pairs (the verification stage after any probabilistic generator);
    //     exact unit-cost Levenshtein, identical in Spark and DuckDB, so
    //     the oracle recomputes the distances over the gated candidate set
    //     (pair generation itself is independently gated by q_minhash_lsh).
    Gate("q_editdist_refine", (s, dir) => {
      val corpus = docsWithMutants(s, dir)
      Dedup.editDistanceRefine(
          Dedup.minhashLshPairs(corpus, "doc_id", "text"), corpus,
          "doc_id", "text", maxDist = 10)
        .orderBy("id_a", "id_b")
    },
      // refine distances recomputed by DuckDB's own levenshtein over the
      // q_minhash_lsh-gated candidate pairs
      Sql("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 1000000, text || ' mutato' FROM documents), " +
        s"p AS (SELECT id_a, id_b FROM read_parquet('${graft.oracle.Golden.Dir}/q_minhash_lsh.parquet/*.parquet')), " +
        "j AS (SELECT p.id_a, p.id_b, CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist " +
        "FROM p JOIN corpus a ON p.id_a = a.doc_id JOIN corpus b ON p.id_b = b.doc_id) " +
        "SELECT id_a, id_b, edit_dist FROM j WHERE edit_dist <= 10 ORDER BY id_a, id_b")),

    // --- dedup: SimHash banded near-dup pairs ---
    // --- exact n-gram Jaccard near-dup (prefix-filtered AllPairs join —
    //     the EXACT counterpart of the approximate minhash gate; oracle =
    //     independent all-pairs brute force with no candidate generation) ---
    Gate("q_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(docsWithMutants(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Gate.Golden("id_a, id_b", in =>
        in.df(Golden.ngramJaccard(in.docsWithMutants, 0.5), "id_a", "id_b", "jaccard"))),

    Gate("q_simhash", (s, dir) =>
      Dedup.simhashPairs(docsWithMutants(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b"),
      Gate.Golden("id_a, id_b", in =>
        in.df(Golden.simhash(in.docsWithMutants), "id_a", "id_b", "hamming"))),

    // --- dedup: perceptual-hash (image payload) banded near-dup pairs ---
    // Exact by the pigeonhole contract (maxHamming 3 < bands 4), so the
    // banded equi-join must EQUAL the oracle's all-pairs brute force. The
    // dup-structured phash fixture (Synth.phashDupExpr) is one shared SQL
    // text; the gid%40 subset keeps the ORACLE's quadratic side tractable —
    // the engine side stays the banded join (all-pairs allowlist applies).
    Gate("q_phash_neardup", (s, dir) => {
      Tables.registerBase(s, dir)
      val sub = s.table("orders")
        .select(col("o_orderkey").as("image_id"))
        .where(expr("CAST(floor(image_id / 8) AS BIGINT) % 40 = 0"))
        .withColumn("ph", expr(graft.model.Synth.phashDupExpr("image_id")))
      Dedup.phashNearDup(sub, "image_id", "ph", maxHamming = 3, bands = 4)
        .orderBy("id_a", "id_b")
    },
      Sql(s"WITH sub AS (SELECT o_orderkey AS image_id, ${graft.model.Synth.phashDupExpr("o_orderkey")} AS ph " +
        "FROM orders WHERE CAST(floor(o_orderkey / 8) AS BIGINT) % 40 = 0) " +
        "SELECT a.image_id AS id_a, b.image_id AS id_b, " +
        "CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming " +
        "FROM sub a JOIN sub b ON a.image_id < b.image_id " +
        "WHERE bit_count(xor(a.ph, b.ph)) <= 3 ORDER BY id_a, id_b")),

    // --- dedup: connected components over near-dup pairs (alternating
    //     large-star/small-star; SoCC'14) — pair lists are not transitive,
    //     a corpus dedup needs CLUSTERS. Graph = phash near-dup pairs UNION
    //     a stride-segmented chain (deterministic LEAD window): components
    //     get real diameter, so the gate exercises the log-round
    //     convergence, while the stride split keeps many components.
    //     Oracle: DuckDB WITH RECURSIVE transitive closure + MIN — an
    //     entirely different algorithm in a different engine. ---
    Gate("q_dedup_components", (s, dir) =>
      componentsFor(s, dir).orderBy("id"),
      Sql(componentClosureCtes +
        " SELECT id, MIN(r) AS component FROM reach GROUP BY id ORDER BY id")),

    // --- sampling: LEAKAGE-FREE train/val/test split — the split key is
    //     the near-dup COMPONENT id (same fixture/closure oracle as
    //     q_dedup_components), so near-duplicates can never straddle train
    //     and eval; 0.8/0.1/0.1 by cumulative md5 thresholds shared with
    //     the oracle CASE via Sampling.splitByGroupHashSql. ---
    Gate("q_split_leakfree", (s, dir) => {
      graft.ops.Sampling.splitByGroupHash(componentsFor(s, dir), "component", SplitFracs)
        .orderBy("id")
    },
      // split CASE generated from the SAME SplitFracs cumulative thresholds
      // as the engine's when-chain (Sampling.splitByGroupHashSql)
      Sql(componentClosureCtes +
        ", comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id) " +
        "SELECT id, component, " +
        graft.ops.Sampling.splitByGroupHashSql("component", SplitFracs) +
        " AS split FROM comp ORDER BY id")),

    // --- dedup: CLUSTER-level canonical survivor set — keepCanonicalByPairs
    //     over the same phash+chain pair graph: components decide survival
    //     (pair lists are not transitive), each component keeps its minimum
    //     id, rows in no pair pass through. Oracle: the recursive-closure
    //     SQL with NOT IN over non-minimum members. ---
    Gate("q_dedup_canonical", (s, dir) => {
      val (sub, pairs) = componentPairGraph(s, dir)
      Dedup.keepCanonicalByPairs(sub.select("image_id"), "image_id", pairs)
        .orderBy("image_id")
    },
      // survivors = every sub row except non-minimum component members
      Sql(componentClosureCtes +
        ", comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id) " +
        "SELECT image_id FROM sub WHERE image_id NOT IN " +
        "(SELECT id FROM comp WHERE id <> component) ORDER BY image_id")),

    // --- dedup: embedding-cosine near-dup (exact baseline) ---
    Gate("q_embed_neardup", (s, dir) => {
      Tables.registerBase(s, dir)
      Dedup.embeddingNearDupExact(s.table("embeddings"), "vec_id", "embedding", 0.45)
        .orderBy("id_a", "id_b")
    },
      // NaN (zero-norm) similarities are EXCLUDED on both sides — DuckDB
      // orders NaN above all doubles (desc -> rank 1; > threshold -> kept),
      // the exact opposite of the engine's reject, so the guard must be
      // mirrored here or a single failed-decode embedding silently splits
      // the engines (review r03i)
      Sql("SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM embeddings a, embeddings b " +
        "WHERE a.vec_id < b.vec_id " +
        "AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) > 0.45 " +
        "AND NOT isnan(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))) " +
        "ORDER BY id_a, id_b")),

    // --- SemDeDup (cluster-bounded semantic dedup — the web-scale shape;
    //     oracle: independent within-cluster brute force, shared quantizer
    //     kernel per the Golden float policy) ---
    Gate("q_semdedup", (s, dir) => {
      Tables.registerBase(s, dir)
      val emb = s.table("embeddings")
      // bounded lowest-id sample (VERDICT r03 #2): the collect is a
      // TakeOrderedAndProject of QuantizerSampleRows rows, never a full pass
      val sample = Similarity.quantizerSample(emb, "vec_id", "embedding")
      val centroids = Similarity.trainCentroids(sample, nClusters = 16, iters = 5)
      Dedup.semanticDedupPairs(emb, "vec_id", "embedding", centroids, 0.45)
        .orderBy("id_a", "id_b")
    },
      Gate.Golden("id_a, id_b", in => in.df(Golden.semDedup(in.embeddings, 0.45), "id_a", "id_b"))),

    // --- similarity: brute-force cosine top-k ANN baseline ---
    Gate("q_ann_topk", (s, dir) => {
      Tables.registerBase(s, dir)
      val emb = s.table("embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .orderBy("query_id", "rank")
    },
      Sql(s"$AnnExactTopkSql ORDER BY query_id, rank")),

    // --- similarity: IVF ANN (scale path #2): deterministic spherical
    //     k-means coarse quantizer, probe-pruned exact top-k ---
    Gate("q_ann_ivf", (s, dir) => {
      Tables.registerBase(s, dir)
      val emb = s.table("embeddings")
      // bounded lowest-id sample (VERDICT r03 #2), same shape as q_semdedup
      val sample = Similarity.quantizerSample(emb, "vec_id", "embedding")
      val centroids = Similarity.trainCentroids(sample, nClusters = 16, iters = 5)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", 10, centroids, nProbe = 4)
        .orderBy("query_id", "rank")
    },
      Gate.Golden("query_id, rank", in =>
        in.df(Golden.annIvf(in.embeddings), "query_id", "result_id", "rank"))),

    // --- similarity: recall@10 of the IVF index vs the exact baseline —
    //     the continuous index-quality eval (round 4). Oracle: exact side
    //     recomputed by DuckDB's own cosine (the q_ann_topk SQL, one shared
    //     text), approx side from the INDEPENDENT q_ann_ivf golden, joined
    //     and counted in SQL. Round 5 (VERDICT r04 #5): the exact side is
    //     FULL-PROBE IVF (nProbe = nClusters) — every corpus vector lies in
    //     exactly one probed cluster, so the candidate set is the whole
    //     corpus minus self and the result equals brute force through the
    //     same rankTopK — but the plan is the keyed cluster equi-join, so
    //     the BNLJ baseline leaves the recall gate (allowlist back to 2). ---
    Gate("q_ann_recall", (s, dir) => {
      Tables.registerBase(s, dir)
      val emb = s.table("embeddings")
      val sample = Similarity.quantizerSample(emb, "vec_id", "embedding")
      val centroids = Similarity.trainCentroids(sample, nClusters = 16, iters = 5)
      val exact = Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", 10, centroids, nProbe = 16)
      val approx = Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", 10, centroids, nProbe = 4)
      Similarity.recallAtK(approx, exact, 10).orderBy("query_id")
    },
      // recall@10: exact side recomputed by DuckDB's own cosine (the SAME
      // shared text as q_ann_topk), approx side from the independent
      // q_ann_ivf golden — the recall join itself is what this gate checks
      Sql(s"WITH exact AS ($AnnExactTopkSql), " +
        "approx AS (SELECT query_id, result_id FROM read_parquet('" +
        s"${graft.oracle.Golden.Dir}/q_ann_ivf.parquet/*.parquet')) " +
        "SELECT exact.query_id AS query_id, CAST(COUNT(approx.result_id) AS BIGINT) AS n_hits, " +
        "COUNT(approx.result_id) / 10.0 AS recall " +
        "FROM exact LEFT JOIN approx ON exact.query_id = approx.query_id " +
        "AND exact.result_id = approx.result_id " +
        "GROUP BY exact.query_id ORDER BY exact.query_id")),

    // --- similarity: LSH-bucketed ANN pairs (scale path, approximate) ---
    Gate("q_ann_lsh", (s, dir) => {
      Tables.registerBase(s, dir)
      Similarity.cosineLshPairs(s.table("embeddings"), "vec_id", "embedding",
          dim = 64, threshold = 0.4)
        .select("id_a", "id_b").orderBy("id_a", "id_b")
    },
      Gate.Golden("id_a, id_b", in => in.df(Golden.annLsh(in.embeddings), "id_a", "id_b"))),

    // --- text: token counting + quality scoring ---
    Gate("q_text_quality", (s, dir) => {
      Tables.registerBase(s, dir)
      TextOps.qualityScores(s.table("documents"), "text", "n_chars")
        .select("doc_id", "n_tokens", "space_ratio", "mean_token_len")
        .orderBy("doc_id")
    },
      Sql("WITH t AS (SELECT doc_id, n_chars, " +
        "CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0)) AS BIGINT) AS n_tokens, " +
        "LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS spaces FROM documents) " +
        "SELECT doc_id, n_tokens, " +
        "CAST(spaces AS DOUBLE) / CAST(n_chars AS DOUBLE) AS space_ratio, " +
        "CAST(n_chars - spaces AS DOUBLE) / CAST(GREATEST(1, n_tokens) AS DOUBLE) AS mean_token_len " +
        "FROM t ORDER BY doc_id")),

    // --- text: Gopher-style repetition / format signals. The synthetic
    //     corpus is single-line, so BOTH engines derive the same
    //     deterministic multi-line form first (replace " a " -> newline);
    //     the word-level signals see heavy real repetition either way. ---
    Gate("q_text_repetition", (s, dir) => {
      Tables.registerBase(s, dir)
      val docs = s.table("documents")
        .withColumn("text2", replace(col("text"), lit(" a "), lit("\n")))
      TextOps.repetitionScores(docs, "text2")
        .select("doc_id", "n_lines", "dup_line_frac", "dup_word_frac",
          "bullet_line_frac", "ellipsis_line_frac")
        .orderBy("doc_id")
    },
      Sql("WITH t AS (SELECT doc_id, REPLACE(text, ' a ', chr(10)) AS text2 FROM documents), " +
        "l AS (SELECT doc_id, " +
        "LIST_FILTER(STRING_SPLIT(text2, chr(10)), x -> LENGTH(x) > 0) AS lines, " +
        "LIST_FILTER(regexp_split_to_array(text2, '[ \\n\\t]'), x -> LENGTH(x) > 0) AS words FROM t) " +
        "SELECT doc_id, CAST(LEN(lines) AS BIGINT) AS n_lines, " +
        "CAST(LEN(lines) - LEN(LIST_DISTINCT(lines)) AS DOUBLE) / CAST(GREATEST(1, LEN(lines)) AS DOUBLE) AS dup_line_frac, " +
        "CAST(LEN(words) - LEN(LIST_DISTINCT(words)) AS DOUBLE) / CAST(GREATEST(1, LEN(words)) AS DOUBLE) AS dup_word_frac, " +
        "CAST(LEN(LIST_FILTER(lines, x -> STARTS_WITH(x, '- ') OR STARTS_WITH(x, '* '))) AS DOUBLE) / CAST(GREATEST(1, LEN(lines)) AS DOUBLE) AS bullet_line_frac, " +
        "CAST(LEN(LIST_FILTER(lines, x -> ENDS_WITH(x, '...'))) AS DOUBLE) / CAST(GREATEST(1, LEN(lines)) AS DOUBLE) AS ellipsis_line_frac " +
        "FROM l ORDER BY doc_id")),

    // --- text: CCNet-style cross-document boilerplate line removal. Same
    //     deterministic multi-line derivation as q_text_repetition; a line
    //     in >= 3 distinct docs is struck everywhere. ---
    Gate("q_boilerplate", (s, dir) => {
      Tables.registerBase(s, dir)
      val docs = s.table("documents")
        .withColumn("text2", replace(col("text"), lit(" a "), lit("\n")))
      TextOps.boilerplateRemove(docs, "doc_id", "text2", minDocs = 3)
        .orderBy("doc_id")
    },
      // independent plan shape: LATERAL-UNNEST positions + NOT IN against a
      // HAVING heavy-hitter table + ordered string_agg (the engine runs
      // posexplode + left-anti join + array_sort reassembly)
      Sql("WITH t AS (SELECT doc_id, REPLACE(text, ' a ', chr(10)) AS text2 FROM documents), " +
        "s AS (SELECT doc_id, STRING_SPLIT(text2, chr(10)) AS ls FROM t), " +
        "l AS (SELECT doc_id, i AS pos, ls[i] AS line FROM s, " +
        "LATERAL UNNEST(range(1, LEN(ls) + 1)) AS u(i) WHERE LENGTH(ls[i]) > 0), " +
        "b AS (SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3), " +
        "k AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, " +
        "STRING_AGG(line, chr(10) ORDER BY pos) AS text_kept " +
        "FROM l WHERE line NOT IN (SELECT line FROM b) GROUP BY doc_id), " +
        "n AS (SELECT doc_id, CAST(LEN(LIST_FILTER(STRING_SPLIT(text2, chr(10)), " +
        "x -> LENGTH(x) > 0)) AS BIGINT) AS n_lines FROM t) " +
        "SELECT n.doc_id, n.n_lines, COALESCE(k.n_kept, CAST(0 AS BIGINT)) AS n_kept, " +
        "COALESCE(k.text_kept, '') AS text_kept " +
        "FROM n LEFT JOIN k ON n.doc_id = k.doc_id ORDER BY n.doc_id")),

    // --- text: C4-style HTML -> text extraction. The corpus is plain text,
    //     so BOTH engines wrap it in the same deterministic markup first
    //     (tags + the five predefined entities, incl. the &amp;amp;
    //     single-pass-decode probe); the strip chain is the operator under
    //     test. Pure-SQL oracle (dialect-safe regex subset). ---
    Gate("q_html_strip", (s, dir) => {
      Tables.registerBase(s, dir)
      val docs = s.table("documents").withColumn("text2",
        concat(lit("<html><body><p>"), replace(col("text"), lit(" a "), lit("</p> <p>")),
          lit("</p> <a href=\"#x\">"), col("source"),
          lit("</a> &amp;amp; B&#39;s &lt;"), col("lang"), lit("&gt;</body></html>")))
      TextOps.stripHtml(docs, "text2")
        .select("doc_id", "n_tags", "text_plain")
        .orderBy("doc_id")
    },
      // entity REPLACE nesting applies lt/gt/quot/#39 first and amp LAST —
      // the same single-pass order as the engine's foldLeft chain
      Sql("WITH t AS (SELECT doc_id, '<html><body><p>' || REPLACE(text, ' a ', '</p> <p>') || " +
        "'</p> <a href=\"#x\">' || source || '</a> &amp;amp; B&#39;s &lt;' || lang || '&gt;</body></html>' AS text2 FROM documents), " +
        s"u AS (SELECT doc_id, CAST(LEN(regexp_extract_all(text2, '${TextOps.HtmlTagPattern}')) AS BIGINT) AS n_tags, " +
        s"regexp_replace(text2, '${TextOps.HtmlTagPattern}', ' ', 'g') AS s FROM t), " +
        "d AS (SELECT doc_id, n_tags, " +
        "REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(s, '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), '&amp;', '&') AS s2 FROM u) " +
        "SELECT doc_id, n_tags, TRIM(regexp_replace(s2, '[ \\n\\t]+', ' ', 'g')) AS text_plain " +
        "FROM d ORDER BY doc_id")),

    // --- multimodal: decoded-pixel image quality (entropy/contrast) + keep
    //     decision — the image twin of q_text_quality. Golden: independent
    //     pixel regeneration + the shared quality kernel (float policy). ---
    Gate("q_image_quality", (s, dir) =>
      Media.imageQuality(Media.withPayload(images(s, dir).select("image_id")),
          ImageQualityMinEntropy)
        .select("image_id", "n_px", "lum_sum", "lum_sq", "entropy", "contrast", "keep")
        .orderBy("image_id"),
      Gate.Golden("image_id", in =>
        in.df(Golden.imageQualityG(in.images),
          "image_id", "n_px", "lum_sum", "lum_sq", "entropy", "contrast", "keep"))),

    // --- text: INCREMENTAL LM maintenance — the even-id train slice split
    //     into two ingest batches, per-batch models merged by keyed sum
    //     (counts are a monoid), scoring must reproduce the SAME golden as
    //     q_ngram_lm bit-for-bit (the pyramid-merge discipline for models).
    Gate("q_ngram_merge", (s, dir) => {
      Tables.registerBase(s, dir)
      val docs = s.table("documents")
      val merged = TextOps.mergeNgramModels(Seq(
        TextOps.ngramLmModel(docs.where(col("doc_id") % 4 === 0), "text"),
        TextOps.ngramLmModel(docs.where(col("doc_id") % 4 === 2), "text")))
      TextOps.scoreWithNgramModel(docs, "doc_id", "text", merged)
        .orderBy("doc_id")
    },
      // merged-model scoring must reproduce the SAME golden as q_ngram_lm
      Sql(Golden.sql("q_ngram_lm", "doc_id"))),

    // --- multimodal: quality-aware CANONICAL selection inside image
    //     near-dup clusters (the LAION keep-best rule): component labeling
    //     over the phash+chain fixture, survivor = highest decoded-pixel
    //     entropy (id tiebreak). Oracle: recursive-closure CTEs joined to
    //     the q_image_quality golden (shared kernel per float policy). ---
    Gate("q_image_canonical", (s, dir) => {
      val comp = componentsFor(s, dir)
      val quality = Media.imageQuality(
          Media.withPayload(comp.select(col("id").as("image_id"))),
          ImageQualityMinEntropy)
        .select(col("image_id"), col("entropy"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("component").orderBy(col("entropy").desc, col("id").asc)
      comp.join(quality, col("id") === col("image_id"))
        .select(col("id"), col("component"), col("entropy"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("component"), col("id").as("canonical_id"), col("entropy"))
        .orderBy("component")
    },
      // canonical-by-quality: closure CTEs + the q_image_quality golden
      // (entropies are the shared kernel's, identical on both sides)
      Sql(componentClosureCtes +
        ", comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id), " +
        s"q AS (SELECT image_id, entropy FROM read_parquet('${graft.oracle.Golden.Dir}/q_image_quality.parquet/*.parquet')), " +
        "r2 AS (SELECT comp.component, comp.id, q.entropy, " +
        "ROW_NUMBER() OVER (PARTITION BY comp.component ORDER BY q.entropy DESC, comp.id ASC) AS rk " +
        "FROM comp JOIN q ON comp.id = q.image_id) " +
        "SELECT component, id AS canonical_id, entropy FROM r2 WHERE rk = 1 ORDER BY component")),

    // --- FLAGSHIP text-curation composition: HTML strip -> cross-doc
    //     boilerplate strike -> min-content quality gate -> prefix-canonical
    //     dedup -> leakage-safe split by source -> per-(split, lang) mix
    //     stats, chained from the individually-gated stages with NO
    //     intermediate materialization (one lazy plan). Pure-SQL oracle
    //     reassembling the same stage texts. ---
    Gate("q_curation", (s, dir) => {
      Tables.registerBase(s, dir)
      val docs = s.table("documents")
      // wrap in markup WITHOUT consuming the " a " line-break token, so the
      // downstream line derivation still has lines to work on
      val withHtml = docs.withColumn("text2",
        concat(lit("<html><body><p>"), col("text"),
          lit("</p> <a href=\"#x\">"), col("source"),
          lit("</a> &amp; <br/>fin"), lit("</body></html>")))
      val stripped = TextOps.stripHtml(withHtml, "text2")
        .withColumn("text3", replace(col("text_plain"), lit(" a "), lit("\n")))
      val boiler = TextOps.boilerplateRemove(stripped, "doc_id", "text3", minDocs = 3)
      val kept = boiler
        .join(docs.select("doc_id", "lang", "source"), Seq("doc_id"))
        .withColumn("n_tokens",
          size(TextOps.wsWords(col("text_kept"))).cast("long"))
        .where(col("n_kept") >= 2 && col("n_tokens") >= 10)
      val canon = Dedup.keepCanonical(
        kept.withColumn("prefix", substring(col("text_kept"), 1, 20)),
        "doc_id", "prefix")
      graft.ops.Sampling.splitByGroupHash(canon, "source", SplitFracs)
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("split", "lang")
    },
      // the curation composition: each CTE is the textual mirror of the
      // corresponding gated stage (html strip / boilerplate / token gate /
      // prefix-canonical / split), reassembled into ONE independent query
      Sql("WITH t AS (SELECT doc_id, lang, source, " +
        "'<html><body><p>' || text || '</p> <a href=\"#x\">' || source || '</a> &amp; <br/>fin</body></html>' AS text2 FROM documents), " +
        s"u AS (SELECT doc_id, lang, source, regexp_replace(text2, '${TextOps.HtmlTagPattern}', ' ', 'g') AS s FROM t), " +
        "d AS (SELECT doc_id, lang, source, " +
        "REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(s, '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), '&amp;', '&') AS s2 FROM u), " +
        "p AS (SELECT doc_id, lang, source, " +
        "REPLACE(TRIM(regexp_replace(s2, '[ \\n\\t]+', ' ', 'g')), ' a ', chr(10)) AS text3 FROM d), " +
        "sp AS (SELECT doc_id, STRING_SPLIT(text3, chr(10)) AS ls FROM p), " +
        "l AS (SELECT doc_id, i AS pos, ls[i] AS line FROM sp, " +
        "LATERAL UNNEST(range(1, LEN(ls) + 1)) AS u2(i) WHERE LENGTH(ls[i]) > 0), " +
        "b AS (SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3), " +
        "k AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, " +
        "STRING_AGG(line, chr(10) ORDER BY pos) AS text_kept " +
        "FROM l WHERE line NOT IN (SELECT line FROM b) GROUP BY doc_id), " +
        "j AS (SELECT p.doc_id, p.lang, p.source, COALESCE(k.n_kept, CAST(0 AS BIGINT)) AS n_kept, " +
        "COALESCE(k.text_kept, '') AS text_kept FROM p LEFT JOIN k ON p.doc_id = k.doc_id), " +
        "w AS (SELECT *, CAST(LEN(LIST_FILTER(regexp_split_to_array(text_kept, '[ \\n\\t]'), " +
        "x -> LENGTH(x) > 0)) AS BIGINT) AS n_tokens FROM j), " +
        "kept AS (SELECT * FROM w WHERE n_kept >= 2 AND n_tokens >= 10), " +
        "canon AS (SELECT kept.* FROM kept JOIN " +
        "(SELECT MD5(SUBSTRING(text_kept, 1, 20)) AS kk, MIN(doc_id) AS m FROM kept GROUP BY 1) g " +
        "ON MD5(SUBSTRING(kept.text_kept, 1, 20)) = g.kk AND kept.doc_id = g.m), " +
        "z AS (SELECT *, " +
        graft.ops.Sampling.splitByGroupHashSql("source", SplitFracs) +
        " AS split FROM canon) " +
        "SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS total_tokens " +
        "FROM z GROUP BY split, lang ORDER BY split, lang")),

    // --- text: hashed TF-IDF document vectors (feature hashing, 256 md5
    //     buckets, smooth idf, L2 norm over the bucket-sorted fold) —
    //     flattened to (doc, pos, bucket, weight) rows for the compare;
    //     token-less docs survive via posexplode_outer. Golden: hash-map
    //     counts + sequential loop, idf/norm kernels mirrored. ---
    Gate("q_tfidf", (s, dir) => {
      Tables.registerBase(s, dir)
      TextOps.hashedTfIdf(s.table("documents"), "doc_id", "text")
        .select(col("doc_id"), col("nnz"), col("norm"),
          posexplode_outer(arrays_zip(col("buckets"), col("weights"))))
        .select(col("doc_id"), col("nnz"), col("norm"), col("pos"),
          col("col.buckets").as("bucket"), col("col.weights").as("weight"))
        .orderBy("doc_id", "pos")
    },
      Gate.Golden("doc_id, pos", in =>
        in.df(Golden.tfidfG(in.docs), "doc_id", "nnz", "norm", "pos", "bucket", "weight"))),

    // --- text: bigram stupid-backoff LM quality score — model trained on
    //     the even-id half (the held-out framing), every doc scored;
    //     fixed-point log sums make the distributed aggregation
    //     order-independent. Golden: hash-map counts + sequential loop. ---
    Gate("q_ngram_lm", (s, dir) => {
      Tables.registerBase(s, dir)
      val docs = s.table("documents")
      TextOps.ngramLmScores(docs, docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text")
        .orderBy("doc_id")
    },
      Gate.Golden("doc_id", in =>
        in.df(Golden.ngramLmG(in.docs),
          "doc_id", "n_bigrams", "n_backoff", "lp_fp_sum", "avg_logp"))),

    // --- text: PII / URL masking. The corpus contains no addresses, so
    //     BOTH engines inject the same deterministic contact line first
    //     (concat of existing columns) — the scrub itself is the operator
    //     under test, exercised on every row. ---
    Gate("q_text_redact", (s, dir) => {
      Tables.registerBase(s, dir)
      val docs = s.table("documents").withColumn("text2",
        concat(col("text"), lit(" contact "), col("source"), lit("@ex."),
          col("lang"), lit(" or https://"), col("source"), lit(".ex.org/d/"),
          col("doc_id").cast("string"), lit(" end")))
      TextOps.redactPii(docs, "text2")
        .select("doc_id", "n_emails", "n_urls", "text_redacted")
        .orderBy("doc_id")
    },
      Sql("WITH t AS (SELECT doc_id, text || ' contact ' || source || '@ex.' || lang || " +
        "' or https://' || source || '.ex.org/d/' || CAST(doc_id AS VARCHAR) || ' end' AS text2 " +
        "FROM documents), " +
        "r AS (SELECT doc_id, " +
        "regexp_replace(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', '<EMAIL>', 'g') AS t1, " +
        "CAST(LEN(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+')) AS BIGINT) AS n_emails " +
        "FROM t) " +
        "SELECT doc_id, n_emails, " +
        "CAST(LEN(regexp_extract_all(t1, 'https?://[^ \\n\\t]+')) AS BIGINT) AS n_urls, " +
        "regexp_replace(t1, 'https?://[^ \\n\\t]+', '<URL>', 'g') AS text_redacted " +
        "FROM r ORDER BY doc_id")),

    // --- text: n-gram-heuristic language ID scores ---
    Gate("q_text_langid", (s, dir) => {
      Tables.registerBase(s, dir)
      TextOps.langScores(s.table("documents"), "text")
        .select("doc_id", "lang", "score_en", "score_de", "score_fr", "score_es", "score_zh")
        .orderBy("doc_id")
    },
      Sql {
        val scoreCols = TextOps.langProfiles.map { case (lang, words) =>
          val sum = words.map(w =>
            s"(LENGTH(text) - LENGTH(REPLACE(text, '$w', ''))) / ${w.length}").mkString(" + ")
          s"CAST($sum AS BIGINT) AS score_$lang"
        }.mkString(", ")
        s"SELECT doc_id, lang, $scoreCols FROM documents ORDER BY doc_id"
      }),

    // --- text: BPE-ish regex pre-tokenizer counts (builder brief), pure
    //     codegen regexp; plain SQL oracle ---
    Gate("q_text_tokens", (s, dir) => {
      Tables.registerBase(s, dir)
      s.table("documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    },
      Sql("SELECT doc_id, " +
        "CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0)) AS BIGINT) AS n_ws_tokens, " +
        s"CAST(LEN(regexp_extract_all(text, '${TextOps.BpeishPattern}')) AS BIGINT) AS n_bpe_tokens " +
        "FROM documents ORDER BY doc_id")),

    // --- dedup family: benchmark DECONTAMINATION (GPT-3/PaLM n-gram
    //     overlap rule). Benchmark = every 10th doc's text — the leaked-
    //     benchmark scenario, so hits = the benchmark members themselves
    //     PLUS any near-verbatim copies in the rest of the corpus; the
    //     survivors are the clean corpus. Broadcast semi-join on grams,
    //     text never shuffles. ---
    Gate("q_decontaminate", (s, dir) => {
      Tables.registerBase(s, dir)
      val docs = s.table("documents")
      val bench = docs.where(col("doc_id") % 10 === 0).select("text")
      Dedup.decontaminate(docs, bench, "doc_id", "text", n = 8)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
      Sql("WITH w AS (SELECT doc_id, lang, source, " +
        "LIST_FILTER(regexp_split_to_array(text, '[ \\n\\t]'), x -> LENGTH(x) > 0) AS ws FROM documents), " +
        "g AS (SELECT doc_id, array_to_string(list_slice(ws, i, i + 7), ' ') AS gram " +
        "FROM w, LATERAL UNNEST(range(1, LEN(ws) - 6)) AS t(i)), " +
        "bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0), " +
        "cont AS (SELECT DISTINCT doc_id FROM g WHERE gram IN (SELECT gram FROM bench)) " +
        "SELECT doc_id, lang, source FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM cont) ORDER BY doc_id")),

    // --- dedup: exact duplicated-SPAN removal (Lee et al. 2021
    //     ExactSubstr as a sliding n-gram join): every word 8-gram
    //     occurring >1x corpus-wide marks its words; text_kept is the doc
    //     with covered spans removed. Oracle: independent gram
    //     regeneration + NOT EXISTS coverage + ordered string_agg. ---
    Gate("q_dup_spans", (s, dir) => {
      Tables.registerBase(s, dir)
      Dedup.dupSpanDedup(s.table("documents"), "doc_id", "text", n = 8)
        .select("doc_id", "n_dup_grams", "n_covered_words", "text_kept")
        .orderBy("doc_id")
    },
      // independent recomputation: grams regenerated from scratch, coverage
      // via correlated NOT EXISTS (a different plan shape from the engine's
      // semi-join + array lambdas), kept text via ordered string_agg
      Sql("WITH w AS (SELECT doc_id, " +
        "LIST_FILTER(regexp_split_to_array(text, '[ \\n\\t]'), x -> LENGTH(x) > 0) AS ws FROM documents), " +
        "g AS (SELECT doc_id, i AS s, array_to_string(list_slice(ws, i, i + 7), ' ') AS gram " +
        "FROM w, LATERAL UNNEST(range(1, LEN(ws) - 6)) AS t(i)), " +
        "d AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1), " +
        "ds AS (SELECT doc_id, s FROM g WHERE gram IN (SELECT gram FROM d)), " +
        "agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_grams FROM ds GROUP BY doc_id), " +
        "wi AS (SELECT doc_id, i, ws[i] AS word FROM w, LATERAL UNNEST(range(1, LEN(ws) + 1)) AS t(i)), " +
        "keep AS (SELECT wi.doc_id, wi.i, wi.word FROM wi WHERE NOT EXISTS " +
        "(SELECT 1 FROM ds WHERE ds.doc_id = wi.doc_id AND ds.s <= wi.i AND wi.i < ds.s + 8)), " +
        "k AS (SELECT doc_id, COUNT(*) AS n_kept, " +
        "string_agg(word, ' ' ORDER BY i) AS text_kept FROM keep GROUP BY doc_id) " +
        "SELECT w.doc_id, COALESCE(agg.n_dup_grams, 0) AS n_dup_grams, " +
        "CAST(LEN(w.ws) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_covered_words, " +
        "COALESCE(k.text_kept, '') AS text_kept " +
        "FROM w LEFT JOIN agg USING (doc_id) LEFT JOIN k USING (doc_id) ORDER BY doc_id")),

    // --- sampling: DSIR-style importance resampling (hashed unigram+bigram
    //     buckets; integer-exact target-vs-raw mass-ratio decision, en docs
    //     as the target domain; model = two 256-row literal maps, scoring
    //     map-side) ---
    Gate("q_importance", (s, dir) => {
      Tables.registerBase(s, dir)
      val docs = s.table("documents")
      graft.ops.Sampling.importanceResample(
          docs, docs.where(col("lang") === "en"), "doc_id", "text")
        .select("doc_id", "lang", "target_mass", "raw_mass")
        .orderBy("doc_id")
    },
      // bucket counts recomputed in SQL from scratch; the decision products
      // run in HUGEINT where the engine uses decimal(38,0) — same integers
      Sql("WITH w AS (SELECT doc_id, lang, " +
        "LIST_FILTER(regexp_split_to_array(text, '[ \\n\\t]'), x -> LENGTH(x) > 0) AS ws FROM documents), " +
        "g AS (SELECT doc_id, lang, u.g AS gram FROM w, UNNEST(ws) AS u(g) " +
        "UNION ALL SELECT doc_id, lang, array_to_string(list_slice(ws, i, i + 1), ' ') AS gram " +
        "FROM w, LATERAL UNNEST(range(1, LEN(ws))) AS t(i)), " +
        "b AS (SELECT doc_id, lang, SUBSTRING(MD5(gram), 1, 2) AS bk FROM g), " +
        "rc AS (SELECT bk, COUNT(*) AS c FROM b GROUP BY bk), " +
        "tc AS (SELECT bk, COUNT(*) AS c FROM b WHERE lang = 'en' GROUP BY bk), " +
        "tot AS (SELECT (SELECT COUNT(*) FROM b) AS r_tot, " +
        "(SELECT COUNT(*) FROM b WHERE lang = 'en') AS t_tot), " +
        "sc AS (SELECT b.doc_id, CAST(SUM(COALESCE(tc.c, 0)) AS BIGINT) AS target_mass, " +
        "CAST(SUM(rc.c) AS BIGINT) AS raw_mass " +
        "FROM b JOIN rc USING (bk) LEFT JOIN tc USING (bk) GROUP BY b.doc_id) " +
        "SELECT sc.doc_id, d.lang, sc.target_mass, sc.raw_mass " +
        "FROM sc JOIN documents d USING (doc_id), tot " +
        "WHERE sc.raw_mass > 0 AND " +
        "CAST(sc.target_mass AS HUGEINT) * tot.r_tot >= CAST(sc.raw_mass AS HUGEINT) * tot.t_tot " +
        "ORDER BY doc_id")),

    // --- dedup: URL canonicalization + keep-canonical (the C4/RefinedWeb
    //     URL-level dedup). URLs synthesized deterministically with case /
    //     www / trailing-slash / query / fragment noise so the canonical
    //     chain is exercised on every row; one survivor per canonical URL. ---
    Gate("q_url_dedup", (s, dir) => {
      Tables.registerBase(s, dir)
      val docs = s.table("documents").withColumn("url",
        concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("http://")),
          when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
          col("source"), lit(".Ex.org/Page/"),
          (col("doc_id") % 120).cast("string"),
          when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("?utm_source=feed")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("#Section-2")).otherwise(lit(""))))
      Dedup.urlDedup(docs, "doc_id", "url")
        .select("doc_id", "url_canon")
        .orderBy("doc_id")
    },
      // the regexp chain is textually identical to Dedup.canonicalUrl's
      // (bracket classes + anchors only); survivor = min doc_id per
      // canonical URL via a window, vs the engine's min_by aggregate
      Sql("WITH u AS (SELECT doc_id, " +
        "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END) || " +
        "(CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) || " +
        "source || '.Ex.org/Page/' || CAST(doc_id % 120 AS VARCHAR) || " +
        "(CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) || " +
        "(CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed' ELSE '' END) || " +
        "(CASE WHEN doc_id % 11 = 0 THEN '#Section-2' ELSE '' END) AS url FROM documents), " +
        "c AS (SELECT doc_id, " +
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
        "lower(url), '#.*', ''), '[?].*', ''), '^https?://', ''), '^www[.]', ''), '/$', '') AS url_canon FROM u) " +
        "SELECT doc_id, url_canon FROM (SELECT doc_id, url_canon, " +
        "MIN(doc_id) OVER (PARTITION BY url_canon) AS m FROM c) t " +
        "WHERE doc_id = m ORDER BY doc_id")),

    // --- sampling: shuffle-free deterministic per-language rates (md5
    //     draw < per-stratum hex threshold; thresholds shared textually
    //     with the oracle CASE expression) ---
    Gate("q_sample_hash", (s, dir) => {
      Tables.registerBase(s, dir)
      graft.ops.Sampling.sampleByHash(
          s.table("documents"), "doc_id", "lang", SampleRates)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
      Sql {
        val cases = SampleRates.map { case (k, r) =>
          s"WHEN '$k' THEN '${graft.ops.Sampling.thresholdHex(r)}'"
        }.mkString(" ")
        "SELECT doc_id, lang, source FROM documents " +
          "WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8) < " +
          s"(CASE lang $cases ELSE '${graft.ops.Sampling.thresholdHex(0.0)}' END) " +
          "ORDER BY doc_id"
      }),

    // --- sampling: exactly-25-per-language deterministic carve-out (window
    //     over md5 order — the bounded-strata form) ---
    Gate("q_sample_stratified", (s, dir) => {
      Tables.registerBase(s, dir)
      graft.ops.Sampling.sampleExact(s.table("documents"), "doc_id", "lang", 25)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
      Sql("SELECT doc_id, lang FROM (SELECT doc_id, lang, " +
        "ROW_NUMBER() OVER (PARTITION BY lang " +
        "ORDER BY SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk " +
        "FROM documents) t WHERE rk <= 25 ORDER BY doc_id")),

    // --- sampling: WEIGHTED reservoir per language (Efraimidis-Spirakis
    //     -ln(u)/w keys from md5 draws — "sample proportional to document
    //     length" with no RNG; golden shares the JVM-log key kernel) ---
    Gate("q_sample_reservoir", (s, dir) => {
      Tables.registerBase(s, dir)
      graft.ops.Sampling.sampleWeighted(
          s.table("documents").withColumn("w", col("n_chars") + lit(1L)),
          "doc_id", "lang", "w", k = 7)
        .select("lang", "doc_id", "rank")
        .orderBy("lang", "rank")
    },
      Gate.Golden("lang, rank", in =>
        in.df(Golden.sampleReservoirG(in.docWeights, 7), "lang", "doc_id", "rank"))),

    // --- sampling: deterministic fractional UPSAMPLING (corpus mixing —
    //     per-language weights; expected multiplicity = weight, no RNG) ---
    Gate("q_upsample", (s, dir) => {
      Tables.registerBase(s, dir)
      graft.ops.Sampling.upsample(
          s.table("documents").select("doc_id", "lang"),
          "doc_id", "lang", UpsampleWeights)
        .orderBy("doc_id", "copy")
    },
      Sql {
        val arms = UpsampleWeights.map { case (k, w) =>
          val whole = math.floor(w).toInt
          val thr = graft.ops.Sampling.thresholdHex(w - whole)
          s"WHEN '$k' THEN $whole + (CASE WHEN sub < '$thr' THEN 1 ELSE 0 END)"
        }.mkString(" ")
        s"WITH r AS (SELECT doc_id, lang, (CASE lang $arms ELSE 1 END) AS reps " +
          "FROM (SELECT doc_id, lang, SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8) AS sub FROM documents)) " +
          "SELECT doc_id, lang, CAST(i AS INT) AS copy " +
          "FROM r, LATERAL UNNEST(range(1, reps + 1)) AS t(i) ORDER BY doc_id, copy"
      }),

    // --- sampling: deterministic token-budget SHARD PACKING (shuffle,
    //     concatenate, chunk into fixed token windows — chunked-window
    //     cumsum, no global sort, no sampled partitioning) ---
    Gate("q_pack_shards", (s, dir) => {
      Tables.registerBase(s, dir)
      val docs = s.table("documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Sampling.packShards(docs, "doc_id", "n_tokens", budget = 4096L)
        .withColumnRenamed("offset", "tok_offset")
        .orderBy("doc_id")
    },
      Sql("WITH t AS (SELECT doc_id, " +
        "CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0)) AS BIGINT) AS n_tokens " +
        "FROM documents) " +
        "SELECT doc_id, " +
        "CAST(SUM(n_tokens) OVER w - n_tokens AS BIGINT) AS tok_offset, " +
        "CAST((SUM(n_tokens) OVER w - n_tokens) // 4096 AS BIGINT) AS shard " +
        "FROM t WINDOW w AS (ORDER BY SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY doc_id")),

    // --- similarity: CLIP-score-style ALIGNMENT FILTER over paired
    //     embeddings (tower A = even vec_ids, tower B = the next id —
    //     scale-free pairing; keep pairs agreeing above 0.05). Output is
    //     ids only: the float score stays engine-internal, the DECISION is
    //     what both engines must agree on (same discipline as
    //     q_embed_neardup). ---
    Gate("q_align_filter", (s, dir) => {
      Tables.registerBase(s, dir)
      val e = s.table("embeddings")
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
        .where(col("id_a") % 2 === 0)
      val b = e.select((col("vec_id") - 1).as("id_a"),
        col("vec_id").as("id_b"), col("embedding").as("vec_b"))
      Similarity.alignmentFilter(a.join(b, "id_a"), "vec_a", "vec_b", 0.05)
        .select("id_a", "id_b")
        .orderBy("id_a")
    },
      Sql("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) " +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM e a JOIN e b ON b.vec_id = a.vec_id + 1 " +
        "WHERE a.vec_id % 2 = 0 AND list_cosine_similarity(a.v, b.v) > 0.05 " +
        "AND NOT isnan(list_cosine_similarity(a.v, b.v)) ORDER BY id_a")),

    // --- composed training-data pipeline (builder brief): quality filter
    //     -> canonical exact-dedup -> per-language corpus stats, the whole
    //     chain one declarative plan (filters codegen, dedup a partial
    //     aggregate + shuffle-hash join, final agg integer-exact so the
    //     cross-engine compare is bit-stable) ---
    Gate("q_docs_pipeline", (s, dir) => {
      Tables.registerBase(s, dir)
      val scored = TextOps.qualityScores(s.table("documents"), "text", "n_chars")
      val kept = scored.where(col("n_tokens") >= 20 && col("mean_token_len") < 4.9)
      val canon = Dedup.keepCanonical(
        kept.withColumn("prefix", substring(col("text"), 1, 20)), "doc_id", "prefix")
      canon.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          sum("n_chars").as("total_chars"))
        .orderBy("lang")
    },
      Sql("WITH t AS (SELECT doc_id, lang, text, n_chars, " +
        "CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0)) AS BIGINT) AS n_tokens, " +
        "LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS spaces FROM documents), " +
        "u AS (SELECT *, CAST(n_chars - spaces AS DOUBLE) / CAST(GREATEST(1, n_tokens) AS DOUBLE) AS mtl FROM t), " +
        "kept AS (SELECT * FROM u WHERE n_tokens >= 20 AND mtl < 4.9), " +
        "canon AS (SELECT kept.* FROM kept JOIN " +
        "(SELECT MD5(SUBSTRING(text, 1, 20)) AS k, MIN(doc_id) AS m FROM kept GROUP BY 1) g " +
        "ON MD5(SUBSTRING(kept.text, 1, 20)) = g.k AND kept.doc_id = g.m) " +
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, " +
        "CAST(SUM(n_chars) AS BIGINT) AS total_chars " +
        "FROM canon GROUP BY lang ORDER BY lang")),

    // --- text: rolling-hash document fingerprint (kernel; rows-only) ---
    Gate("q_fingerprint", (s, dir) => {
      Tables.registerBase(s, dir)
      TextOps.fingerprints(s.table("documents").select("doc_id", "text"), "text")
        .select("doc_id", "fingerprint").orderBy("doc_id")
    },
      Gate.Golden("doc_id", in => in.df(Golden.fingerprints(in.docs), "doc_id", "fingerprint"))),

    // --- text: winnowed (MOSS) fingerprints — Schleimer et al. 2003;
    //     oracle: independent per-window rescan vs the engine's deque ---
    Gate("q_winnow", (s, dir) => {
      Tables.registerBase(s, dir)
      TextOps.winnowFingerprints(
          s.table("documents").select("doc_id", "text"), "text", k = 20, w = 8)
        .select("doc_id", "pos", "fp").orderBy("doc_id", "pos")
    },
      Gate.Golden("doc_id, pos", in =>
        in.df(Golden.winnowG(in.docs, 20, 8), "doc_id", "pos", "fp"))),

    // --- dedup: winnowing near-dup pairs (>= 3 shared selected prints,
    //     boilerplate fps capped at docFreq 4; oracle: hash-map postings) ---
    Gate("q_winnow_pairs", (s, dir) =>
      Dedup.winnowNearDupPairs(docsWithMutants(s, dir), "doc_id", "text",
          k = 20, w = 8, minShared = 3, maxDocFreq = Some(4))
        .orderBy("id_a", "id_b"),
      Gate.Golden("id_a, id_b", in =>
        in.df(Golden.winnowPairs(in.docsWithMutants, 20, 8, minShared = 3, maxDocFreq = 4),
          "id_a", "id_b", "n_shared"))),

    // --- multimodal: binary payload round-trip metadata ---
    Gate("q_media_meta", (s, dir) =>
      Media.decodedMeta(Media.withPayload(
          images(s, dir).select("image_id")))
        .orderBy("image_id"),
      Sql(s"$W SELECT image_id, " +
        "CAST(CASE WHEN image_id % 16 = 7 THEN 16 ELSE 8 END AS INT) AS dec_w, " +
        "CAST(CASE WHEN image_id % 16 = 7 THEN 16 ELSE 8 END AS INT) AS dec_h, " +
        "CASE WHEN image_id % 16 = 0 THEN 'jpeg' ELSE 'png' END AS dec_fmt, " +
        "CAST(CASE WHEN image_id % 16 = 7 THEN 768 ELSE 192 END AS INT) AS n_px " +
        "FROM images ORDER BY image_id")),

    // --- multimodal: COMPUTED perceptual hash (grayscale -> 8x8 -> 2D
    //     DCT-II -> median-threshold AC bits) from the decoded payload —
    //     the kernel behind the north star's "phash-derived anchor";
    //     golden = independent pixel regeneration + the shared DCT kernel ---
    Gate("q_phash_dct", (s, dir) =>
      Media.computedPhash(Media.withPayload(images(s, dir).select("image_id")))
        .select("image_id", "phash_dct")
        .orderBy("image_id"),
      Gate.Golden("image_id", in => in.df(Golden.phashDct(in.images), "image_id", "phash_dct"))),

    // --- multimodal: training-batch aspect-ratio bucketing (SDXL-style) +
    //     exactly-200-per-bucket deterministic cap (md5 rank, the
    //     sampleExact/q_geo_cap discipline). Synthetic rectangular (w, h)
    //     metadata derived from image_id with exact integer arithmetic on
    //     BOTH engines; assignment is a map-side integer-rational argmin
    //     when-chain mirrored textually into the oracle CASE. ---
    Gate("q_aspect_bucket", (s, dir) =>
      graft.ops.Sampling.sampleExact(
          Media.aspectBucket(
            withSynthDims(images(s, dir).select("image_id")), "w", "h"),
          "image_id", "bucket", 200)
        .orderBy("image_id"),
      // bucket CASE generated from the SAME AspectBuckets list as the
      // engine's when-chain (Media.aspectBucketSql); cap = the md5-rank
      // discipline above
      Sql(s"$W, base AS (SELECT image_id, " +
        s"$SynthDimsSql FROM images), " +
        s"a AS (SELECT image_id, w, h, ${graft.ops.Media.aspectBucketSql("w", "h")} AS bucket FROM base), " +
        "r AS (SELECT image_id, w, h, bucket, ROW_NUMBER() OVER (PARTITION BY bucket " +
        "ORDER BY SUBSTRING(MD5(CAST(image_id AS VARCHAR)), 1, 8), image_id) AS rk FROM a) " +
        "SELECT image_id, w, h, bucket FROM r WHERE rk <= 200 ORDER BY image_id")),

    // --- multimodal: center-crop geometry per bucketed image (the
    //     execution half of aspect bucketing: maximal exact-ratio crop
    //     cw=bn*k, ch=bd*k, centered offsets — all integer div arithmetic
    //     mirrored by // in the oracle CASE chains). ---
    Gate("q_crop_plan", (s, dir) =>
      Media.cropPlan(
          Media.aspectBucket(
            withSynthDims(images(s, dir).select("image_id")), "w", "h"),
          "w", "h")
        .select("image_id", "bucket", "cw", "ch", "ox", "oy")
        .orderBy("image_id"),
      // crop geometry: the SAME integer div arithmetic generated from the
      // one AspectBuckets list (Media.cropPlanSql, // = div)
      Sql(s"$W, base AS (SELECT image_id, " +
        s"$SynthDimsSql FROM images), " +
        s"a AS (SELECT image_id, w, h, ${graft.ops.Media.aspectBucketSql("w", "h")} AS bucket FROM base) " +
        s"SELECT image_id, bucket, ${graft.ops.Media.cropPlanSql("w", "h")} " +
        "FROM a ORDER BY image_id")),

    // --- multimodal x tiling: image-overview mosaic pyramid (per-tile
    //     DECODED-pixel channel sums, map-side decode, roll-up across
    //     zooms; golden = independent per-id pixel recomputation + the
    //     mercator SQL-text tile formula + hash-map roll-up) ---
    Gate("q_mosaic", (s, dir) =>
      Media.mosaicPyramid(
          Media.withPayload(images(s, dir).select("image_id", "lat", "lng")),
          10, 12)
        .orderBy("z", "x", "y"),
      Gate.Golden("z, x, y", in =>
        in.df(Golden.mosaicG(in.images, 10, 12),
          "z", "x", "y", "n_images", "sum_r", "sum_g", "sum_b"))),

    // --- multimodal: frame sampling plumbing (video-shaped payloads) ---
    Gate("q_media_frames", (s, dir) =>
      Media.frameSampled(Media.withPayload(images(s, dir).select("image_id")), stride = 3)
        .select(col("image_id"), col("n_frames"),
          length(col("frames")).as("frames_bytes"))
        .orderBy("image_id"),
      Sql(s"$W SELECT image_id, " +
        "CAST(CASE WHEN image_id % 16 = 7 THEN 6 ELSE 3 END AS BIGINT) AS n_frames, " +
        "CAST(CASE WHEN image_id % 16 = 7 THEN 288 ELSE 72 END AS INT) AS frames_bytes " +
        "FROM images ORDER BY image_id")),

    // --- multimodal: decoded-pixel PSNR gate (rows-only; pinned by test) ---
    Gate("q_media_psnr", (s, dir) =>
      Media.psnrCheck(Media.withPayload(images(s, dir).select("image_id")))
        .select(col("image_id"), col("fmt"), (col("psnr_db") >= 40.0).as("pass"))
        .orderBy("image_id"),
      Gate.Golden("image_id", in => in.df(Golden.mediaPsnr(in.images), "image_id", "fmt", "pass"))),

    // --- §2.2 find-feature: id lookup (broadcast hash on pk) ---
    Gate("q_find_by_id", (s, dir) =>
      images(s, dir).where(col("image_id").isin(8L, 80L, 800L, 8000L))
        .select("image_id", "status", "lat", "lng").orderBy("image_id"),
      Sql(s"$W SELECT image_id, status, lat, lng FROM images " +
        "WHERE image_id IN (8, 80, 800, 8000) ORDER BY image_id")),

    // --- §2.9 overlay/with-change: delta wins over base (merged world) ---
    Gate("q_overlay", (s, dir) => {
      val base = images(s, dir).select("image_id", "status", "priority")
      val delta = Overlay.addTag(base, "image_id",
        Seq(8L, 16L, 24L, 32L, 40L), "status", "X")
      Overlay.overlay(base, delta, "image_id")
        .where(col("status") === "X" || col("image_id") <= 50)
        .orderBy("image_id")
    },
      Sql(s"$W, delta AS (SELECT image_id, 'X' AS status, priority FROM images " +
        "WHERE image_id IN (8, 16, 24, 32, 40)), " +
        "merged AS (SELECT i.image_id, " +
        "CASE WHEN d.image_id IS NOT NULL THEN d.status ELSE i.status END AS status, " +
        "i.priority FROM images i LEFT JOIN delta d ON i.image_id = d.image_id) " +
        "SELECT * FROM merged WHERE status = 'X' OR image_id <= 50 ORDER BY image_id")),

    // --- §2.3 geometry scalars: centroid/length/area/interpolate over the
    //     region rings (transcendental math -> rows-only, pinned by tests) ---
    Gate("q_geometry", (s, _) => {
      val r = Tables.regions(s)
      r.select(col("region_id"),
          Geometry.centroid(col("rings_lat")(0), col("rings_lng")(0)).as("centroid"),
          Geometry.lengthMeters(col("rings_lat")(0), col("rings_lng")(0)).as("perimeter_m"),
          Geometry.areaM2(col("rings_lat")(0), col("rings_lng")(0)).as("area_m2"))
        .select(col("region_id"), col("centroid._1").as("c_lat"),
          col("centroid._2").as("c_lng"), col("perimeter_m"), col("area_m2"))
        .orderBy("region_id")
    },
      Gate.Golden("region_id", in =>
        in.df(Golden.geometry(), "region_id", "c_lat", "c_lng", "perimeter_m", "area_m2"))),

    // --- §2.5 reachable-area: convex-hull area per region's matched images
    //     (hull aggregator; rows-only) ---
    Gate("q_hull_area", (s, dir) => {
      val matched = Containment.containmentProbe(
        images(s, dir).select("image_id", "lat", "lng", "cell16"), Synth.regions)
      Geometry.hullAreaM2(matched, "region_id", "lat", "lng").orderBy("region_id")
    },
      Gate.Golden("region_id", in =>
        in.df(Golden.hullArea(in.images), "region_id", "hull_area_m2"))),

    // --- §2.4 reachability: frontier expansion over a deterministic graph
    //     derived from orders (ring + chords); golden oracle = real Dijkstra ---
    Gate("q_reachable", (s, dir) =>
      Reachability.reachable(s, graphEdges(s, dir), Seq(1L, 8L), cutoff = 20.0)
        .orderBy("node"),
      Gate.Golden("node", in =>
        in.df(Golden.reachable(in.orderKeys, Seq(1L, 8L), 20.0), "node", "dist"))),

    // --- §2.4 network-distance closest / closest-distance
    //     (api/functions/graph.go:106-153): nearest "tagged" node by graph
    //     distance per origin ---
    Gate("q_closest", (s, dir) => {
      val edges = graphEdges(s, dir)
      val targets = edges.select(col("src").as("node")).distinct()
        .where(col("node") % 97 === 0)
      Reachability.closest(s, edges, Seq(1L, 8L, 15L), targets, cutoff = 16.0)
        .orderBy("origin")
    },
      Gate.Golden("origin", in =>
        in.df(Golden.closestG(in.orderKeys, Seq(1L, 8L, 15L), 16.0), "origin", "node", "dist"))),

    // --- §2.4 paths-to-reach (graph.go:155-200): per-edge usage counts of
    //     the shortest-path tree from the origin ---
    Gate("q_paths_to_reach", (s, dir) =>
      Reachability.pathsToReach(s, graphEdges(s, dir), origin = 1L, cutoff = 20.0)
        .orderBy("src", "dst"),
      Gate.Golden("src, dst", in =>
        in.df(Golden.pathsToReachG(in.orderKeys, 1L, 20.0), "src", "dst", "uses"))),

    // --- §2.4 building-access (access.go:9-43): which buildings each origin
    //     reaches within the cutoff, minimal distance per (origin, building) ---
    Gate("q_building_access", (s, dir) => {
      val edges = graphEdges(s, dir)
      val buildings = edges.select(col("src").as("node")).distinct()
        .where(col("node") % 5 === 0)
        .withColumn("building_id", col("node") % 500)
      Reachability.buildingAccess(s, edges, Seq(1L, 8L, 15L), buildings, cutoff = 14.0)
        .orderBy("origin", "building_id")
    },
      Gate.Golden("origin, building_id", in =>
        in.df(Golden.buildingAccessG(in.orderKeys, Seq(1L, 8L, 15L), 14.0),
          "origin", "building_id", "dist"))),

    // --- §2.4+§2.5 isochrone: flood to the cutoff, then reachable-area
    //     (hull) + count over the reached nodes with coordinates — the b6
    //     accessibility-demo composition (graph.go:106-153 + 202-216) ---
    Gate("q_isochrone", (s, dir) => {
      Reachability.isochrone(s, graphEdges(s, dir), Seq(1L, 8L, 15L),
          cutoff = 18.0,
          images(s, dir).select(col("image_id").as("node"), col("lat"), col("lng")))
        .orderBy("origin")
    },
      Gate.Golden("origin", in =>
        in.df(Golden.isochroneG(in.images, Seq(1L, 8L, 15L), 18.0),
          "origin", "n_nodes", "hull_area_m2"))),

    // --- §2.2 IntersectsPolyline: cell-pruned crossing join of paths
    //     against region shells (spatial.go:425-514 approximate semantics) ---
    Gate("q_crossing", (s, _) => {
      val spokes = s.createDataFrame(Synth.spokePaths.toSeq.map(p =>
          (p.pathId, p.lats.toSeq, p.lngs.toSeq)))
        .toDF("path_id", "lats", "lngs")
      graft.ops.Polyline.crossingJoin(
          Tables.paths(s).unionByName(spokes), Tables.regions(s))
        .orderBy("path_id", "region_id")
    },
      Gate.Golden("path_id, region_id", in => in.df(Golden.crossingG(), "path_id", "region_id"))),

    // --- §2.3 snap-area-edges (geometry.go:124-167): snap region shells
    //     onto nearby paths (cell-pruned candidate join + projection kernel;
    //     closes the last declared-out operator — round 3) ---
    Gate("q_snap_edges", (s, _) => {
      val spokes = s.createDataFrame(Synth.spokePaths.toSeq.map(p =>
          (p.pathId, p.lats.toSeq, p.lngs.toSeq)))
        .toDF("path_id", "lats", "lngs")
      graft.ops.Polyline.snapAreaEdges(
          Tables.regions(s), Tables.paths(s).unionByName(spokes), 2000.0)
        .select(col("region_id"), size(col("s_lat")).as("n_vertices"), col("n_snapped"),
          expr("aggregate(zip_with(s_lat, s_lng, (a, b) -> " +
            "CAST(FLOOR(a * 100000.0) AS BIGINT) + CAST(FLOOR(b * 100000.0) AS BIGINT)), " +
            "0L, (acc, x) -> acc + x)").as("checksum"))
        .orderBy("region_id")
    },
      Gate.Golden("region_id", in =>
        in.df(Golden.snapEdgesG(), "region_id", "n_vertices", "n_snapped", "checksum"))),

    // --- §2.8 general polygon booleans (Foster role; Greiner-Hormann
    //     kernel): pairwise intersection/union/difference areas over the
    //     covering-pruned overlapping region pairs — round 3; round 4 adds
    //     HOLE-AWARE areas (inclusion-exclusion over the shell kernel) and
    //     the courtyard fixture pair, whose hole straddles the overlap;
    //     round 5 adds the DEGENERATE fixture set (party walls,
    //     vertex-on-edge, shared corners) the fragment kernel now handles ---
    Gate("q_poly_bool", (s, _) =>
      graft.ops.Booleans.overlapBooleans(
          Tables.regions(s).unionByName(Tables.courtyards(s))
            .unionByName(Tables.degens(s)))
        .orderBy("id_a", "id_b"),
      Gate.Golden("id_a, id_b", in =>
        in.df(Golden.polyBoolG(),
          "id_a", "id_b", "n_inter_rings", "area_a", "area_b", "area_inter", "area_union",
          "area_diff"))),

    // --- §2.8 boolean RING STRUCTURE (round 5, VERDICT r04 #4): assembled
    //     shell+hole ring counts + the measure through the ring output, for
    //     every op, over the rectilinear courtyard+degenerate fixtures;
    //     golden = independent occupancy-grid flood-fill (no kernel code) ---
    Gate("q_poly_rings", (s, _) =>
      graft.ops.Booleans.booleanRingStats(
          Tables.courtyards(s).unionByName(Tables.degens(s)))
        .orderBy("id_a", "id_b", "op"),
      Gate.Golden("id_a, id_b, op", in =>
        in.df(Golden.polyRingsG(), "id_a", "id_b", "op", "n_outer", "n_hole", "area_q"))),

    // --- §2.4 connect-to-network: nearest path within 500 m ---
    Gate("q_connect", (s, dir) =>
      graft.ops.Polyline.nearestPathJoin(
          images(s, dir).select(col("image_id").as("id"), col("lat"), col("lng"), col("cell16")),
          Tables.paths(s), maxDistMeters = 500.0)
        .select(col("id"), col("path_id"))
        .orderBy("id"),
      Gate.Golden("id", in => in.df(Golden.connect(in.images, 500.0), "id", "path_id"))),

    // --- §2.4 distance-bounded self-join: all image pairs within 150 m
    //     inside the London hot rectangle (the skew fixture; the jitter
    //     lattice's minimum pair spacing is 62.8 m, so 150 m is dense) —
    //     geotag near-dup candidates; golden oracle = lat-sorted plane sweep ---
    Gate("q_dist_pairs", (s, dir) => {
      val d = graft.ops.DistanceJoin
      val pts = images(s, dir)
        .where(col("lat").between(d.GateLatLo, d.GateLatHi) &&
          col("lng").between(d.GateLngLo, d.GateLngHi))
        .select(col("image_id").as("id"), col("lat"), col("lng"))
      d.withinDistancePairs(pts, d.GateRadiusMeters).orderBy("id_a", "id_b")
    },
      Gate.Golden("id_a, id_b", in => {
        val d = graft.ops.DistanceJoin
        in.df(Golden.distPairsG(in.images, d.GateLatLo, d.GateLatHi, d.GateLngLo, d.GateLngHi,
          d.GateRadiusMeters),
          "id_a", "id_b", "dist_m")
      })),

    // --- §2.4 two-table distance join: for each "query" photo (id %
    //     GateJoinMod == 0, the exploded small side) every OTHER photo within
    //     150 m — the b6 "features within d of each feature in this set"
    //     shape, disjoint sides so the two-table path is what's exercised ---
    Gate("q_dist_join", (s, dir) => {
      val d = graft.ops.DistanceJoin
      val pts = images(s, dir)
        .where(col("lat").between(d.GateLatLo, d.GateLatHi) &&
          col("lng").between(d.GateLngLo, d.GateLngHi))
        .select(col("image_id").as("id"), col("lat"), col("lng"))
      d.withinDistanceJoin(
          pts.where(col("id") % d.GateJoinMod === 0),
          pts.where(col("id") % d.GateJoinMod =!= 0),
          d.GateRadiusMeters)
        .orderBy("id_a", "id_b")
    },
      Gate.Golden("id_a, id_b", in => {
        val d = graft.ops.DistanceJoin
        in.df(Golden.distJoinG(in.images, d.GateLatLo, d.GateLatHi, d.GateLngLo, d.GateLngHi,
          d.GateRadiusMeters, d.GateJoinMod),
          "id_a", "id_b", "dist_m")
      })),

    // --- geofence ENTER/EXIT transitions: urban trajectories straddling the
    //     3 km hot-cap region shells; pruned containment probe -> one window
    //     lag per user -> membership set-difference; golden = no-prune
    //     all-region brute force with its own transition scan ---
    Gate("q_geofence_trans", (s, dir) => {
      graft.model.Tables.registerBase(s, dir)
      val latU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.urbanTrajLat(u, e, sec))
      val lngU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.urbanTrajLng(u, e, sec))
      val ev = s.table("events").select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").cast("long").as("sec"))
        .withColumn("lat", latU(col("user_id"), col("event_id"), col("sec")))
        .withColumn("lng", lngU(col("user_id"), col("event_id"), col("sec")))
      graft.ops.GeoFence.transitions(ev, graft.model.Synth.regions)
        .orderBy("user_id", "sec", "event_id", "region_id", "kind")
    },
      Gate.Golden("user_id, sec, event_id, region_id, kind", in =>
        in.df(Golden.geofenceTransG(in.events),
          "user_id", "event_id", "sec", "region_id", "kind"))),

    // --- geo-diversity cap: at most 5 images per z15 tile (lowest-md5
    //     survivors — cap over-photographed geographies before mixing);
    //     pure-SQL oracle via the shared mercator + md5-rank text ---
    Gate("q_geo_cap", (s, dir) =>
      graft.ops.Sampling.capPerTile(images(s, dir), 15, 5)
        .orderBy("image_id"),
      // mercator + md5-rank, both shared-text disciplines (q_tiles_points /
      // q_sample_hash); the quota filter itself is exact integers
      Sql(s"$W, base AS (SELECT image_id, " +
        "CAST(FLOOR(16384 + 16384 * RADIANS(lng) / PI()) AS BIGINT) AS x, " +
        "CAST(FLOOR(16384 - 16384 * LN(TAN(PI() / 4 + RADIANS(lat) / 2)) / PI()) AS BIGINT) AS y FROM images), " +
        "r AS (SELECT image_id, x, y, ROW_NUMBER() OVER (PARTITION BY x, y " +
        "ORDER BY SUBSTRING(MD5(CAST(image_id AS VARCHAR)), 1, 8), image_id) AS rk FROM base) " +
        "SELECT image_id, x, y FROM r WHERE rk <= 5 ORDER BY image_id")),

    // --- zonal raster: exact region∩tile spherical areas at z8 — covering
    //     candidates + map-side clip (shared q_clip kernels); golden = the
    //     same kernels over an INDEPENDENT bbox-range candidate set ---
    Gate("q_zonal_area", (s, _) =>
      Tiling.rasterizeArea(Tables.regions(s), 8)
        .orderBy("region_id", "z", "x", "y"),
      Gate.Golden("region_id, z, x, y", in =>
        in.spark.createDataFrame(Golden.rasterizeAreaG(8))
          .toDF("region_id", "z", "x", "y", "area_m2"))),

    // --- heatmap: KDE-smoothed tile density at z12 (integer triangular
    //     kernel, k=2) — aggregate-first then offset-explode on the small
    //     tile table; pure-SQL oracle (same mercator text as q_tiles_points,
    //     integer convolution in SQL) ---
    Gate("q_heatmap", (s, dir) =>
      Tiling.smoothedDensity(images(s, dir), 12, 2)
        .orderBy("x", "y"),
      // same mercator text as q_tiles_points (shared-arithmetic discipline);
      // the convolution itself is exact integers: triangular weights, pmod
      // x-wrap, y clamp, CAST around DuckDB's HUGEINT sum
      Sql(s"$W, base AS (SELECT " +
        "CAST(FLOOR(2048 + 2048 * RADIANS(lng) / PI()) AS BIGINT) AS x, " +
        "CAST(FLOOR(2048 - 2048 * LN(TAN(PI() / 4 + RADIANS(lat) / 2)) / PI()) AS BIGINT) AS y FROM images), " +
        "c AS (SELECT x, y, COUNT(*) AS n FROM base GROUP BY 1, 2), " +
        "o AS (SELECT a.dx, b.dy, CAST((3 - ABS(a.dx)) * (3 - ABS(b.dy)) AS BIGINT) AS w " +
        "FROM (VALUES (-2), (-1), (0), (1), (2)) a(dx), (VALUES (-2), (-1), (0), (1), (2)) b(dy)) " +
        "SELECT CAST(12 AS INT) AS z, ((c.x + o.dx) % 4096 + 4096) % 4096 AS x, " +
        "c.y + o.dy AS y, CAST(SUM(c.n * o.w) AS BIGINT) AS density " +
        "FROM c, o WHERE c.y + o.dy >= 0 AND c.y + o.dy < 4096 " +
        "GROUP BY 2, 3 ORDER BY x, y")),

    // --- Getis-Ord Gi* hot spots at z12 over the occupied tiles —
    //     aggregate-first 3x3 neighbour equi-join + broadcast global stats;
    //     the float z-score is ONE shared expression text (Tiling.GiStarZSql)
    //     over exact integer aggregates, guards are exact integers ---
    Gate("q_hotspot", (s, dir) =>
      Tiling.giStar(images(s, dir), 12).orderBy("x", "y"),
      // same mercator text as q_heatmap; integer aggregates + the ONE shared
      // float z-score expression (Tiling.GiStarZSql) on both engines;
      // divide-by-zero rows excluded by exact integer guards
      Sql(s"$W, base AS (SELECT " +
        "CAST(FLOOR(2048 + 2048 * RADIANS(lng) / PI()) AS BIGINT) AS x, " +
        "CAST(FLOOR(2048 - 2048 * LN(TAN(PI() / 4 + RADIANS(lat) / 2)) / PI()) AS BIGINT) AS y FROM images), " +
        "c AS (SELECT x, y, COUNT(*) AS n FROM base GROUP BY 1, 2), " +
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn, CAST(SUM(n) AS BIGINT) AS s1, " +
        "CAST(SUM(n * n) AS BIGINT) AS s2 FROM c), " +
        "o AS (SELECT a.dx, b.dy FROM (VALUES (-1), (0), (1)) a(dx), (VALUES (-1), (0), (1)) b(dy)), " +
        "nb AS (SELECT ((c.x + o.dx) % 4096 + 4096) % 4096 AS x, c.y + o.dy AS y, c.n AS nj FROM c, o), " +
        "gi AS (SELECT c.x, c.y, CAST(SUM(nb.nj) AS BIGINT) AS gi, CAST(COUNT(*) AS BIGINT) AS wi " +
        "FROM c JOIN nb USING (x, y) GROUP BY 1, 2) " +
        s"SELECT CAST(12 AS INT) AS z, x, y, ${graft.ops.Tiling.GiStarZSql} AS gi_z " +
        "FROM gi, g WHERE nn > 1 AND wi < nn AND s2 * nn > s1 * s1 ORDER BY x, y")),

    // --- OD flow matrix at z6: per-user (sec, event_id)-ordered tile
    //     transitions (user/ts synthesized from image_id with exact integer
    //     SQL shared with the oracle, same ts text as q_covisit); ONE
    //     user-keyed window shuffle + ONE pair-keyed agg shuffle ---
    Gate("q_od_matrix", (s, dir) =>
      graft.ops.Trajectory.odMatrix(
          images(s, dir).select(
            (col("image_id") % 997).as("user_id"),
            col("image_id").as("event_id"),
            expr("(image_id * 40507) % 86400").as("sec"),
            col("lat"), col("lng")), 6)
        .orderBy("from_x", "from_y", "to_x", "to_y"),
      // z6 mercator (same text family as q_tiles_points), exact-integer
      // user/ts synthesis (same ts text as q_covisit), LAG window transitions
      Sql(s"$W, base AS (SELECT image_id % 997 AS user_id, image_id AS event_id, " +
        "(image_id * 40507) % 86400 AS sec, " +
        "CAST(FLOOR(32 + 32 * RADIANS(lng) / PI()) AS BIGINT) AS x, " +
        "CAST(FLOOR(32 - 32 * LN(TAN(PI() / 4 + RADIANS(lat) / 2)) / PI()) AS BIGINT) AS y FROM images), " +
        "t AS (SELECT user_id, x, y, " +
        "LAG(x) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS from_x, " +
        "LAG(y) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS from_y FROM base) " +
        "SELECT from_x, from_y, x AS to_x, y AS to_y, COUNT(*) AS n_moves, " +
        "COUNT(DISTINCT user_id) AS n_users " +
        "FROM t WHERE from_x IS NOT NULL AND (from_x <> x OR from_y <> y) " +
        "GROUP BY 1, 2, 3, 4 ORDER BY from_x, from_y, to_x, to_y")),

    // --- HMM Viterbi map matching: per-user fix sequences (urban
    //     trajectories straddling the hot-cap path networks) snapped onto
    //     Synth.paths within 500 m — sound covering candidate join + one
    //     groupBy-user DP; golden = brute-force candidates + functional
    //     trace-carrying fold DP (shared distance kernel + cost op order) ---
    Gate("q_map_match", (s, dir) => {
      Tables.registerBase(s, dir)
      val latU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.urbanTrajLat(u, e, sec))
      val lngU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.urbanTrajLng(u, e, sec))
      val ev = s.table("events").select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").cast("long").as("sec"))
        .withColumn("lat", latU(col("user_id"), col("event_id"), col("sec")))
        .withColumn("lng", lngU(col("user_id"), col("event_id"), col("sec")))
        .withColumn("cell16", graft.functions.S2Expressions.s2Cell16(col("lat"), col("lng")))
      graft.ops.MapMatch.viterbiMatch(ev, Tables.paths(s), 500.0, 50.0, 2.0)
        .orderBy("user_id", "event_id")
    },
      Gate.Golden("user_id, event_id", in =>
        in.df(Golden.mapMatchG(in.events, 500.0, 50.0, 2.0), "user_id", "event_id", "path_id"))),

    // --- ROUTED map matching (VERDICT r03 #3): full Newson-Krakauer
    //     transitions — |route - great-circle| / beta with route distances
    //     from Reachability's flood over the routable grid fixture; users
    //     filtered to the grid's hot center (user_id % 3 == 0 lands on
    //     hotCenters(0)). Golden = brute-force candidates + INDEPENDENT
    //     binary-heap Dijkstra + functional trace DP (integral edge costs
    //     make flood and Dijkstra sums exactly equal). ---
    Gate("q_map_match_routed", (s, dir) => {
      Tables.registerBase(s, dir)
      val latU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.urbanTrajLat(u, e, sec))
      val lngU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.urbanTrajLng(u, e, sec))
      val ev = s.table("events").where(col("user_id") % 3 === 0)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").cast("long").as("sec"))
        .withColumn("lat", latU(col("user_id"), col("event_id"), col("sec")))
        .withColumn("lng", lngU(col("user_id"), col("event_id"), col("sec")))
        .withColumn("cell16", graft.functions.S2Expressions.s2Cell16(col("lat"), col("lng")))
      graft.ops.MapMatch.viterbiMatchRouted(ev,
          Tables.gridSegments(s), Tables.gridEdges(s),
          radiusMeters = 250.0, maxRouteMeters = 12000.0,
          sigmaMeters = 50.0, betaMeters = 200.0)
        .orderBy("user_id", "event_id")
    },
      Gate.Golden("user_id, event_id", in =>
        in.df(Golden.mapMatchRoutedG(in.events, 250.0, 50.0, 200.0, 12000.0),
          "user_id", "event_id", "path_id"))),

    // --- per-leg trajectory kinematics: duration/length/speed/bearing/turn
    //     for every consecutive fix pair (teleport + burst-pan quality
    //     signals); ONE groupBy-user shuffle; golden = functional
    //     sliding-pair recomputation, shared haversine/bearing kernels ---
    Gate("q_traj_legs", (s, dir) => {
      Tables.registerBase(s, dir)
      val latU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.trajLat(u, e, sec))
      val lngU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.trajLng(u, e, sec))
      val ev = s.table("events").select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").cast("long").as("sec"))
        .withColumn("lat", latU(col("user_id"), col("event_id"), col("sec")))
        .withColumn("lng", lngU(col("user_id"), col("event_id"), col("sec")))
      graft.ops.Trajectory.legs(ev).orderBy("user_id", "sec", "event_id")
    },
      Gate.Golden("user_id, sec, event_id", in =>
        in.df(Golden.trajLegsG(in.events),
          "user_id", "event_id", "sec", "dt_s", "dist_m", "speed_mps", "bearing_deg",
          "turn_deg"))),

    // --- geohash index histogram: the third public spatial index (string-
    //     prefix pruning) next to S2 and Hex7 — precision-7 encode, count
    //     per 5-char prefix; golden = independent two-track bit
    //     construction of the same public spec ---
    Gate("q_geohash", (s, dir) => {
      val gh = udf((la: Double, lo: Double) => graft.core.Geohash.encode(la, lo, 7))
      images(s, dir)
        .select(substring(gh(col("lat"), col("lng")), 1, 5).as("gh5"))
        .groupBy("gh5").agg(count(lit(1)).as("n"))
        .orderBy("gh5")
    },
      Gate.Golden("gh5", in => in.df(Golden.geohashG(in.images, 7, 5), "gh5", "n"))),

    // --- trajectory-pair Hausdorff join: user_id%3==0 urban trajectories
    //     within symmetric discrete Hausdorff 2.5 km — per-user cap-covering
    //     cell equi-join candidates + exact max-of-min refine (selection-only
    //     floats, order-independent); golden = brute-force all pairs with a
    //     sound first-fix prune ---
    Gate("q_traj_hausdorff", (s, dir) => {
      Tables.registerBase(s, dir)
      val latU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.urbanTrajLat(u, e, sec))
      val lngU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.urbanTrajLng(u, e, sec))
      val ev = s.table("events").where(col("user_id") % 3 === 0)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").cast("long").as("sec"))
        .withColumn("lat", latU(col("user_id"), col("event_id"), col("sec")))
        .withColumn("lng", lngU(col("user_id"), col("event_id"), col("sec")))
      graft.ops.TrajSim.hausdorffPairs(ev, 2500.0)
        .orderBy("user_a", "user_b")
    },
      Gate.Golden("user_a, user_b", in =>
        in.df(Golden.trajHausdorffG(in.events.filter(_.userId % 3 == 0), 2500.0),
          "user_a", "user_b", "hausdorff_m"))),

    // --- stay-point detection: per-user greedy dwell extraction (Li et al.
    //     GIS'08) over deterministic trajectories synthesized from the
    //     events table (Synth.trajLat/trajLng, 2-day dwell/travel blocks);
    //     ONE groupBy-user shuffle + sorted scan; golden = an independent
    //     recursive recomputation of the same published greedy spec ---
    Gate("q_staypoints", (s, dir) => {
      graft.model.Tables.registerBase(s, dir)
      val latU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.trajLat(u, e, sec))
      val lngU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.trajLng(u, e, sec))
      val ev = s.table("events").select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").cast("long").as("sec"))
        .withColumn("lat", latU(col("user_id"), col("event_id"), col("sec")))
        .withColumn("lng", lngU(col("user_id"), col("event_id"), col("sec")))
      graft.ops.Trajectory.stayPoints(ev,
          graft.ops.Trajectory.GateRadiusMeters,
          graft.ops.Trajectory.GateMinDurationSeconds)
        .orderBy("user_id", "start_s")
    },
      Gate.Golden("user_id, start_s", in => {
        val t = graft.ops.Trajectory
        in.df(Golden.stayPointsG(in.events, t.GateRadiusMeters, t.GateMinDurationSeconds),
          "user_id", "start_s", "end_s", "n_points", "c_lat", "c_lng")
      })),

    // --- per-user odometer over the same synthetic trajectories: leg sums
    //     in scan order (bit-deterministic under any partitioning); golden
    //     = functional fold, shared haversine kernel ---
    Gate("q_odometer", (s, dir) => {
      graft.model.Tables.registerBase(s, dir)
      val latU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.trajLat(u, e, sec))
      val lngU = udf((u: Long, e: Long, sec: Long) => graft.model.Synth.trajLng(u, e, sec))
      val ev = s.table("events").select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").cast("long").as("sec"))
        .withColumn("lat", latU(col("user_id"), col("event_id"), col("sec")))
        .withColumn("lng", lngU(col("user_id"), col("event_id"), col("sec")))
      graft.ops.Trajectory.trackStats(ev).orderBy("user_id")
    },
      Gate.Golden("user_id", in =>
        in.df(Golden.trackStatsG(in.events),
          "user_id", "n_points", "total_m", "max_leg_m", "net_m"))),

    // --- spatio-temporal co-visit join: pairs within 150 m AND 600 s over
    //     the London rectangle — (cell x time-bucket) composite-key equi-join;
    //     ts is exact integer arithmetic shared with the oracle; golden
    //     oracle = the plane sweep with the time filter (independent) ---
    Gate("q_covisit", (s, dir) => {
      val c = graft.ops.CoVisit
      val d = graft.ops.DistanceJoin
      val pts = images(s, dir)
        .where(col("lat").between(d.GateLatLo, d.GateLatHi) &&
          col("lng").between(d.GateLngLo, d.GateLngHi))
        .select(col("image_id").as("id"), col("lat"), col("lng"),
          expr("(image_id * 40507) % 86400").as("ts"))
      c.covisitPairs(pts, c.GateRadiusMeters, c.GateWindowSeconds)
        .orderBy("id_a", "id_b")
    },
      Gate.Golden("id_a, id_b", in => {
        val c = graft.ops.CoVisit
        val d = graft.ops.DistanceJoin
        in.df(Golden.covisitG(in.images, d.GateLatLo, d.GateLatHi, d.GateLngLo, d.GateLngHi,
          c.GateRadiusMeters, c.GateWindowSeconds),
          "id_a", "id_b", "dist_m", "dt_s")
      })),

    // --- density clustering: DBSCAN over the London hot rectangle (the
    //     skew fixture) — pair join + degree groupBy + star-contraction
    //     components + border min-attach, all keyed equi-joins; golden
    //     oracle = plane-sweep adjacency + driver-side BFS (independent) ---
    Gate("q_dbscan", (s, dir) => {
      val c = graft.ops.Cluster
      val pts = images(s, dir)
        .where(col("lat").between(c.GateLatLo, c.GateLatHi) &&
          col("lng").between(c.GateLngLo, c.GateLngHi))
        .select(col("image_id").as("id"), col("lat"), col("lng"))
      c.dbscan(pts, c.GateEpsMeters, c.GateMinPts).orderBy("id")
    },
      Gate.Golden("id", in => {
        val c = graft.ops.Cluster
        in.df(Golden.dbscanG(in.images, c.GateLatLo, c.GateLatHi, c.GateLngLo, c.GateLngHi,
          c.GateEpsMeters, c.GateMinPts),
          "id", "cluster", "role")
      })),

    // --- §2.4 temporal as-of join: each event picks up the most recent
    //     "state" snapshot (every 10th event) of its user at or before its
    //     timestamp — union + keyed window, ONE shuffle, no join node;
    //     oracle = DuckDB's native ASOF LEFT JOIN (independent engine) ---
    Gate("q_asof", (s, dir) => {
      Tables.registerBase(s, dir)
      val ev = s.table("events")
      val state = ev.where(col("event_id") % 10 === 0)
        .select(col("user_id"), col("ts"),
          col("event_id").as("state_event_id"), col("value").as("state_value"))
      graft.ops.AsOf.asofJoin(
          ev.select("event_id", "user_id", "ts"), state,
          keys = Seq("user_id"), tsCol = "ts",
          payload = Seq("state_event_id", "state_value"))
        .select("event_id", "state_event_id", "state_value")
        .orderBy("event_id")
    },
      // DuckDB's NATIVE ASOF LEFT JOIN — a fully independent engine for the
      // point-in-time semantics (the Spark side is a union + keyed window,
      // a completely different formulation)
      Sql("WITH r AS (SELECT user_id, ts, event_id AS state_event_id, value AS state_value " +
        "FROM events WHERE event_id % 10 = 0), " +
        "l AS (SELECT event_id, user_id, ts FROM events) " +
        "SELECT l.event_id, r.state_event_id, r.state_value " +
        "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts " +
        "ORDER BY l.event_id")),

    // --- §2.4 as-of with staleness tolerance: same attach, but a state
    //     older than ~2.9 days is unusable (nulled). Staleness is monotonic
    //     in age, so resolve-then-null (engine) == filter-then-argmax
    //     (oracle's LATERAL top-1) ---
    Gate("q_asof_tol", (s, dir) => {
      Tables.registerBase(s, dir)
      val ev = s.table("events")
      val state = ev.where(col("event_id") % 10 === 0)
        .select(col("user_id"), col("ts"),
          col("event_id").as("state_event_id"), col("value").as("state_value"))
      graft.ops.AsOf.asofJoin(
          ev.select("event_id", "user_id", "ts"), state,
          keys = Seq("user_id"), tsCol = "ts",
          payload = Seq("state_event_id", "state_value"),
          toleranceSeconds = Some(250000.0))
        .select("event_id", "state_event_id", "state_value")
        .orderBy("event_id")
    },
      // tolerance form: a THIRD independent formulation (correlated LATERAL
      // top-1) — staleness filter inside the subquery; monotonicity makes it
      // equivalent to the engine's resolve-then-null
      Sql("WITH r AS (SELECT user_id, ts, event_id AS state_event_id, value AS state_value " +
        "FROM events WHERE event_id % 10 = 0), " +
        "l AS (SELECT event_id, user_id, ts FROM events) " +
        "SELECT l.event_id, m.state_event_id, m.state_value " +
        "FROM l LEFT JOIN LATERAL (" +
        "SELECT state_event_id, state_value FROM r " +
        "WHERE r.user_id = l.user_id AND r.ts <= l.ts " +
        "AND EPOCH(l.ts) - EPOCH(r.ts) <= 250000 " +
        "ORDER BY r.ts DESC LIMIT 1) m ON TRUE " +
        "ORDER BY l.event_id")),

    // --- §2.8 elevation: IDW over spot heights within 3 km ---
    Gate("q_elevation", (s, dir) => {
      val imgs = images(s, dir)
      val samples = imgs.where(col("image_id") % 40 === 0)
        .select(col("lat").as("s_lat"), col("lng").as("s_lng"),
          (col("image_id") % 1000).cast("double").as("height"))
      graft.ops.Elevation.elevations(
          imgs.select(col("image_id").as("id"), col("lat"), col("lng"), col("cell16")),
          samples, radiusMeters = 3000.0)
        // fixed-point accumulation inside `elevations` makes the double
        // bit-deterministic — no defensive rounding needed for the hash gate
        .select(col("id"), col("elevation"))
        .orderBy("id")
    },
      Gate.Golden("id", in => in.df(Golden.elevation(in.images, 3000.0), "id", "elevation"))),

    // --- §2.8 sightline: visibility polygons from the hot-cap centers ---
    Gate("q_sightline", (s, _) => {
      val origins = Synth.hotCenters.toSeq.zipWithIndex.map {
        case ((la, lo), i) => (i.toLong, la, lo)
      }
      graft.ops.Sightline.sightlines(s, origins, Tables.regions(s), 5000.0)
        .select(col("origin_id"), size(col("polygon")).as("n_vertices"),
          // quantized radius checksum: vertex SET is deterministic, so the
          // long sum is order-independent — a much stronger gate than the
          // count alone
          expr("aggregate(polygon, 0L, (a, p) -> a + CAST(FLOOR(SQRT(p._1 * p._1 + p._2 * p._2) * 1000.0) AS BIGINT))")
            .as("r_checksum"))
        .orderBy("origin_id")
    },
      Gate.Golden("origin_id", in =>
        in.df(Golden.sightline(5000.0), "origin_id", "n_vertices", "r_checksum"))),

    // --- §2.1 GeoJSON source/sink: regions -> to-geojson -> parse ---
    Gate("q_geojson", (s, _) => {
      import s.implicits._
      val fc = graft.sources.GeoJson.regionsToGeoJson(Tables.regions(s))
        .select("geojson").collect().map(_.getString(0))
        .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
      graft.sources.GeoJson.parseFeatureCollection(Seq(fc).toDF("json"), "json")
        .select(col("feature_id"), col("geom_type"),
          size(col("rings_lat")).as("n_rings"),
          size(col("rings_lat")(0)).as("n_vertices"))
        .orderBy("feature_id")
    },
      Gate.Golden("feature_id", in =>
        in.df(Golden.geojson(), "feature_id", "geom_type", "n_rings", "n_vertices"))),

    // --- §3.2 shell pipeline with lambdas (shell.y:95-100): find + filter
    //     lambda + map-to-pair + take, evaluated purely as Catalyst ---
    Gate("q_shell", (s, dir) =>
      graft.api.Shell.run(images(s, dir),
        "find [#status=O] | filter {x -> (gt (get x price) 50000)} | " +
          "map {x -> (pair (get x image_id) (divide (get x price) 2))} | take 20",
        idCol = "first"),
      Sql(s"""$W SELECT image_id AS "first", price / CAST(2.0 AS DOUBLE) AS "second" """ +
        "FROM images WHERE status = 'O' AND price > CAST(50000.0 AS DOUBLE) " +
        "ORDER BY image_id LIMIT 20")),

    // --- §3.2 shell within-cap: the EXACT codegen WithinCapMeters predicate
    //     behind the shell surface (VERDICT r02 #8), composed with a tag
    //     query and id-ordered take ---
    Gate("q_shell_cap", (s, dir) =>
      graft.api.Shell.run(images(s, dir),
        "find [#status=O] | within-cap 51.5074 -0.1278 5000 | take 20")
        .select("image_id", "lat", "lng"),
      Gate.Golden("image_id", in => in.df(Golden.shellCapG(in.images), "image_id", "lat", "lng"))),

    // --- §1.1 4-type Feature model: Typed queries + FeatureID-ordered take
    //     over the unified heterogeneous world (world.go:52-64,157-177) ---
    Gate("q_typed_take", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.model.Features.world(s, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy("ftype").orderBy(graft.model.Features.idOrder: _*)))
        .where(col("rn") <= 4)
        .select(col("ftype"), col("ns"), col("fid"), col("rn"))
        .orderBy("ftype", "rn")
    },
      Gate.Golden("ftype, rn", in =>
        in.df(Golden.typedTakeG(in.images), "ftype", "ns", "fid", "rn"))),

    // --- §1.1 relations: member dereference (id-lookup join) against the
    //     unified world (world.go:605-616) ---
    Gate("q_relation_members", (s, dir) =>
      graft.model.Features.dereferenceMembers(graft.model.Features.world(s, dir))
        .orderBy("rel_fid", "mfid"),
      Gate.Golden("rel_fid, mfid", in =>
        in.df(Golden.relationMembersG(), "rel_fid", "role", "mtype", "mns", "mfid", "resolved"))),

    // --- §2.8 polygon clip (Foster-boolean convex-window slice,
    //     geometry/foster.go:21-27): clip each region shell to its inner
    //     half bounding box ---
    Gate("q_clip", (s, _) => {
      val la = col("rings_lat")(0); val lo = col("rings_lng")(0)
      val latLo = (array_min(la) * lit(3.0) + array_max(la)) / lit(4.0)
      val latHi = (array_min(la) + array_max(la) * lit(3.0)) / lit(4.0)
      val lngLo = (array_min(lo) * lit(3.0) + array_max(lo)) / lit(4.0)
      val lngHi = (array_min(lo) + array_max(lo) * lit(3.0)) / lit(4.0)
      Tables.regions(s)
        .select(col("region_id"),
          Geometry.clipToRect(la, lo, latLo, latHi, lngLo, lngHi).as("c"))
        .select(col("region_id"), size(col("c._1")).as("n_vertices"),
          col("c._3").as("clip_area_m2"))
        .orderBy("region_id")
    },
      Gate.Golden("region_id", in =>
        in.df(Golden.clipG(), "region_id", "n_vertices", "clip_area_m2"))),

    // --- §2.3 path ordered-join (features.go:458-494): split every fixture
    //     path in half, reverse the second half, ordered-join must restore
    //     the original (exercises the orientation-fixing concat) ---
    Gate("q_path_join", (s, _) => {
      val p = Tables.paths(s)
      // Column `/` is double division — truncate to int or the even-length
      // slice gets a fractional length
      val m = ((size(col("lats")) + 1) / 2).cast("int")
      val halves = p.select(col("path_id"),
        slice(col("lats"), lit(1), m).as("a_lats"),
        slice(col("lngs"), lit(1), m).as("a_lngs"),
        reverse(slice(col("lats"), m, size(col("lats")) - m + 1)).as("b_lats"),
        reverse(slice(col("lngs"), m, size(col("lngs")) - m + 1)).as("b_lngs"))
      graft.ops.Polyline.orderedJoinPaths(halves)
        .select(col("path_id"), size(col("j_lats")).as("n_vertices"),
          col("j_lats")(0).as("first_lat"), col("j_lngs")(0).as("first_lng"),
          element_at(col("j_lats"), -1).as("last_lat"),
          element_at(col("j_lngs"), -1).as("last_lng"))
        .orderBy("path_id")
    },
      Gate.Golden("path_id", in =>
        in.df(Golden.pathJoinG(),
          "path_id", "n_vertices", "first_lat", "first_lng", "last_lat", "last_lng"))),

    // --- §2.1 GeoJSON breadth: LineString / MultiPoint / Polygon /
    //     MultiPolygon parse + geojson-areas inversion (geojson.go:133-145) ---
    Gate("q_geojson_full", (s, _) => {
      import s.implicits._
      val fc = Seq(Synth.geojsonFullFixture).toDF("json")
      val parsed = graft.sources.GeoJson.parseFeatureCollection(fc, "json")
      val nParts = when(col("geom_type") === "Point", lit(1))
        .when(col("geom_type") === "LineString", lit(1))
        .when(col("geom_type") === "MultiPoint", size(col("points_lat")))
        .when(col("geom_type") === "MultiLineString", size(col("paths_lat")))
        .when(col("geom_type") === "Polygon", size(col("rings_lat")))
        .when(col("geom_type") === "MultiPolygon", size(col("polys_lat")))
      val nPoints = when(col("geom_type") === "Point", lit(1))
        .when(col("geom_type") === "LineString", size(col("path_lat")))
        .when(col("geom_type") === "MultiPoint", size(col("points_lat")))
        .when(col("geom_type") === "MultiLineString",
          aggregate(col("paths_lat"), lit(0), (a, r) => a + size(r)))
        .when(col("geom_type") === "Polygon",
          aggregate(col("rings_lat"), lit(0), (a, r) => a + size(r)))
        .when(col("geom_type") === "MultiPolygon",
          aggregate(col("polys_lat"), lit(0),
            (a, poly) => a + aggregate(poly, lit(0), (b, r) => b + size(r))))
      val areas = graft.sources.GeoJson.geojsonAreas(parsed)
        .where(col("poly_idx") === 0)
        .select(col("feature_id"), col("inverted"))
      parsed.select(col("feature_id"), col("geom_type"), col("member_idx"),
          nParts.as("n_parts"), nPoints.as("n_points"))
        .join(areas, Seq("feature_id"), "left")
        // member_idx in the order key: (feature_id, geom_type) is only
        // unique while a collection's members have distinct types — two
        // same-type members would alias without the member discriminator
        .orderBy("feature_id", "geom_type", "member_idx")
    },
      Gate.Golden("feature_id, geom_type, member_idx", in =>
        in.df(Golden.geojsonFullG(),
          "feature_id", "geom_type", "member_idx", "n_parts", "n_points", "inverted"))),

    // --- §2.1/§3.3 MVT line + area layers (renderer/encoder.go:77-143):
    //     paths at z10, region polygons at z6, per-tile blobs ---
    Gate("q_mvt_paths", (s, _) => {
      val lines = Tiling.mvtPathTiles(Tables.paths(s), 10, "paths")
        .select(lit("paths").as("layer"), col("z"), col("x"), col("y"),
          col("n_features"), length(col("mvt")).as("mvt_bytes"))
      val areas = Tiling.mvtRegionTiles(Tables.regions(s), 6, "areas")
        .select(lit("areas").as("layer"), col("z"), col("x"), col("y"),
          col("n_features"), length(col("mvt")).as("mvt_bytes"))
      lines.unionByName(areas).orderBy("layer", "z", "x", "y")
    },
      Gate.Golden("layer, z, x, y", in =>
        in.df(Golden.mvtPathsG(), "layer", "z", "x", "y", "n_features", "mvt_bytes"))),

    // --- §2.1/§3.3 MVT sink: per-tile vector-tile blobs ---
    Gate("q_mvt_tiles", (s, dir) =>
      Tiling.mvtPointTiles(images(s, dir).select("image_id", "lat", "lng"), 10, "images")
        .select(col("z"), col("x"), col("y"), col("n_features"),
          length(col("mvt")).as("mvt_bytes"))
        .orderBy("z", "x", "y"),
      Gate.Golden("z, x, y", in =>
        in.df(Golden.mvtTiles(in.images, 10, 10000), "z", "x", "y", "n_features", "mvt_bytes"))),

    // --- stateful streaming: per-user sessionization (custom state via
    //     flatMapGroupsWithState; oracle = gap-and-island SQL) ---
    Gate("q_sessions", (s, dir) => {
      Tables.registerBase(s, dir)
      import s.implicits._
      EventStream.sessionize(s.table("events").as[EventStream.Event], gapSeconds = 3600)
        .orderBy("user_id", "start_s")
    },
      Sql("WITH e AS (SELECT user_id, event_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec FROM events), " +
        "w AS (SELECT user_id, event_id, sec, LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev FROM e), " +
        "m AS (SELECT user_id, event_id, sec, CASE WHEN prev IS NULL OR sec - prev > 3600 THEN 1 ELSE 0 END AS ns FROM w), " +
        "s AS (SELECT user_id, sec, SUM(ns) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT user_id, MIN(sec) AS start_s, MAX(sec) AS end_s, COUNT(*) AS n_events " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, start_s")),

    // --- streaming surface, batch-equivalent aggregation (hour buckets) ---
    Gate("q_events_window", (s, dir) => {
      Tables.registerBase(s, dir)
      EventStream.batchWindowedCounts(s.table("events"))
        .orderBy("bucket", "event_type")
    },
      Sql("SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS bucket, event_type, " +
        "COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users FROM events " +
        "GROUP BY 1, 2 ORDER BY bucket, event_type")),

    // --- streaming geospatial surface: geofence occupancy windows ---
    // GeoStream.regionWindowCounts run under BATCH execution (withWatermark
    // is a no-op there) — the exact function body the streaming query runs,
    // so the oracle anchors the streaming surface transitively with
    // GeoStreamSpec's stream==batch equality. Event time is synthesized
    // from image_id (two 1-hour windows); oracle = the pure-SQL ray-cast
    // containment union + epoch-hour bucketing.
    Gate("q_geofence_window", (s, dir) => {
      val imgs = images(s, dir)
        .withColumn("ts", expr("CAST(1700000000 + (image_id % 7200) AS TIMESTAMP)"))
      graft.streaming.GeoStream.regionWindowCounts(
          imgs, graft.model.Synth.regions, "ts", "1 hour", "1 minute")
        .select(expr("CAST(unix_timestamp(win_start) AS BIGINT)").as("win_s"),
          col("region_id"), col("n"))
        .orderBy("win_s", "region_id")
    },
      Sql(s"$W, m AS ($containmentUnion), " +
        "t AS (SELECT image_id, (1700000000 + (image_id % 7200)) // 3600 * 3600 AS win_s FROM images) " +
        "SELECT t.win_s, m.region_id, COUNT(*) AS n " +
        "FROM m JOIN t USING (image_id) GROUP BY 1, 2 ORDER BY win_s, region_id")),

    // --- composed IMAGE corpus pipeline (the image twin of q_docs_pipeline):
    //     phash near-dup drop -> geofence -> per-region corpus stats as ONE
    //     declarative plan. Dedup rule: drop any image within hamming 3 of a
    //     SMALLER id (greedy, deterministic, SQL-expressible as NOT EXISTS —
    //     exactly the id_b side of the exact banded pair list). Sum over
    //     floor(price) keeps the aggregate integer-exact under any shuffle
    //     order. ---
    Gate("q_image_pipeline", (s, dir) => {
      val sub = images(s, dir)
        .where(expr("CAST(floor(image_id / 8) AS BIGINT) % 40 = 0"))
        .withColumn("ph", expr(graft.model.Synth.phashDupExpr("image_id")))
      val pairs = Dedup.phashNearDup(sub, "image_id", "ph", maxHamming = 3, bands = 4)
      val kept = sub.join(pairs.select(col("id_b").as("image_id")).distinct(),
        Seq("image_id"), "left_anti")
      Containment.containmentProbe(kept, graft.model.Synth.regions)
        .groupBy("region_id")
        .agg(count(lit(1)).as("n_images"),
          sum(expr("CAST(floor(price) AS BIGINT)")).as("price_floor_sum"))
        .orderBy("region_id")
    },
      Sql {
        val keptUnion = Synth.regions.map { r =>
          s"SELECT image_id, '${r.regionId}' AS region_id FROM keep WHERE ${Synth.rayCastSql(r)}"
        }.mkString(" UNION ALL ")
        (s"$W, sub AS (SELECT *, ${Synth.phashDupExpr("image_id")} AS ph FROM images " +
          "WHERE CAST(floor(image_id / 8) AS BIGINT) % 40 = 0), " +
          "keep AS (SELECT * FROM sub i WHERE NOT EXISTS (" +
          "SELECT 1 FROM sub a WHERE a.image_id < i.image_id " +
          "AND bit_count(xor(a.ph, i.ph)) <= 3)), " +
          s"m AS ($keptUnion) " +
          "SELECT m.region_id, COUNT(*) AS n_images, " +
          "CAST(SUM(CAST(floor(k.price) AS BIGINT)) AS BIGINT) AS price_floor_sum " +
          "FROM m JOIN keep k USING (image_id) GROUP BY 1 ORDER BY region_id")
      })
  )

  private lazy val byName: Map[String, Gate] = gates.map(g => g.name -> g).toMap

  /** The gate named `name`; an unknown name fails, naming it. */
  def gate(name: String): Gate =
    byName.getOrElse(name, throw new NoSuchElementException(s"unknown gate $name"))

  /** The deterministic graph fixture (ring + chords over order keys):
    * undirected via both directed rows; costs are exact integer-valued
    * doubles so min-plus sums hash-compare exactly. */
  def graphEdges(s: SparkSession, dir: String): DataFrame = {
    Tables.registerBase(s, dir)
    s.sql(
      """SELECT o_orderkey AS src, (o_orderkey % 1000) * 7 + 1 AS dst,
        |       1.0 + (o_orderkey % 13) AS cost FROM orders
        |UNION ALL
        |SELECT (o_orderkey % 1000) * 7 + 1 AS src, o_orderkey AS dst,
        |       1.0 + (o_orderkey % 13) AS cost FROM orders""".stripMargin)
  }
}
