package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling for training-data pipelines: reproducible
  * draws derived from md5 of a key column, never from RNG state, so a
  * sample is stable across runs, engines, partitionings and retries — the
  * property corpus-mixing pipelines actually need (re-running a 100 TB mix
  * job must not re-roll the dice).
  *
  * Two shapes, deliberately separate:
  *  - [[sampleByHash]]: rate-per-stratum as a PURE FILTER over the scan —
  *    no shuffle, no state, whole-stage codegen; the 100 TB default.
  *  - [[sampleExact]]: exactly n rows per stratum via a per-stratum window
  *    sort — right for bounded strata (eval carve-outs, per-language caps);
  *    a skewed open-ended stratum funnels through one task's sort, which is
  *    why the rate form exists.
  */
object Sampling {

  /** A uniform 32-bit draw for a key, as the FIRST 8 LOWERCASE HEX CHARS of
    * md5(key). Kept as a string so the keep test is a plain string compare
    * reproducible bit-exactly in any engine with md5 (the DuckDB oracle
    * shares the threshold literal). */
  def hashDraw(key: Column): Column = substring(md5(key.cast("string")), 1, 8)

  /** Threshold literal for a keep rate: floor(rate * 2^32) as 8 lowercase
    * hex chars; keep iff hashDraw(key) < threshold. rate 0 keeps nothing
    * ("00000000" is strictly above no draw); rate 1 returns "g", which
    * sorts after every hex digit and so keeps everything. */
  def thresholdHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    if (rate >= 1.0) "g" else f"${(rate * 4294967296.0).toLong}%08x"
  }

  /** Shuffle-free deterministic stratified sampling: keep a row iff its md5
    * draw falls under its stratum's rate. Strata not in `rates` use
    * `defaultRate`. */
  def sampleByHash(df: DataFrame, keyCol: String, stratumCol: String,
                   rates: Map[String, Double],
                   defaultRate: Double = 0.0): DataFrame = {
    val thr = rates.foldLeft(lit(thresholdHex(defaultRate)): Column) {
      case (acc, (k, r)) =>
        when(col(stratumCol) === lit(k), lit(thresholdHex(r))).otherwise(acc)
    }
    df.where(hashDraw(col(keyCol)) < thr)
  }

  /** Deterministic fractional upsampling for corpus mixing (Pile/Dolma-style
    * per-source weights): a row appears floor(w) times, plus once more iff
    * its md5 draw falls under frac(w) — expected multiplicity exactly w,
    * with NO RNG, byte-stable across runs, partitionings and engines.
    * Weights below 1 degrade to deterministic downsampling (floor 0 +
    * fractional keep = the sampleByHash rule). Adds `copy` (INT, 1..reps);
    * a map-side explode of a tiny int sequence — no shuffle. */
  def upsample(df: DataFrame, keyCol: String, stratumCol: String,
               weights: Map[String, Double],
               defaultWeight: Double = 1.0): DataFrame = {
    def repsFor(w: Double): Column = {
      require(w >= 0.0, s"upsample: weight must be >= 0, got $w")
      val whole = math.floor(w).toInt
      // NULL key => no fractional draw (floor(w) copies), matching SQL's
      // `CASE WHEN sub < thr THEN 1 ELSE 0 END` where a NULL comparison
      // falls to ELSE — without the coalesce, NULL poisons reps and the
      // row vanishes entirely even for integer weights.
      lit(whole) + coalesce(
        (hashDraw(col(keyCol)) < lit(thresholdHex(w - whole))).cast("int"),
        lit(0))
    }
    val reps = weights.foldLeft(repsFor(defaultWeight)) {
      case (acc, (k, w)) =>
        when(col(stratumCol) === lit(k), repsFor(w)).otherwise(acc)
    }
    // the when-guard matters: sequence(1, 0) DESCENDS rather than erroring,
    // and explode of the empty array is what drops a reps=0 row
    df.withColumn("copy", explode(
      when(reps >= 1, sequence(lit(1), reps))
        .otherwise(array().cast("array<int>"))))
  }

  /** Deterministic token-budget shard packing — the "shuffle, concatenate,
    * chunk into fixed token windows" step of a training-data pipeline:
    * stream the corpus in the md5-shuffled total order (hashDraw(key), key —
    * the same deterministic shuffle the samplers use), accumulate token
    * counts, and assign each doc the shard where it STARTS:
    * `offset` = tokens before it in the stream, `shard` = offset / budget.
    * Byte-stable across runs, partitionings and engines (BIGINT arithmetic
    * over a total order); re-running a 100 TB packing job must not reshard.
    *
    * Scale shape — NO global window, NO sampled range partitioning: the
    * first 4 hex chars of the draw give a FIXED 65,536-way chunking of the
    * stream (md5 is uniform, so chunks are balanced at ~1.5 GB per 100 TB).
    * Per-chunk token totals are a tiny aggregate; chunk start offsets are a
    * window over those 65,536 rows; the per-doc cumsum is a per-chunk
    * window (one spillable sort task per chunk) plus a broadcast join on
    * the chunk id. Because the chunk id is a PREFIX of the order key, chunk
    * order ⊕ in-chunk order equals the global order — same two-pass prefix
    * trick as Search.percentiles but with deterministic boundaries, so no
    * determinism-anchor cache is needed.
    *
    * Keys must be NON-NULL (engines disagree on NULL order) and token
    * counts non-negative (Spark's `div` truncates toward zero where the
    * oracle's `//` floors, so a negative offset would silently split the
    * engines) — both contracts are ENFORCED with a loud runtime failure
    * rather than documentation alone (review r03i). */
  def packShards(df: DataFrame, keyCol: String, tokensCol: String,
                 budget: Long): DataFrame = {
    require(budget > 0, s"packShards: budget must be positive, got $budget")
    val draw = hashDraw(col(keyCol))
    val chunk = conv(substring(draw, 1, 4), 16, 10).cast("int")
    // assert_true as a FILTER condition (null on success -> isNull = keep
    // all rows; throws on violation) so column pruning cannot drop the
    // guard the way it would an unused projected column
    val contract = assert_true(
      col(keyCol).isNotNull && col(tokensCol).cast("long") >= 0L,
      lit(s"packShards: NULL $keyCol or negative $tokensCol " +
        "(non-null keys and non-negative token counts are required " +
        "for a deterministic total order)"))
    val rows = df
      .select(col(keyCol), col(tokensCol).cast("long").as("_tok"))
      .where(contract.isNull)
      .withColumn("_draw", draw).withColumn("_chunk", chunk)
    val chunkOffsets = rows
      .groupBy("_chunk").agg(sum("_tok").as("_chunk_tok"))
      .withColumn("_chunk_off",
        coalesce(sum("_chunk_tok").over(
          Window.orderBy("_chunk")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_chunk", "_chunk_off")
    val inChunk = Window.partitionBy("_chunk")
      .orderBy(col("_draw"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows
      .join(broadcast(chunkOffsets), Seq("_chunk"))
      .withColumn("offset", col("_chunk_off") + sum("_tok").over(inChunk) - col("_tok"))
      // integral `div`, not double division: exact past 2^53 tokens
      .withColumn("shard", expr(s"offset div ${budget}L"))
      .select(col(keyCol), col("offset"), col("shard"))
  }

  /** Hashed-n-gram feature bucket for importance resampling: the first two
    * hex chars of md5(gram) — 256 buckets as STRINGS, so both engines
    * bucket bit-identically with no hex parsing (the [[hashDraw]] rule). */
  def gramBucket(gram: Column): Column = substring(md5(gram), 1, 2)

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169 —
    * public method): score every corpus document by how much its hashed
    * n-gram feature mass looks like a TARGET domain vs the raw corpus, and
    * keep the documents above a threshold. Features are word unigrams +
    * bigrams hashed into 256 md5 buckets (the paper's hashed n-gram
    * generative model); this re-expression replaces the paper's
    * log-likelihood ratio + Gumbel top-k with an INTEGER-EXACT decision —
    * documented divergence, same discipline as Hex7 vs libh3:
    *
    *   target_mass = Σ_grams(doc) t[bucket(g)]   (t = target bucket counts)
    *   raw_mass    = Σ_grams(doc) r[bucket(g)]   (r = corpus bucket counts)
    *   keep  ⇔  (target_mass / T) ≥ (num/den) · (raw_mass / R)
    *
    * evaluated as `target_mass·R·den ≥ raw_mass·T·num` in decimal(38,0) —
    * no floats, no logs, no RNG: bit-stable across runs, engines and
    * partitionings, and every ratio is a per-doc average bucket-mass ratio
    * between the two distributions (ρ ≥ num/den keeps documents that lean
    * target). Zero-gram documents have no defined ratio and are dropped.
    *
    * Scale shape: the MODEL is two 256-row aggregates (one over the corpus
    * grams, one over the target's — computed once, collected, and embedded
    * as constant literal maps), so scoring is a SINGLE MAP-SIDE SCAN with
    * zero shuffle: `aggregate()` over the doc's gram array against
    * `typedlit` maps, whole-stage codegen end to end. The target set is
    * small by nature (a domain sample); the corpus pass is one
    * partial-aggregated count by bucket string. Counts are exact BIGINTs;
    * the decision products live in decimal(38,0), which holds to ~1e12
    * grams per side per doc — far past any real corpus. */
  def importanceResample(df: DataFrame, target: DataFrame,
                         idCol: String, textCol: String,
                         thresholdNum: Long = 1L, thresholdDen: Long = 1L): DataFrame = {
    require(thresholdNum >= 0 && thresholdDen > 0,
      s"importanceResample: threshold must be a non-negative rational, got $thresholdNum/$thresholdDen")
    def grams(c: Column): Column =
      concat(graft.ops.TextOps.wordNgrams(c, 1), graft.ops.TextOps.wordNgrams(c, 2))
    // at most 256 rows: one per [[gramBucket]]
    def bucketCounts(d: DataFrame): Map[String, Long] =
      d.select(explode(grams(col(textCol))).as("g"))
        .groupBy(gramBucket(col("g")).as("bk")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val t = bucketCounts(target)
    val r = bucketCounts(df)
    val tTot = t.values.sum
    val rTot = r.values.sum
    require(rTot > 0 && tTot > 0,
      "importanceResample: corpus and target must each contain at least one gram")
    // constant literal maps (typedlit => ONE Literal, not a per-row
    // CreateMap of 512 children); absent buckets coalesce to 0
    val tMap = typedlit(t)
    val rMap = typedlit(r)
    def mass(m: Column): Column =
      aggregate(grams(col(textCol)), lit(0L),
        (acc, g) => acc + coalesce(element_at(m, gramBucket(g)), lit(0L)))
    val dec = "decimal(38,0)"
    df.withColumn("target_mass", mass(tMap))
      .withColumn("raw_mass", mass(rMap))
      .where(col("raw_mass") > 0L &&
        col("target_mass").cast(dec) * lit(rTot).cast(dec) * lit(thresholdDen).cast(dec) >=
          col("raw_mass").cast(dec) * lit(tTot).cast(dec) * lit(thresholdNum).cast(dec))
  }

  /** A deterministic uniform (0,1) draw for a key with 52 bits of md5
    * entropy, exactly representable in a double: the first 13 hex chars as
    * an integer v, mapped to (v + 0.5) / 2^52. Shared by the weighted
    * reservoir sampler and its golden (same JVM ops → bit-identical). */
  def uniformDraw(key: Column): Column =
    (conv(substring(md5(key.cast("string")), 1, 13), 16, 10).cast("double")
      + lit(0.5)) / lit(4503599627370496.0)

  /** Deterministic weighted reservoir sampling per stratum — Efraimidis–
    * Spirakis A-ES ("Weighted random sampling with a reservoir", Inf. Proc.
    * Letters 2006, public method): a weight-w item survives a k-slot
    * reservoir with the probability of having one of the k LARGEST
    * u^(1/w) keys, here ranked equivalently by the SMALLEST -ln(u)/w.
    * u comes from [[uniformDraw]] (md5, not RNG), so the sample — like
    * every sampler here — is byte-stable across runs, partitionings,
    * retries and engines; "sample a corpus proportional to document
    * length" must not re-roll on a 100 TB re-run.
    *
    * Scale shape: the E-S key is pure map-side Column arithmetic over the
    * scan; selection is one per-stratum top-k window — right for bounded
    * strata (per-language reservoirs), the same contract as [[sampleExact]].
    * Weights must be STRICTLY positive (a zero weight has no defined key);
    * enforced loudly, packShards-style, via an assert_true filter that
    * column pruning cannot drop.
    *
    * @return the survivors with their `rank` (1..k, by ascending E-S key). */
  def sampleWeighted(df: DataFrame, keyCol: String, stratumCol: String,
                     weightCol: String, k: Int): DataFrame = {
    require(k > 0, s"sampleWeighted: k must be positive, got $k")
    val contract = assert_true(
      col(keyCol).isNotNull && col(weightCol).cast("double") > 0.0,
      lit(s"sampleWeighted: NULL $keyCol or non-positive $weightCol " +
        "(the Efraimidis-Spirakis key -ln(u)/w needs w > 0)"))
    val esKey = (-log(uniformDraw(col(keyCol)))) / col(weightCol).cast("double")
    val w = Window.partitionBy(stratumCol).orderBy(esKey, col(keyCol))
    df.where(contract.isNull)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Exactly-n-per-stratum deterministic sample: the n rows with the LOWEST
    * md5 draws in each stratum, ties broken by the key itself. */
  def sampleExact(df: DataFrame, keyCol: String, stratumCol: String,
                  n: Int): DataFrame = {
    require(n > 0, s"sampleExact: n must be positive, got $n")
    val rk = "__graft_sample_rk"
    val w = Window.partitionBy(stratumCol)
      .orderBy(hashDraw(col(keyCol)), col(keyCol))
    df.withColumn(rk, row_number().over(w))
      .where(col(rk) <= n)
      .drop(rk)
  }

  /** Leakage-free train/val/test SPLIT assignment: the split is decided by
    * the md5 draw of the GROUP key — a near-dup component id, a URL domain,
    * an author — never the row key, so every member of a group lands in the
    * SAME split and near-duplicates cannot straddle train and eval (the
    * contamination mode exact-dedup alone does not close; the standard
    * web-corpus discipline, e.g. C4's URL-level splits).
    *
    * `splits` are (name, fraction) in PRIORITY ORDER; fractions must sum to
    * ≤ 1 (a shortfall leaves rows with draws above the last cumulative
    * threshold on the LAST split — pass fractions summing to 1 for a total
    * assignment). Decision = first cumulative [[thresholdHex]] the draw
    * falls under: a pure map-side string compare, no shuffle, no RNG,
    * byte-stable across engines (the [[sampleByHash]] discipline).
    * Adds `split` (STRING). */
  def splitByGroupHash(df: DataFrame, groupCol: String,
                       splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "splitByGroupHash: at least one split")
    require(splits.forall(_._2 > 0.0),
      s"splitByGroupHash: every fraction must be > 0 (a non-positive one " +
        s"makes the cumulative thresholds non-monotonic and silently " +
        s"starves that split), got ${splits.map(_._2).mkString(", ")}")
    require(splits.map(_._2).sum <= 1.0 + 1e-9,
      s"splitByGroupHash: fractions sum to ${splits.map(_._2).sum} > 1")
    val cum = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val draw = hashDraw(col(groupCol))
    val assign = splits.zip(cum).init.foldRight(
      lit(splits.last._1): Column) { case (((name, _), c), acc) =>
      when(draw < lit(thresholdHex(c)), lit(name)).otherwise(acc)
    }
    df.withColumn("split", assign)
  }

  /** The splitByGroupHash CASE mirror for the DuckDB oracle, generated from
    * the SAME cumulative [[thresholdHex]] literals. */
  def splitByGroupHashSql(groupExpr: String,
                          splits: Seq[(String, Double)]): String = {
    require(splits.nonEmpty, "splitByGroupHashSql: at least one split")
    // one split = the Column twin's degenerate everything-in-one-bucket
    // case; a CASE with zero WHEN branches is invalid SQL, so mirror the
    // twin's constant assignment as a plain quoted literal
    if (splits.size == 1) return s"'${splits.head._1}'"
    val cum = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val draw = s"SUBSTRING(MD5(CAST($groupExpr AS VARCHAR)), 1, 8)"
    val whens = splits.zip(cum).init.map { case ((name, _), c) =>
      s"WHEN $draw < '${thresholdHex(c)}' THEN '$name'"
    }.mkString(" ")
    s"CASE $whens ELSE '${splits.last._1}' END"
  }

  /** GEO-diversity cap: keep at most `quota` images per zoom-`zoom` map tile
    * — the "don't let one city dominate the training set" operator (cap
    * over-photographed geographies before mixing; the spatial twin of the
    * per-language carve-out above). Deterministic: the survivors per tile
    * are the lowest md5 draws (hashDraw, the engine↔oracle-shared ranking),
    * id tiebreak. Exactly [[sampleExact]] with the stratum = the image's
    * (x, y) tile at `zoom` (Tiling.pointManifest's Mercator math, the
    * q_tiles_points discipline), so the sampleExact contract carries over:
    * right for bounded strata — a single tile's rows sort in one task
    * (quota selection needs a global per-tile rank); at planetary scale
    * pick a zoom whose tiles bound the per-tile row count, or pre-thin
    * pathological tiles with the rate form. Output: (image_id, x, y) of
    * the survivors; join back by image_id for payloads. */
  def capPerTile(images: DataFrame, zoom: Int, quota: Int): DataFrame = {
    require(quota > 0, s"capPerTile: quota must be positive, got $quota")
    val m = graft.ops.Tiling.pointManifest(images, zoom, zoom)
      .select("image_id", "x", "y")
    val rk = "__graft_sample_rk"
    val w = Window.partitionBy("x", "y")
      .orderBy(hashDraw(col("image_id")), col("image_id"))
    m.withColumn(rk, row_number().over(w))
      .where(col(rk) <= quota)
      .drop(rk)
  }
}
