package graft.ops

import graft.core.Hashes
import graft.functions.S2Expressions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Multimodal (image payload) plumbing per BASELINE.json input_hint: opaque
  * `bytes BINARY` with typed metadata (w, h, fmt), decode / feature-extract /
  * resize as batch operators.
  *
  * The container has no image codecs (builder brief), so the DECODE step is a
  * deterministic fake behind a fixed container format; everything Spark-side
  * — schema, partitioning, batch shape, PSNR verification — is real and
  * tested. Payload discipline (SURVEY.md §7.4): `bytes` never rides through a
  * shuffle; joins run on projected metadata and re-join by image_id.
  *
  * Container format (16-byte header + w*h*3 payload):
  *   [0..3]  magic "GRFT"
  *   [4]     fmt code (0=png lossless, 1=jpeg lossy)
  *   [5..7]  reserved
  *   [8..11] w (LE int32), [12..15] h (LE int32)
  * "jpeg" payloads are quantized to 4 levels per byte (pixel & ~3) — a
  * deterministic lossy proxy whose PSNR vs the source sits ~42.7 dB, above
  * the >=40 dB gate. */
object Media {

  val HeaderLen = 16

  def fmtOf(imageId: Long): String = if (imageId % 16 == 0) "jpeg" else "png"
  def sizeOf(imageId: Long): Int = if (imageId % 16 == 7) 16 else 8

  /** Deterministic source pixels for an image id (the "ground truth" the
    * PSNR check compares decoded output against). */
  def sourcePixels(imageId: Long, w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var i = 0
    while (i < out.length) {
      out(i) = (Hashes.splitmix64(imageId * 1315423911L + i) >>> 56).toByte
      i += 1
    }
    out
  }

  def encode(imageId: Long): Array[Byte] = {
    val w = sizeOf(imageId); val h = w
    val fmt: Byte = if (fmtOf(imageId) == "jpeg") 1 else 0
    val px = sourcePixels(imageId, w, h)
    val out = new Array[Byte](HeaderLen + px.length)
    out(0) = 'G'; out(1) = 'R'; out(2) = 'F'; out(3) = 'T'; out(4) = fmt
    var k = 0
    while (k < 4) {
      out(8 + k) = ((w >> (8 * k)) & 0xff).toByte
      out(12 + k) = ((h >> (8 * k)) & 0xff).toByte
      k += 1
    }
    var i = 0
    while (i < px.length) {
      out(HeaderLen + i) = if (fmt == 1) (px(i) & ~3).toByte else px(i)
      i += 1
    }
    out
  }

  /** Decode: header -> (w, h, fmt), payload -> pixels. The inverse of
    * `encode`; for "jpeg" the quantization loss stays (lossy roundtrip). */
  def decode(bytes: Array[Byte]): (Int, Int, String, Array[Byte]) = {
    require(bytes.length >= HeaderLen && bytes(0) == 'G' && bytes(1) == 'R'
      && bytes(2) == 'F' && bytes(3) == 'T', "bad GRFT container")
    def le(off: Int): Int = (0 until 4).map(k => (bytes(off + k) & 0xff) << (8 * k)).sum
    val w = le(8); val h = le(12)
    val fmt = if (bytes(4) == 1) "jpeg" else "png"
    (w, h, fmt, java.util.Arrays.copyOfRange(bytes, HeaderLen, bytes.length))
  }

  def psnr(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length)
    var se = 0.0
    var i = 0
    while (i < a.length) {
      val d = ((a(i) & 0xff) - (b(i) & 0xff)).toDouble
      se += d * d
      i += 1
    }
    if (se == 0) Double.PositiveInfinity
    else 20.0 * math.log10(255.0 / math.sqrt(se / a.length))
  }

  /** Attach the binary payload + typed metadata columns to an images table —
    * the input_hint shape (image_id, bytes, w, h, fmt, caption, phash). */
  def withPayload(images: DataFrame): DataFrame = {
    val enc = udf((id: Long) => encode(id))
    val ph = udf((id: Long) => Hashes.splitmix64(id))
    images
      .withColumn("bytes", enc(col("image_id")))
      .withColumn("w", when(col("image_id") % 16 === 7, 16).otherwise(8))
      .withColumn("h", when(col("image_id") % 16 === 7, 16).otherwise(8))
      .withColumn("fmt", when(col("image_id") % 16 === 0, "jpeg").otherwise("png"))
      .withColumn("phash", ph(col("image_id")))
  }

  /** Decode metadata from the binary itself (real parsing of the container
    * header — proves the bytes column round-trips). */
  def decodedMeta(withBytes: DataFrame): DataFrame = {
    val meta = udf((bytes: Array[Byte]) => {
      val (w, h, fmt, px) = decode(bytes)
      (w, h, fmt, px.length)
    })
    withBytes.withColumn("m", meta(col("bytes")))
      .select(col("image_id"), col("m._1").as("dec_w"), col("m._2").as("dec_h"),
        col("m._3").as("dec_fmt"), col("m._4").as("n_px"))
  }

  /** Per-row PSNR of decoded pixels vs the deterministic source — the
    * input_hint invariant (>=40 dB for lossy, infinite for lossless),
    * evaluated on a sampled subset at scale. */
  def psnrCheck(withBytes: DataFrame): DataFrame = {
    val p = udf((id: Long, bytes: Array[Byte]) => {
      val (w, h, _, px) = decode(bytes)
      psnr(sourcePixels(id, w, h), px)
    })
    withBytes.select(col("image_id"), col("fmt"), p(col("image_id"), col("bytes")).as("psnr_db"))
  }

  /** Frame sampling (video-shaped payloads): treat the pixel payload as `h`
    * rows of w*3 bytes ("frames") and keep every `stride`-th row — the
    * batch shape of a real frame sampler with the decode stubbed. */
  def frameSampled(withBytes: DataFrame, stride: Int): DataFrame = {
    val fs = udf((bytes: Array[Byte]) => {
      val (w, h, _, px) = decode(bytes)
      val rowLen = w * 3
      val kept = (0 until h by stride).toArray
      val out = new Array[Byte](kept.length * rowLen)
      var i = 0
      while (i < kept.length) {
        System.arraycopy(px, kept(i) * rowLen, out, i * rowLen, rowLen)
        i += 1
      }
      out
    })
    withBytes.withColumn("frames", fs(col("bytes")))
      .withColumn("n_frames", ((col("h") + stride - 1) / stride).cast("long"))
  }

  /** Feature extraction stub: per-channel mean as a 3-dim embedding —
    * the plumbing that feeds decoded pixels into the ANN operators
    * (Similarity.bruteForceTopK over the output). */
  def features(withBytes: DataFrame): DataFrame = {
    val feat = udf((bytes: Array[Byte]) => {
      val (_, _, _, px) = decode(bytes)
      val sums = new Array[Double](3)
      var i = 0
      while (i < px.length) { sums(i % 3) += (px(i) & 0xff); i += 1 }
      val n = px.length / 3
      Array((sums(0) / n).toFloat, (sums(1) / n).toFloat, (sums(2) / n).toFloat)
    })
    withBytes.withColumn("embedding", feat(col("bytes")))
  }

  /** Resize stub: per-row UDF form; nearest-neighbour downsample to
    * (tw, th). `resizedPartitions` below is the batch-kernel form. */
  def resized(withBytes: DataFrame, tw: Int, th: Int): DataFrame = {
    val rz = udf((bytes: Array[Byte]) => {
      val (w, h, _, px) = decode(bytes)
      val out = new Array[Byte](tw * th * 3)
      var y = 0
      while (y < th) {
        var x = 0
        while (x < tw) {
          val sx = x * w / tw; val sy = y * h / th
          var c = 0
          while (c < 3) {
            out((y * tw + x) * 3 + c) = px((sy * w + sx) * 3 + c)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      out
    })
    withBytes.withColumn("resized", rz(col("bytes")))
  }

  /** TRUE batch-shaped resize: mapPartitions with one scratch buffer
    * allocated per PARTITION and reused across its rows — the Scala
    * analogue of a mapInPandas/Arrow-batch image kernel (the builder
    * brief's multimodal batch shape; a real codec would amortize decoder
    * state the same way). Output rows equal `resized` bit-for-bit
    * (MediaSpec/OpsSpec). */
  def resizedPartitions(withBytes: DataFrame, tw: Int, th: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.BinaryType
    val spark = withBytes.sparkSession
    val schema = withBytes.schema.add("resized", BinaryType)
    val bytesIdx = withBytes.schema.fieldIndex("bytes")
    val rdd = withBytes.rdd.mapPartitions { it =>
      val scratch = new Array[Byte](tw * th * 3) // reused per row in the batch
      it.map { r =>
        val (w, h, _, px) = decode(r.getAs[Array[Byte]](bytesIdx))
        var y = 0
        while (y < th) {
          var x = 0
          while (x < tw) {
            val sx = x * w / tw; val sy = y * h / th
            var c = 0
            while (c < 3) {
              scratch((y * tw + x) * 3 + c) = px((sy * w + sx) * 3 + c)
              c += 1
            }
            x += 1
          }
          y += 1
        }
        Row.fromSeq(r.toSeq :+ scratch.clone())
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** DCT perceptual hash COMPUTED from decoded pixels — the kernel behind
    * the north star's "phash-derived anchor point": grayscale -> 8x8
    * nearest-neighbor downsample (the `resized` rule) -> 2D DCT-II -> 63
    * AC coefficients thresholded against their median (DC bit fixed 0) ->
    * 64-bit hash. The classic pHash construction (public algorithm): low
    * spatial frequencies survive re-encoding, so a lossy re-encode of the
    * same image lands within a few Hamming bits while distinct images land
    * ~32 apart — MediaSpec pins both properties on the GRFT fake's jpeg
    * quantization. Deterministic: plain double arithmetic + an exact
    * median-of-63 (sorted middle element), no platform-dependent ordering.
    * Bit i (1..63) = 1 iff coefficient i (row-major, DC skipped) > median. */
  def phashOfPixels(w: Int, h: Int, px: Array[Byte]): Long = {
    val gray = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val sx = x * w / 8; val sy = y * h / 8
        val o = (sy * w + sx) * 3
        gray(y * 8 + x) =
          ((px(o) & 0xff) + (px(o + 1) & 0xff) + (px(o + 2) & 0xff)) / 3.0
        x += 1
      }
      y += 1
    }
    val dct = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            s += gray(yy * 8 + xx) *
              math.cos((2 * xx + 1) * v * math.Pi / 16.0) *
              math.cos((2 * yy + 1) * u * math.Pi / 16.0)
            xx += 1
          }
          yy += 1
        }
        dct(u * 8 + v) = s
        v += 1
      }
      u += 1
    }
    val ac = java.util.Arrays.copyOfRange(dct, 1, 64)
    val sortedAc = ac.clone(); java.util.Arrays.sort(sortedAc)
    val median = sortedAc(31)
    var hash = 0L
    var i = 0
    while (i < 63) {
      if (ac(i) > median) hash |= 1L << (i + 1)
      i += 1
    }
    hash
  }

  /** Column form: computed pHash of the binary payload. */
  def computedPhash(withBytes: DataFrame): DataFrame = {
    val ph = udf((bytes: Array[Byte]) => {
      val (w, h, _, px) = decode(bytes)
      phashOfPixels(w, h, px)
    })
    withBytes.withColumn("phash_dct", ph(col("bytes")))
  }

  /** Image-overview mosaic pyramid — the IMAGE-payload face of the tile
    * pyramid (satellite/web-map overview builds: each coarse tile renders
    * the aggregate color of the imagery beneath it). Per occupied tile at
    * every zoom in [zMin, zMax]: image count + exact integer channel sums
    * of the DECODED pixels (means derive as sum/count/(w*h); sums stay
    * integer so the gate is bit-exact).
    *
    * Scale shape: the decode + channel-sum kernel runs MAP-SIDE next to
    * the scan — the binary payload never rides a shuffle (the engine-wide
    * media contract); the only full-data shuffle carries (x, y, 4 longs)
    * partial sums into the zMax histogram, and every coarser zoom is the
    * `Tiling.rollUpSums` child→parent re-sum over occupied tiles. */
  def mosaicPyramid(withBytes: DataFrame, zMin: Int, zMax: Int): DataFrame = {
    val sums = udf((bytes: Array[Byte]) => {
      val (_, _, _, px) = decode(bytes)
      var r = 0L; var g = 0L; var b = 0L
      var i = 0
      while (i < px.length) {
        val v = (px(i) & 0xff).toLong
        (i % 3: @annotation.switch) match {
          case 0 => r += v
          case 1 => g += v
          case _ => b += v
        }
        i += 1
      }
      (r, g, b)
    })
    val (_, x, y) = S2Expressions.tileXYZ(col("tid"))
    val base = withBytes
      .withColumn("tid", element_at(S2Expressions.tileChain(
        col("lat"), col("lng"), zMax, zMax), 1))
      .withColumn("s", sums(col("bytes")))
      .select(x.as("x"), y.as("y"),
        col("s._1").as("r"), col("s._2").as("g"), col("s._3").as("b"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("n_images"), sum("r").as("sum_r"),
        sum("g").as("sum_g"), sum("b").as("sum_b"))
    Tiling.rollUpSums(base, zMin, zMax,
      Seq("n_images", "sum_r", "sum_g", "sum_b"))
  }

  /** Decoded-pixel quality kernel (the DataComp/LAION-style low-information
    * image filter's measurement half): integer Rec.601 luminance
    * (r·299+g·587+b·114)/1000, a 16-bin luminance histogram, Shannon
    * entropy over the bins (bits), and RMS contrast. Histogram/sum state is
    * exact integers; the two float outputs are computed in a FIXED bin /
    * formula order, so they are bit-deterministic and mirrored by the
    * golden per the float-kernel policy.
    * @return (n_px, lum_sum, lum_sq, entropy_bits, rms_contrast) */
  def qualityOfPixels(px: Array[Byte]): (Long, Long, Long, Double, Double) = {
    val n = px.length / 3
    require(n > 0, "qualityOfPixels: empty pixel payload")
    val hist = new Array[Long](16)
    var lumSum = 0L; var lumSq = 0L
    var p = 0
    while (p < n) {
      val r = px(3 * p) & 0xff; val g = px(3 * p + 1) & 0xff
      val b = px(3 * p + 2) & 0xff
      val lum = (r * 299 + g * 587 + b * 114) / 1000
      hist(lum >> 4) += 1
      lumSum += lum; lumSq += lum.toLong * lum
      p += 1
    }
    var ent = 0.0
    var i = 0
    while (i < 16) {
      if (hist(i) > 0) {
        val pi = hist(i).toDouble / n.toDouble
        ent -= pi * (StrictMath.log(pi) / StrictMath.log(2.0))
      }
      i += 1
    }
    val mean = lumSum.toDouble / n.toDouble
    val contrast = Math.sqrt(lumSq.toDouble / n.toDouble - mean * mean)
    (n.toLong, lumSum, lumSq, ent, contrast)
  }

  /** Image quality scoring + keep decision over the decoded payload —
    * map-side only (the payload never rides a shuffle), one decode per row,
    * the image twin of the text quality operators. `keep` = entropy >=
    * minEntropy (flat/synthetic images score near 0; natural noise near
    * log2(16) = 4). */
  def imageQuality(withBytes: DataFrame, minEntropy: Double): DataFrame = {
    val q = udf((bytes: Array[Byte]) => {
      val (_, _, _, px) = decode(bytes)
      qualityOfPixels(px)
    })
    withBytes.withColumn("q", q(col("bytes")))
      .withColumn("n_px", col("q._1"))
      .withColumn("lum_sum", col("q._2"))
      .withColumn("lum_sq", col("q._3"))
      .withColumn("entropy", col("q._4"))
      .withColumn("contrast", col("q._5"))
      .withColumn("keep", col("entropy") >= lit(minEntropy))
      .drop("q")
  }

  /** Training-batch aspect-ratio buckets (the SDXL / NovelAI bucketing
    * scheme — public technique: group images into a fixed set of aspect
    * ratios so batches share a tensor shape, instead of center-cropping
    * everything square). Name and target ratio as an exact rational
    * (numerator bn : denominator bd). */
  val AspectBuckets: Seq[(String, Int, Int)] = Seq(
    ("1:1", 1, 1), ("4:3", 4, 3), ("3:4", 3, 4), ("16:9", 16, 9),
    ("9:16", 9, 16), ("3:2", 3, 2), ("2:3", 2, 3), ("21:9", 21, 9),
    ("9:21", 9, 21))

  /** Assign each image to the nearest aspect bucket. Distance to bucket i is
    * |w/h − bn_i/bd_i| = |w·bd_i − h·bn_i| / (h·bd_i); dropping the common
    * 1/h factor, the comparable per-bucket score is
    * `abs(w·bd − h·bn) / bd` — an INTEGER absolute difference with one
    * double division, so both engines produce the identical IEEE double and
    * the argmin is bit-deterministic. Ties break to the FIRST bucket in
    * [[AspectBuckets]] order (the when-chain scans in list order).
    *
    * 100 TB shape: pure map-side codegen — the bucket list is a compile-time
    * when-chain, no join, no shuffle, no UDF. Composes with
    * [[graft.ops.Sampling.sampleExact]] (bounded strata: one per bucket) for
    * per-bucket caps, or [[graft.ops.Sampling.sampleByHash]] when the cap is
    * a rate. Adds `bucket` (string). */
  def aspectBucket(df: DataFrame, wCol: String, hCol: String): DataFrame = {
    val scores = AspectBuckets.map { case (_, bn, bd) =>
      abs(col(wCol).cast("long") * lit(bd.toLong) -
        col(hCol).cast("long") * lit(bn.toLong)).cast("double") / lit(bd.toDouble)
    }
    val best = least(scores: _*)
    val assign = AspectBuckets.zip(scores).foldRight(lit(null).cast("string")) {
      case (((name, _, _), s), acc) => when(s === best, lit(name)).otherwise(acc)
    }
    df.withColumn("bucket", assign)
  }

  /** Center-crop geometry for a bucketed image (the execution half of
    * aspect bucketing: every image in a bucket must land on EXACTLY the
    * bucket ratio before resize). For bucket bn:bd the maximal exact-ratio
    * centered crop is cw = bn·k, ch = bd·k with k = min(w div bn, h div bd),
    * offsets the centered integer halves — all integer `div` arithmetic,
    * mirrored in SQL by `//` (see [[cropPlanSql]]), so the plan is
    * bit-deterministic. Join-free map-side when-chain over the `bucket`
    * column [[aspectBucket]] added. Adds cw, ch, ox, oy (LONG). */
  def cropPlan(df: DataFrame, wCol: String, hCol: String): DataFrame = {
    def forBucket(f: (Int, Int) => org.apache.spark.sql.Column) =
      AspectBuckets.foldRight(lit(null).cast("long")) {
        case ((name, bn, bd), acc) =>
          when(col("bucket") === lit(name), f(bn, bd)).otherwise(acc)
      }
    def k(bn: Int, bd: Int) =
      least(expr(s"$wCol div $bn"), expr(s"$hCol div $bd"))
    df.withColumn("cw", forBucket((bn, bd) => lit(bn.toLong) * k(bn, bd)))
      .withColumn("ch", forBucket((bn, bd) => lit(bd.toLong) * k(bn, bd)))
      .withColumn("ox", expr(s"($wCol - cw) div 2"))
      .withColumn("oy", expr(s"($hCol - ch) div 2"))
  }

  /** The crop-plan SQL mirror: the SAME per-bucket integer arithmetic
    * generated from [[AspectBuckets]], with `//` as the integer div.
    * Returns the four SELECT expressions (cw, ch, ox, oy). */
  def cropPlanSql(wExpr: String, hExpr: String): String = {
    def k(bn: Int, bd: Int) = s"LEAST($wExpr // $bn, $hExpr // $bd)"
    def cases(f: (Int, Int) => String) =
      AspectBuckets.map { case (name, bn, bd) =>
        s"WHEN '$name' THEN ${f(bn, bd)}"
      }.mkString("CASE bucket ", " ", " END")
    val cw = cases((bn, bd) => s"$bn * ${k(bn, bd)}")
    val ch = cases((bn, bd) => s"$bd * ${k(bn, bd)}")
    s"CAST($cw AS BIGINT) AS cw, CAST($ch AS BIGINT) AS ch, " +
      s"CAST(($wExpr - $cw) // 2 AS BIGINT) AS ox, " +
      s"CAST(($hExpr - $ch) // 2 AS BIGINT) AS oy"
  }

  /** The aspect-bucket SQL mirror for the DuckDB oracle: the SAME scores and
    * first-match tie-break generated from the SAME [[AspectBuckets]] list,
    * so the literals cannot drift between engines. */
  def aspectBucketSql(wExpr: String, hExpr: String): String = {
    def score(bn: Int, bd: Int): String =
      s"ABS(CAST($wExpr AS BIGINT) * $bd - CAST($hExpr AS BIGINT) * $bn) / CAST($bd AS DOUBLE)"
    val leastOf = AspectBuckets.map { case (_, bn, bd) => score(bn, bd) }
      .mkString("LEAST(", ", ", ")")
    val whens = AspectBuckets.map { case (name, bn, bd) =>
      s"WHEN ${score(bn, bd)} = $leastOf THEN '$name'"
    }.mkString(" ")
    s"CASE $whens END"
  }
}
