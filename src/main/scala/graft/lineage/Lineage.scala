package graft.lineage

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition lineage + snapshot-resumable stage runner (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * Design (SURVEY.md §4.3): work is split into `buckets` deterministic units
  * keyed by a bucket column. Each unit is one distributed job whose output
  * commits atomically: data files first, then a metrics row, then a commit
  * marker (the Iceberg-snapshot analogue on plain parquet — swap `commit`
  * for a table.newAppend() when an Iceberg catalog is present; cf. the
  * reference's applied-change ids,
  * /root/reference/src/diagonal.works/b6/ingest/change.go:30-102).
  * Resume = skip buckets whose marker exists: an anti-join of work units
  * against committed units, at bucket granularity.
  *
  * Two bucketing modes (r03c audit):
  *   - `rangeBuckets = true` (the design-scale path): buckets are contiguous
  *     ranges of `cellCol` with approx-quantile boundaries (persisted next
  *     to the markers, reloaded on resume), so each unit's filter is a
  *     PLAIN RANGE PREDICATE that pushes down to parquet row-group min/max
  *     stats — on cell-clustered input (CellStore, an Iceberg table ordered
  *     by cell) a unit reads only its own files. Locality-preserving and
  *     balanced regardless of the id distribution or sign.
  *   - `rangeBuckets = false`: pmod(xxhash64(bucketKey)) — uniform balance,
  *     but the hash filter cannot be pushed down, so every unit re-scans the
  *     full input; keep for small/skewed inputs only.
  * Input counts for the metrics rows come from ONE up-front histogram job,
  * not a count per bucket (the old shape paid 2x buckets full scans).
  *
  * All marker IO goes through the Hadoop FileSystem of `outDir`, so resume
  * works identically on local paths, HDFS and object stores (s3a://...) —
  * java.nio on an s3a URI would silently never resume (r03c audit).
  *
  * Metrics row: (run_id, stage, bucket, input_rows, output_rows, cell_min,
  * cell_max, checksum) with checksum = bit_xor of xxhash64 over all output
  * rows — order-independent, cheap, and verifiable downstream. */
object Lineage {

  final case class StageResult(bucketsRun: Seq[Int], bucketsSkipped: Seq[Int])

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def markerPath(outDir: String, bucket: Int) =
    new org.apache.hadoop.fs.Path(s"$outDir/_committed_$bucket")

  /** Run `transform` over `input` split into `buckets` units; resume from
    * existing commits. See the scaladoc above for the two bucketing modes. */
  def runStage(spark: SparkSession, input: DataFrame, transform: DataFrame => DataFrame,
               runId: String, stage: String, outDir: String,
               bucketKey: String, cellCol: String, buckets: Int,
               rangeBuckets: Boolean = false): StageResult = {
    val (fs, outPath) = fsOf(spark, outDir)
    fs.mkdirs(outPath)

    // pure-resume fast path: a fully committed stage costs only marker
    // existence checks, no stats jobs (review r03d)
    val todo = (0 until buckets).filterNot(b => fs.exists(markerPath(outDir, b)))
    if (todo.isEmpty) return StageResult(Nil, (0 until buckets).toSeq)

    // unit definitions: (filter for the unit, bucket expression for the
    // one-job input histogram)
    val (unitFilter: (Int => org.apache.spark.sql.Column), bucketExpr) =
      if (!rangeBuckets) {
        val e = pmod(xxhash64(col(bucketKey)), lit(buckets)).cast("int")
        ((b: Int) => e === b, e)
      } else {
        // contiguous cellCol ranges with APPROX-QUANTILE boundaries (one
        // stats job): balanced without assuming anything about the id
        // distribution or signedness (S2 ids for faces 4-5 are negative
        // longs — equal-width over [min, max] would collapse), and the
        // per-unit filter stays a plain range predicate -> parquet min/max
        // pushdown on cell-clustered input. Duplicate boundaries just
        // leave some units empty (harmless).
        //
        // Boundaries are PERSISTED on the first run and RELOADED on resume
        // (review r03d): approxQuantile is merge-order-dependent, so a
        // resumed run recomputing bounds could shift a row across a
        // committed unit boundary — double-processed or silently lost.
        // The bounds file commits BEFORE any unit marker, so a crash
        // between them just recomputes-and-rewrites identical-enough
        // bounds with zero committed units to contradict.
        val boundsFile = new org.apache.hadoop.fs.Path(s"$outDir/_bounds")
        def readBounds(): Array[Long] = {
          val in = fs.open(boundsFile)
          val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
          txt.trim.split(",").filter(_.nonEmpty).map(_.toLong)
        }
        val bounds: Array[Long] =
          if (fs.exists(boundsFile)) readBounds()
          else {
            val qs = input.stat.approxQuantile(cellCol,
              (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
              .map(_.toLong)
            // empty input -> no quantiles: every boundary at MaxValue puts
            // all (zero) rows in unit 0 and the rest stay empty
            val bs = if (qs.length == buckets - 1) qs
              else Array.fill(buckets - 1)(Long.MaxValue)
            // write-then-RENAME: a crash mid-write must not leave a partial
            // _bounds that a resume would trust — a truncated last number
            // still parses but yields non-monotonic bounds whose unit
            // filters OVERLAP (review r03d2); rename gives the same
            // atomicity discipline the commit markers rely on
            val tmp = new org.apache.hadoop.fs.Path(s"$outDir/_bounds.tmp")
            val o = fs.create(tmp, true)
            try o.write(bs.mkString(",").getBytes("UTF-8")) finally o.close()
            // a LOST rename race means another run committed its bounds
            // first — approxQuantile is merge-order-dependent, so the two
            // arrays can differ; the loser MUST adopt the winner's persisted
            // bounds or its unit filters disagree with what a later resume
            // will load (rows near a differing boundary double-processed or
            // dropped — the exact hazard this file exists to prevent)
            if (fs.rename(tmp, boundsFile)) bs
            else if (fs.exists(boundsFile)) readBounds()
            else throw new java.io.IOException(s"could not commit $boundsFile")
          }
        require(bounds.length == buckets - 1,
          s"persisted _bounds has ${bounds.length} boundaries, expected ${buckets - 1} " +
            "(buckets changed between runs? delete the stage dir to rebucket)")
        require(bounds.zip(bounds.drop(1)).forall { case (a, b) => a <= b },
          "persisted _bounds is not monotonic (corrupt bounds file?); " +
            "delete the stage dir to rebucket")
        // null cells can't be range-assigned — surface them loudly via the
        // histogram below instead of silently dropping them (hash mode
        // accepts them: xxhash64(null) is a value)
        val e0 = (buckets - 2 to 0 by -1).foldLeft(lit(buckets - 1)) {
          (acc, b) => when(col(cellCol) < bounds(b), b).otherwise(acc)
        }
        val e = when(col(cellCol).isNull, lit(-1)).otherwise(e0)
        ((b: Int) => {
          val loP = if (b == 0) lit(true) else col(cellCol) >= bounds(b - 1)
          val hiP = if (b == buckets - 1) lit(true) else col(cellCol) < bounds(b)
          loP && hiP
        }, e)
      }

    // input rows per TODO bucket in ONE job (metrics only; 0 for empty
    // buckets). Restricted to the todo units' filters: a 255-of-256-
    // committed resume previously paid a FULL input scan for metrics that
    // were then discarded — with range units the restriction is a union of
    // pushable range predicates, so resume IO stays proportional to the
    // remaining work (review r03g). Null cells ride along explicitly so the
    // range-mode loud-failure below still fires on a resume (a range unit
    // filter evaluates null -> filtered, which would silently hide them).
    val todoSet = todo.toSet
    val todoFilter: org.apache.spark.sql.Column =
      if (todoSet.size == buckets) lit(true)
      else todo.map(unitFilter).reduce(_ || _) ||
        (if (rangeBuckets) col(cellCol).isNull else lit(false))
    val inCounts: Map[Int, Long] =
      input.where(todoFilter).groupBy(bucketExpr.as("_b")).agg(count(lit(1))).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (inCounts.contains(-1))
      throw new IllegalArgumentException(
        s"runStage(rangeBuckets=true): ${inCounts(-1)} rows have a null " +
          s"$cellCol — range units cannot assign them; clean the input or " +
          "use hash bucketing")

    val ran = scala.collection.mutable.ArrayBuffer.empty[Int]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[Int]
    (0 until buckets).foreach { b =>
      if (!todo.contains(b)) skipped += b
      else {
        val in = input.where(unitFilter(b))
        val out = transform(in)
        out.write.mode(SaveMode.Overwrite).parquet(s"$outDir/bucket=$b")
        val written = spark.read.parquet(s"$outDir/bucket=$b")
        val m = written.agg(
          count(lit(1)).as("output_rows"),
          min(col(cellCol)).as("cell_min"),
          max(col(cellCol)).as("cell_max"),
          coalesce(expr(s"bit_xor(xxhash64(${written.columns.mkString(",")}))"), lit(0L)).as("checksum"))
          .withColumn("run_id", lit(runId)).withColumn("stage", lit(stage))
          .withColumn("bucket", lit(b))
          .withColumn("input_rows", lit(inCounts.getOrElse(b, 0L)))
          .select("run_id", "stage", "bucket", "input_rows", "output_rows",
            "cell_min", "cell_max", "checksum")
        m.write.mode(SaveMode.Overwrite).parquet(s"$outDir/_metrics/bucket=$b")
        fs.create(markerPath(outDir, b), false).close() // atomic commit point
        ran += b
      }
    }
    StageResult(ran.toSeq, skipped.toSeq)
  }

  def metrics(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/_metrics")

  def output(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/bucket=*")
}
