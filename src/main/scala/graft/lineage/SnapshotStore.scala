package graft.lineage

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The cell store: snapshot-versioned, cell-bucketed parquet — the SURVEY
  * §1.4 compact index (the reference's cell-ordered mmap world) in the
  * Iceberg TABLE-FORMAT role (time travel, copy-on-write MERGE,
  * compaction, snapshot expiry). [[CellStore]] holds the bucket layout;
  * every store in the library is one of these tables.
  *
  * Layout: every COMMIT writes its files into its own immutable directory
  * `dir/data_v{N}/_bucket=B/part-*.parquet`; the MANIFEST
  * `dir/_snaps/v{N}.txt` lists the dir-relative files and their sizes
  * (old commits' files carry into later manifests BY REFERENCE), the data
  * schema and per-bucket stats, and `dir/_snaps/HEAD` names the current
  * version. Commit = claim → write files → write manifest (tmp + rename)
  * → swap HEAD. A reader holding version N is unaffected by later
  * commits, and a crash before the HEAD swap leaves the previous snapshot
  * plus unreferenced files (cleaned by [[expireSnapshots]]). This is
  * Iceberg's metadata-pointer model minus the catalog (COVERAGE.md
  * Iceberg declaration). Reads never list a directory: a read is a
  * parquet relation over exactly the manifest's files, and range/bucket
  * reads prune by the per-bucket [min, max] cell stats first.
  *
  * MERGE ([[upsert]]) is copy-on-write at BUCKET granularity: buckets that
  * may hold a matched key are found from the manifest's per-bucket key
  * BLOOMS alone (the Iceberg file-bloom role), only the touched buckets'
  * files are read for the rewrite (they are exactly the previous
  * version's files missing from the new manifest), and every untouched
  * bucket's files carry over by reference — merge cost scales with touched buckets, not table size.
  * Deletes ride the delta as a boolean column; an update that MOVES a row
  * to another cell is correct by construction (the old bucket is a victim
  * by id, the new row lands in its own cell's bucket).
  */
object SnapshotStore {

  import CellStore.{BucketStat, PrefixBits}

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def bucketed(df: DataFrame, cellCol: String): DataFrame =
    df.withColumn("_bucket", shiftrightunsigned(col(cellCol), 64 - PrefixBits))

  /** Data files under one subtree, as (dir-relative path, bytes). */
  private def listFilesUnder(spark: SparkSession, dir: String,
                             sub: String): Seq[(String, Long)] = {
    val (fs, _) = fsOf(spark, dir)
    val root = new Path(s"$dir/$sub")
    if (!fs.exists(root)) return Nil
    val base = fs.makeQualified(new Path(dir)).toString + "/"
    val out = Seq.newBuilder[(String, Long)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
        out += f.getPath.toString.stripPrefix(base) -> f.getLen
    }
    out.result()
  }

  /** `lastBatch`: the highest streaming micro-batch id committed (-1 when
    * none), [[appendBatch]]'s idempotence cursor. `blooms`: per-bucket key
    * Bloom filters (2048 bits / 3 hashes over `bloomCol`) that [[upsert]]
    * probes instead of head files; a bucket without one is conservatively
    * a victim. `sizes` (bytes per file) and `schema` (nullable, as a parquet
    * read infers it) spare a read its listing and footer inference; a
    * legacy manifest without them reads through `getFileStatus` and one
    * footer. */
  final case class Manifest(version: Int, files: Seq[String],
                            stats: Seq[BucketStat], lastBatch: Long = -1L,
                            blooms: Map[Long, Array[Long]] = Map.empty,
                            bloomCol: Option[String] = None,
                            sizes: Map[String, Long] = Map.empty,
                            schema: Option[StructType] = None) {
    def buckets: Set[Long] = stats.map(_.bucket).toSet

    /** Buckets whose [min, max] overlaps any [lo, hi] cell range (e.g.
      * S2.rangeMin/rangeMax of a covering's cells). */
    def bucketsOverlapping(ranges: Seq[(Long, Long)]): Set[Long] =
      stats.filter(b => ranges.exists { case (lo, hi) => b.cellMin <= hi && lo <= b.cellMax })
        .map(_.bucket).toSet
  }

  private val BloomBits = 2048
  private val BloomHashes = 3

  /** The 3 bloom bit positions of an id value — Spark-side xxhash64 on the
    * salted string form, shared by the commit writer and the upsert probe
    * (no driver-side hash reimplementation to drift). */
  private def bloomPositions(idc: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    array((0 until BloomHashes).map(s =>
      pmod(xxhash64(concat(idc.cast("string"), lit("#" + s))), lit(BloomBits))
        .cast("int")): _*)

  private def mightContain(bits: Array[Long], ps: Seq[Int]): Boolean =
    ps.forall(p => (bits(p >> 6) & (1L << (p & 63))) != 0)

  /** Per-bucket stats AND key blooms in ONE pass: positions are exploded
    * (x3 rows; the count divides back exactly) so aggregation state stays
    * bounded — collect_set over <= 2048 scalar positions, never over raw
    * keys. Blooms come back empty when `idCol` is absent. */
  private def statsAndBlooms(df: DataFrame, cellCol: String, idCol: String)
      : (Seq[BucketStat], Map[Long, Array[Long]]) = {
    if (!df.columns.contains(idCol)) return (statsOf(df, cellCol), Map.empty)
    val rows = bucketed(df, cellCol)
      .select(col("_bucket"), col(cellCol).as("_cell"),
        explode(bloomPositions(col(idCol))).as("p"))
      .groupBy("_bucket")
      .agg(min(col("_cell")).as("lo"), max(col("_cell")).as("hi"),
        (count(lit(1)) / lit(3)).cast("long").as("n"),
        collect_set(col("p")).as("ps"))
      .collect()
    val stats = rows.map(r =>
      BucketStat(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val blooms = rows.map { r =>
      val bits = new Array[Long](BloomBits / 64)
      r.getSeq[Int](4).foreach(p => bits(p >> 6) |= 1L << (p & 63))
      r.getLong(0) -> bits
    }.toMap
    (stats, blooms)
  }

  /** Blooms for the union of two commits' data: a bucket keeps a bloom ONLY
    * when EVERY side contributing DATA to it contributed a bloom — a bucket
    * with data but no bloom (legacy manifest, id-less frame) must STAY
    * bloom-less, or a delta-only bloom would hide its older rows from
    * victim discovery. */
  private def mergeBlooms(aBlooms: Map[Long, Array[Long]], aData: Set[Long],
                          bBlooms: Map[Long, Array[Long]], bData: Set[Long])
      : Map[Long, Array[Long]] =
    (aData ++ bData).iterator.flatMap { k =>
      val x = aBlooms.get(k); val y = bBlooms.get(k)
      if ((aData(k) && x.isEmpty) || (bData(k) && y.isEmpty)) None
      else Some(k -> ((x, y) match {
        case (Some(p), Some(q)) => Array.tabulate(BloomBits / 64)(i => p(i) | q(i))
        case _ => x.orElse(y).get
      }))
    }.toMap

  private def bloomEncode(bits: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def bloomDecode(s: String): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
    Array.fill(bb.remaining() / 8)(bb.getLong)
  }

  /** A data schema as a parquet read infers it: every field, element and
    * map value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def dataSchema(df: DataFrame): Option[StructType] =
    Some(nullable(df.schema).asInstanceOf[StructType])

  private def manifestPath(dir: String, v: Int) = new Path(s"$dir/_snaps/v$v.txt")

  private def bucketOfFile(f: String): Long =
    f.split("/").find(_.startsWith("_bucket="))
      .map(_.stripPrefix("_bucket=").toLong)
      .getOrElse(sys.error(s"SnapshotStore: unbucketed data file $f"))

  /** A concurrent writer lost the optimistic race for `version`: its base
    * snapshot moved underneath it. append/appendBatch/upsert re-read HEAD on
    * every call, so the standard reaction is simply to retry the operation
    * ([[withCommitRetries]]); a claim orphaned by a CRASHED half-commit is
    * released with [[releaseFailedCommit]]. */
  final class CommitConflictException(val version: Int, detail: String)
    extends RuntimeException(
      s"snapshot commit conflict at v$version: $detail — another writer " +
        "committed this version first (retry the operation; it re-reads HEAD), " +
        "or a crashed commit left an orphan claim (releaseFailedCommit)")

  /** OPTIMISTIC concurrent-writer arbitration (the Iceberg catalog-CAS
    * role): before writing any data file, a committer must WIN the
    * version's CLAIM, an atomic exclusive create of `_snaps/v{N}.claim`
    * (the one primitive every Hadoop FileSystem offers atomically). Two
    * writers racing for v{N} resolve deterministically: the loser gets
    * [[CommitConflictException]]. A crash between claim and HEAD swap
    * leaves an orphan claim that [[releaseFailedCommit]] clears. */
  private def acquireClaim(spark: SparkSession, dir: String, v: Int): Unit = {
    val (fs, _) = fsOf(spark, dir)
    fs.mkdirs(new Path(s"$dir/_snaps"))
    val claim = new Path(s"$dir/_snaps/v$v.claim")
    val co =
      try fs.create(claim, false)
      catch {
        case e: java.io.IOException =>
          throw new CommitConflictException(v,
            s"claim create failed (${e.getClass.getSimpleName})")
      }
    co.close()
  }

  /** Manifest format: `version:N`, `batch:N`, optional `bloomcol:` and
    * `schema:<json>` lines, then `stat:bucket,min,max,rows`,
    * `bloom:bucket,<base64>` and `file:<relative path>,<bytes>` lines (a
    * legacy `file:` line carries no size). Plain text keeps it
    * FileSystem-API-only (works on s3a the same as local) and
    * diff-readable. */
  private[graft] def commit(spark: SparkSession, dir: String, m: Manifest,
                            preClaimed: Boolean = false): Int = {
    val (fs, _) = fsOf(spark, dir)
    fs.mkdirs(new Path(s"$dir/_snaps"))
    // claim FIRST unless the operation already holds it: the optimistic CAS
    if (!preClaimed) acquireClaim(spark, dir, m.version)
    val body = (Seq(s"version:${m.version}", s"batch:${m.lastBatch}") ++
      m.bloomCol.map(c => s"bloomcol:$c").toSeq ++
      m.schema.map(s => s"schema:${s.json}").toSeq ++
      m.stats.sortBy(_.bucket).map(s =>
        s"stat:${s.bucket},${s.cellMin},${s.cellMax},${s.rows}") ++
      m.blooms.toSeq.sortBy(_._1).map { case (b, bits) =>
        s"bloom:$b,${bloomEncode(bits)}" } ++
      m.files.sorted.map(f => s"file:$f" + m.sizes.get(f).fold("")(n => s",$n")))
      .mkString("\n")
    val tmp = new Path(s"$dir/_snaps/v${m.version}.txt.tmp")
    val o = fs.create(tmp, true)
    try o.write(body.getBytes("UTF-8")) finally o.close()
    require(fs.rename(tmp, manifestPath(dir, m.version)),
      s"snapshot commit failed: rename of v${m.version} manifest")
    // HEAD swap LAST — the commit point
    val headTmp = new Path(s"$dir/_snaps/HEAD.tmp")
    val o2 = fs.create(headTmp, true)
    try o2.write(m.version.toString.getBytes("UTF-8")) finally o2.close()
    val head = new Path(s"$dir/_snaps/HEAD")
    if (fs.exists(head)) fs.delete(head, false)
    require(fs.rename(headTmp, head), "snapshot commit failed: HEAD swap")
    m.version
  }

  /** Wait before retry `attempt` (1-based): `baseMs` doubling per attempt,
    * capped at 64 x `baseMs`. */
  private[graft] def backoffMs(attempt: Int, baseMs: Long): Long =
    baseMs << math.min(math.max(attempt, 1) - 1, 6)

  /** A lost commit race retries after 250, 500, 1000 ms...: long enough for
    * an in-flight winner to reach its HEAD swap. */
  private val CommitRetryBaseMs = 250L
  /** HEAD reads retry through the swap window after 10, 20, 40, 80, 160 ms. */
  private val HeadRetryBaseMs = 10L
  private val HeadRetries = 5

  /** Run `op`, retrying a failure `retryable` accepts at most `retries`
    * times after [[backoffMs]]; the last failure propagates. */
  private def retrying[T](retries: Int, baseMs: Long)(
      retryable: PartialFunction[Throwable, Unit])(op: => T): T = {
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: Throwable if attempt < retries && retryable.isDefinedAt(e) =>
          attempt += 1
          retryable(e)
          Thread.sleep(backoffMs(attempt, baseMs))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Retry `op` across commit conflicts, with growing waits: append /
    * appendBatch / upsert re-read HEAD per call, so a lost race retries
    * against the new base. Exhausted retries rethrow the last conflict. */
  def withCommitRetries[T](maxRetries: Int = 3)(op: => T): T =
    retrying(maxRetries, CommitRetryBaseMs) { case e: CommitConflictException =>
      System.err.println(s"[snapshot-store] commit conflict at " +
        s"v${e.version}, retrying against the new head")
    }(op)

  /** Release the debris of a CRASHED half-commit of `version`: verifies the
    * table never reached it (HEAD < version — a committed version must
    * never be released), then deletes the orphan claim, any partial
    * manifest, and the attempt's data directory. A table with no HEAD and
    * no HEAD.tmp (a crashed create) is at head 0. */
  def releaseFailedCommit(spark: SparkSession, dir: String, version: Int): Unit = {
    val head = recoveryHead(spark, dir)
    require(head < version,
      s"releaseFailedCommit: v$version is committed (HEAD=$head); refusing")
    val (fs, _) = fsOf(spark, dir)
    fs.delete(new Path(s"$dir/_snaps/v$version.claim"), false)
    fs.delete(manifestPath(dir, version), false)
    fs.delete(new Path(s"$dir/data_v$version"), true)
  }

  private def readInt(fs: FileSystem, p: Path): Int = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in).mkString.trim.toInt finally in.close()
  }

  /** HEAD as recovery sees it: inside [[commit]]'s delete-then-rename swap
    * HEAD is missing and HEAD.tmp holds the version being committed, so
    * that value counts; HEAD is read once more in case the rename landed
    * between the two reads. Neither file: nothing was ever committed. */
  private def recoveryHead(spark: SparkSession, dir: String): Int = {
    val (fs, _) = fsOf(spark, dir)
    def read(name: String): Option[Int] =
      try Some(readInt(fs, new Path(s"$dir/_snaps/$name")))
      catch { case _: java.io.FileNotFoundException => None }
    read("HEAD").orElse(read("HEAD.tmp")).orElse(read("HEAD")).getOrElse(0)
  }

  /** The commit's HEAD swap is delete-then-rename: a reader landing inside
    * that window sees no HEAD for a moment, so a missing HEAD is re-read a
    * few times with growing waits; then the FileNotFoundException naming
    * `dir/_snaps/HEAD` propagates (version-pinned readers never pass
    * through here). */
  def headVersion(spark: SparkSession, dir: String): Int = {
    val (fs, _) = fsOf(spark, dir)
    retrying(HeadRetries, HeadRetryBaseMs) { case _: java.io.FileNotFoundException => }(
      readInt(fs, new Path(s"$dir/_snaps/HEAD")))
  }

  def manifest(spark: SparkSession, dir: String, version: Int): Manifest = {
    val (fs, _) = fsOf(spark, dir)
    val in = fs.open(manifestPath(dir, version))
    val lines = try scala.io.Source.fromInputStream(in).getLines().toVector
      finally in.close()
    val v = lines.head.stripPrefix("version:").trim.toInt
    require(v == version, s"manifest v$version carries version $v")
    def tagged(tag: String): Vector[String] =
      lines.collect { case l if l.startsWith(tag) => l.stripPrefix(tag) }
    val stats = tagged("stat:").map { l =>
      val Array(b, lo, hi, n) = l.split(",")
      BucketStat(b.toLong, lo.toLong, hi.toLong, n.toLong)
    }
    val sized = tagged("file:").map { l =>
      val i = l.lastIndexOf(',')
      if (i < 0) (l, None) else (l.take(i), Some(l.drop(i + 1).toLong))
    }
    val blooms = tagged("bloom:").map { l =>
      val Array(b, enc) = l.split(",", 2)
      b.toLong -> bloomDecode(enc)
    }.toMap
    Manifest(v, sized.map(_._1), stats,
      tagged("batch:").headOption.fold(-1L)(_.trim.toLong), blooms,
      tagged("bloomcol:").headOption.map(_.trim),
      sized.collect { case (f, Some(n)) => f -> n }.toMap,
      tagged("schema:").headOption.map(DataType.fromJson(_).asInstanceOf[StructType]))
  }

  def headManifest(spark: SparkSession, dir: String): Manifest =
    manifest(spark, dir, headVersion(spark, dir))

  private def statsOf(df: DataFrame, cellCol: String): Seq[BucketStat] =
    bucketed(df, cellCol).groupBy("_bucket")
      .agg(min(col(cellCol)).as("lo"), max(col(cellCol)).as("hi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => BucketStat(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

  /** Write `df` as version `v`'s files, returned dir-relative with sizes;
    * `oneFilePerBucket` (of n buckets) is the [[compact]] layout. */
  private def writeCommitFiles(spark: SparkSession, df: DataFrame, dir: String,
                               v: Int, cellCol: String,
                               oneFilePerBucket: Option[Int] = None)
      : (Seq[String], Map[String, Long]) = {
    val b = bucketed(df, cellCol)
    val laid = oneFilePerBucket.fold(b)(n =>
      b.repartition(n, col("_bucket")).sortWithinPartitions(col(cellCol)))
    // ErrorIfExists: a committer that lost the race must NOT clobber the
    // winner's immutable data directory — it surfaces as a commit conflict
    try laid.write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
      .partitionBy("_bucket").parquet(s"$dir/data_v$v")
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getMessage).exists(_.toLowerCase.contains("already exists")) =>
        throw new CommitConflictException(v,
          s"data_v$v already written by a concurrent committer")
    }
    val files = listFilesUnder(spark, dir, s"data_v$v")
    (files.map(_._1), files.toMap)
  }

  /** The bloom column every commit over this table must share: blooms are
    * probed by VALUE, so mixing id columns (or a table whose manifest
    * predates the bloomcol tag while carrying blooms) must fail loudly, not
    * silently miss victims. */
  private def requireBloomCol(m: Manifest, idCol: String, op: String): Unit =
    require(m.blooms.isEmpty || m.bloomCol.contains(idCol),
      s"SnapshotStore.$op: manifest blooms were built over " +
        s"${m.bloomCol.getOrElse("<untagged>")} but this operation uses " +
        s"id column '$idCol' — a value probe would silently miss victims; " +
        "use one id column per table")

  /** Create the table: snapshot v1. Fails on an existing table. */
  def create(spark: SparkSession, df: DataFrame, dir: String,
             cellCol: String = "cell16", idCol: String = "image_id"): Int = {
    require(recoveryHead(spark, dir) == 0,
      s"SnapshotStore.create: $dir already has a HEAD; use append/upsert/overwrite")
    overwrite(spark, df, dir, cellCol, idCol)
  }

  /** Content-replacing commit: the next version (v1 on a new table) holds
    * exactly `df`. Earlier versions stay readable until [[expireSnapshots]]
    * — the bulk (re)load of a cell store. Returns the new version. */
  def overwrite(spark: SparkSession, df: DataFrame, dir: String,
                cellCol: String = "cell16", idCol: String = "image_id"): Int = {
    val head = recoveryHead(spark, dir)
    val prev = Option.when(head > 0)(manifest(spark, dir, head))
    val v = head + 1
    acquireClaim(spark, dir, v)
    val (files, sizes) = writeCommitFiles(spark, df, dir, v, cellCol)
    val (stats, blooms) = statsAndBlooms(df, cellCol, idCol)
    commit(spark, dir, Manifest(v, files, stats, prev.fold(-1L)(_.lastBatch),
      blooms, Option.when(blooms.nonEmpty)(idCol), sizes, dataSchema(df)), preClaimed = true)
  }

  /** Append-only commit: new files + monoid-merged stats (blooms OR-merge
    * where BOTH sides carry one); prior files carry by reference, so the
    * table is never re-read to admit a batch. Every append adds files
    * ([[compact]] pays that debt down). Returns the new version. */
  def append(spark: SparkSession, delta: DataFrame, dir: String,
             cellCol: String = "cell16", idCol: String = "image_id"): Int =
    appendCommit(spark, delta, dir, None, cellCol, idCol).get

  /** Streaming ingest commit — ONE append snapshot per micro-batch,
    * IDEMPOTENT under foreachBatch's at-least-once replay (the Iceberg
    * streaming-write dedup role): the manifest carries the highest
    * committed micro-batch id; a replayed batch at or below it is a no-op
    * (returns None), so a crash between the sink's checkpoint advance and
    * the batch function cannot double-append. Requires monotonically
    * increasing batch ids — exactly what Structured Streaming's
    * foreachBatch supplies. */
  def appendBatch(spark: SparkSession, batch: DataFrame, dir: String,
                  batchId: Long, cellCol: String = "cell16",
                  idCol: String = "image_id"): Option[Int] =
    appendCommit(spark, batch, dir, Some(batchId), cellCol, idCol)

  private def appendCommit(spark: SparkSession, delta: DataFrame, dir: String,
                           batchId: Option[Long], cellCol: String,
                           idCol: String): Option[Int] = {
    val prev = headManifest(spark, dir)
    if (batchId.exists(_ <= prev.lastBatch)) return None
    requireBloomCol(prev, idCol, if (batchId.isEmpty) "append" else "appendBatch")
    val v = prev.version + 1
    acquireClaim(spark, dir, v)
    val (files, sizes) = writeCommitFiles(spark, delta, dir, v, cellCol)
    val (deltaStats, deltaBlooms) = statsAndBlooms(delta, cellCol, idCol)
    val merged = (prev.stats ++ deltaStats).groupBy(_.bucket)
      .map { case (b, ss) =>
        BucketStat(b, ss.map(_.cellMin).min, ss.map(_.cellMax).max, ss.map(_.rows).sum)
      }.toSeq
    val blooms = mergeBlooms(prev.blooms, prev.buckets,
      deltaBlooms, deltaStats.map(_.bucket).toSet)
    Some(commit(spark, dir, Manifest(v, prev.files ++ files, merged,
      batchId.getOrElse(prev.lastBatch), blooms, Option.when(blooms.nonEmpty)(idCol),
      prev.sizes ++ sizes, prev.schema.orElse(dataSchema(delta))),
      preClaimed = true))
  }

  /** Attach a stream to the table: every micro-batch commits one snapshot
    * through [[appendBatch]] (skips replayed ids). Caller starts/awaits the
    * returned writer. */
  def ingestStream(stream: DataFrame, dir: String,
                   checkpoint: String, cellCol: String = "cell16")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendBatch(batch.sparkSession, batch.toDF(), dir, id, cellCol)
        ()
      }

  /** Copy-on-write MERGE (Iceberg `MERGE INTO` role): every store row whose
    * `idCol` matches a delta row is REPLACED (or DELETED when `deletedCol`
    * is true); non-deleted delta rows are written (matched = the
    * replacement, unmatched = an insert); only touched buckets rewrite.
    * The delta is an ingest-batch-sized frame (broadcast in the anti-join);
    * a table-sized delta wants the real Iceberg MERGE. Returns the new
    * version. */
  def upsert(spark: SparkSession, delta: DataFrame, dir: String,
             idCol: String = "image_id", cellCol: String = "cell16",
             deletedCol: Option[String] = None): Int = {
    val prev = headManifest(spark, dir)
    requireBloomCol(prev, idCol, "upsert")
    val v = prev.version + 1
    acquireClaim(spark, dir, v)
    val head = readFiles(spark, dir, prev, prev.files)
    val deltaKeys = delta.select(col(idCol)).distinct()
    // victim buckets from the MANIFEST BLOOMS alone: each delta key's bloom
    // positions are probed against every bucket's bitset executor-side, so
    // the driver receives at most one row per bucket and no head file is
    // read. A bucket with no bloom is conservatively a victim; false
    // positives only widen the rewrite, never change content.
    val blooms = prev.blooms
    val probe = udf((ps: Seq[Int]) =>
      blooms.collect { case (b, bits) if mightContain(bits, ps) => b }.toSeq)
    val bloomHits = delta.select(explode(probe(bloomPositions(col(idCol)))).as("_b"))
      .groupBy("_b").agg(count(lit(1))).collect().map(_.getLong(0)).toSet
    val victims = prev.buckets.filter(b => !blooms.contains(b) || bloomHits(b))
    val survivors0 = deletedCol match {
      case Some(d) => delta.where(!coalesce(col(d), lit(false))).drop(d)
      case None => delta
    }
    val survivors = survivors0.select(head.columns.map(col): _*)
    val targets = statsOf(survivors, cellCol).map(_.bucket).toSet
    val touched = victims ++ targets
    // the rewrite reads ONLY the touched buckets' FILES (manifest-level
    // pruning — the head scan the blooms exist to avoid); they are the
    // files of `prev` that the new manifest drops
    val touchedFiles = prev.files.filter(f => touched.contains(bucketOfFile(f)))
    val keptOld = readFiles(spark, dir, prev, touchedFiles)
      .join(broadcast(deltaKeys), Seq(idCol), "left_anti")
    val (newFiles, newSizes) =
      writeCommitFiles(spark, keptOld.unionByName(survivors), dir, v, cellCol)
    val carried = prev.files.filterNot(f => touched.contains(bucketOfFile(f)))
    val next = prev.copy(version = v, files = carried ++ newFiles,
      sizes = prev.sizes ++ newSizes, schema = Some(head.schema))
    // a delete-only MERGE can empty every touched bucket: no file was
    // written, and the read-back is an empty frame with empty stats
    val (newStats, newBlooms) =
      statsAndBlooms(readFiles(spark, dir, next, newFiles), cellCol, idCol)
    val stats = prev.stats.filterNot(s => touched.contains(s.bucket)) ++ newStats
    val keptBlooms = blooms.view.filterKeys(!touched.contains(_)).toMap ++ newBlooms
    commit(spark, dir, next.copy(stats = stats, blooms = keptBlooms,
      bloomCol = Option.when(keptBlooms.nonEmpty)(idCol)), preClaimed = true)
  }

  /** Small-file compaction as a commit — the Iceberg `rewrite_data_files` +
    * sort-order pass: HEAD's content is rewritten into one cell-SORTED file
    * per bucket (sorted data also gives parquet row-group min/max stats
    * that prune FINER than the bucket grain) and committed as the next
    * version; earlier versions keep their own files until
    * [[expireSnapshots]]. The rewrite's recomputed stats (rows, min and max
    * per bucket) must equal HEAD's before the commit: on a mismatch the
    * claim and data directory are released, HEAD is untouched, and the call
    * fails. Returns per-bucket telemetry (bucket, files_before, files_after,
    * rows) from the two manifests. */
  def compact(spark: SparkSession, dir: String, cellCol: String = "cell16"): DataFrame = {
    val prev = headManifest(spark, dir)
    val v = prev.version + 1
    acquireClaim(spark, dir, v)
    val (files, sizes) = writeCommitFiles(spark, readFiles(spark, dir, prev, prev.files), dir, v,
      cellCol, oneFilePerBucket = Some(math.max(1, prev.stats.size)))
    val next = prev.copy(version = v, files = files, sizes = sizes)
    val got = statsOf(readFiles(spark, dir, next, files), cellCol).toSet
    if (got != prev.stats.toSet) {
      releaseFailedCommit(spark, dir, v)
      throw new IllegalStateException(s"compact: rewrite stats ${got -- prev.stats} differ " +
        s"from HEAD's ${prev.stats.toSet -- got}; HEAD left at v${prev.version}")
    }
    commit(spark, dir, next, preClaimed = true)
    def nFiles(ls: Seq[String], b: Long) = ls.count(bucketOfFile(_) == b).toLong
    import spark.implicits._
    prev.stats.sortBy(_.bucket).map(s =>
      (s.bucket, nFiles(prev.files, s.bucket), nFiles(files, s.bucket), s.rows))
      .toDF("bucket", "files_before", "files_after", "rows")
  }

  /** A fixed file list, as the manifest gives it: Spark plans the scan from
    * these statuses and never lists a directory. */
  private final class ManifestFileIndex(root: Path, files: Seq[FileStatus]) extends FileIndex {
    def rootPaths: Seq[Path] = Seq(root)
    def listFiles(partitionFilters: Seq[Expression],
                  dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.getLen).sum
    def partitionSchema: StructType = new StructType()
  }

  /** `files` of snapshot `m` as one parquet relation: sizes
    * and schema come from the manifest (a legacy manifest falls back to
    * `getFileStatus` per file and one footer), so the read runs no listing
    * or schema-inference job whatever its file count. `_bucket` is a
    * directory name only, never a column. No files = an empty frame. */
  private def readFiles(spark: SparkSession, dir: String, m: Manifest,
                        files: Seq[String]): DataFrame = {
    val (fs, root) = fsOf(spark, dir)
    val statuses = files.map { f =>
      val p = fs.makeQualified(new Path(s"$dir/$f"))
      m.sizes.get(f).fold(fs.getFileStatus(p))(n => new FileStatus(n, false, 0, 0, 0, p))
    }
    val schema = m.schema.getOrElse {
      require(m.files.nonEmpty,
        s"SnapshotStore: v${m.version} has no data files and no recorded schema")
      spark.read.parquet(s"$dir/${m.files.head}").schema
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(fs.makeQualified(root), statuses), new StructType(), schema,
      None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Time-travel read: exactly snapshot `version`'s files. Later commits
    * never disturb it — files are immutable; only [[expireSnapshots]]
    * deletes. */
  def readVersion(spark: SparkSession, dir: String, version: Int): DataFrame = {
    val m = manifest(spark, dir, version)
    readFiles(spark, dir, m, m.files)
  }

  /** HEAD read. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, headVersion(spark, dir))

  /** The listed buckets of snapshot `m` (those it holds): an iterative
    * reader pins one manifest per call and reads every round through it.
    * Returns (frame, buckets read). */
  def readBuckets(spark: SparkSession, dir: String, m: Manifest,
                  buckets: Set[Long]): (DataFrame, Int) = {
    val keep = m.buckets.filter(buckets)
    (readFiles(spark, dir, m, m.files.filter(f => keep(bucketOfFile(f)))), keep.size)
  }

  /** Snapshot-scoped range pruning: the buckets of `version` whose stats
    * overlap any [lo, hi] cell range. Returns (frame, buckets read). */
  def readRanges(spark: SparkSession, dir: String, version: Int,
                 ranges: Seq[(Long, Long)]): (DataFrame, Int) = {
    val m = manifest(spark, dir, version)
    readBuckets(spark, dir, m, m.bucketsOverlapping(ranges))
  }

  /** Changelog between two snapshots — the Iceberg CDC / incremental-scan
    * role: the row-level delta a downstream consumer (a training run that
    * last saw `fromV`) needs, classified as insert / delete / update
    * (update emits the NEW row). Cost scales with CHANGED DATA, not table
    * size: buckets whose file sets are identical in both manifests cannot
    * contain a change (files are immutable, CoW rewrites whole buckets),
    * so only differing buckets' files are read and key-joined; unchanged
    * rows inside a rewritten bucket are filtered by a null-safe full-row
    * compare. Appends surface as pure inserts (their buckets gain files).
    * Output: every data column of the surviving side + `op` STRING. */
  def changelog(spark: SparkSession, dir: String, fromV: Int, toV: Int,
                idCol: String = "image_id"): DataFrame = {
    require(fromV < toV, s"changelog: fromV=$fromV must precede toV=$toV")
    val mA = manifest(spark, dir, fromV)
    val mB = manifest(spark, dir, toV)
    val changed = (mA.files.toSet union mB.files.toSet) --
      (mA.files.toSet intersect mB.files.toSet)
    val buckets = changed.map(bucketOfFile)
    def side(m: Manifest): DataFrame =
      readFiles(spark, dir, m, m.files.filter(f => buckets.contains(bucketOfFile(f))))
    val oldS = side(mA)
    val newS = side(mB)
    val dataCols = newS.columns.toSeq
    val o = oldS.select(dataCols.map(c => col(c).as(s"_o_$c")): _*)
    val n = newS.select(dataCols.map(c => col(c).as(s"_n_$c")): _*)
    val joined = o.join(n, col(s"_o_$idCol") <=> col(s"_n_$idCol"), "full_outer")
    val rowSame = dataCols.map(c => col(s"_o_$c") <=> col(s"_n_$c")).reduce(_ && _)
    joined
      .withColumn("op",
        when(col(s"_o_$idCol").isNull, lit("insert"))
          .when(col(s"_n_$idCol").isNull, lit("delete"))
          .when(rowSame, lit(null))
          .otherwise(lit("update")))
      .where(col("op").isNotNull)
      .select(dataCols.map(c =>
        coalesce(col(s"_n_$c"), col(s"_o_$c")).as(c)) :+ col("op"): _*)
  }

  /** Drop snapshots before `keepFrom` and DELETE files no surviving
    * manifest references (Iceberg's expire_snapshots maintenance pass).
    * Returns the number of data files deleted. */
  def expireSnapshots(spark: SparkSession, dir: String, keepFrom: Int): Int = {
    val (fs, dirP) = fsOf(spark, dir)
    val headV = headVersion(spark, dir)
    require(keepFrom >= 1 && keepFrom <= headV,
      s"keepFrom=$keepFrom outside [1, HEAD=$headV]")
    val live = (keepFrom to headV)
      .flatMap(v => manifest(spark, dir, v).files).toSet
    val onDisk = fs.listStatus(dirP).map(_.getPath.getName)
      .filter(_.startsWith("data_v"))
      .flatMap(sub => listFilesUnder(spark, dir, sub).map(_._1))
    val orphans = onDisk.filterNot(live.contains)
    orphans.foreach(f => fs.delete(new Path(s"$dir/$f"), false))
    (1 until keepFrom).foreach { v =>
      val p = manifestPath(dir, v)
      if (fs.exists(p)) fs.delete(p, false)
      // the version's claim dies with its manifest (claims are otherwise
      // immortal and bloat the _snaps listing one per commit)
      val c = new Path(s"$dir/_snaps/v$v.claim")
      if (fs.exists(c)) fs.delete(c, false)
    }
    orphans.size
  }
}
