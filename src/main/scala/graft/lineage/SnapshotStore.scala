package graft.lineage

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The cell store: snapshot-versioned, cell-sorted parquet — the SURVEY
  * §1.4 compact index (the reference's cell-ordered blocks) in the Iceberg
  * TABLE-FORMAT role (time travel, copy-on-write MERGE, compaction,
  * snapshot expiry). [[CellStore]] holds the bucket key; every store in
  * the library is one of these tables.
  *
  * Layout: the FILE is the storage unit, the cell-prefix bucket the
  * logical pruning key. Every COMMIT sorts its rows by cell and cuts them
  * into max(1, ⌈rows / [[TargetRows]]⌉) files over disjoint cell ranges,
  * in its own immutable directory `dir/data_v{N}/part-*.parquet`; the
  * MANIFEST `dir/_snaps/v{N}.txt` lists the dir-relative files with their
  * sizes, per-(file, bucket) [min, max, rows] entries and one key bloom
  * per file (old commits' files carry into later manifests BY REFERENCE),
  * plus the data schema; `dir/_snaps/HEAD` names the current version.
  * Commit = claim → write files → write manifest (tmp + rename) → swap
  * HEAD. A reader holding version N is unaffected by later commits, and a
  * crash before the HEAD swap leaves the previous snapshot plus
  * unreferenced files (cleaned by [[expireSnapshots]]). This is Iceberg's
  * metadata-pointer model minus the catalog (COVERAGE.md Iceberg
  * declaration). Reads never list a directory: a read is a parquet
  * relation over exactly the manifest's files, and range/bucket reads
  * open only the files holding an entry that qualifies.
  *
  * MERGE ([[upsert]]) is copy-on-write at FILE granularity: the victim
  * files that may hold a matched key are found from the manifest's file
  * BLOOMS alone (the Iceberg file-bloom role), only victims are read and
  * rewritten (they are exactly the previous version's files missing from
  * the new manifest), and every other file carries over by reference —
  * merge cost scales with the files the delta's keys hit, not table
  * size. Deletes ride the delta as a boolean column; an update that
  * MOVES a row to another cell is correct by construction (its old file
  * is a victim by id, the new row lands in the commit's new files).
  */
object SnapshotStore {

  import CellStore.BucketStat

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

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

  /** `entries`: per data file, one [min, max, rows] stat per bucket it
    * holds rows of. `lastBatch`: the highest streaming micro-batch id
    * committed (-1 when none), [[appendBatch]]'s idempotence cursor.
    * `blooms`: per-file key Bloom filters over `bloomCol` that [[upsert]]
    * probes instead of data files; a file without one is conservatively a
    * victim. `sizes` (bytes per file) and `schema` (nullable, as a parquet
    * read infers it) spare a read its listing and footer inference; a
    * legacy manifest without them reads through `getFileStatus` and one
    * footer. */
  final case class Manifest(version: Int, files: Seq[String],
                            entries: Map[String, Seq[BucketStat]], lastBatch: Long = -1L,
                            blooms: Map[String, Array[Long]] = Map.empty,
                            bloomCol: Option[String] = None,
                            sizes: Map[String, Long] = Map.empty,
                            schema: Option[StructType] = None) {
    /** Per-bucket stats: exact aggregates over the files' entries. */
    lazy val stats: Seq[BucketStat] =
      files.flatMap(entriesOf).groupBy(_.bucket).map { case (b, es) =>
        BucketStat(b, es.map(_.cellMin).min, es.map(_.cellMax).max, es.map(_.rows).sum)
      }.toSeq

    def buckets: Set[Long] = stats.map(_.bucket).toSet

    /** Buckets whose [min, max] overlaps any [lo, hi] cell range (e.g.
      * S2.rangeMin/rangeMax of a covering's cells). */
    def bucketsOverlapping(ranges: Seq[(Long, Long)]): Set[Long] =
      stats.filter(overlaps(_, ranges)).map(_.bucket).toSet

    private[lineage] def entriesOf(f: String): Seq[BucketStat] = entries.getOrElse(f, Nil)

    /** The files holding an entry that satisfies `p`. */
    private[lineage] def filesWhere(p: BucketStat => Boolean): Seq[String] =
      files.filter(f => entriesOf(f).exists(p))
  }

  private def overlaps(s: BucketStat, ranges: Seq[(Long, Long)]): Boolean =
    ranges.exists { case (lo, hi) => s.cellMin <= hi && lo <= s.cellMax }

  /** The manifest format [[commit]] writes; [[manifest]] reads 1 and 2. */
  private val Format = 2

  /** Rows per data file: a commit of n rows writes max(1, ⌈n / TargetRows⌉)
    * files. */
  private[graft] val TargetRows: Long = 1L << 20

  /** A file bloom: 10 bits per key and 7 hashes, about 1% false positives. */
  private val BloomBitsPerKey = 10
  private val BloomHashes = 7

  /** The key hash the file blooms hold — Spark-side xxhash64 of the
    * string form (an int and a long id hash alike), shared by the commit
    * writer and the upsert probe. */
  private def keyHash(id: Column): Column = xxhash64(id.cast("string"))

  /** Bit `i` of key hash `h` in an `m`-bit bloom: double hashing over the
    * hash's two 32-bit halves. */
  private def bloomBit(h: Long, i: Int, m: Long): Int =
    Math.floorMod(h.toInt + i * (h >> 32), m).toInt

  private def bloomOf(hashes: Seq[Long]): Array[Long] = {
    val bits = new Array[Long](math.max(1, (hashes.size * BloomBitsPerKey + 63) / 64))
    hashes.foreach(h => (0 until BloomHashes).foreach { i =>
      val p = bloomBit(h, i, bits.length * 64L)
      bits(p >> 6) |= 1L << (p & 63)
    })
    bits
  }

  private def mightContain(bits: Array[Long], h: Long): Boolean =
    (0 until BloomHashes).forall { i =>
      val p = bloomBit(h, i, bits.length * 64L)
      (bits(p >> 6) & (1L << (p & 63))) != 0
    }

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

  /** Format-1 entries: each `_bucket=B/` file carries its bucket's
    * [min, max] (a conservative range), and the bucket's rows sit on its
    * first file, so the aggregates stay exact. */
  private def format1Entries(files: Seq[String],
                             stats: Seq[BucketStat]): Map[String, Seq[BucketStat]] = {
    val byBucket = stats.map(s => s.bucket -> s).toMap
    files.groupBy(f => f.split("/").find(_.startsWith("_bucket=")).map(_.stripPrefix("_bucket=").toLong)
        .getOrElse(sys.error(s"SnapshotStore: format-1 data file $f has no _bucket= directory")))
      .flatMap { case (b, fs) =>
        val s = byBucket.getOrElse(b,
          sys.error(s"SnapshotStore: format-1 bucket $b has files but no stat line"))
        fs.sorted.zipWithIndex.map { case (f, i) => f -> Seq(if (i == 0) s else s.copy(rows = 0)) }
      }
  }

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

  /** Manifest format 2: `version:N`, `format:2`, `batch:N`, optional
    * `bloomcol:` and `schema:<json>` lines, then per file
    * `file:<relative path>,<bytes>` (a legacy `file:` line carries no
    * size), its `entry:bucket,min,max,rows,<path>` lines and its
    * `fbloom:<base64>,<path>` line. Format 1 (no `format:` line) has
    * `_bucket=B/` paths with per-bucket `stat:bucket,min,max,rows` and
    * `bloom:bucket,<base64>` lines. Plain text keeps it
    * FileSystem-API-only (works on s3a the same as local) and
    * diff-readable. */
  private[graft] def commit(spark: SparkSession, dir: String, m: Manifest,
                            preClaimed: Boolean = false): Int = {
    val (fs, _) = fsOf(spark, dir)
    fs.mkdirs(new Path(s"$dir/_snaps"))
    // claim FIRST unless the operation already holds it: the optimistic CAS
    if (!preClaimed) acquireClaim(spark, dir, m.version)
    val body = (Seq(s"version:${m.version}", s"format:$Format", s"batch:${m.lastBatch}") ++
      m.bloomCol.map(c => s"bloomcol:$c").toSeq ++
      m.schema.map(s => s"schema:${s.json}").toSeq ++
      m.files.sorted.flatMap(f =>
        (s"file:$f" + m.sizes.get(f).fold("")(n => s",$n")) +:
          m.entriesOf(f).sortBy(_.bucket).map(e =>
            s"entry:${e.bucket},${e.cellMin},${e.cellMax},${e.rows},$f") ++:
          m.blooms.get(f).map(bits => s"fbloom:${bloomEncode(bits)},$f").toSeq))
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
    val format = tagged("format:").headOption.fold(1)(_.trim.toInt)
    require(format <= Format, s"manifest v$version has format $format; this reader knows <= $Format")
    val sized = tagged("file:").map { l =>
      val i = l.lastIndexOf(',')
      if (i < 0) (l, None) else (l.take(i), Some(l.drop(i + 1).toLong))
    }
    val files = sized.map(_._1)
    // format 1 had per-bucket blooms over another hash: its files carry
    // none, so an upsert treats them as victims and rewrites them
    val (entries, blooms) =
      if (format == 1) (format1Entries(files, tagged("stat:").map { l =>
        val Array(b, lo, hi, n) = l.split(",")
        BucketStat(b.toLong, lo.toLong, hi.toLong, n.toLong)
      }), Map.empty[String, Array[Long]])
      else (tagged("entry:").map { l =>
        val Array(b, lo, hi, n, f) = l.split(",", 5)
        f -> BucketStat(b.toLong, lo.toLong, hi.toLong, n.toLong)
      }.groupMap(_._1)(_._2), tagged("fbloom:").map { l =>
        val Array(enc, f) = l.split(",", 2)
        f -> bloomDecode(enc)
      }.toMap)
    Manifest(v, files, entries,
      tagged("batch:").headOption.fold(-1L)(_.trim.toLong), blooms,
      tagged("bloomcol:").headOption.map(_.trim),
      sized.collect { case (f, Some(n)) => f -> n }.toMap,
      tagged("schema:").headOption.map(DataType.fromJson(_).asInstanceOf[StructType]))
  }

  def headManifest(spark: SparkSession, dir: String): Manifest =
    manifest(spark, dir, headVersion(spark, dir))

  /** Write `df` as version `v`'s data: max(1, ⌈rows / targetRows⌉) files
    * over disjoint cell ranges, each sorted by cell (no rows, no files).
    * Returns the files as a manifest fragment with their sizes, entries
    * and, when `bloomCol` is a column of `df`, blooms. The entries and
    * blooms come from one read-back aggregate over the new files only, so
    * the driver receives one row per file. */
  private def writeCommit(spark: SparkSession, df: DataFrame, dir: String, v: Int,
                          cellCol: String, bloomCol: Option[String],
                          targetRows: Long = TargetRows): Manifest = {
    val none = Manifest(v, Nil, Map.empty, schema = dataSchema(df))
    val rows = df.count()
    if (rows == 0) return none
    // ErrorIfExists: a committer that lost the race must NOT clobber the
    // winner's immutable data directory — it surfaces as a commit conflict
    try df.repartitionByRange(((rows + targetRows - 1) / targetRows).toInt, col(cellCol))
      .sortWithinPartitions(col(cellCol))
      .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists).parquet(s"$dir/data_v$v")
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getMessage).exists(_.toLowerCase.contains("already exists")) =>
        throw new CommitConflictException(v,
          s"data_v$v already written by a concurrent committer")
    }
    val listed = listFilesUnder(spark, dir, s"data_v$v")
    val written = none.copy(files = listed.map(_._1), sizes = listed.toMap)
    val idc = bloomCol.filter(df.columns.contains)
    // each file's cells and key hashes meet in one group; its entries and
    // bloom are built there, executor-side
    val entries = udf((cells: Seq[Long]) => cells.groupBy(CellStore.bucketOf).map { case (b, cs) =>
      BucketStat(b, cs.min, cs.max, cs.size.toLong) }.toSeq)
    val bloom = udf((hs: Seq[Long]) => bloomOf(hs))
    val perFile = readFiles(spark, dir, written, written.files)
      .select(input_file_name().as("f"), col(cellCol).as("c"),
        idc.fold(lit(null).cast("long"))(c => keyHash(col(c))).as("h"))
      .groupBy("f").agg(collect_list("c").as("cs"), collect_list("h").as("hs"))
      .select(col("f"), entries(col("cs")), if (idc.isDefined) bloom(col("hs")) else lit(null))
      .collect()
    def rel(r: org.apache.spark.sql.Row) =
      s"data_v$v/" + new Path(new java.net.URI(r.getString(0))).getName
    written.copy(
      entries = perFile.map(r => rel(r) -> r.getSeq[org.apache.spark.sql.Row](1).map(e =>
        BucketStat(e.getLong(0), e.getLong(1), e.getLong(2), e.getLong(3)))).toMap,
      blooms = perFile.collect { case r if !r.isNullAt(2) => rel(r) -> r.getSeq[Long](2).toArray }.toMap,
      bloomCol = idc)
  }

  /** `prev` without the files in `drop`, plus the files `w` wrote, as
    * version `w.version`. */
  private def replaced(prev: Manifest, drop: Set[String], w: Manifest): Manifest = {
    val blooms = prev.blooms -- drop ++ w.blooms
    prev.copy(version = w.version, files = prev.files.filterNot(drop) ++ w.files,
      entries = prev.entries -- drop ++ w.entries, blooms = blooms,
      bloomCol = if (blooms.isEmpty) None else w.bloomCol.orElse(prev.bloomCol),
      sizes = prev.sizes -- drop ++ w.sizes, schema = prev.schema.orElse(w.schema))
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
                cellCol: String = "cell16", idCol: String = "image_id"): Int =
    overwriteBy(spark, df, dir, cellCol, idCol)

  /** [[overwrite]] cutting its files at `targetRows` rows. */
  private[graft] def overwriteBy(spark: SparkSession, df: DataFrame, dir: String,
                                 cellCol: String = "cell16", idCol: String = "image_id",
                                 targetRows: Long = TargetRows): Int = {
    val head = recoveryHead(spark, dir)
    val lastBatch = if (head > 0) manifest(spark, dir, head).lastBatch else -1L
    val v = head + 1
    acquireClaim(spark, dir, v)
    val w = writeCommit(spark, df, dir, v, cellCol, Some(idCol), targetRows)
    commit(spark, dir, w.copy(lastBatch = lastBatch), preClaimed = true)
  }

  /** Append-only commit: the delta's own files, entries and blooms join
    * the manifest; prior files carry by reference, so the table is never
    * re-read to admit a batch. Every append adds files ([[compact]] pays
    * that debt down). Returns the new version. */
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
    val w = writeCommit(spark, delta, dir, v, cellCol, Some(idCol))
    Some(commit(spark, dir, replaced(prev, Set.empty, w)
      .copy(lastBatch = batchId.getOrElse(prev.lastBatch)), preClaimed = true))
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
    * replacement, unmatched = an insert). Only the victim files are read
    * and rewritten, together with the delta's rows, into the commit's new
    * files. The delta is an ingest-batch-sized frame (broadcast in the
    * anti-join); a table-sized delta wants the real Iceberg MERGE. Returns
    * the new version. */
  def upsert(spark: SparkSession, delta: DataFrame, dir: String,
             idCol: String = "image_id", cellCol: String = "cell16",
             deletedCol: Option[String] = None): Int = {
    val prev = headManifest(spark, dir)
    requireBloomCol(prev, idCol, "upsert")
    val v = prev.version + 1
    acquireClaim(spark, dir, v)
    // victim files from the MANIFEST BLOOMS alone: each delta key's hash is
    // probed against every file's bloom executor-side, so the driver
    // receives at most one row per file and no data file is read. A file
    // with no bloom is conservatively a victim; false positives only widen
    // the rewrite, never change content.
    val blooms = prev.blooms
    val hits =
      if (blooms.isEmpty) Set.empty[String]
      else {
        val probe = udf((h: Long) =>
          blooms.collect { case (f, bits) if mightContain(bits, h) => f }.toSeq)
        delta.select(explode(probe(keyHash(col(idCol)))).as("f"))
          .groupBy("f").agg(count(lit(1))).collect().map(_.getString(0)).toSet
      }
    val victims = prev.files.filter(f => !blooms.contains(f) || hits(f))
    val old = readFiles(spark, dir, prev, victims)
    val survivors = (deletedCol match {
      case Some(d) => delta.where(!coalesce(col(d), lit(false))).drop(d)
      case None => delta
    }).select(old.columns.map(col): _*)
    val kept = old.join(broadcast(delta.select(col(idCol)).distinct()), Seq(idCol), "left_anti")
    val w = writeCommit(spark, kept.unionByName(survivors), dir, v, cellCol, Some(idCol))
    commit(spark, dir, replaced(prev, victims.toSet, w), preClaimed = true)
  }

  /** Small-file compaction as a commit — the Iceberg `rewrite_data_files` +
    * sort-order pass: HEAD's content is rewritten through the commit
    * writer, into max(1, ⌈rows / TargetRows⌉) cell-sorted files, and
    * committed as the next version; earlier versions keep their own files
    * until [[expireSnapshots]]. The rewrite's stats (rows, min and max per
    * bucket, from its read-back) must equal HEAD's before the commit: on a
    * mismatch the claim and data directory are released, HEAD is
    * untouched, and the call fails. Returns per-bucket telemetry (bucket,
    * files_before, files_after, rows) from the two manifests, a file
    * counting in every bucket it holds an entry for. */
  def compact(spark: SparkSession, dir: String, cellCol: String = "cell16"): DataFrame = {
    val prev = headManifest(spark, dir)
    val v = prev.version + 1
    acquireClaim(spark, dir, v)
    val w = writeCommit(spark, readFiles(spark, dir, prev, prev.files), dir, v, cellCol,
      prev.bloomCol)
    val next = replaced(prev, prev.files.toSet, w)
    val got = next.stats.toSet
    if (got != prev.stats.toSet) {
      releaseFailedCommit(spark, dir, v)
      throw new IllegalStateException(s"compact: rewrite stats ${got -- prev.stats} differ " +
        s"from HEAD's ${prev.stats.toSet -- got}; HEAD left at v${prev.version}")
    }
    commit(spark, dir, next, preClaimed = true)
    def nFiles(m: Manifest, b: Long) = m.filesWhere(_.bucket == b).size.toLong
    import spark.implicits._
    prev.stats.sortBy(_.bucket).map(s => (s.bucket, nFiles(prev, s.bucket), nFiles(next, s.bucket), s.rows))
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

  /** The files of snapshot `m` holding an entry in `buckets`: an
    * iterative reader pins one manifest per call and reads every round
    * through it. Returns (frame, buckets read). */
  def readBuckets(spark: SparkSession, dir: String, m: Manifest,
                  buckets: Set[Long]): (DataFrame, Int) = {
    val keep = m.buckets.filter(buckets)
    (readFiles(spark, dir, m, m.filesWhere(e => keep(e.bucket))), keep.size)
  }

  /** Snapshot-scoped range pruning: the files of `version` holding an
    * entry whose [min, max] overlaps any [lo, hi] cell range. Returns
    * (frame, buckets whose stats overlap a range). */
  def readRanges(spark: SparkSession, dir: String, version: Int,
                 ranges: Seq[(Long, Long)]): (DataFrame, Int) = {
    val m = manifest(spark, dir, version)
    (readFiles(spark, dir, m, m.filesWhere(overlaps(_, ranges))),
      m.bucketsOverlapping(ranges).size)
  }

  /** Changelog between two snapshots — the Iceberg CDC / incremental-scan
    * role: the row-level delta a downstream consumer (a training run that
    * last saw `fromV`) needs, classified as insert / delete / update
    * (update emits the NEW row). Cost scales with CHANGED DATA, not table
    * size: a file in both manifests cannot contain a change (files are
    * immutable), so only the files `fromV` holds and `toV` does not are
    * key-joined against the files `toV` added; rows a copy-on-write commit
    * rewrote unchanged are filtered by a null-safe full-row compare.
    * Appends surface as pure inserts (they only add files). Output: every
    * data column of the surviving side + `op` STRING. */
  def changelog(spark: SparkSession, dir: String, fromV: Int, toV: Int,
                idCol: String = "image_id"): DataFrame = {
    require(fromV < toV, s"changelog: fromV=$fromV must precede toV=$toV")
    val mA = manifest(spark, dir, fromV)
    val mB = manifest(spark, dir, toV)
    val oldS = readFiles(spark, dir, mA, mA.files.filterNot(mB.files.toSet))
    val newS = readFiles(spark, dir, mB, mB.files.filterNot(mA.files.toSet))
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
