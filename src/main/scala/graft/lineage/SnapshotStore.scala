package graft.lineage

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.util.CollectionAccumulator
import scala.jdk.CollectionConverters._

/** The cell store: snapshot-versioned, cell-sorted parquet — the SURVEY
  * §1.4 compact index (the reference's cell-ordered blocks) in the Iceberg
  * TABLE-FORMAT role (time travel, copy-on-write MERGE, compaction,
  * snapshot expiry). [[CellStore]] holds the bucket key; every store in
  * the library is one of these tables, keyed by `image_id` and sorted by
  * the S2 level-16 cell `cell16`; every commit checks that its frame has
  * both before it claims a version.
  *
  * Layout: the FILE is the storage unit, the cell-prefix bucket the
  * logical pruning key. Every COMMIT sorts its rows by cell and cuts them
  * into max(1, ⌈rows / [[TargetRows]]⌉) files over disjoint cell ranges,
  * in its own immutable directory `dir/data_v{N}/part-*.parquet`; the
  * MANIFEST `dir/_snaps/v{N}.txt` (one format, see [[commit]]) lists the
  * dir-relative files, each with its size, its per-(file, bucket)
  * [min, max, rows] entries and its key bloom (old commits' files carry
  * into later manifests BY REFERENCE), plus the data schema. A file's
  * entries and bloom are gathered by the task that writes it, from the
  * rows it writes, as the reference builds its compact index while it
  * writes the cell-ordered blocks: no commit reads its files back;
  * `dir/_snaps/HEAD` names the current version. Commit = claim → write
  * files → write manifest (tmp + rename) → swap HEAD. A reader holding
  * version N is unaffected by later commits. A crash before the HEAD swap
  * leaves the previous snapshot plus the attempt's claim and files, which
  * [[releaseFailedCommit]] removes; [[expireSnapshots]] deletes only
  * files of committed versions that no kept snapshot lists. This is
  * Iceberg's metadata-pointer model minus the catalog (COVERAGE.md
  * Iceberg declaration). Reads never list a directory: a read is a
  * parquet relation over exactly the manifest's files, and range/bucket
  * reads open only the files holding an entry that qualifies.
  *
  * MERGE ([[upsert]]) is copy-on-write at FILE granularity: the victim
  * files that may hold a matched key are found from the manifest's file
  * BLOOMS alone (the Iceberg file-bloom role), only victims are read and
  * rewritten (they are exactly the previous version's files missing from
  * the new manifest), and every other file carries over by reference —
  * merge cost scales with the files the delta's keys hit, not table
  * size. Deletes ride the delta as a boolean `_deleted` column; an update
  * that MOVES a row to another cell is correct by construction (its old
  * file is a victim by id, the new row lands in the commit's new files).
  */
object SnapshotStore {

  import CellStore.BucketStat

  /** The key every table's rows are merged, bloomed and diffed by. */
  private val Key = "image_id"
  /** The S2 level-16 cell every table is sorted, cut and bucketed by. */
  private val Cell = "cell16"
  /** A delta column that marks the row's key as deleted when true. */
  private val Deleted = "_deleted"

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

  /** Every listed data file has its bytes (`sizes`), one [min, max, rows]
    * stat per bucket it holds rows of (`entries`) and its key Bloom filter
    * over the id as base64 text (`blooms`: only [[upsert]] decodes them).
    * `schema` (nullable, as a parquet read infers it) spares a read its
    * footer inference. `lastBatch`: the highest streaming micro-batch id
    * committed (-1 when none), [[appendBatch]]'s idempotence cursor. */
  final case class Manifest(version: Int, files: Seq[String], sizes: Map[String, Long],
                            entries: Map[String, Seq[BucketStat]], blooms: Map[String, String],
                            schema: StructType, lastBatch: Long = -1L) {
    /** Per-bucket stats: exact aggregates over the files' entries. */
    lazy val stats: Seq[BucketStat] = merged(files.flatMap(entries))

    def buckets: Set[Long] = stats.map(_.bucket).toSet

    /** Buckets whose [min, max] overlaps any [lo, hi] cell range (e.g.
      * S2.rangeMin/rangeMax of a covering's cells). */
    def bucketsOverlapping(ranges: Seq[(Long, Long)]): Set[Long] =
      stats.filter(overlaps(_, ranges)).map(_.bucket).toSet

    /** The files holding an entry that satisfies `p`. */
    private[lineage] def filesWhere(p: BucketStat => Boolean): Seq[String] =
      files.filter(f => entries(f).exists(p))
  }

  /** One stat per bucket: the exact aggregate of `es`'s stats of it. */
  private def merged(es: Seq[BucketStat]): Seq[BucketStat] =
    es.groupBy(_.bucket).map { case (b, bs) =>
      BucketStat(b, bs.map(_.cellMin).min, bs.map(_.cellMax).max, bs.map(_.rows).sum)
    }.toSeq

  private def overlaps(s: BucketStat, ranges: Seq[(Long, Long)]): Boolean =
    ranges.exists { case (lo, hi) => s.cellMin <= hi && lo <= s.cellMax }

  /** The one manifest format: [[commit]] writes it, [[manifest]] reads
    * nothing else. */
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

  /** A manifest bloom's bit words, from its base64 text. */
  private[graft] def bloomDecode(s: String): Array[Long] = {
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

  private def manifestPath(dir: String, v: Int) = new Path(s"$dir/_snaps/v$v.txt")

  /** Fails naming the key or cell column `df` lacks, or the writer's
    * [[HashCol]] it carries: called before a commit claims its version, so
    * a malformed frame leaves no claim. */
  private def requireKeyed(df: DataFrame, op: String): Unit = {
    val missing = Seq(Key, Cell).filterNot(df.columns.contains)
    require(missing.isEmpty, s"SnapshotStore.$op: the frame has no ${missing.mkString(" or ")} column")
    require(!df.columns.exists(_.equalsIgnoreCase(HashCol)),
      s"SnapshotStore.$op: the frame has a $HashCol column, which the commit writer reserves")
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

  /** The manifest format: `version:N`, `format:2`, `batch:N` and
    * `schema:<json>` lines, then per file `file:<relative path>,<bytes>`,
    * its `entry:bucket,min,max,rows,<path>` lines and its
    * `fbloom:<base64>,<path>` line. A reader skips lines with other tags.
    * Plain text keeps it FileSystem-API-only (works on s3a the same as
    * local) and diff-readable. */
  private[graft] def commit(spark: SparkSession, dir: String, m: Manifest,
                            preClaimed: Boolean = false): Int = {
    val (fs, _) = fsOf(spark, dir)
    fs.mkdirs(new Path(s"$dir/_snaps"))
    // claim FIRST unless the operation already holds it: the optimistic CAS
    if (!preClaimed) acquireClaim(spark, dir, m.version)
    val body = (Seq(s"version:${m.version}", s"format:$Format", s"batch:${m.lastBatch}",
      s"schema:${m.schema.json}") ++
      m.files.sorted.flatMap(f =>
        s"file:$f,${m.sizes(f)}" +:
          m.entries(f).sortBy(_.bucket).map(e =>
            s"entry:${e.bucket},${e.cellMin},${e.cellMax},${e.rows},$f") :+
          s"fbloom:${m.blooms(f)},$f"))
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
    // a manifest without a format line is format 1
    val format = tagged("format:").headOption.fold(1)(_.trim.toInt)
    require(format == Format, s"manifest v$version has format $format; this reader reads only format $Format")
    val schema = tagged("schema:").headOption
    require(schema.isDefined, s"manifest v$version has no schema")
    val sized = tagged("file:").map { l =>
      val i = l.lastIndexOf(',')
      require(i >= 0, s"manifest v$version: file $l has no size")
      l.take(i) -> l.drop(i + 1).toLong
    }
    val entries = tagged("entry:").map { l =>
      val Array(b, lo, hi, n, f) = l.split(",", 5)
      f -> BucketStat(b.toLong, lo.toLong, hi.toLong, n.toLong)
    }.groupMap(_._1)(_._2)
    val blooms = tagged("fbloom:").map { l =>
      val Array(enc, f) = l.split(",", 2)
      f -> enc
    }.toMap
    for ((f, _) <- sized; (what, has) <- Seq("entries" -> entries.contains(f), "bloom" -> blooms.contains(f)))
      require(has, s"manifest v$version: file $f has no $what")
    Manifest(v, sized.map(_._1), sized.toMap, entries, blooms,
      DataType.fromJson(schema.get).asInstanceOf[StructType],
      tagged("batch:").headOption.fold(-1L)(_.trim.toLong))
  }

  def headManifest(spark: SparkSession, dir: String): Manifest =
    manifest(spark, dir, headVersion(spark, dir))

  /** The [[keyHash]] column the commit writer adds for its write tasks
    * and drops before the files are written. */
  private val HashCol = "_key_hash"

  /** What one write task saw: its rows, its [min, max, rows] per bucket
    * and its key bloom as base64 text. */
  private final case class TaskStats(task: Int, rows: Long, entries: Seq[BucketStat], bloom: String)

  /** Passes one write task's cell-sorted rows through unchanged, keeping
    * a running stat per bucket (in cell order a bucket is one contiguous
    * run) and the key hash of every row, 8 B each; when the rows run out
    * it adds the task's [[TaskStats]] to `out`. */
  private final class Gather(task: Int, in: Iterator[InternalRow], cellAt: Int, hashAt: Int,
                             out: CollectionAccumulator[TaskStats]) extends Iterator[InternalRow] {
    private val hashes = new scala.collection.mutable.ArrayBuilder.ofLong
    private val runs = Seq.newBuilder[BucketStat]
    // the open run; none while n == 0
    private var bucket, lo, hi, n = 0L
    private var done = false

    def hasNext: Boolean = in.hasNext || { if (!done) { done = true; finish() }; false }

    def next(): InternalRow = {
      val r = in.next()
      hashes += r.getLong(hashAt)
      if (!r.isNullAt(cellAt)) {
        val c = r.getLong(cellAt)
        val b = CellStore.bucketOf(c)
        if (n > 0 && b == bucket) { lo = math.min(lo, c); hi = math.max(hi, c); n += 1 }
        else { closeRun(); bucket = b; lo = c; hi = c; n = 1 }
      }
      r
    }

    private def closeRun(): Unit = if (n > 0) runs += BucketStat(bucket, lo, hi, n)

    private def finish(): Unit = {
      closeRun()
      val hs = hashes.result()
      out.add(TaskStats(task, hs.length, merged(runs.result()),
        bloomEncode(bloomOf(scala.collection.immutable.ArraySeq.unsafeWrapArray(hs)))))
    }
  }

  /** The task number Spark writes into a data file's name (`part-NNNNN-…`). */
  private def taskOf(file: String): Option[Int] =
    Some(new Path(file).getName).filter(_.startsWith("part-"))
      .flatMap(_.stripPrefix("part-").takeWhile(_.isDigit).toIntOption)

  /** Write `df` as version `v`'s data: max(1, ⌈rows / targetRows⌉) files
    * over disjoint cell ranges, each sorted by cell (no rows, no files).
    * One job counts the rows; a one-file commit is then written by one
    * task (`coalesce(1)`, no exchange), a larger one range-partitioned by
    * cell. Each write task gathers its file's entries and key bloom from
    * the rows it writes and hands them to the driver through an
    * accumulator holding one entry per write task: at most max(1,
    * ⌈rows / targetRows⌉), one per file the commit plans. No file is read
    * back. A file is matched to its task's stats by the task number in its
    * name: a listed file without stats, or a task whose rows left no
    * file, fails the commit before its manifest is written. Returns the
    * files as a manifest fragment with their sizes (from the listing),
    * entries and blooms. */
  private def writeCommit(spark: SparkSession, df: DataFrame, dir: String, v: Int,
                          targetRows: Long = TargetRows): Manifest = {
    val none = Manifest(v, Nil, Map.empty, Map.empty, Map.empty,
      nullable(df.schema).asInstanceOf[StructType])
    val rows = df.queryExecution.toRdd.count()
    if (rows == 0) return none
    val n = ((rows + targetRows - 1) / targetRows).toInt
    val sorted = (if (n == 1) df.coalesce(1) else df.repartitionByRange(n, col(Cell)))
      .sortWithinPartitions(col(Cell))
      .select(col("*"), keyHash(col(Key)).as(HashCol))
    val cellAt = sorted.schema.fieldIndex(Cell)
    val hashAt = sorted.schema.fieldIndex(HashCol)
    // unnamed: Spark copies a named accumulator's update and running value
    // into every task's and stage's info, the status store and the event
    // log, which for a bloom per task grows with the square of the files
    val acc = new CollectionAccumulator[TaskStats]
    spark.sparkContext.register(acc)
    val gathered = sorted.queryExecution.toRdd.mapPartitionsWithIndex((task, it) =>
      new Gather(task, it, cellAt, hashAt, acc))
    // ErrorIfExists: a committer that lost the race must NOT clobber the
    // winner's immutable data directory — it surfaces as a commit conflict.
    // One file per task: the task number names the file's stats.
    try Bridge.internalFrame(spark, gathered, sorted.schema).drop(HashCol)
      .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists).option("maxRecordsPerFile", 0L)
      .parquet(s"$dir/data_v$v")
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getMessage).exists(_.toLowerCase.contains("already exists")) =>
        throw new CommitConflictException(v,
          s"data_v$v already written by a concurrent committer")
    }
    // a re-run task replaces its partition's entry
    val stats = acc.value.asScala.map(s => s.task -> s).toMap
    val files = listFilesUnder(spark, dir, s"data_v$v").map { case (f, bytes) =>
      (f, bytes, taskOf(f).flatMap(stats.get).getOrElse(throw new IllegalStateException(
        s"snapshot commit v$v: data file $f has no write-task stats; no manifest written")))
    }
    val unwritten = stats.values.filter(_.rows > 0).map(_.task).toSet -- files.map(_._3.task)
    if (unwritten.nonEmpty) throw new IllegalStateException(s"snapshot commit v$v: the rows of " +
      s"write tasks ${unwritten.toSeq.sorted.mkString(", ")} have no data file under data_v$v; no manifest written")
    // Spark's first write task writes a file even with no rows; the
    // manifest leaves such a file out
    val live = files.filter(_._3.rows > 0)
    none.copy(files = live.map(_._1), sizes = live.map(f => f._1 -> f._2).toMap,
      entries = live.map(f => f._1 -> f._3.entries).toMap,
      blooms = live.map(f => f._1 -> f._3.bloom).toMap)
  }

  /** `prev` without the files in `drop`, plus the files `w` wrote, as
    * version `w.version`. */
  private def replaced(prev: Manifest, drop: Set[String], w: Manifest): Manifest =
    prev.copy(version = w.version, files = prev.files.filterNot(drop) ++ w.files,
      sizes = prev.sizes -- drop ++ w.sizes, entries = prev.entries -- drop ++ w.entries,
      blooms = prev.blooms -- drop ++ w.blooms)

  /** Create the table: snapshot v1. Fails on an existing table. */
  def create(spark: SparkSession, df: DataFrame, dir: String): Int = {
    require(recoveryHead(spark, dir) == 0,
      s"SnapshotStore.create: $dir already has a HEAD; use append/upsert/overwrite")
    overwrite(spark, df, dir)
  }

  /** Content-replacing commit: the next version (v1 on a new table) holds
    * exactly `df`. Earlier versions stay readable until [[expireSnapshots]]
    * — the bulk (re)load of a cell store. Returns the new version. */
  def overwrite(spark: SparkSession, df: DataFrame, dir: String): Int =
    overwriteBy(spark, df, dir)

  /** [[overwrite]] cutting its files at `targetRows` rows. */
  private[graft] def overwriteBy(spark: SparkSession, df: DataFrame, dir: String,
                                 targetRows: Long = TargetRows): Int = {
    requireKeyed(df, "overwrite")
    val head = recoveryHead(spark, dir)
    val lastBatch = if (head > 0) manifest(spark, dir, head).lastBatch else -1L
    val v = head + 1
    acquireClaim(spark, dir, v)
    val w = writeCommit(spark, df, dir, v, targetRows)
    commit(spark, dir, w.copy(lastBatch = lastBatch), preClaimed = true)
  }

  /** Append-only commit: the delta's own files, entries and blooms join
    * the manifest; prior files carry by reference, so the table is never
    * re-read to admit a batch. Every append adds files ([[compact]] pays
    * that debt down). Returns the new version. */
  def append(spark: SparkSession, delta: DataFrame, dir: String): Int =
    appendCommit(spark, delta, dir, None).get

  /** Streaming ingest commit — ONE append snapshot per micro-batch,
    * IDEMPOTENT under foreachBatch's at-least-once replay (the Iceberg
    * streaming-write dedup role): the manifest carries the highest
    * committed micro-batch id; a replayed batch at or below it is a no-op
    * (returns None), so a crash between the sink's checkpoint advance and
    * the batch function cannot double-append. Requires monotonically
    * increasing batch ids — exactly what Structured Streaming's
    * foreachBatch supplies. */
  def appendBatch(spark: SparkSession, batch: DataFrame, dir: String,
                  batchId: Long): Option[Int] =
    appendCommit(spark, batch, dir, Some(batchId))

  private def appendCommit(spark: SparkSession, delta: DataFrame, dir: String,
                           batchId: Option[Long]): Option[Int] = {
    requireKeyed(delta, if (batchId.isEmpty) "append" else "appendBatch")
    val prev = headManifest(spark, dir)
    if (batchId.exists(_ <= prev.lastBatch)) return None
    val v = prev.version + 1
    acquireClaim(spark, dir, v)
    val w = writeCommit(spark, delta, dir, v)
    Some(commit(spark, dir, replaced(prev, Set.empty, w)
      .copy(lastBatch = batchId.getOrElse(prev.lastBatch)), preClaimed = true))
  }

  /** Attach a stream to the table: every micro-batch commits one snapshot
    * through [[appendBatch]] (skips replayed ids). Caller starts/awaits the
    * returned writer. */
  def ingestStream(stream: DataFrame, dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendBatch(batch.sparkSession, batch.toDF(), dir, id)
        ()
      }

  /** Copy-on-write MERGE (Iceberg `MERGE INTO` role): every store row whose
    * `image_id` matches a delta row is REPLACED, or DELETED when the delta
    * has a `_deleted` column and it is true there; non-deleted delta rows
    * are written (matched = the replacement, unmatched = an insert). Only
    * the victim files are read and rewritten, together with the delta's
    * rows, into the commit's new files. The delta is an ingest-batch-sized
    * frame (broadcast in the anti-join); a table-sized delta wants the
    * real Iceberg MERGE. Returns the new version. */
  def upsert(spark: SparkSession, delta: DataFrame, dir: String): Int = {
    requireKeyed(delta, "upsert")
    val prev = headManifest(spark, dir)
    val v = prev.version + 1
    acquireClaim(spark, dir, v)
    // victim files from the MANIFEST BLOOMS alone: each delta key's hash is
    // probed against every file's bloom executor-side, so the driver
    // receives at most one row per file and no data file is read. False
    // positives only widen the rewrite, never change content.
    val blooms = prev.blooms.map { case (f, enc) => f -> bloomDecode(enc) }
    val probe = udf((h: Long) =>
      blooms.collect { case (f, bits) if mightContain(bits, h) => f }.toSeq)
    val hits = delta.select(explode(probe(keyHash(col(Key)))).as("f"))
      .groupBy("f").agg(count(lit(1))).collect().map(_.getString(0)).toSet
    val victims = prev.files.filter(hits)
    val old = readFiles(spark, dir, prev, victims)
    val survivors = (if (delta.columns.contains(Deleted))
      delta.where(!coalesce(col(Deleted), lit(false))).drop(Deleted)
    else delta).select(old.columns.map(col): _*)
    val kept = old.join(broadcast(delta.select(col(Key)).distinct()), Seq(Key), "left_anti")
    val w = writeCommit(spark, kept.unionByName(survivors), dir, v)
    commit(spark, dir, replaced(prev, victims.toSet, w), preClaimed = true)
  }

  /** Small-file compaction as a commit — the Iceberg `rewrite_data_files` +
    * sort-order pass: HEAD's content is rewritten through the commit
    * writer, into max(1, ⌈rows / TargetRows⌉) cell-sorted files, and
    * committed as the next version; earlier versions keep their own files
    * until [[expireSnapshots]]. Before the commit one aggregate over only
    * the new files recomputes their stats (rows, min and max per bucket):
    * they must equal HEAD's and the new manifest's. On a mismatch the
    * claim and data directory are released, HEAD is untouched, and the
    * call fails. Returns per-bucket telemetry (bucket,
    * files_before, files_after, rows) from the two manifests, a file
    * counting in every bucket it holds an entry for. */
  def compact(spark: SparkSession, dir: String): DataFrame = {
    val prev = headManifest(spark, dir)
    val v = prev.version + 1
    acquireClaim(spark, dir, v)
    val w = writeCommit(spark, readFiles(spark, dir, prev, prev.files), dir, v)
    val next = replaced(prev, prev.files.toSet, w)
    // the writer's stats come from the rows it wrote: the new files on disk
    // must show HEAD's stats, and the new manifest must say what they show
    val got = readFiles(spark, dir, w, w.files).where(col(Cell).isNotNull)
      .groupBy(shiftrightunsigned(col(Cell), 64 - CellStore.PrefixBits))
      .agg(min(Cell), max(Cell), count(lit(1))).collect()
      .map(r => BucketStat(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    if (got != prev.stats.toSet || next.stats.toSet != got) {
      releaseFailedCommit(spark, dir, v)
      throw new IllegalStateException(s"compact: rewrite stats ${got -- prev.stats} differ " +
        s"from HEAD's ${prev.stats.toSet -- got} (manifest ${next.stats.toSet}); HEAD left at v${prev.version}")
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

  /** `files` of snapshot `m` as one parquet relation: sizes and schema
    * come from the manifest, so the read runs no listing or
    * schema-inference job whatever its file count. No files = an empty
    * frame. */
  private def readFiles(spark: SparkSession, dir: String, m: Manifest,
                        files: Seq[String]): DataFrame = {
    val (fs, root) = fsOf(spark, dir)
    val statuses = files.map(f =>
      new FileStatus(m.sizes(f), false, 0, 0, 0, fs.makeQualified(new Path(s"$dir/$f"))))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(fs.makeQualified(root), statuses), new StructType(), m.schema,
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
  def changelog(spark: SparkSession, dir: String, fromV: Int, toV: Int): DataFrame = {
    require(fromV < toV, s"changelog: fromV=$fromV must precede toV=$toV")
    val mA = manifest(spark, dir, fromV)
    val mB = manifest(spark, dir, toV)
    val oldS = readFiles(spark, dir, mA, mA.files.filterNot(mB.files.toSet))
    val newS = readFiles(spark, dir, mB, mB.files.filterNot(mA.files.toSet))
    val dataCols = newS.columns.toSeq
    val o = oldS.select(dataCols.map(c => col(c).as(s"_o_$c")): _*)
    val n = newS.select(dataCols.map(c => col(c).as(s"_n_$c")): _*)
    val joined = o.join(n, col(s"_o_$Key") <=> col(s"_n_$Key"), "full_outer")
    val rowSame = dataCols.map(c => col(s"_o_$c") <=> col(s"_n_$c")).reduce(_ && _)
    joined
      .withColumn("op",
        when(col(s"_o_$Key").isNull, lit("insert"))
          .when(col(s"_n_$Key").isNull, lit("delete"))
          .when(rowSame, lit(null))
          .otherwise(lit("update")))
      .where(col("op").isNotNull)
      .select(dataCols.map(c =>
        coalesce(col(s"_n_$c"), col(s"_o_$c")).as(c)) :+ col("op"): _*)
  }

  /** Drop snapshots before `keepFrom` and DELETE the files of committed
    * versions (`data_v{N}`, N <= HEAD) that no surviving manifest
    * references (Iceberg's expire_snapshots maintenance pass). A directory
    * above HEAD may be a concurrent commit's, written but not yet swapped
    * in: it is left to [[releaseFailedCommit]]. Returns the number of data
    * files deleted. */
  def expireSnapshots(spark: SparkSession, dir: String, keepFrom: Int): Int = {
    val (fs, dirP) = fsOf(spark, dir)
    val headV = headVersion(spark, dir)
    require(keepFrom >= 1 && keepFrom <= headV,
      s"keepFrom=$keepFrom outside [1, HEAD=$headV]")
    val live = (keepFrom to headV)
      .flatMap(v => manifest(spark, dir, v).files).toSet
    val onDisk = fs.listStatus(dirP).map(_.getPath.getName)
      .filter(n => n.startsWith("data_v") && n.stripPrefix("data_v").toIntOption.exists(_ <= headV))
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
