package graft.lineage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-versioned cell store — the Iceberg TABLE-FORMAT role (snapshot
  * isolation, time travel, copy-on-write MERGE, snapshot expiry) on the
  * same bucketed-parquet layout as [[CellStore]] (which remains the
  * un-versioned fast path the kNN/compact gates use).
  *
  * Layout: every COMMIT writes its files into its own immutable directory
  * `dir/data_v{N}/_bucket=B/part-*.parquet`; the MANIFEST
  * `dir/_snaps/v{N}.txt` lists the dir-relative files (old commits' files
  * carry into later manifests BY REFERENCE) plus per-bucket stats, and
  * `dir/_snaps/HEAD` names the current version. Commit = write files →
  * write manifest (tmp + atomic rename) → swap HEAD (tmp + delete + rename,
  * the CellStore.compact discipline). Data files are never modified after
  * their commit, so a reader holding version N is unaffected by later
  * commits, and a crash before the HEAD swap leaves the table at the
  * previous snapshot with only unreferenced files (cleaned by
  * [[expireSnapshots]]). This is Iceberg's metadata-pointer model minus the
  * catalog: with an Iceberg runtime present, commit becomes
  * `table.newAppend()/newRewrite()` and HEAD the catalog pointer
  * (COVERAGE.md Iceberg declaration). Concurrent WRITERS are out of scope
  * (Iceberg arbitrates those with optimistic catalog swaps; single-writer
  * is the documented contract here — readers at any committed version are
  * always safe).
  *
  * MERGE ([[upsert]]) is copy-on-write at BUCKET granularity, the Iceberg
  * CoW MERGE shape: buckets that may hold a matched key are found from the
  * MANIFEST's per-bucket key BLOOMS alone (round 5 — the role of Iceberg's
  * file bloom filters; no head data file is read for victim discovery),
  * only the touched buckets' files are read for the rewrite (anti-join by
  * key + surviving delta rows; [[lastUpsertScan]] reports scanned vs total
  * files), and every untouched bucket's files carry over by reference —
  * the 10^12-row property: merge cost scales with touched buckets, not
  * table size. Deletes ride the delta as a boolean column.
  * Updates that MOVE a row to a different cell (a re-geotagged image) are
  * correct by construction: the old row's bucket is a victim (id match),
  * the new row lands in its own cell's bucket.
  */
object SnapshotStore {

  import CellStore.{BucketStat, PrefixBits}

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def bucketed(df: DataFrame, cellCol: String): DataFrame =
    df.withColumn("_bucket", shiftrightunsigned(col(cellCol), 64 - PrefixBits))

  /** Data files under one subtree, as dir-relative paths. */
  private def listFilesUnder(spark: SparkSession, dir: String,
                             sub: String): Seq[String] = {
    val (fs, _) = fsOf(spark, dir)
    val root = new Path(s"$dir/$sub")
    if (!fs.exists(root)) return Nil
    val base = fs.makeQualified(new Path(dir)).toString + "/"
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
        out += f.getPath.toString.stripPrefix(base)
    }
    out.result()
  }

  /** `lastBatch` = the highest streaming micro-batch id committed so far
    * (-1 when none): the idempotence cursor for [[appendBatch]].
    * `blooms` = per-bucket key Bloom filters (round 5, VERDICT r04 #6 — the
    * Iceberg file-bloom role): 2048 bits / 3 hashes over the id column,
    * written at commit time, so [[upsert]] finds its victim buckets from
    * the MANIFEST alone instead of scanning every head file. A bucket
    * missing its bloom (legacy manifest) is conservatively a victim
    * candidate. False positives only widen the rewrite set — content is
    * unaffected. */
  final case class Manifest(version: Int, files: Seq[String],
                            stats: Seq[BucketStat], lastBatch: Long = -1L,
                            blooms: Map[Long, Array[Long]] = Map.empty,
                            bloomCol: Option[String] = None)

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

  /** Per-bucket stats AND key blooms in ONE pass (review r05: the
    * two-aggregation form scanned every commit's output twice): positions
    * are exploded (x3 rows; the count divides back exactly) so aggregation
    * state stays bounded — collect_set over <= 2048 scalar positions, never
    * over raw keys. Blooms come back empty when `idCol` is absent. */
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
    * bloom-less so the upsert fallback keeps it conservatively a victim
    * (review r05: the old key-union merge gave such buckets a delta-only
    * bloom, silently hiding pre-bloom rows from victim discovery). */
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

  /** Upsert I/O telemetry of the LAST [[upsert]] on this JVM: head data
    * files actually read for the rewrite vs the snapshot's total — the
    * bloom prune's observable effect (SnapshotStoreSpec asserts
    * scanned < total on a targeted delta). */
  final case class UpsertScan(filesScanned: Int, filesTotal: Int)
  @volatile var lastUpsertScan: UpsertScan = UpsertScan(0, 0)

  private def manifestPath(dir: String, v: Int) = new Path(s"$dir/_snaps/v$v.txt")

  private def bucketOfFile(f: String): Long =
    f.split("/").find(_.startsWith("_bucket="))
      .map(_.stripPrefix("_bucket=").toLong)
      .getOrElse(sys.error(s"SnapshotStore: unbucketed data file $f"))

  /** Manifest format: line 1 `version:N`, then `stat:bucket,min,max,rows`
    * lines, then `file:<relative path>` lines. Plain text keeps it
    * FileSystem-API-only (works on s3a the same as local) and
    * diff-readable. */
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
    * role, round 5): before the manifest rename, the committer must WIN the
    * version's CLAIM — an atomic exclusive create of `_snaps/v{N}.claim`.
    * Exclusive create is the one primitive every Hadoop FileSystem offers
    * atomically (local, HDFS, and object stores with conditional puts), so
    * two writers that both read base v{N-1} and race to commit v{N} resolve
    * deterministically: the loser gets [[CommitConflictException]] and
    * retries from the NEW head (its data files are orphans until
    * [[expireSnapshots]]). The manifest body still lands via tmp+rename
    * (readers never see a partial manifest), and the HEAD swap stays the
    * commit point. A crash between claim and manifest leaves an orphan
    * claim that blocks v{N} committers — [[releaseFailedCommit]] clears it
    * after verifying HEAD never reached the version. */
  /** Win the version's claim — atomic exclusive create. The commit-path
    * operations (create/append/appendBatch/upsert) call this BEFORE writing
    * any data file (review r05: claiming only at manifest time let two
    * racers interleave part files under the same data_v dir, so the claim
    * winner's listing could reference the loser's rows); [[commit]] claims
    * itself only when invoked directly. */
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

  private[graft] def commit(spark: SparkSession, dir: String, m: Manifest,
                            preClaimed: Boolean = false): Int = {
    val (fs, _) = fsOf(spark, dir)
    fs.mkdirs(new Path(s"$dir/_snaps"))
    // claim FIRST unless the operation already holds it: the optimistic CAS
    if (!preClaimed) acquireClaim(spark, dir, m.version)
    val body = (Seq(s"version:${m.version}", s"batch:${m.lastBatch}") ++
      m.bloomCol.map(c => s"bloomcol:$c").toSeq ++
      m.stats.sortBy(_.bucket).map(s =>
        s"stat:${s.bucket},${s.cellMin},${s.cellMax},${s.rows}") ++
      m.blooms.toSeq.sortBy(_._1).map { case (b, bits) =>
        s"bloom:$b,${bloomEncode(bits)}" } ++
      m.files.sorted.map(f => s"file:$f")).mkString("\n")
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

  /** Retry `op` across commit conflicts: append/appendBatch/upsert re-read
    * HEAD per call, so a lost race retries against the new base. Exhausted
    * retries rethrow the last conflict. */
  def withCommitRetries[T](maxRetries: Int = 3)(op: => T): T = {
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: CommitConflictException if attempt < maxRetries =>
          attempt += 1
          System.err.println(s"[snapshot-store] commit conflict at " +
            s"v${e.version}, retrying against the new head (attempt $attempt)")
      }
    }
    throw new IllegalStateException("unreachable")
  }

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

  /** HEAD as recovery sees it: inside [[commit]]'s delete-then-rename swap
    * HEAD is missing and HEAD.tmp holds the version being committed, so
    * that value counts; HEAD is read once more in case the rename landed
    * between the two reads. Neither file: nothing was ever committed. */
  private def recoveryHead(spark: SparkSession, dir: String): Int = {
    val (fs, _) = fsOf(spark, dir)
    def read(name: String): Option[Int] =
      try {
        val in = fs.open(new Path(s"$dir/_snaps/$name"))
        try Some(scala.io.Source.fromInputStream(in).mkString.trim.toInt) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    read("HEAD").orElse(read("HEAD.tmp")).orElse(read("HEAD")).getOrElse(0)
  }

  def headVersion(spark: SparkSession, dir: String): Int = {
    val (fs, _) = fsOf(spark, dir)
    def readOnce(): Int = {
      val in = fs.open(new Path(s"$dir/_snaps/HEAD"))
      try scala.io.Source.fromInputStream(in).mkString.trim.toInt finally in.close()
    }
    // the commit's HEAD swap is delete-then-rename: a reader landing inside
    // that window sees no HEAD for a moment — one short retry reads the
    // renamed file (version-pinned readers never pass through here)
    try readOnce() catch {
      case _: java.io.FileNotFoundException => Thread.sleep(50L); readOnce()
    }
  }

  def manifest(spark: SparkSession, dir: String, version: Int): Manifest = {
    val (fs, _) = fsOf(spark, dir)
    val in = fs.open(manifestPath(dir, version))
    val lines = try scala.io.Source.fromInputStream(in).getLines().toVector
      finally in.close()
    val v = lines.head.stripPrefix("version:").trim.toInt
    require(v == version, s"manifest v$version carries version $v")
    val stats = lines.collect { case l if l.startsWith("stat:") =>
      val Array(b, lo, hi, n) = l.stripPrefix("stat:").split(",")
      BucketStat(b.toLong, lo.toLong, hi.toLong, n.toLong)
    }
    val files = lines.collect { case l if l.startsWith("file:") =>
      l.stripPrefix("file:")
    }
    val lastBatch = lines.collectFirst { case l if l.startsWith("batch:") =>
      l.stripPrefix("batch:").trim.toLong
    }.getOrElse(-1L)
    val blooms = lines.collect { case l if l.startsWith("bloom:") =>
      val Array(b, enc) = l.stripPrefix("bloom:").split(",", 2)
      b.toLong -> bloomDecode(enc)
    }.toMap
    val bloomCol = lines.collectFirst { case l if l.startsWith("bloomcol:") =>
      l.stripPrefix("bloomcol:").trim
    }
    Manifest(v, files, stats, lastBatch, blooms, bloomCol)
  }

  private def statsOf(df: DataFrame, cellCol: String): Seq[BucketStat] =
    bucketed(df, cellCol).groupBy("_bucket")
      .agg(min(col(cellCol)).as("lo"), max(col(cellCol)).as("hi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => BucketStat(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

  private def writeCommitFiles(spark: SparkSession, df: DataFrame, dir: String,
                               v: Int, cellCol: String): Seq[String] = {
    // ErrorIfExists (round 5): a committer that lost the optimistic race
    // must NOT clobber the winner's immutable data directory — the
    // collision surfaces as a commit conflict before any data is damaged
    // (the claim in [[commit]] is the second, authoritative gate)
    try bucketed(df, cellCol).write.mode(SaveMode.ErrorIfExists)
      .partitionBy("_bucket").parquet(s"$dir/data_v$v")
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getMessage).exists(_.toLowerCase.contains("already exists")) =>
        throw new CommitConflictException(v,
          s"data_v$v already written by a concurrent committer")
    }
    listFilesUnder(spark, dir, s"data_v$v")
  }

  /** The bloom column every commit over this table must share: blooms are
    * probed by VALUE, so mixing id columns (or a table whose manifest
    * predates the bloomcol tag while carrying blooms) must fail loudly, not
    * silently miss victims (review r05). */
  private def requireBloomCol(m: Manifest, idCol: String, op: String): Unit =
    require(m.blooms.isEmpty || m.bloomCol.contains(idCol),
      s"SnapshotStore.$op: manifest blooms were built over " +
        s"${m.bloomCol.getOrElse("<untagged>")} but this operation uses " +
        s"id column '$idCol' — a value probe would silently miss victims; " +
        "use one id column per table")

  /** Create the table: snapshot v1. */
  def create(spark: SparkSession, df: DataFrame, dir: String,
             cellCol: String = "cell16", idCol: String = "image_id"): Int = {
    val (fs, _) = fsOf(spark, dir)
    require(!fs.exists(new Path(s"$dir/_snaps/HEAD")),
      s"SnapshotStore.create: $dir already has a HEAD; use append/upsert")
    acquireClaim(spark, dir, 1)
    val (stats, blooms) = statsAndBlooms(df, cellCol, idCol)
    commit(spark, dir,
      Manifest(1, writeCommitFiles(spark, df, dir, 1, cellCol), stats,
        blooms = blooms,
        bloomCol = if (blooms.isEmpty) None else Some(idCol)),
      preClaimed = true)
  }

  /** Append-only commit: new files + monoid-merged stats (blooms OR-merge
    * where BOTH sides carry one); prior files carry by reference (the
    * CellStore.append contract, snapshot-versioned). Returns the new
    * version. */
  def append(spark: SparkSession, delta: DataFrame, dir: String,
             cellCol: String = "cell16", idCol: String = "image_id"): Int = {
    val prev = manifest(spark, dir, headVersion(spark, dir))
    requireBloomCol(prev, idCol, "append")
    val v = prev.version + 1
    acquireClaim(spark, dir, v)
    val newFiles = writeCommitFiles(spark, delta, dir, v, cellCol)
    val (deltaStats, deltaBlooms) = statsAndBlooms(delta, cellCol, idCol)
    val merged = (prev.stats ++ deltaStats).groupBy(_.bucket)
      .map { case (b, ss) =>
        BucketStat(b, ss.map(_.cellMin).min, ss.map(_.cellMax).max, ss.map(_.rows).sum)
      }.toSeq
    val blooms = mergeBlooms(prev.blooms, prev.stats.map(_.bucket).toSet,
      deltaBlooms, deltaStats.map(_.bucket).toSet)
    commit(spark, dir, Manifest(v, prev.files ++ newFiles, merged, prev.lastBatch,
      blooms, bloomCol = if (blooms.isEmpty) None else Some(idCol)),
      preClaimed = true)
  }

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
                  idCol: String = "image_id"): Option[Int] = {
    val prev = manifest(spark, dir, headVersion(spark, dir))
    if (batchId <= prev.lastBatch) return None
    requireBloomCol(prev, idCol, "appendBatch")
    val v = prev.version + 1
    acquireClaim(spark, dir, v)
    val newFiles = writeCommitFiles(spark, batch, dir, v, cellCol)
    val (batchStats, batchBlooms) = statsAndBlooms(batch, cellCol, idCol)
    val merged = (prev.stats ++ batchStats).groupBy(_.bucket)
      .map { case (b, ss) =>
        BucketStat(b, ss.map(_.cellMin).min, ss.map(_.cellMax).max, ss.map(_.rows).sum)
      }.toSeq
    val blooms = mergeBlooms(prev.blooms, prev.stats.map(_.bucket).toSet,
      batchBlooms, batchStats.map(_.bucket).toSet)
    Some(commit(spark, dir, Manifest(v, prev.files ++ newFiles, merged, batchId,
      blooms, bloomCol = if (blooms.isEmpty) None else Some(idCol)),
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
    * The delta is an ingest-batch-sized frame (broadcast in both probes);
    * a table-sized delta wants the real Iceberg MERGE. Returns the new
    * version. */
  def upsert(spark: SparkSession, delta: DataFrame, dir: String,
             idCol: String = "image_id", cellCol: String = "cell16",
             deletedCol: Option[String] = None): Int = {
    val prev = manifest(spark, dir, headVersion(spark, dir))
    requireBloomCol(prev, idCol, "upsert")
    val v = prev.version + 1
    acquireClaim(spark, dir, v)
    val head = readVersion(spark, dir, prev.version)
    val deltaKeys = delta.select(col(idCol)).distinct()
    // victim buckets from the MANIFEST BLOOMS alone (round 5, VERDICT r04
    // #6): probe each delta key's 3 bloom positions (computed Spark-side,
    // the same expression the commit writer used) against each bucket's
    // bitset — NO head data file is read to find victims. A bucket with no
    // bloom (legacy manifest) is conservatively a victim; false positives
    // only widen the rewrite, never change content.
    val deltaTriples = delta.select(bloomPositions(col(idCol)).as("ps"))
      .distinct().collect().map(_.getSeq[Int](0))
    def mightContain(bits: Array[Long], ps: Seq[Int]): Boolean =
      ps.forall(p => (bits(p >> 6) & (1L << (p & 63))) != 0)
    val victims = prev.stats.map(_.bucket).filter { b =>
      prev.blooms.get(b) match {
        case Some(bits) => deltaTriples.exists(mightContain(bits, _))
        case None => true
      }
    }.toSet
    val survivors0 = deletedCol match {
      case Some(d) => delta.where(!coalesce(col(d), lit(false))).drop(d)
      case None => delta
    }
    val survivors = survivors0.select(head.columns.map(col): _*)
    val targets = statsOf(survivors, cellCol).map(_.bucket).toSet
    val touched = victims ++ targets
    // the rewrite reads ONLY the touched buckets' FILES (manifest-level
    // pruning — the head scan the blooms exist to avoid); telemetry below
    // is what SnapshotStoreSpec asserts
    val touchedFiles = prev.files.filter(f => touched.contains(bucketOfFile(f)))
    lastUpsertScan = UpsertScan(touchedFiles.size, prev.files.size)
    val keptOld =
      (if (touchedFiles.isEmpty) head.where(lit(false))
       else readFiles(spark, dir, touchedFiles))
        .join(broadcast(deltaKeys), Seq(idCol), "left_anti")
    val rewritten = keptOld.unionByName(survivors)
    val newFiles = writeCommitFiles(spark, rewritten, dir, v, cellCol)
    val carried = prev.files.filterNot(f => touched.contains(bucketOfFile(f)))
    // a delete-only MERGE can empty every touched bucket: zero part files
    // were written, so reading data_v$v would fail schema inference — the
    // new-side stats are then simply empty and the commit carries on
    val (newStats, newBlooms) =
      if (newFiles.isEmpty) (Seq.empty[BucketStat], Map.empty[Long, Array[Long]])
      else statsAndBlooms(spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/data_v$v"), cellCol, idCol)
    val stats = prev.stats.filterNot(s => touched.contains(s.bucket)) ++ newStats
    val blooms = prev.blooms.view.filterKeys(!touched.contains(_)).toMap ++ newBlooms
    commit(spark, dir, Manifest(v, carried ++ newFiles, stats, prev.lastBatch,
      blooms, bloomCol = if (blooms.isEmpty) None else Some(idCol)),
      preClaimed = true)
  }

  private def readFiles(spark: SparkSession, dir: String,
                        files: Seq[String]): DataFrame = {
    require(files.nonEmpty,
      "SnapshotStore: this snapshot has no data files (fully-deleted table)")
    // explicit leaf files + recursiveFileLookup: NO partition inference, so
    // commit dirs of different versions mix freely in one read; _bucket is
    // a directory name only, never a column (cellCol stays in the data)
    spark.read.option("recursiveFileLookup", "true")
      .parquet(files.map(f => s"$dir/$f"): _*)
  }

  /** Time-travel read: exactly snapshot `version`'s files. Later commits
    * never disturb it — files are immutable; only [[expireSnapshots]]
    * deletes. */
  def readVersion(spark: SparkSession, dir: String, version: Int): DataFrame =
    readFiles(spark, dir, manifest(spark, dir, version).files)

  /** HEAD read. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, headVersion(spark, dir))

  /** Snapshot-scoped range pruning (the CellStore.readRanges contract
    * against one version's stats + files). Returns (frame, buckets read). */
  def readRanges(spark: SparkSession, dir: String, version: Int,
                 ranges: Seq[(Long, Long)]): (DataFrame, Int) = {
    val m = manifest(spark, dir, version)
    val keep = m.stats.filter(b =>
      ranges.exists { case (lo, hi) => b.cellMin <= hi && lo <= b.cellMax })
      .map(_.bucket).toSet
    val files = m.files.filter(f => keep.contains(bucketOfFile(f)))
    (readFiles(spark, dir, files), keep.size)
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
    val filesA = mA.files.filter(f => buckets.contains(bucketOfFile(f)))
    val filesB = mB.files.filter(f => buckets.contains(bucketOfFile(f)))
    def side(files: Seq[String]): DataFrame =
      if (files.isEmpty)
        readVersion(spark, dir, toV).where(lit(false))
      else readFiles(spark, dir, files)
    val oldS = side(filesA)
    val newS = side(filesB)
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
      .flatMap(sub => listFilesUnder(spark, dir, sub))
    val orphans = onDisk.filterNot(live.contains)
    orphans.foreach(f => fs.delete(new Path(s"$dir/$f"), false))
    (1 until keepFrom).foreach { v =>
      val p = manifestPath(dir, v)
      if (fs.exists(p)) fs.delete(p, false)
      // the version's claim dies with its manifest (review r05: claims are
      // otherwise immortal and bloat the _snaps listing one per commit)
      val c = new Path(s"$dir/_snaps/v$v.claim")
      if (fs.exists(c)) fs.delete(c, false)
    }
    orphans.size
  }
}
