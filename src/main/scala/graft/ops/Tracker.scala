package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The round machinery of every iterative operator — Reachability's flood
  * and pathsToReach climb, Components' star rewriting and Knn.knnBatch —
  * plus the one-snapshot helpers of Tiling and TextOps.
  *
  * Snapshot (`Tracker#snapshot`): materialize a (small) iteration table and
  * REBUILD it from the persisted RDD: the returned frame's logical plan is a
  * flat LogicalRDD scan, so the per-round analysis/optimization cost stays
  * CONSTANT across iterations. Plain cache() is not enough — the Dataset's
  * LOGICAL plan still grows each round and Catalyst re-walks (and
  * re-canonicalizes) the whole accumulated tree, which turned
  * quadratic-plus in practice (round 4 of a 5-round flood spent 15 s
  * planning 3 rows). (`localCheckpoint` would do the same but trips a
  * constraint-rewrite bug under unionByName in Spark 4.1.)
  *
  * Round (`Tracker.rounds`): one job per round (a snapshot, or the kNN
  * driver route's aggregate), tagged `graft:<op>:<round>`, one stop rule
  * and one loud bound. Call
  * (`Tracker.run`): the result snapshot survives, everything else the call
  * tracked is released, on success and on failure. Survivors are kept per
  * SparkSession. */
private[graft] object Tracker {
  /** Test-only plan capture: materialized frames execute through raw RDD
    * actions, invisible to QueryExecutionListener — a plan-shape spec sets a
    * buffer here and every snapshot on the SAME THREAD appends its
    * executed-plan string. Null (the default) costs nothing. */
  private[graft] val capturePlans =
    new ThreadLocal[scala.collection.mutable.Buffer[String]]

  private def capture(df: DataFrame): Unit = {
    val buf = capturePlans.get()
    if (buf != null) buf += df.queryExecution.executedPlan.toString
  }

  /** A snapshot: `df` is a flat scan of the persisted `rdd`; `rows` counts
    * its rows and `matched` the rows satisfying the snapshot's predicate. */
  private[ops] final case class Snap(df: DataFrame, rows: Long, matched: Long, rdd: RDD[Row])

  /** Runs `step(round)` (rounds count from 1) until it reports 0 pending
    * rows, and returns the number of rounds run. The bound: `max` rounds may
    * report pending work, plus ONE confirming round that must report none —
    * a run converging in exactly `max` improving rounds is still correct,
    * anything still pending after that throws, because exiting would hand
    * out an unsettled result. Each round's jobs carry the job tag
    * `graft:<op>:<round>`. A tag, not a job group: the caller's group (a
    * profiler attributing spans through setJobGroup) stays in force. */
  private[ops] def rounds(spark: SparkSession, op: String, max: Int)(step: Int => Long): Int = {
    val sc = spark.sparkContext
    var round = 0
    var pending = 1L
    while (pending > 0) {
      if (round > max)
        throw new IllegalStateException(
          s"$op: no fixpoint after maxIters=$max rounds and a confirming " +
            "round (work still pending); raise the bound")
      round += 1
      val tag = s"graft:$op:$round"
      sc.addJobTag(tag)
      try pending = step(round) finally sc.removeJobTag(tag)
    }
    round
  }

  /** One iterative call: `body` computes through a fresh tracker and returns
    * its RESULT snapshot. Every other snapshot and every cached frame the
    * call tracked is released, and the result registers as a survivor of
    * `spark`. On failure everything the call tracked is released. */
  private[ops] def run(spark: SparkSession)(body: Tracker => Snap): DataFrame = {
    val t = new Tracker
    try {
      val out = body(t)
      t.releaseExcept(out.rdd)
      registerSurvivor(spark, out.rdd)
      out.df
    } catch { case e: Throwable => t.releaseAll(); throw e }
    finally t.uncache()
  }

  /** Best-effort unpersist for EVERY release path: an RDD whose
    * SparkContext has been stopped died WITH the context (its blocks are
    * already gone); unpersist would reach into the dead BlockManagerMaster
    * and NPE. Seen when survivors outlive their session (one session per
    * test suite, a server cycling sessions) — and the per-call release
    * paths hit the same thing when a session stops MID-OPERATOR and the
    * operator's catch block releases: the NPE would then mask the real
    * error. A stop racing mid-release hits the same dead endpoint, so the
    * guard also swallows that (correctness unaffected either way: releasing
    * is only ever a cache drop). */
  private[ops] def safeUnpersist(r: RDD[Row]): Unit =
    if (!r.sparkContext.isStopped)
      try r.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }

  /** Surviving-snapshot registry. Every `run` call deliberately leaves
    * exactly ONE persisted RDD alive under the frame it returns (the frame
    * is a flat scan of it); a long-lived session issuing many such
    * calls accumulates dead snapshots once the results are consumed, with
    * no handle to free them. Callers that keep a session open call
    * `EngineCaches.releaseIterationSnapshots()` between requests: results
    * already computed stay correct — an unpersisted snapshot recomputes
    * through its RDD lineage if re-read, just slower. Within one session
    * the single-owner caveat of Search.releasePercentileCaches stays: don't
    * release while another thread's returned frame is mid-action. */
  private[ops] val survivors = new SessionRegistry[RDD[Row]](safeUnpersist)

  private[graft] def registerSurvivor(spark: SparkSession, r: RDD[Row]): Unit =
    survivors.register(spark, r)

  private[graft] def survivorCount(spark: SparkSession): Int = survivors.count(spark)
}

/** Per-session registry of cache handles that outlive the call that made
  * them, each freed by `free`. Keyed by session, so one session's release
  * never touches another's entries; sessions whose context has stopped are
  * dropped without `free` (their blocks died with the context). */
private[ops] final class SessionRegistry[A](free: A => Unit) {
  private val entries =
    scala.collection.mutable.Map.empty[SparkSession, scala.collection.mutable.ArrayBuffer[A]]

  private def dropStopped(): Unit =
    entries.filterInPlace((s, _) => !s.sparkContext.isStopped)

  def register(spark: SparkSession, a: A): Unit = synchronized {
    dropStopped()
    entries.getOrElseUpdate(spark, scala.collection.mutable.ArrayBuffer.empty) += a
  }

  def count(spark: SparkSession): Int = synchronized(entries.get(spark).fold(0)(_.size))

  /** Frees every entry of the ACTIVE session (else the default session). */
  def releaseActive(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach { s =>
      synchronized {
        entries.remove(s).foreach(_.foreach(free))
        dropStopped()
      }
    }
}

/** Cache-hygiene surface for long-lived sessions (the library-boundary
  * face of the snapshot registry above). */
object EngineCaches {
  /** Unpersist every iteration snapshot left alive by completed calls of
    * the ACTIVE session (one per call by design); other sessions' results
    * stay cached. */
  def releaseIterationSnapshots(): Unit = Tracker.survivors.releaseActive()
}

private[ops] final class Tracker {
  private val rdds = scala.collection.mutable.ArrayBuffer.empty[RDD[Row]]
  private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Snapshot `df` in ONE job: persist it, count its rows and the rows
    * satisfying `pred` (the caller's "how many rows need another round"
    * question rides the snapshot instead of a separate count job). Exact —
    * the fold runs over the freshly-persisted partitions, no accumulator
    * retry ambiguity. */
  def snapshot(df: DataFrame, pred: Row => Boolean = _ => false): Tracker.Snap = {
    Tracker.capture(df)
    val rdd = df.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // register BEFORE the materializing job: if it fails, releaseAll() must
    // still see (and unpersist) this RDD — registering after would leak
    // whatever partitions were already cached
    rdds += rdd
    val (n, m) = rdd.mapPartitions { it =>
      var n = 0L
      var m = 0L
      while (it.hasNext) {
        val r = it.next()
        n += 1
        if (pred(r)) m += 1
      }
      Iterator.single((n, m))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    Tracker.Snap(df.sparkSession.createDataFrame(rdd, df.schema), n, m, rdd)
  }

  /** `df.cache()`, unpersisted when the call ends (Tracker.run), on every
    * path: a projection re-read each round, not a result. */
  def cache(df: DataFrame): DataFrame = {
    val c = df.cache()
    cached += c
    c
  }

  private def uncache(): Unit =
    cached.foreach(c => if (!c.sparkSession.sparkContext.isStopped) c.unpersist())

  /** Unpersist every tracked intermediate except the result the caller
    * hands out — without this, each round leaks one persisted RDD for the
    * session's lifetime. */
  private def releaseExcept(keep: RDD[Row]): Unit =
    rdds.foreach(r => if (r ne keep) Tracker.safeUnpersist(r))

  def releaseAll(): Unit = rdds.foreach(Tracker.safeUnpersist)
}
