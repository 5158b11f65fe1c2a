package graft

/** The steal-gated N-vs-4N measurement protocol, shared by `Bench`
  * (local[N] thread parallelism) and `ClusterBench` (local-cluster[N,c,m]
  * separate executor JVMs). See BENCH.md for the protocol's rationale; the
  * short form: the sandbox hypervisor steals CPU in bursts, so efficiency
  * comes from WITHIN-iteration arm pairs (both arms back-to-back under the
  * same host conditions), reps are steal-measured and only clean reps count,
  * and the headline is the median clean pair (no best-pair cherry-pick). */
private[graft] object BenchProtocol {

  /** One measured N-vs-4N pair: small-arm seconds, big-arm seconds, and
    * whether both final reps were steal-clean. Pairs from SEPARATE
    * collection blocks (the round-5 outer retry) pool into one candidate
    * set — the protocol is identical per block, so the median over the
    * union is the same statistic with more samples, and pooling cannot
    * cherry-pick (membership is decided by steal/plausibility only, never
    * by the efficiency value). */
  final case class Pair(tn: Double, tm: Double, stealClean: Boolean)

  def effOf(p: Pair, n: Int, m: Int): Double = (p.tn / p.tm) / (m.toDouble / n)

  def isClean(p: Pair, n: Int, m: Int, effCap: Double = 1.2): Boolean =
    p.stealClean && effOf(p, n, m) <= effCap

  /** Budget of Bench's outer retry of the scaling block: what the primary
    * pair left of its 4/5 share, floored at the 1/5 reserved for it. */
  def outerRetryBudgetMs(budgetMs: Long, spentPrimaryMs: Long): Long =
    math.max(budgetMs * 4 / 5 - spentPrimaryMs, budgetMs / 5)

  /** Cumulative hypervisor-steal centiseconds (8th field of /proc/stat). */
  def stealCs(): Long = {
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      line.trim.split("\\s+").drop(1).map(_.toLong).lift(7).getOrElse(0L)
    } catch { case _: Throwable => 0L }
  }

  /** Steal-clean bound for one rep: at most max(0.5 s, 3% of the rep's
    * wall-clock) of machine steal. The fixed 50 cs floor is the historic
    * bound for short (~6 s) reps; the proportional arm extends it so a
    * 20+ s small-arm rep is not rejected for steal whose worst-case
    * serialized impact on its wall time is under 3% (s centiseconds of
    * machine steal can delay the critical path by at most s/100 seconds,
    * and in expectation far less — steal lands across all host vCPUs, of
    * which the small arm occupies a fraction). Round-3 driver data: a
    * 22.3 s 4-core rep was discarded for 66 cs (0.66 s worst-case = 3.0%)
    * while its partner rep was clean — the pair that would have made the
    * third clean pair. */
  def stealCap(wallSec: Double): Long = math.max(50L, (wallSec * 3.0).toLong)

  /** Measure one N-vs-4N pair; `oneRep(arm)` runs the workload at arm
    * parallelism `arm` (cores or executors — the caller decides) and returns
    * (seconds, steal centiseconds accrued during the rep). `armKey` names
    * the arm unit in the JSON fragment ("cores_n"/"cores_4n" vs
    * "executors_n"/...); efficiency = (t_n/t_m)/(m/n), which is unit-free
    * as long as both arms scale the SAME per-arm resource (Bench: cores;
    * ClusterBench: 4-core executors). Returns (efficiency, json fragment).
    * The deadline bounds retries, not the first iteration.
    *
    * A steal-polluted REP is retried in place (up to 2 retries, budget
    * permitting) rather than poisoning its whole iteration: the pair keeps
    * its within-iteration structure (final reps still adjacent, both
    * steal-clean), but one noisy window no longer discards the partner
    * arm's clean measurement with it. Round-3 driver data: 3 of 5 pairs
    * died to exactly one polluted rep each, starving the run to 2 clean
    * pairs inside the budget.
    *
    * Besides the per-rep steal gate (`stealCap`), a pair is CLEAN only if
    * its efficiency is physically plausible: `effCap` (default 1.2) rejects
    * pairs where the SMALL arm ran anomalously slow without recorded steal
    * (observed: a 4-core rep at half speed, eff 2.08 — throttling the
    * /proc/stat counter does not see). For this CPU-bound pipeline with
    * fixed per-core cache, genuinely superlinear core scaling is impossible
    * — the small arm has MORE cache and memory bandwidth per thread, so
    * eff > ~1.1 is always a measurement artifact. The cap is deliberately
    * ONE-SIDED: it can only discard pairs that INFLATE the reported
    * efficiency, never pairs that lower it, so it cannot cherry-pick the
    * number upward. Suspect pairs are counted in the JSON (`suspect_pairs`)
    * and rejoin the candidate pool only when no clean pair exists at all.
    *
    * Headline = the MEDIAN clean pair's efficiency: the middle pair for odd
    * counts (sec_n/sec_4n then come from that same concrete pair), the
    * standard interpolated median (mean of the two middle pairs) for even
    * counts — the old lower-middle choice degenerates to min() at 2 clean
    * pairs, a systematic DOWNWARD bias that published 0.779 out of
    * {0.779, 0.933} in the round-3 driver record. For even counts the
    * sec_n/sec_4n fields quote the clean pair nearest the interpolated
    * median and `median_interpolated` is set so the record is explicit that
    * the efficiency is a two-pair midpoint, not that pair's own ratio.
    *
    * `coolDownMs(load)` is the pre-rep idle (hypervisor credit refill);
    * callers shorten it for small loads so more pairs fit the budget. The
    * drain the idle repairs comes from the PRECEDING load, so it is keyed on
    * max(previous rep's arm, upcoming arm) — a small arm timed right after a
    * half-machine rep would otherwise run under-cooled and its inflated time
    * passes the steal gate in exactly the efficiency-inflating direction the
    * one-sided cap exists to stop (review r03g). History before the first
    * rep is unknown (headline queries, jar packaging), so the first rep
    * always gets the full idle. */
  def measurePair(n: Int, m: Int, deadline: Long, minClean: Int, rows: Long,
                  armKey: String = "cores",
                  coolDownMs: Int => Long = _ => 15000L,
                  effCap: Double = 1.2)(oneRep: Int => (Double, Long)): (Double, String) = {
    val pairs = collectPairs(n, m, deadline, minClean, armKey, coolDownMs,
      effCap)(oneRep)
    summarize(pairs, n, m, rows, armKey, effCap)
  }

  /** The measurement loop alone (round 5 split, so `Bench` can POOL pairs
    * across an outer-retry block): runs until `minClean` clean pairs or the
    * deadline, always completing at least `minIters` iterations (default =
    * `minClean`; the outer-retry caller passes 1 so its deadline is a real
    * bound). Returns every pair measured, clean or not. */
  def collectPairs(n: Int, m: Int, deadline: Long, minClean: Int,
                   armKey: String = "cores",
                   coolDownMs: Int => Long = _ => 15000L,
                   effCap: Double = 1.2,
                   minIters: Int = -1)(oneRep: Int => (Double, Long)): Vector[Pair] = {
    val itersFloor = if (minIters >= 0) minIters else minClean
    val pairs = scala.collection.mutable.ArrayBuffer.empty[Pair]
    var iter = 0
    // unknown pre-pair history: full idle first (sentinel bigger than any
    // real core count but safe in callers' `load * 2 >= cpus` arithmetic)
    var prevLoad = 1 << 20
    def cleanPairs = pairs.count(isClean(_, n, m, effCap))
    while ((cleanPairs < minClean) &&
           (iter < itersFloor || System.currentTimeMillis() < deadline)) {
      val order = if (iter % 2 == 0) Seq(m, n) else Seq(n, m)
      var tn = 0.0; var tm = 0.0; var stealClean = true
      order.foreach { arm =>
        var attempts = 0
        var t = 0.0; var s = 0L
        var done = false
        while (!done) {
          // idle keyed on the larger of (what just ran, what runs next):
          // credit refill must cover the PRECEDING drain (scaladoc above)
          Thread.sleep(coolDownMs(math.max(prevLoad, arm)))
          val r = oneRep(arm); t = r._1; s = r._2
          prevLoad = arm
          attempts += 1
          val polluted = s > stealCap(t)
          System.err.println(f"[bench] rep $armKey=$arm%2d sec=$t%6.2f steal_cs=$s" +
            (if (polluted) s" POLLUTED (cap ${stealCap(t)})" else ""))
          if (polluted && attempts <= 2 && System.currentTimeMillis() < deadline)
            System.err.println(s"[bench] retrying $armKey=$arm rep in place (attempt ${attempts + 1})")
          else done = true
        }
        if (s > stealCap(t)) stealClean = false
        if (arm == n) tn = t else tm = t
      }
      val p = Pair(tn, tm, stealClean)
      if (p.stealClean && !isClean(p, n, m, effCap))
        System.err.println(f"[bench] pair eff=${effOf(p, n, m)}%.3f > cap $effCap — " +
          "suspect (unrecorded throttle on the small arm), not counted clean")
      pairs += p
      iter += 1
    }
    pairs.toVector
  }

  /** Median-of-clean-pairs headline + the JSON fragment (scaladoc above for
    * the selection rationale). Accepts the union of every block's pairs. */
  def summarize(pairs: Seq[Pair], n: Int, m: Int, rows: Long,
                armKey: String = "cores",
                effCap: Double = 1.2): (Double, String) = {
    def eff0(p: Pair) = effOf(p, n, m)
    val cleanPairs = pairs.count(isClean(_, n, m, effCap))
    val suspects = pairs.count(p => p.stealClean && !isClean(p, n, m, effCap))
    val usable =
      if (pairs.exists(isClean(_, n, m, effCap))) pairs.filter(isClean(_, n, m, effCap))
      else pairs
    val sortedPairs = usable.sortBy(eff0)
    val effs = sortedPairs.map(eff0)
    val len = sortedPairs.length
    val interpolated = len % 2 == 0
    val eff =
      if (interpolated) (effs(len / 2 - 1) + effs(len / 2)) / 2
      else effs(len / 2)
    // the concrete pair whose sec_n/sec_4n the record quotes: the median
    // pair itself (odd), or the clean pair nearest the midpoint (even)
    val med = sortedPairs.minBy(p => math.abs(eff0(p) - eff))
    def r3(x: Double) = math.rint(x * 1000) / 1000.0
    (eff,
      s"""{"rows":$rows,"${armKey}_n":$n,"sec_n":${med.tn},"images_per_sec_n":${(rows / med.tn).toLong},""" +
      s""""${armKey}_4n":$m,"sec_4n":${med.tm},"images_per_sec_4n":${(rows / med.tm).toLong},""" +
      s""""efficiency":${r3(eff)},"efficiency_min":${r3(effs.head)},"efficiency_max":${r3(effs.last)},""" +
      s""""median_interpolated":$interpolated,""" +
      s""""clean_pairs":$cleanPairs,"suspect_pairs":$suspects,"steal_polluted":${!pairs.exists(_.stealClean)}}""")
  }
}
