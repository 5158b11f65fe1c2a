package graft

import org.scalatest.funsuite.AnyFunSuite

/** The steal-gated N-vs-4N pair protocol is pure once `oneRep` is injected —
  * pin its selection logic: clean-pair counting, the one-sided efficiency
  * plausibility cap (an artifact-slow small arm must NOT publish superlinear
  * scaling), lower-median selection, and the loud fallbacks. */
class BenchProtocolSpec extends AnyFunSuite {

  /** Drive measurePair(n=4, m=16) with scripted rep times; reps are served
    * per-arm in script order. Returns (efficiency, parsed JSON fields). */
  private def run(n: Int, m: Int, minClean: Int,
                  repsN: Seq[(Double, Long)], repsM: Seq[(Double, Long)],
                  effCap: Double = 1.2): (Double, Map[String, String]) = {
    val qn = scala.collection.mutable.Queue(repsN: _*)
    val qm = scala.collection.mutable.Queue(repsM: _*)
    val (eff, json) = BenchProtocol.measurePair(
      n, m, deadline = System.currentTimeMillis() - 1, // no retry budget:
      minClean, rows = 1000L,                          // exactly the forced
      coolDownMs = _ => 0L, effCap = effCap) {         // min iterations run
      arm => if (arm == n) qn.dequeue() else qm.dequeue()
    }
    val fields = json.stripPrefix("{").stripSuffix("}")
      .split(",(?=\")").map { kv =>
        val Array(k, v) = kv.split(":", 2); k.replace("\"", "") -> v
      }.toMap
    (eff, fields)
  }

  test("all-clean pairs: lower-median efficiency, clean_pairs counted") {
    // three clean pairs with efficiencies 1.0, 0.875, 0.75 -> median 0.875
    val (eff, f) = run(4, 16, minClean = 3,
      repsN = Seq((16.0, 0L), (14.0, 0L), (12.0, 0L)),
      repsM = Seq((4.0, 0L), (4.0, 0L), (4.0, 0L)))
    assert(math.abs(eff - 0.875) < 1e-9)
    assert(f("clean_pairs") == "3" && f("suspect_pairs") == "0" &&
      f("steal_polluted") == "false")
  }

  test("steal-polluted pair is excluded from the clean set") {
    // pair 2 is fastest (eff 1.0) but steal-polluted; median of the two
    // clean pairs (0.75, 0.875) -> 0.875... with 2 clean of minClean=2
    val (eff, f) = run(4, 16, minClean = 2,
      repsN = Seq((12.0, 0L), (16.0, 99L), (14.0, 0L)),
      repsM = Seq((4.0, 0L), (4.0, 0L), (4.0, 0L)))
    // loop stops at 2 clean pairs: scripts 1 and 2 run under minimum iters?
    // minClean=2 forces >= 2 iterations; pair2 polluted -> a 3rd runs only
    // if deadline allows (it does not here), so usable = {pair1} ... unless
    // iter < minClean keeps it going: iter=2 >= minClean and clean=1 < 2,
    // deadline passed -> stops with 1 clean pair.
    assert(f("clean_pairs") == "1")
    assert(math.abs(eff - 0.75) < 1e-9)
    assert(f("steal_polluted") == "false")
  }

  test("implausible superlinear pair is suspect, not clean, and never the median while a clean pair exists") {
    // pair 1: small arm artifact-slow (eff 2.0, no steal); pair 2: honest 0.85
    val (eff, f) = run(4, 16, minClean = 2,
      repsN = Seq((32.0, 0L), (13.6, 0L)),
      repsM = Seq((4.0, 0L), (4.0, 0L)))
    assert(f("suspect_pairs") == "1" && f("clean_pairs") == "1")
    assert(math.abs(eff - 0.85) < 1e-9)
    // the suspect pair did NOT inflate the headline
    assert(eff < 1.2)
  }

  test("suspect-only run falls back honestly: clean_pairs 0, suspects reported, steal_polluted false") {
    val (eff, f) = run(4, 16, minClean = 1, repsN = Seq((40.0, 0L)), repsM = Seq((4.0, 0L)))
    assert(f("clean_pairs") == "0" && f("suspect_pairs") == "1" &&
      f("steal_polluted") == "false")
    assert(eff > 1.2) // published from the fallback pool, visibly implausible
  }

  test("cap is one-sided: a genuinely bad 0.5-efficiency pair stays clean") {
    val (eff, f) = run(4, 16, minClean = 1, repsN = Seq((8.0, 0L)), repsM = Seq((4.0, 0L)))
    assert(math.abs(eff - 0.5) < 1e-9)
    assert(f("clean_pairs") == "1" && f("suspect_pairs") == "0")
  }

  test("even clean-pair count: interpolated median, flagged in the record") {
    // r4 fix: with exactly 2 clean pairs the old lower-middle choice
    // degenerated to min() — the r3 driver published 0.779 out of
    // {0.779, 0.933}. The headline must be the two-pair midpoint.
    val (eff, f) = run(4, 16, minClean = 2,
      repsN = Seq((21.487, 0L), (22.79, 0L)),
      repsM = Seq((6.897, 0L), (6.11, 0L)))
    val e1 = (21.487 / 6.897) / 4.0
    val e2 = (22.79 / 6.11) / 4.0
    assert(math.abs(eff - (e1 + e2) / 2) < 1e-9)
    assert(f("median_interpolated") == "true" && f("clean_pairs") == "2")
  }

  test("odd clean-pair count keeps the concrete middle pair (not interpolated)") {
    val (_, f) = run(4, 16, minClean = 3,
      repsN = Seq((16.0, 0L), (14.0, 0L), (12.0, 0L)),
      repsM = Seq((4.0, 0L), (4.0, 0L), (4.0, 0L)))
    assert(f("median_interpolated") == "false")
    assert(f("sec_n") == "14.0" && f("sec_4n") == "4.0")
  }

  test("duration-scaled steal cap: 3% of a long rep's wall is clean") {
    // r3's discarded evidence: a 22.3 s rep with 66 cs of machine steal
    // (3.0% worst-case serialized impact) must count clean; the same 66 cs
    // on a 6.9 s rep stays over the 50 cs floor
    assert(BenchProtocol.stealCap(22.3) == 66L)
    assert(BenchProtocol.stealCap(6.9) == 50L)
    val (_, f) = run(4, 16, minClean = 1,
      repsN = Seq((22.3, 66L)), repsM = Seq((6.9, 20L)))
    assert(f("clean_pairs") == "1" && f("steal_polluted") == "false")
  }

  test("steal-polluted rep retries in place; the pair (and partner rep) survive") {
    // r3 lost 3 of 5 pairs to exactly one polluted rep each — the retry
    // must replace the polluted rep without discarding its clean partner
    val qn = scala.collection.mutable.Queue((21.5, 0L))
    val qm = scala.collection.mutable.Queue((6.9, 500L), (6.2, 0L))
    val (eff, json) = BenchProtocol.measurePair(
      4, 16, deadline = System.currentTimeMillis() + 60000L,
      minClean = 1, rows = 1000L, coolDownMs = _ => 0L) {
      arm => if (arm == 4) qn.dequeue() else qm.dequeue()
    }
    assert(qm.isEmpty, "polluted 16-core rep was not retried")
    assert(math.abs(eff - (21.5 / 6.2) / 4.0) < 1e-9)
    assert(json.contains("\"clean_pairs\":1"))
  }

  test("outer-retry pooling: pairs from two blocks summarize as one candidate set") {
    // r5 fix (VERDICT r04 #1): a storm-stolen first block (0 clean pairs)
    // must not be the final record when a later retry block finds clean
    // pairs — and the median is over the UNION, so a clean pair measured in
    // block 1 still counts alongside the retry's.
    import BenchProtocol.Pair
    val block1 = Vector(Pair(20.0, 6.0, stealClean = false),  // storm
                        Pair(19.2, 6.0, stealClean = true))   // eff 0.8
    val block2 = Vector(Pair(20.4, 6.0, stealClean = true),   // eff 0.85
                        Pair(21.6, 6.0, stealClean = true))   // eff 0.9
    val (eff, json) = BenchProtocol.summarize(block1 ++ block2, 4, 16, 1000L)
    assert(math.abs(eff - 0.85) < 1e-9) // median of {0.8, 0.85, 0.9}
    assert(json.contains("\"clean_pairs\":3"))
    assert(json.contains("\"steal_polluted\":false"))
    assert(json.contains("\"median_interpolated\":false"))
  }

  test("collectPairs minIters=1 makes the deadline a real bound for the retry block") {
    // the retry block must not owe 3 mandatory iterations when its budget
    // window is already spent — one pair runs, then the deadline stops it
    var reps = 0
    val pairs = BenchProtocol.collectPairs(4, 16,
      deadline = System.currentTimeMillis() - 1, minClean = 3,
      coolDownMs = _ => 0L, minIters = 1) { arm =>
      reps += 1; (if (arm == 4) 25.0 else 7.0, 500L)
    }
    assert(pairs.length == 1 && reps == 2)
    assert(!pairs.head.stealClean)
  }

  test("measurePair == collectPairs + summarize (refactor equivalence)") {
    val script = Seq((16.0, 0L), (14.0, 0L), (12.0, 0L))
    val qm = scala.collection.mutable.Queue((4.0, 0L), (4.0, 0L), (4.0, 0L))
    val qn = scala.collection.mutable.Queue(script: _*)
    val pairs = BenchProtocol.collectPairs(4, 16,
      deadline = System.currentTimeMillis() - 1, minClean = 3,
      coolDownMs = _ => 0L) { arm => if (arm == 4) qn.dequeue() else qm.dequeue() }
    val (eff, _) = BenchProtocol.summarize(pairs, 4, 16, 1000L)
    assert(math.abs(eff - 0.875) < 1e-9)
  }

  test("cool-down keys on max(previous rep's load, upcoming arm), full idle first") {
    // a small arm timed right after a big rep must get the BIG idle — the
    // preceding drain is what the idle repairs (review r03g)
    val keys = scala.collection.mutable.ArrayBuffer.empty[Int]
    BenchProtocol.measurePair(
      4, 16, deadline = System.currentTimeMillis() - 1, minClean = 2,
      rows = 1000L, coolDownMs = { k => keys += k; 0L }) {
      arm => (if (arm == 4) 16.0 else 4.0, 0L)
    }
    // iter 0 order (16, 4): sentinel-then-16; iter 1 order (4, 16): the 4
    // rep follows the previous iteration's 4-core rep
    assert(keys.toSeq == Seq(1 << 20, 16, 4, 16))
  }

  test("outer retry budget: primary's unused 4/5 share, floored at the reserved 1/5") {
    val budget = 300000L
    // a fast primary block leaves the retry most of its share
    assert(BenchProtocol.outerRetryBudgetMs(budget, 60000L) == 180000L)
    // a primary block that used its whole share gets exactly the reserve
    assert(BenchProtocol.outerRetryBudgetMs(budget, 180000L) == 60000L)
    assert(BenchProtocol.outerRetryBudgetMs(budget, 290000L) == 60000L)
    // primary 3/5 + retry + full-machine pair 1/5 stays inside the budget
    // whenever the primary stays inside its own 3/5
    for (spent <- 0L to budget * 3 / 5 by 1000L)
      assert(spent + BenchProtocol.outerRetryBudgetMs(budget, spent) + budget / 5 <= budget)
  }
}
