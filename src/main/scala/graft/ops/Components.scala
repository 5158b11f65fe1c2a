package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate PAIR LIST — the clustering
  * step a dedup pipeline runs after pair generation. Every pair operator in
  * the engine (phash / MinHash / SimHash / n-gram Jaccard / embedding
  * cosine) emits pairs, but near-duplication is NOT transitive at the pair
  * level: a~b and b~c must land a, b, c in ONE cluster (and keep one
  * canonical member) even when a~c itself missed the threshold. The
  * reference has no corpus-dedup surface at all (SURVEY §2.9 scope); this
  * is part of the engine's training-data-pipeline extension.
  *
  * Algorithm: alternating LARGE-STAR / SMALL-STAR edge rewriting — Kiveris,
  * Lattanzi, Mirrokni, Rastogi & Vassilvitskii, "Connected Components in
  * MapReduce and Beyond", ACM SoCC 2014 (public algorithm). Per round:
  *
  *   large-star: every node attaches its STRICTLY LARGER neighbors to the
  *     minimum of its closed neighborhood;
  *   small-star: every node attaches its smaller-or-self neighborhood to
  *     that neighborhood's minimum.
  *
  * Both preserve connectivity over the same node set; the composition
  * converges to star forests centered at each component's MINIMUM id in
  * O(log^2 n) rounds INDEPENDENT of component diameter. The obvious
  * alternative — hash-min label propagation — needs DIAMETER rounds, and a
  * chain of near-duplicates (dozens of barely-mutated copies) makes that
  * linear; ComponentsSpec pins a 500-link chain converging in <= 12 rounds.
  *
  * Plan shape per round (scale rationale): two aggregate+join passes over
  * the edge set — groupBy(min) partial-aggregates map-side, the join back
  * replicates only (node, min) pairs, and `distinct` keeps set semantics so
  * the edge count is non-increasing after round one. No collect_list of
  * neighborhoods (a cluster hub's degree = its component size — a
  * list-valued group would funnel that into one task); hub-keyed join skew
  * falls to AQE splitting like every hot-key join in the engine. Rounds run
  * on the shared round driver (Tracker.rounds: flat LogicalRDD scans —
  * constant planning cost): one snapshot job per round, whose left join to
  * the previous edge set also counts the new edges the stop rule needs.
  */
object Components {

  /** (id, component) for every node appearing in a NON-self pair, where
    * `component` is the MINIMUM id of the node's connected component — so a
    * component's id IS its canonical member under the engine's smallest-id
    * convention (`Dedup.keepCanonical`, the q_image_pipeline drop rule).
    * Self-pairs carry no connectivity and are dropped on input, so a node
    * appearing ONLY in self-pairs gets no output row (its component is
    * trivially itself; ComponentsSpec pins this) — consumers like
    * `Dedup.keepCanonicalByPairs` treat absence as "own component".
    *
    * @param pairs exactly two LONG-castable columns (the undirected edge
    *              list); self-pairs and duplicates are tolerated.
    * @param maxIters loud-failure bound (the shared Tracker.rounds rule:
    *              maxIters rounds may change the edge set, plus one
    *              confirming round): the algorithm needs O(log^2 n)
    *              rounds, so 50 covers any physical n — hitting it means a
    *              genuinely pathological input, not a big one. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponentsCounted(pairs, maxIters)._1

  /** The core, returning (result, rounds) — rounds exposed for the
    * convergence-depth regression test. */
  private[graft] def connectedComponentsCounted(pairs: DataFrame,
                                                maxIters: Int): (DataFrame, Int) = {
    require(pairs.columns.length == 2,
      s"connectedComponents: pairs must have exactly 2 columns, got ${pairs.columns.mkString(", ")}")
    val cA = col(s"`${pairs.columns(0)}`")
    val cB = col(s"`${pairs.columns(1)}`")

    // canonical set form: (lo < hi), distinct, self-loops dropped
    def canonical(e: DataFrame): DataFrame = e.toDF("x", "y").select(
      least(col("x"), col("y")).as("lo"), greatest(col("x"), col("y")).as("hi"))
      .where(col("lo") < col("hi"))
      .distinct()

    // both directions, for neighborhood aggregation: (u, v) per edge end
    def sym(e: DataFrame): DataFrame =
      e.select(col("lo").as("u"), col("hi").as("v"))
        .unionByName(e.select(col("hi").as("u"), col("lo").as("v")))

    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      // m(u) = min of the closed neighborhood (u's own id participates)
      val mins = s.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // attach every strictly-larger neighbor to m(u); each undirected edge
      // {a, b}, a < b contributes exactly once (from a's side)
      canonical(s.where(col("v") > col("u")).join(mins, "u")
        .select(col("v").as("x"), col("m").as("y")))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val smaller = s.where(col("v") < col("u"))
      val sm = smaller.groupBy("u").agg(min("v").as("m"))
      // attach u AND its smaller neighbors to the smallest of them;
      // canonical() drops the (m, m) self-loop rows
      canonical(smaller.join(sm, "u").select(col("v").as("x"), col("m").as("y"))
        .unionByName(sm.select(col("u").as("x"), col("m").as("y"))))
    }

    var rounds = 0
    val frame = Tracker.run(pairs.sparkSession) { t =>
      val first = t.snapshot(canonical(pairs.select(cA.cast("long"), cB.cast("long"))))
      var e = first.df
      var n = first.rows
      // fixpoint of the composition == both phases are identity == star
      // forests centered at component minima (SoCC'14): sizes equal AND no
      // edge outside the old set (both are canonical SETS). One snapshot
      // per round: small-star over the lazy large-star subtree, left-joined
      // to the previous set so the same job counts the `new` edges.
      if (n > 0)
        rounds = Tracker.rounds(pairs.sparkSession, "connectedComponents", maxIters) { _ =>
          val next = t.snapshot(smallStar(largeStar(e))
            .join(e.withColumn("old", lit(true)), Seq("lo", "hi"), "left")
            .select(col("lo"), col("hi"), col("old").isNull.as("new")),
            _.getBoolean(2))
          val pending = if (next.rows == n && next.matched == 0) 0L else 1L
          e = next.df.select("lo", "hi")
          n = next.rows
          pending
        }
      // converged state is a star forest: leaves point at their component's
      // minimum; centers map to themselves
      t.snapshot(e.select(col("hi").as("id"), col("lo").as("component"))
        .unionByName(e.select(col("lo").as("id"), col("lo").as("component")))
        .distinct())
    }
    (frame, rounds)
  }
}
