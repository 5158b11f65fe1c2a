package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Cross-process correctness + plumbing check for `local-cluster[n,c,mem]`
  * runs (separate executor JVMs). Proves, via spark-submit:
  *
  *   1. graft classes load on FORKED executors from the shipped app jar;
  *   2. one driver JVM can stop a session and reopen at a different cluster
  *      size — together the preconditions for ClusterBench's N-vs-4N
  *      executor-process pairs;
  *   3. representative gate queries return BIT-IDENTICAL results across the
  *      thread-local and executor-process topologies. The picks cover the
  *      machinery that actually crosses a process boundary: native codegen
  *      Catalyst expressions (containment probe, ancestors, Hex7), the
  *      TopKAgg UDAF + LevelMask/BucketMask AccumulatorV2s + persisted
  *      round snapshots (knnBatch), a real shuffle with a band equi-join
  *      (minhash LSH), and a plain aggregation over parquet input.
  *
  * `local[...]` results are computed in the SAME submitted JVM, so any
  * divergence is topology, not build skew. Run through
  * tools/spark_submit_cluster_bench.sh --smoke (spark-submit sets
  * spark.jars so executors can fetch the library). Exits non-zero on any
  * mismatch. */
object ClusterSmoke {

  private def runQueries(s: SparkSession, sfDir: String): Map[String, Seq[String]] = {
    val picks = Seq("q_containment", "q_hex7_cells", "q_minhash_lsh", "q_knn_batch_small")
    picks.map { name =>
      val df = name match {
        // a 200-point batch keeps the smoke fast while still exercising the
        // full adaptive round loop (UDAF, accumulators, snapshots)
        case "q_knn_batch_small" =>
          graft.ops.Knn.knnBatch(s, graft.model.Tables.images(s, sfDir),
            graft.model.Synth.batchQueryDf(s, 200), k = 5)
        case n => graft.SparkEntry.gate(n).run(s, sfDir)
      }
      // canonical form: sorted rows rendered to strings (schema order fixed
      // by the query itself)
      name -> df.collect().map(_.toString).toSeq.sorted
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    val local = {
      val s = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", 4)
        .config("spark.ui.enabled", "false").getOrCreate()
      try { s.sparkContext.setLogLevel("WARN"); runQueries(s, sfDir) }
      finally s.stop()
    }

    Seq(1, 2).foreach { n =>
      val s = SparkSession.builder()
        .master(s"local-cluster[$n,2,2048]")
        .config("spark.executor.memory", "1536m")
        .config("spark.sql.shuffle.partitions", 2 * n)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      try {
        s.sparkContext.setLogLevel("WARN")
        val got = runQueries(s, sfDir)
        // sample AFTER the queries ran: executors register asynchronously,
        // so an up-front probe reads 0. ASSERT the count — without it the
        // "bit-identical across executor processes" claim would also pass
        // on a degraded cluster where the second executor never ran
        // (review r03f)
        val execs = s.sparkContext.getExecutorMemoryStatus.size - 1 // minus driver
        require(execs == n,
          s"expected $n registered executors, saw $execs — cluster degraded, evidence void")
        local.foreach { case (name, want) =>
          val g = got(name)
          require(g == want,
            s"[cluster-smoke] $name DIVERGED on local-cluster[$n,2]: " +
              s"${g.length} rows vs ${want.length} local " +
              s"(first diff: ${g.zipAll(want, "<none>", "<none>").find(p => p._1 != p._2)})")
          println(s"[cluster-smoke] n=$n executors=$execs $name OK (${want.length} rows)")
        }
      } finally s.stop()
    }
    println("[cluster-smoke] OK — gate queries bit-identical across executor processes")
  }
}
