package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc per-gate timing harness (not the driver bench): times any subset
  * of `SparkEntry.gates` at a given sf dir with the noop sink, so plans
  * outside the headline bench still get scale-checked before they ship.
  *
  * Usage: runMain graft.tools.TimeQueries <sfDir> [query ...]
  * (no query args = all gates, alphabetical). Prints one line per query:
  * `name first_s second_s` — the second run shows the warm-plan time. */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TimeQueries <sfDir> [query ...]")
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.gates.map(_.name).sorted
    for (n <- names) {
      val fn = graft.SparkEntry.gate(n).run
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val a = once(); val b = once()
      println(f"[time] $n%-24s $a%7.2f $b%7.2f")
      graft.ops.EngineCaches.releaseIterationSnapshots()
    }
    spark.stop()
  }
}
