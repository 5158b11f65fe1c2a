package graft.tools

import org.apache.spark.sql.SparkSession

/** Print the formatted physical plan of one or more gate queries — the
  * plan-audit loop PLANS.md is written from:
  *
  *   sbt -batch "runMain graft.tools.ExplainQuery q_docs_pipeline"
  *
  * Args: gate names (from SparkEntry.gates); env SPARK_GRAFT_SF_DIR
  * selects the input (default sf0.001 — plan shapes are SF-invariant except
  * where AQE collapses tiny exchanges, noted per-plan in PLANS.md). */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainQuery <query_name> [more names]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try args.foreach { name =>
      println(s"\n===== $name =====")
      graft.SparkEntry.gate(name).run(spark, sfDir).explain("formatted")
    } finally spark.stop()
  }
}
