package graft
import graft.oracle.Golden
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each [[SparkEntry.gates]] result → parquet,
  * plus oracle_sql.json (gate name → oracle SQL), for the driver's DuckDB
  * compare. Every golden-oracle gate's golden is written first.
  *
  * Optional THIRD arg (gate tiering, VERDICT r03 #8): a comma-separated
  * gate-name list restricts the dump (and oracle_sql.json) to that subset,
  * so an iteration loop can re-check just the gates it touched — e.g.
  * `runMain graft.Verify <sf> <out> q_knn_batch,q_poly_bool`. The driver's
  * two-arg invocation is unchanged and always sweeps the FULL set; subset
  * runs still write every golden (SQL oracles read other gates' goldens),
  * so the fast tier saves query time, not golden time. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) =>
        (s, o, Some(f.split(",").map(_.trim).filter(_.nonEmpty).toSet))
      case _ => sys.error("usage: Verify <sfDir> <outDir> [gate1,gate2,...]")
    }
    only.foreach { names =>
      val unknown = names -- SparkEntry.gates.map(_.name)
      require(unknown.isEmpty, s"Verify: unknown gate names ${unknown.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val inputs = new Golden.Inputs(spark, sfDir)
    SparkEntry.gates.foreach {
      case Gate(name, _, Gate.Golden(_, build)) => Golden.write(name)(build(inputs))
      case _ =>
    }
    val selected = SparkEntry.gates.filter(g => only.forall(_.contains(g.name)))
    selected.foreach { g =>
      try g.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected.map(g => s"${q(g.name)}: ${q(g.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
