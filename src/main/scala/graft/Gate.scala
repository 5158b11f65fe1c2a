package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness gate: the engine query `run(session, sfDir)` and the
  * oracle the driver compares its output against in DuckDB. */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
                      oracle: Gate.Oracle) {

  /** The DuckDB SQL that recomputes this gate's rows. */
  def oracleSql: String = oracle match {
    case Gate.Sql(text) => text
    case Gate.Golden(orderBy, _) => graft.oracle.Golden.sql(name, orderBy)
  }
}

object Gate {
  sealed trait Oracle

  /** Literal DuckDB SQL over the sf tables. */
  final case class Sql(text: String) extends Oracle

  /** An independent driver-side recomputation: Verify writes `build`'s rows
    * to `Golden.Dir/<gate name>.parquet`, and the oracle SQL reads them back
    * ordered by `orderBy`. */
  final case class Golden(orderBy: String, build: graft.oracle.Golden.Inputs => DataFrame)
    extends Oracle

  /** `gates` in order; a name declared twice fails here, naming it. */
  def registry(gates: Gate*): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }
}
