package graft

import graft.oracle.Golden
import org.scalatest.funsuite.AnyFunSuite

/** The gate registry's static contract, checked without a Spark job: every
  * gate has exactly one oracle, and every golden Verify writes is read. */
class GateRegistrySpec extends AnyFunSuite {

  private val gates = SparkEntry.gates
  private val goldenRead =
    ("read_parquet\\('" + java.util.regex.Pattern.quote(Golden.Dir) + "/(\\w+)\\.parquet/").r

  test("135 gates with unique names") {
    assert(gates.size == 135)
    assert(gates.map(_.name).distinct.size == 135)
  }

  test("every oracle text is non-empty") {
    gates.foreach(g => assert(g.oracleSql.trim.nonEmpty, s"${g.name}: empty oracle"))
  }

  test("goldens: each one read is written by exactly one golden gate; each written is read") {
    val written = gates.collect { case g @ Gate(_, _, _: Gate.Golden) => g.name }
    val read = gates.flatMap(g => goldenRead.findAllMatchIn(g.oracleSql).map(_.group(1))).toSet
    assert(read.nonEmpty)
    read.foreach { x =>
      assert(written.count(_ == x) == 1, s"$x.parquet is read but not written by one gate")
    }
    written.foreach(x => assert(read.contains(x), s"golden $x is written but never read"))
  }

  test("a golden that fails to build leaves no stale parquet behind") {
    val stale = new java.io.File(s"${Golden.Dir}/registry_spec_stale.parquet")
    stale.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(stale, "part-0.parquet").toPath, "old")
    Golden.write("registry_spec_stale")(throw new IllegalStateException("build failed"))
    assert(!stale.exists(), "a failed build must delete the stale golden")
  }

  test("a duplicate gate name fails registry construction, naming it") {
    val e = intercept[IllegalArgumentException](Gate.registry(gates(0), gates(1), gates(0)))
    assert(e.getMessage.contains(gates(0).name))
  }

  test("an unknown gate name fails lookup and Verify, naming it") {
    val e = intercept[NoSuchElementException](SparkEntry.gate("q_no_such_gate"))
    assert(e.getMessage.contains("q_no_such_gate"))
    val v = intercept[IllegalArgumentException](
      Verify.main(Array("unused_sf", "unused_out", "q_take,q_no_such_gate")))
    assert(v.getMessage.contains("q_no_such_gate") && !v.getMessage.contains("q_take"))
  }
}
