package graft.spark

import java.nio.file.{Files, Paths}

import scala.io.Source

import graft.{SparkEntry, Verify}
import org.scalatest.funsuite.AnyFunSuite

/** The oracle gate: every registered driver query, run by `Verify.dump` on
  * the sf0.001 tables in the shared test session, must equal its oracle SQL
  * run by DuckDB on the same parquet files (`oracle_compare.py`).
  *
  * Float rule: both sides' columns are sorted by name, every float is
  * rounded to 6 places and the rows are sorted before the compare. A
  * missing `python3` or `duckdb` module fails the spec; it never skips.
  */
class OracleSpec extends AnyFunSuite {

  test("every SparkEntry query matches its DuckDB oracle SQL at sf0.001") {
    val out = Files.createTempDirectory("graft_oracle")
    try {
      Verify.dump(SparkTestSession.spark, SparkEntry.Sf0001Dir, out.toString)
      val script = Paths.get(getClass.getResource("/oracle_compare.py").toURI)
      val proc = new ProcessBuilder("python3", script.toString, SparkEntry.Sf0001Dir, out.toString)
        .redirectErrorStream(true).start()
      val lines = Source.fromInputStream(proc.getInputStream).getLines().toList
      val exit  = proc.waitFor()
      val bad   = lines.collect {
        case l if l.startsWith("MISMATCH ") || l.startsWith("ERROR ") =>
          l.split(' ')(1).stripSuffix(":")
      }
      val ok = lines.count(_.startsWith("ok "))
      assert(exit == 0 && bad.isEmpty && ok == SparkEntry.registry.size,
        s"oracle compare: $ok/${SparkEntry.registry.size} ok, mismatching: " +
          s"${bad.mkString(", ")} (exit $exit)\n${lines.mkString("\n")}")
    } finally SparkEntry.deleteRecursively(out)
  }
}
