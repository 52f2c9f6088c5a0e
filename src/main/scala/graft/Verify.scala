package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare
  * (src/test/resources/oracle_compare.py, which OracleSpec runs). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      s"usage: graft.Verify <sfDir> <outDir> (got ${args.length} args: ${args.mkString(" ")})")
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // engine-recommended: many-small-groups aggregations (sessions) must
      // not fall back to sort-based buffer serialization at 128 groups
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir)
    spark.stop()
  }

  /** Writes each registry query's rows on the tables in `sfDir` to
    * `<outDir>/<name>/` as one parquet file, and every query's oracle SQL
    * to `<outDir>/oracle_sql.json`. A query that fails is reported on
    * stderr and leaves no output directory.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.registry.foreach { query =>
      val name = query.name
      try query.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a STALE parquet from an earlier run
        // in place — the compare would hash old-but-plausible output and
        // mask the regression as a pass. The cleanup itself is guarded: a
        // second failure must cost this one query, not the whole dump.
        try {
          val dir = Paths.get(s"$outDir/$name")
          if (Files.exists(dir)) SparkEntry.deleteRecursively(dir)
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name stale-output cleanup failed: ${e2.getMessage}")
        }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
