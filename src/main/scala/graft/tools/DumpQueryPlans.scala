package graft.tools

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` output for named SparkEntry queries (plus
  * the bench token jobs) to `<outDir>/<name>_<suffix>.txt` — the
  * before/after plan evidence for optimization rounds. Runs in Bench's
  * session; executes each query first so the FINAL adaptive plan
  * (AQE join choices, ReusedExchange) is what gets dumped.
  *
  * Usage: runMain graft.tools.DumpQueryPlans <sfDir> <outDir> <suffix> <name...>
  */
object DumpQueryPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: DumpQueryPlans <sfDir> <outDir> <suffix> <name...>")
    val sfDir  = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names  = args.drop(3).toSeq
    val spark  = graft.Bench.session()
    Files.createDirectories(Paths.get(outDir))
    val jobs = graft.Bench.namedJobs(spark)

    names.foreach { name =>
      val df = jobs.getOrElse(name, sys.error(s"unknown query '$name'"))(sfDir)
      df.collect() // final adaptive plan
      val bos = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(bos)) { df.explain("formatted") }
      val path = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.writeString(path, bos.toString)
      println(s"[dumpplans] wrote $path (${bos.size()} bytes)")
    }
    spark.stop()
  }
}
