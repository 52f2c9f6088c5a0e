package graft.spark

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** The driver's stream queries read `events.parquet` through a file-source
  * glob: a directory name holding glob characters must read the same rows,
  * and no side directory may be left under the temp dir.
  */
class StreamSourcePathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def streamSrcEntries(): Set[String] = {
    val tmp = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try tmp.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_stream_src_")).toSet
    finally tmp.close()
  }

  private def rows(dir: String): Seq[String] =
    SparkEntry.queries("topk_stream_tumbling")(spark, dir).collect().map(_.toString).toSeq.sorted

  test("topk_stream_tumbling reads events.parquet from a dir named with [ and {") {
    val before = streamSrcEntries()
    val dir    = Files.createTempDirectory("graft_sf[1]{x}")
    try {
      Files.copy(Paths.get(SparkEntry.Sf0001Dir, "events.parquet"), dir.resolve("events.parquet"))
      val expected = rows(SparkEntry.Sf0001Dir)
      assert(expected.nonEmpty)
      assert(rows(dir.toString) == expected)
      assert(streamSrcEntries() -- before == Set.empty)
    } finally SparkEntry.deleteRecursively(dir)
  }
}
