package graft.spark

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** The driver's queries read their tables from a directory that Spark would
  * glob if its name held glob characters; such a name must read the same
  * rows, in batch and through the stream queries' file-source glob, and no
  * side directory may be left under the temp dir.
  */
class StreamSourcePathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def streamSrcEntries(): Set[String] = {
    val tmp = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try tmp.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_stream_src_")).toSet
    finally tmp.close()
  }

  private def rows(dir: String, query: String = "topk_stream_tumbling"): Seq[String] =
    SparkEntry.queries(query)(spark, dir).collect().map(_.toString).toSeq.sorted

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

  test("batch queries read every table from a dir named with [ and {") {
    val dir = Files.createTempDirectory("graft_sf[1]{x}")
    try {
      for (t <- Seq("events", "lineitem", "documents", "embeddings"))
        Files.copy(Paths.get(SparkEntry.Sf0001Dir, s"$t.parquet"), dir.resolve(s"$t.parquet"))
      // one query over each of those tables
      for (q <- Seq("topk_event_types", "topk_suppliers_by_qty", "text_token_counts", "ann_cosine_topk")) {
        val expected = rows(SparkEntry.Sf0001Dir, q)
        assert(expected.nonEmpty, q)
        assert(rows(dir.toString, q) == expected, q)
      }
    } finally SparkEntry.deleteRecursively(dir)
  }
}
