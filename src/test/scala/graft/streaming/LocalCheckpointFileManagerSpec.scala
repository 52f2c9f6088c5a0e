package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.TempDirs
import graft.core.SlidingConfig
import graft.spark.{SparkTestSession, StreamCodegenReuseSpec}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def fresh(): (NioPath, LocalCheckpointFileManager) = {
    val dir = TempDirs("graft_ckpt_fm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }

  private def at(dir: NioPath, name: String): Path = new Path(dir.resolve(name).toUri)

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic keeps the file invisible until close, then publishes it alone") {
    val (dir, m) = fresh()
    val p   = at(dir, "0")
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("hello".getBytes(UTF_8))
    out.flush()
    assert(!m.exists(p))
    assert(names(dir).forall(n => n.startsWith(".0.") && n.endsWith(".tmp")), names(dir))
    out.close()
    assert(read(m, p) == "hello")
    assert(names(dir) == Set("0"), "temp file or .crc sidecar left behind")
  }

  test("cancel leaves nothing behind") {
    val (dir, m) = fresh()
    val p   = at(dir, "0")
    val out = m.createAtomic(p, overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // no-op after cancel
    assert(!m.exists(p))
    assert(names(dir).isEmpty)
  }

  test("a second no-overwrite createAtomic throws Hadoop's FileAlreadyExistsException") {
    val (dir, m) = fresh()
    val p = at(dir, "0")
    write(m, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(m, p, "second", overwrite = false))
    assert(read(m, p) == "first")
    assert(names(dir) == Set("0"))
  }

  test("overwrite replaces the file") {
    val (dir, m) = fresh()
    val p = at(dir, "1.delta")
    write(m, p, "old", overwrite = true)
    write(m, p, "new", overwrite = true)
    assert(read(m, p) == "new")
    assert(names(dir) == Set("1.delta"))
  }

  test("mkdirs, list, open, exists and recursive delete") {
    val (dir, m) = fresh()
    val sub = at(dir, "state/0")
    m.mkdirs(sub)
    m.mkdirs(sub) // idempotent
    assert(m.exists(sub))
    write(m, new Path(sub, "1.delta"), "a", overwrite = true)
    write(m, new Path(sub, "2.delta"), "b", overwrite = true)
    write(m, at(dir, "state/x"), "c", overwrite = false) // parents created on demand
    assert(m.list(sub).map(_.getPath.getName).toSet == Set("1.delta", "2.delta"))
    val onlyOne: PathFilter = _.getName.startsWith("1")
    assert(m.list(sub, onlyOne).map(_.getPath.getName).toSeq == Seq("1.delta"))
    assert(m.list(at(dir, "state")).map(s => s.getPath.getName -> s.isDirectory).toSet ==
      Set("0" -> true, "x" -> false))
    assert(read(m, new Path(sub, "2.delta")) == "b")
    assert(m.isLocal)

    m.delete(at(dir, "state"))
    assert(!m.exists(sub) && !m.exists(at(dir, "state")))
    m.delete(at(dir, "state")) // a missing path is not an error
    assert(names(dir).isEmpty)

    val root = m.createCheckpointDirectory()
    assert(root.toUri.getScheme == "file" && Files.isDirectory(dir))
  }

  test("non-file schemes go to the fallback manager") {
    val calls = mutable.ArrayBuffer[String]()
    val recording = new CheckpointFileManager {
      private def record(op: String) = { calls += op; throw new UnsupportedOperationException(op) }
      def createAtomic(p: Path, o: Boolean): CancellableFSDataOutputStream = record("createAtomic")
      def open(p: Path): FSDataInputStream = record("open")
      def list(p: Path, f: PathFilter): Array[FileStatus] = record("list")
      def mkdirs(p: Path): Unit = record("mkdirs")
      def exists(p: Path): Boolean = record("exists")
      def delete(p: Path): Unit = record("delete")
      def isLocal: Boolean = record("isLocal")
      def createCheckpointDirectory(): Path = record("createCheckpointDirectory")
    }
    val root = new Path("hdfs://localhost:8020/ckpt")
    val m    = new LocalCheckpointFileManager(root, conf, () => recording)
    assert(!m.handlesLocally)
    val ops: Seq[() => Any] = Seq(() => m.createAtomic(new Path(root, "0"), false),
      () => m.open(root), () => m.list(root), () => m.mkdirs(root), () => m.exists(root),
      () => m.delete(root), () => m.isLocal, () => m.createCheckpointDirectory())
    ops.foreach(op => intercept[UnsupportedOperationException](op()))
    assert(calls.toSeq == Seq("createAtomic", "open", "list", "mkdirs", "exists", "delete",
      "isLocal", "createCheckpointDirectory"))

    // file: and scheme-less paths (under a file: default FS) never touch it
    val dir   = TempDirs("graft_ckpt_fm")
    val local = new LocalCheckpointFileManager(new Path(dir.toString), conf, () => recording)
    write(local, new Path(dir.toString, "0"), "x", overwrite = false)
    assert(local.exists(new Path(dir.toString, "0")) && local.isLocal)
    assert(calls.size == 8)

    val hdfsDefault = new Configuration()
    hdfsDefault.set("fs.defaultFS", "hdfs://localhost:8020")
    assert(!LocalCheckpointFileManager.isFileScheme(new Path("/ckpt"), hdfsDefault))
    assert(LocalCheckpointFileManager.isFileScheme(new Path("file:/ckpt"), hdfsDefault))
  }

  /** Runs `body` on the shared session, then restores every key `install`
    * may set as set, or unset, before.
    */
  private def withStreamingKeys(body: SparkSession => Unit): Unit = {
    val spark = SparkTestSession.spark
    val keys  = Seq(CheckpointManagerKey, ArtifactIsolationKey, ListingThresholdKey)
    val prior = spark.conf.getAll.filter { case (k, _) => keys.contains(k) }
    try body(spark)
    finally keys.foreach(k => prior.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
    assert(spark.conf.getAll.filter { case (k, _) => keys.contains(k) } == prior)
  }

  private lazy val memoryInput: DataFrame = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    MemoryStream[(String, Long)].toDF()
  }

  private def fileInput(format: String): DataFrame =
    SparkTestSession.spark.readStream.schema("key STRING, ts_ms LONG").format(format)
      .load(TempDirs(s"graft_install_$format").toString)

  test("install sets Spark's manager conf only when it is unset") {
    withStreamingKeys { spark =>
      def conf(k: String) = spark.conf.getAll.get(k)
      spark.conf.unset(CheckpointManagerKey)
      spark.conf.unset(ArtifactIsolationKey)
      install(memoryInput)
      assert(conf(CheckpointManagerKey).contains(classOf[LocalCheckpointFileManager].getName))
      assert(conf(ArtifactIsolationKey).contains("false"))

      spark.conf.set(CheckpointManagerKey, "com.example.OtherManager")
      spark.conf.unset(ArtifactIsolationKey)
      install(memoryInput)
      assert(conf(CheckpointManagerKey).contains("com.example.OtherManager"))
      assert(conf(ArtifactIsolationKey).contains("false"))

      for (isolation <- Seq("true", "false")) {
        spark.conf.unset(CheckpointManagerKey)
        spark.conf.set(ArtifactIsolationKey, isolation)
        install(memoryInput)
        assert(conf(CheckpointManagerKey).contains(classOf[LocalCheckpointFileManager].getName))
        assert(conf(ArtifactIsolationKey).contains(isolation))
      }
    }
  }

  test("install keeps file listings on the driver for local file streams unless the user set the threshold") {
    withStreamingKeys { spark =>
      def threshold = spark.conf.getAll.get(ListingThresholdKey)
      for (format <- Seq("parquet", "csv")) {
        spark.conf.unset(ListingThresholdKey)
        install(fileInput(format))
        assert(threshold.contains(Int.MaxValue.toString), format)
        spark.conf.unset(ListingThresholdKey)
        install(memoryInput, fileInput(format))
        assert(threshold.contains(Int.MaxValue.toString), s"memory + $format")
      }

      spark.conf.unset(ListingThresholdKey)
      install(memoryInput)
      assert(threshold.isEmpty, "no file source")

      for (user <- Seq("32", "64")) {
        spark.conf.set(ListingThresholdKey, user)
        install(fileInput("parquet"))
        assert(threshold.contains(user))
      }
    }
  }

  test("with artifact isolation explicitly on, every fresh query compiles its classes again") {
    withStreamingKeys { spark =>
      spark.conf.set(ArtifactIsolationKey, "true")
      val (_, first)         = StreamCodegenReuseSpec.freshRun(StreamCodegenReuseSpec.sliding)
      val (compiled, second) = StreamCodegenReuseSpec.freshRun(StreamCodegenReuseSpec.sliding)
      assert(spark.conf.get(ArtifactIsolationKey) == "true")
      assert(compiled > 0, "the query reused the first query's classes")
      assert(second == first)
    }
  }

  test("a 40-file drain batch of local files starts a listing job only at Spark's threshold of 32") {
    withStreamingKeys { spark =>
      spark.conf.unset(ListingThresholdKey)
      val (byDefault, rows) = listingJobs(spark)
      spark.conf.set(ListingThresholdKey, "32")
      val (at32, rowsAt32) = listingJobs(spark)
      assert(byDefault.isEmpty, byDefault.mkString("listing jobs: ", "; ", ""))
      assert(at32.nonEmpty, "no listing job at threshold 32")
      assert(rows.nonEmpty)
      assert(rowsAt32 == rows)
    }
  }

  /** 48 CSV files, each one 250 ms of events for two keys: the drain's
    * first batch takes 40 of them, above Spark's listing threshold of 32.
    */
  private lazy val manyFiles: String = {
    val dir = TempDirs("graft_listing_in")
    for (file <- 0 until 48) {
      val rows = for (key <- Seq("k0", "k1"); j <- 0 until 3)
        yield s"$key,${file * 250L + j},i${(file + j) % 5},${j + 1}"
      Files.write(dir.resolve(f"part-$file%03d.csv"), rows.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    dir.toString
  }

  /** Drains `manyFiles` through `TopKStreams.sliding` at 40 files per batch.
    * Returns the descriptions of the listing jobs Spark started meanwhile,
    * and the rows emitted, sorted.
    */
  private def listingJobs(spark: SparkSession): (Seq[String], Seq[String]) = {
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(jobs.add(_))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val (_, rows) = StreamCodegenReuseSpec.freshRun { () =>
        val input = spark.readStream.schema("key STRING, ts_ms LONG, item STRING, weight LONG")
          .option("maxFilesPerTrigger", 40L).csv(manyFiles)
          .select(col("key"), expr("timestamp_millis(ts_ms)").as("ts"), col("item"), col("weight"))
        TopKStreams.sliding(input, 1000L, "0 seconds",
          SlidingConfig.withDefaults(2, 2, width = 256, depth = 3), emitK = 2).toDF()
      }
      // listener events arrive in order: once a marker job is seen, so are the drain's jobs
      val marker = s"listing_marker_${System.nanoTime()}"
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      eventually(timeout(Span(30, Seconds)))(assert(jobs.contains(marker)))
      (jobs.asScala.filter(_.startsWith("Listing leaf files and directories")).toSeq, rows)
    } finally sc.removeSparkListener(listener)
  }
}
