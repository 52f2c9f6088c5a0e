package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.scalatest.funsuite.AnyFunSuite

class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def fresh(): (NioPath, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft_ckpt_fm")
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
    val dir   = Files.createTempDirectory("graft_ckpt_fm")
    val local = new LocalCheckpointFileManager(new Path(dir.toString), conf, () => recording)
    write(local, new Path(dir.toString, "0"), "x", overwrite = false)
    assert(local.exists(new Path(dir.toString, "0")) && local.isLocal)
    assert(calls.size == 8)

    val hdfsDefault = new Configuration()
    hdfsDefault.set("fs.defaultFS", "hdfs://localhost:8020")
    assert(!LocalCheckpointFileManager.isFileScheme(new Path("/ckpt"), hdfsDefault))
    assert(LocalCheckpointFileManager.isFileScheme(new Path("file:/ckpt"), hdfsDefault))
  }

  test("install sets Spark's manager conf only when it is unset") {
    val spark = graft.spark.SparkTestSession.spark
    val key   = LocalCheckpointFileManager.ConfKey
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.get(key) == classOf[LocalCheckpointFileManager].getName)
      spark.conf.set(key, "com.example.OtherManager")
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.get(key) == "com.example.OtherManager")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
