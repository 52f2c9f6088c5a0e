package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The entry points the docs tell a reader to run must exist: a deleted or
  * renamed main otherwise leaves a README command or a source comment that
  * points at nothing. Likewise every session-wide Spark default graft sets
  * must be documented, and README's Architecture block must name only the
  * SQL functions and `graft.plans` classes that exist, and every plan node
  * and strategy there. No Spark session is started.
  */
class DocEntryPointsSpec extends AnyFunSuite {

  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md").map(Paths.get(_))

  private def mainNames(text: String): Set[String] =
    ("""runMain\s+(graft(?:\.\w+)+)""".r.findAllMatchIn(text).map(_.group(1)) ++
      """\b(graft\.tools\.\w+)""".r.findAllMatchIn(text).map(_.group(1))).toSet

  test("every graft main named in README.md and the verify skill has a static main(Array[String])") {
    docs.foreach(p => assert(Files.isRegularFile(p), s"$p is missing"))
    val names = docs.flatMap(p => mainNames(Files.readString(p)).map(_ -> p))
    assert(names.exists(_._1 == "graft.Verify"), s"no runMain found in $docs")
    val broken = names.filterNot { case (name, _) =>
      try {
        val m = Class.forName(name, false, getClass.getClassLoader)
          .getMethod("main", classOf[Array[String]])
        Modifier.isStatic(m.getModifiers) && m.getReturnType == Void.TYPE
      } catch { case _: ClassNotFoundException | _: NoSuchMethodException => false }
    }
    assert(broken.isEmpty, broken.map { case (n, p) => s"$n (named in $p)" }.mkString("no main: ", ", ", ""))
  }

  test("every tools/<Name> cited in a src/main comment has a matching file") {
    val tools = Paths.get("src/main/scala/graft/tools")
    val srcs  = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(srcs.nonEmpty, "no sources under src/main")
    val missing = for {
      src  <- srcs
      (line, i) <- Files.readAllLines(src).asScala.zipWithIndex
      name <- """\btools/([A-Z]\w*)""".r.findAllMatchIn(line).map(_.group(1))
      if !Files.isRegularFile(tools.resolve(s"$name.scala"))
    } yield s"$src:${i + 1} tools/$name"
    assert(missing.isEmpty, missing.mkString("cited but missing: ", ", ", ""))
  }

  test("every Spark key graft.streaming.install may set is named in README.md") {
    val pkg  = Class.forName("graft.streaming.package$")
    val obj  = pkg.getField("MODULE$").get(null)
    val keys = pkg.getDeclaredMethods.toSeq
      .filter(m => m.getName.endsWith("Key") && m.getParameterCount == 0 && m.getReturnType == classOf[String])
      .map(m => m.getName -> m.invoke(obj).asInstanceOf[String])
    assert(keys.size >= 3, s"found only ${keys.map(_._1)} in graft.streaming")
    val readme = Files.readString(Paths.get("README.md"))
    val undocumented = keys.filterNot { case (_, key) => readme.contains(s"`$key") }
    assert(undocumented.isEmpty,
      undocumented.map { case (name, key) => s"$name = $key" }.mkString("not in README.md: ", ", ", ""))
  }

  /** The lines of README's Architecture block after the one that starts
    * with package `pkg`, up to the next package line or the block's end.
    */
  private def architectureSection(pkg: String): Seq[String] = {
    val readme = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
    val block  = readme.dropWhile(_ != "## Architecture").drop(1)
      .dropWhile(_ != "```").drop(1).takeWhile(_ != "```")
    val section = block.dropWhile(l => !l.startsWith(s"$pkg ")).drop(1)
      .takeWhile(l => !l.startsWith("graft."))
    assert(section.nonEmpty, s"no $pkg section in README.md's Architecture block")
    section
  }

  test("README's SQL function list is the SqlFunctions builder table") {
    val named = architectureSection("graft.functions")
      .flatMap("""\b(topk_\w+|xxh32)\b""".r.findAllMatchIn(_).map(_.group(1))).toSet
    val built = graft.functions.SqlFunctions.builders.map(_._1).toSet
    assert(named == built,
      s"README lists ${(named -- built).mkString(", ")}; misses ${(built -- named).mkString(", ")}")
  }

  test("every graft.plans class in README's Architecture block exists") {
    val named = architectureSection("graft.plans")
      .flatMap("""^  ([A-Z]\w*)\b""".r.findFirstMatchIn(_).map(_.group(1)))
    assert(named.size >= 5, s"found only $named")
    val missing = named.filterNot { n =>
      try { Class.forName(s"graft.plans.$n", false, getClass.getClassLoader); true }
      catch { case _: ClassNotFoundException => false }
    }
    assert(missing.isEmpty, missing.mkString("not in graft.plans: ", ", ", ""))
  }

  test("README's Architecture block names every plan node and strategy in graft.plans") {
    val named = architectureSection("graft.plans")
      .flatMap("""^  ([A-Z]\w*)\b""".r.findFirstMatchIn(_).map(_.group(1))).toSet
    val defined = Files.list(Paths.get("src/main/scala/graft/plans")).iterator().asScala.toList
      .flatMap(p => """(?m)^(?:final\s+|case\s+)*(?:class|object)\s+(\w+)[^{]*?\bextends\s+(?:UnaryNode|LeafNode|BinaryNode|UnaryExecNode|LeafExecNode|BinaryExecNode|SparkStrategy)\b"""
        .r.findAllMatchIn(Files.readString(p)).map(_.group(1)))
    assert(defined.size >= 2, s"found only $defined")
    val unnamed = defined.filterNot(named)
    assert(unnamed.isEmpty, unnamed.mkString("not in README's graft.plans section: ", ", ", ""))
  }
}
