package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.ToolConf

/** The tool mains' shared `SPARK_GRAFT_CONF` parser, and the mains the
  * docs and scripts tell a reader to run. */
class ToolConfSpec extends AnyFunSuite {
  test("parseConf splits key=value pairs and names a malformed entry") {
    assert(ToolConf.parseConf("a.b=1, c=x=y,") == Seq("a.b" -> "1", "c" -> "x=y"))
    val e = intercept[IllegalArgumentException](ToolConf.parseConf("a=1,oops"))
    assert(e.getMessage.contains("'oops'"))
    intercept[IllegalArgumentException](ToolConf.parseConf("=v"))
  }

  test("every main a doc or script names loads and has a static main(Array[String])") {
    val root = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).find(d => Files.exists(d.resolve("build.sbt")))
      .getOrElse(fail("no build.sbt above the working directory"))
    val scripts = Files.list(root.resolve("tools")).iterator.asScala
      .filter(_.toString.endsWith(".sh")).toSeq
    val sources: Seq[Path] = Seq("CLAUDE.md", "README.md", ".claude/skills/verify/SKILL.md")
      .map(root.resolve) ++ scripts
    val named = """runMain (graft\.[\w.]*\w)|\b(graft\.tools\.\w+)""".r
    val mains = sources.filter(Files.exists(_)).flatMap { f =>
      named.findAllMatchIn(Files.readString(f)).map { m =>
        Option(m.group(1)).getOrElse(m.group(2)) -> root.relativize(f).toString
      }
    }.distinct
    assert(mains.map(_._1).toSet.contains("graft.tools.TimeQ"), s"the scan found too little: $mains")
    val broken = mains.filter { case (cls, _) =>
      try {
        val m = Class.forName(cls, false, getClass.getClassLoader)
          .getMethod("main", classOf[Array[String]])
        !java.lang.reflect.Modifier.isStatic(m.getModifiers)
      } catch { case _: ClassNotFoundException | _: NoSuchMethodException => true }
    }
    assert(broken.isEmpty, s"named in a doc or script, but not a runnable main: $broken")
  }
}
