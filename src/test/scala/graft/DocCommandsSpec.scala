package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every `runMain graft.<Class>` the docs tell a reader to run names a
  * main that still exists: deleting or renaming a main without updating
  * README.md or the verify skill fails here, not on a reader's machine.
  */
class DocCommandsSpec extends AnyFunSuite {

  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")
  private val RunMain = """runMain (graft\.[A-Za-z0-9_.]+)""".r

  test("every runMain graft.<Class> in the docs loads and has a main") {
    val named = docs.flatMap { d =>
      val p = Paths.get(d)
      assert(Files.isRegularFile(p), s"$d not found from ${p.toAbsolutePath}")
      RunMain.findAllMatchIn(Files.readString(p))
        .map(m => d -> m.group(1).stripSuffix("."))
    }.distinct
    assert(named.exists(_._2 == "graft.Bench"), "no runMain found: the pattern is stale")
    val broken = named.filterNot { case (_, cls) =>
      try {
        Class.forName(cls + "$", false, getClass.getClassLoader).getMethod("main", classOf[Array[String]]); true
      } catch { case _: ClassNotFoundException | _: NoSuchMethodException => false }
    }
    assert(broken.isEmpty, broken.map { case (d, c) => s"$d: $c" }.mkString("\n"))
  }
}
