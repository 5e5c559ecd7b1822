package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session in `src/main` comes from `graft.util.Sessions`, so a
  * setting made there (the generated-class cache size, say) reaches
  * every entry point: `graft.Bench` and `graft.Verify` included.
  */
class SessionFactorySpec extends AnyFunSuite {

  test("no main source outside graft.util.Sessions builds its own SparkSession") {
    val main = Paths.get("src", "main")
    val sources = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java")).toSeq
    assert(sources.exists(_.endsWith(Paths.get("graft", "util", "Sessions.scala"))))
    val builders = sources
      .filterNot(_.endsWith(Paths.get("graft", "util", "Sessions.scala")))
      .filter(p => Files.readString(p).replaceAll("\\s+", "").contains("SparkSession.builder"))
      .map(main.relativize(_: Path).toString)
    assert(builders.isEmpty, s"sessions built outside Sessions: ${builders.mkString(", ")}")
  }
}
