package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Every graft main builds its session through `GraftSession.build`, so
  * the settings that make numbers comparable (plan-string cap, codegen
  * cache, UTC, registered extensions) cannot drift between entry points.
  */
class SessionBuilderSpec extends AnyFunSuite {

  test("no SparkSession.builder in the main sources outside GraftSession") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val builder = """SparkSession\s*\.\s*builder""".r
    def files(d: File): Seq[File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val sites = files(root).flatMap { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      builder.findAllMatchIn(text).map { m =>
        s"${f.getPath}:${text.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    assert(sites.size == 1 && sites.head.startsWith("src/main/scala/graft/GraftSession.scala:"),
      s"build sessions with graft.GraftSession.build: ${sites.mkString(", ")}")
  }
}
