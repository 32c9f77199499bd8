package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** The engine runs from any checkout: every path it writes resolves
  * under `Sessions.workDir`, so no source names a fixed checkout root.
  * Tests start in the checkout root, so that is the text searched for. */
class WorkRootSpec extends AnyFunSuite {

  test("no source file hard-codes the checkout root") {
    val root = Paths.get("").toAbsolutePath.toString
    assert(Sessions.workDir == s"$root/target")
    val sources = Using.resource(Files.walk(Paths.get("src")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(sources.size > 50, s"scanned only ${sources.size} files under src/")
    val hits = sources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(root) => s"$p:${i + 1}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
