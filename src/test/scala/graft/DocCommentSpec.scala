package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every doc comment in the main sources documents the definition below
  * it: a block that ends directly above another block documents nothing. */
class DocCommentSpec extends AnyFunSuite {

  test("no doc comment directly above another doc comment") {
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { p: Path =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        // names the line of the second block
        lines.indices.drop(1).collect {
          case i if lines(i - 1).trim.endsWith("*/") &&
              lines(i).trim.startsWith("/**") => s"$p:${i + 1}"
        }
      }
    assert(hits.isEmpty, hits.mkString("stacked doc comments: ", ", ", ""))
  }
}
