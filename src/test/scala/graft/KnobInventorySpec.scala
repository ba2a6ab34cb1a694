package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every `SPARK_GRAFT_*` variable the engine reads is documented in the
  * README's Settings table, and the table names nothing the engine no
  * longer reads. */
class KnobInventorySpec extends AnyFunSuite with Matchers {

  private val knob = "\"(SPARK_GRAFT_[A-Z0-9_]+)\"".r
  private val row = "^\\| `(SPARK_GRAFT_[A-Z0-9_]+)` \\|".r.unanchored

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("quoted SPARK_GRAFT_* names under src/main equal the README Settings table") {
    val files = Files.walk(Paths.get("src/main"))
    val inCode = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => knob.findAllMatchIn(read(p)).map(_.group(1)))
      .toSet
    finally files.close()
    val readme = read(Paths.get("README.md"))
    val settings = readme.linesIterator
      .dropWhile(_ != "## Settings").drop(1)
      .takeWhile(!_.startsWith("## "))
      .collect { case row(name) => name }
      .toSet
    settings should not be empty
    inCode shouldBe settings
  }
}
