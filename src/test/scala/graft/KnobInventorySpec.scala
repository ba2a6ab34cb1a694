package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every `SPARK_GRAFT_*` variable and `graft.*` system property the
  * engine reads is documented in the README's Settings table, and the
  * table names nothing the engine no longer reads. */
class KnobInventorySpec extends AnyFunSuite with Matchers {

  private val knob = "\"(SPARK_GRAFT_[A-Z0-9_]+)\"".r
  private val row = "^\\| `(SPARK_GRAFT_[A-Z0-9_]+)` \\|".r.unanchored
  private val prop = "\"(graft\\.[a-z][a-z.]*)\"".r
  private val twin = "twin: `(graft\\.[a-z][a-z.]*)`".r

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def inCode(pattern: scala.util.matching.Regex): Set[String] = {
    val files = Files.walk(Paths.get("src/main"))
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => pattern.findAllMatchIn(read(p)).map(_.group(1)))
      .toSet
    finally files.close()
  }

  private def settingsRows: Seq[String] =
    read(Paths.get("README.md")).linesIterator
      .dropWhile(_ != "## Settings").drop(1)
      .takeWhile(!_.startsWith("## "))
      .toSeq

  test("quoted SPARK_GRAFT_* names under src/main equal the README Settings table") {
    val settings = settingsRows.collect { case row(name) => name }.toSet
    settings should not be empty
    inCode(knob) shouldBe settings
  }

  test("quoted graft.* property literals under src/main equal the README twin names") {
    val twins = settingsRows.flatMap(l => twin.findAllMatchIn(l).map(_.group(1)))
      .toSet
    twins should not be empty
    inCode(prop) shouldBe twins
  }
}
