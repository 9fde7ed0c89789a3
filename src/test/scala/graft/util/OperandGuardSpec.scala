package graft.util

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Type once, where values enter: outside the allow-listed definitions no
  * main source normalises or parses a value itself; every comparison
  * reads the operands that [[Udfs.operands]] projects once per value. */
class OperandGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val forbidden =
    """(?<!def )normaliseCol\(|SafeCast\.toDouble\(|SafeCast\.toDateSafe\(""".r
  // an object member: a `def` at the object body's indentation
  private val member = """^  (?:[\w\[\]]+ )*def (\w+).*""".r
  private val allowed = Set(
    "Udfs.operands",      // web cells and KB values
    "KbIngest.values",    // the surface-form label key
    "Schema.labelBased")  // headers: column metadata, not values

  /** (Object.def, location) of every forbidden call in `src/main`. */
  private def sites: Seq[(String, String)] = {
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    for {
      p: Path <- sources
      lines = Files.readAllLines(p).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      if forbidden.findFirstIn(line).isDefined
    } yield {
      val owner = lines.take(i + 1).reverseIterator.collectFirst {
        case member(name) => name
      }.getOrElse("<top>")
      val obj = p.getFileName.toString.stripSuffix(".scala")
      (s"$obj.$owner", s"$p:${i + 1}: ${line.trim}")
    }
  }

  test("values are normalised and parsed only where they enter") {
    assert(Files.isDirectory(root))
    val hits = sites
    val outside = hits.filterNot(h => allowed(h._1)).map(_._2)
    assert(outside.isEmpty, outside.mkString("\n", "\n", ""))
    // the allow-list names live sites only
    assert(hits.map(_._1).toSet === allowed)
  }
}
