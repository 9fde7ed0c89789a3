package graft.checkpoint

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One owner for persisted frames: outside checkpoint/Checkpoint.scala no
  * main source persists, caches or localCheckpoints a frame itself, so
  * [[Materialize]] and its scopes alone decide when a frame is released. */
class PersistGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val owner = root.resolve("graft/checkpoint/Checkpoint.scala")
  private val forbidden = """\.persist\(|\.cache\(\)|localCheckpoint\(""".r

  test("no persist, cache or localCheckpoint outside Materialize") {
    assert(Files.isDirectory(root))
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner).toSeq
    assert(sources.nonEmpty)
    val hits = for {
      p: Path <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if forbidden.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
