package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every pin in the engine goes through `graft.core.CheckpointPolicy`,
  * which stores it where the session says (executor blocks, or the
  * checkpoint directory when one is set). A raw `localCheckpoint(` or
  * `.checkpoint(` anywhere else in the main sources would pin
  * executor-local blocks even under a checkpoint directory. */
class PinLintSpec extends AnyFunSuite {

  test("pins go through CheckpointPolicy: no raw checkpoint call in src/main") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"no ${root.toAbsolutePath}: run from the project root")
    val policy = Paths.get("scala/graft/core/CheckpointPolicy.scala")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.exists(root.relativize(_) == policy))
    val raw = """localCheckpoint\(|\.checkpoint\(""".r
    val hits = for {
      f <- sources if root.relativize(f) != policy
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if raw.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"pin through CheckpointPolicy.pin instead:\n${hits.mkString("\n")}")
  }
}
