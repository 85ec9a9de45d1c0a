package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Query code never mutates the shared session's conf: a stream replay
  * sets its width on its own cloned session, and `TimeQuery` applies the
  * overrides it is asked to time with.
  */
class SharedConfSpec extends AnyFunSuite {
  private val allowed = Set(
    "src/main/scala/graft/tools/TimeQuery.scala",
    "src/main/scala/graft/queries/Replay.scala")

  test("only TimeQuery and the stream-replay helper set a session conf") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"no sources under ${root.toAbsolutePath}")
    val found = for {
      f <- files if !allowed(f.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex if line.contains(".conf.set(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("\n"))
  }
}
