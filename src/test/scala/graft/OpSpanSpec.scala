package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The exactly-once op protocol lives in one place: every index family
  * op runs through `OpLog.span` (or, for a rebalance that derives its
  * seq, `OpLog.derivedOp`), so no other main source writes an attempt
  * marker or probes replay state itself. Likewise the stamped tables'
  * partition hash and partitioned append live in `Generations.Family`,
  * so no other index-family source hashes or appends partitions itself.
  */
class OpSpanSpec extends AnyFunSuite {
  private val allowed = "src/main/scala/graft/streaming/OpLog.scala"

  test("only OpLog calls beginAttempt or replayState") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"no sources under ${root.toAbsolutePath}")
    val found = for {
      f <- files if f.toString != allowed
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("beginAttempt(") || line.contains("replayState(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("only Generations hashes or appends partitions in graft.streaming") {
    val dir = Paths.get("src/main/scala/graft/streaming")
    val files = Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size >= 4, s"no sources under ${dir.toAbsolutePath}")
    val found = for {
      f <- files if f.getFileName.toString != "Generations.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if Seq("xxhash64(", "appendPartitioned(", "writeWidth").exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("\n"))
  }
}
