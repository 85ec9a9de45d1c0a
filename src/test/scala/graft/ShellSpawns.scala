package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The processes Hadoop's `Shell` (chmod, readlink, ls, ...) spawns while
  * a body runs, from any thread, read from JFR `jdk.ProcessStart` events
  * and their stack traces. Processes started by other code, such as
  * Spark's own `rm -rf`, are not counted.
  */
object ShellSpawns {

  def apply(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      val file = Files.createTempFile("graft-spawns", ".jfr")
      try {
        rec.dump(file)
        RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(e => e.getEventType.getName == "jdk.ProcessStart" && e.getStackTrace != null &&
            e.getStackTrace.getFrames.asScala.exists(
              _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
          .map(_.getString("command"))
      } finally Files.deleteIfExists(file)
    } finally rec.close()
  }
}
