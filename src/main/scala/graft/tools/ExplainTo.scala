package graft.tools

import java.nio.file.{Files, Paths}
import graft.{GraftFunctions, GraftSession, SparkEntry}

/** Dump the COMPLETE post-execution physical plan of NAMED catalog
  * queries, one untruncated file per query — the plan-evidence trail
  * (plans/rNN/<query>_after.txt) and the one tool that writes plans:
  * pass a single name to inspect one query, or the headline list to
  * refresh the snapshot PLANS.md quotes.
  *
  * Run: `tools/run.sh graft.tools.ExplainTo /root/testdata/sf0.001
  * plans/r21 _after q_bm25_stream q_window_stream ...`
  */
object ExplainTo {
  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, suffix, names @ _*) = args
    val spark = GraftSession.local("graft-explain-to", 8)
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        df.collect() // execute so AQE final plans are shown
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), txt)
        System.err.println(s"[explain-to] wrote $name")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[explain-to] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
