package graft

import java.nio.file.Files
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.sources.Catalog
import graft.streaming.{Bm25Index, Streams}

/** Pins the Spark jobs of one ingest, one delete and one replace op on a
  * populated index family (BM25, near-dup dedup, IVF-PQ vectors), and
  * the distinct SQL executions those jobs ran under. A stream ingest is
  * counted as one whole `AvailableNow` run over one file: the op plus
  * the stream's own start-up and source jobs. A change that adds a job
  * or an execution to an op fails here; one that removes one updates
  * the pin.
  */
class IndexOpJobsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.{functions => F}

  private def jobs(body: => Unit): JobCount.Tally =
    JobCount.tally(spark.sparkContext)(body)
  private def pin(jobs: Int, executions: Int) = JobCount.Tally(jobs, executions)

  private def docs(ids: Range, tag: String): DataFrame =
    ids.map(i => (i.toLong, s"$tag document $i body text with words w$i x${i % 3}"))
      .toDF("doc_id", "text")

  test("BM25 ingest, delete and replace ops on a populated index launch their pinned jobs") {
    val cat = new Catalog(spark, Files.createTempDirectory("graft-opjobs-bm25").toString)
    val idx = new Bm25Index(cat, buckets = 8)
    idx.ingest(docs(0 until 20, "seed"), seq = 0L)
    val counts = Seq(
      "ingest" -> jobs(idx.ingest(docs(20 until 30, "more"), seq = 1L)),
      "delete" -> jobs(idx.delete(Seq(3L, 7L, 25L).toDF("doc_id"), seq = 2L)),
      "replace" -> jobs(idx.replace(docs(1 until 4, "new"), seq = 3L)))
    assert(counts === Seq(
      "ingest" -> pin(12, 5), "delete" -> pin(7, 4), "replace" -> pin(13, 6)))
  }

  test("dedup ingest, delete and replace ops on a populated family launch their pinned jobs") {
    val dir = Files.createTempDirectory("graft-opjobs-dedup").toString
    val cat = new Catalog(spark, s"$dir/wh")
    docs(0 until 20, "seed").coalesce(1).write.json(s"$dir/b1")
    docs(20 until 30, "more").coalesce(1).write.json(s"$dir/b2")
    def ingest(name: String): Unit = {
      val q = Streams.streamingDocDedup(
        Streams.docFileStream(spark, s"$dir/$name", maxFilesPerTrigger = 1),
        cat, "corpus", "buckets", s"$dir/cp-$name",
        tombTable = Some("tomb")).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    ingest("b1")
    val counts = Seq(
      "ingest" -> jobs(ingest("b2")),
      "delete" -> jobs(Streams.deleteDocsFromDedup(cat, "corpus", "tomb",
        Seq(3L, 7L, 25L).toDF("doc_id"))),
      "replace" -> jobs(Streams.replaceDocsInDedup(cat, "corpus", "buckets", "tomb",
        docs(1 until 4, "new"))))
    assert(counts === Seq(
      "ingest" -> pin(32, 9), "delete" -> pin(6, 3), "replace" -> pin(12, 6)))
  }

  test("vector ingest, delete and replace ops on a populated family launch their pinned jobs") {
    val dir = Files.createTempDirectory("graft-opjobs-vec").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val (model, offline) = graft.operators.Similarity.ivfPqIndex(
      vecs.filter($"vec_id" < 20L), nlist = 8, m = 4, ksub = 8)
    val codesSchema = Streams.vectorCodesSchema(offline.schema)
    Streams.replaceVectors(cat, "codes", codesSchema, "tomb",
      vecs.filter($"vec_id" < 20L), model, nlist = 8, m = 4, ksub = 8)
    val in = s"$dir/in"
    vecs.filter($"vec_id" >= 20L).coalesce(1).write.parquet(in)
    val counts = Seq(
      "ingest" -> jobs {
        val q = Streams.streamingIvfPqIndex(
          spark.readStream.schema(vecs.schema).option("maxFilesPerTrigger", "1").parquet(in),
          model, cat, "codes", s"$dir/cp", nlist = 8, m = 4, ksub = 8,
          tombTable = Some("tomb"), codesSchema = Some(codesSchema))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      },
      "delete" -> jobs(Streams.deleteVectors(cat, "codes", codesSchema, "tomb",
        Seq(3L, 7L, 25L).toDF("neighbor_id"))),
      "replace" -> jobs(Streams.replaceVectors(cat, "codes", codesSchema, "tomb",
        vecs.filter($"vec_id".isin(1L, 2L, 3L)).select($"vec_id",
          F.transform($"embedding", x => -x).as("embedding")),
        model, nlist = 8, m = 4, ksub = 8)))
    assert(counts === Seq(
      "ingest" -> pin(13, 6), "delete" -> pin(6, 3), "replace" -> pin(13, 6)))
  }
}
