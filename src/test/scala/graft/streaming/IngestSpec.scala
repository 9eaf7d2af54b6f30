package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame

/** The streaming near-dup ingest loop (NearDupIngestSink): gate each
  * micro-batch against the persisted LSH index, write admitted docs
  * exactly-once, commit their signatures back so later batches are
  * gated by earlier ones — and survive replay at every phase.
  */
class IngestSpec extends SparkSpecBase {
  import spark.implicits._

  private val baseText =
    "the quick brown fox jumps over the lazy dog near the river bank every morning"
  private val novelA =
    "solar panels convert photons into electric current through silicon junction layers"
  private val novelB =
    "ancient mariners navigated open oceans using stars currents and seasonal winds"
  private val novelC =
    "fermented tea cultures require stable warm temperatures and weekly feeding cycles"

  private def withIngest(f: (String, String, NearDupIngestSink) => Unit): Unit = {
    val idxDir = java.nio.file.Files.createTempDirectory("ingest-idx").toString
    val outDir = java.nio.file.Files.createTempDirectory("ingest-out").toString
    graft.dedup.Dedup.buildLshIndexFrom(
      Seq((100L, baseText)).toDF("doc_id", "text"), idxDir)
    try f(idxDir, outDir, new NearDupIngestSink(idxDir, outDir))
    finally Seq(idxDir, outDir).foreach(deleteDir)
  }

  private def deleteDir(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Path.of(dir)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def admitted(outDir: String, batchId: Long): Set[Long] =
    // resolve through the data marker like the sink's own index phase
    // (the winning dir is tokened)
    spark.read.parquet(new NearDupIngestSink("unused", outDir).dataDirOf(batchId))
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("ingest gate drops index near-dups, commits admitted docs, is gated by its own commits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    withIngest { (table, outDir, sink) =>
      def bandCount() = graft.operators.MergeTable
        .readTable(spark, table + "/bands").count()
      val bandsBefore = bandCount()
      val docs = MemoryStream[(Long, String)]
      val q = docs.toDF().toDF("doc_id", "text").writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ingest-ckpt").toString)
        .foreachBatch { (b: DataFrame, id: Long) => sink(b, id) }
        .start()
      try {
        // batch 0: an exact copy of an indexed doc + a novel doc
        docs.addData((1L, baseText), (2L, novelA))
        q.processAllAvailable()
        assert(admitted(outDir, 0) == Set(2L),
          "batch 0 must drop the indexed near-dup and admit the novel doc")
        // the admitted doc's signature was committed back — readers
        // resolve the table log per read, so no refresh is needed
        assert(bandCount() > bandsBefore,
          "admitted doc's band keys were not committed to the index")
        // batch 1: a copy of batch 0's ADMITTED doc + another novel one
        docs.addData((3L, novelA), (4L, novelB))
        q.processAllAvailable()
        assert(admitted(outDir, 1) == Set(4L),
          "batch 1 must be gated by batch 0's committed docs")
        assert(sink.committed == Set(0L, 1L))
      } finally q.stop()
    }
  }

  test("ingest replay: a fully committed batch is a no-op; a data-committed batch resumes at the index phase") {
    withIngest { (table, outDir, sink) =>
      val b0 = Seq((1L, baseText), (2L, novelA)).toDF("doc_id", "text")
      sink(b0, 0L)
      assert(admitted(outDir, 0) == Set(2L))
      def count(t: String) = graft.operators.MergeTable
        .readTable(spark, table + "/" + t).count()
      val bands = count("bands")
      val sigsN = count("sigs")
      // full replay (crash after commit, batch re-offered): no effect —
      // critically, the re-gate does NOT run, so the batch can't drop
      // its own docs against its own committed signatures
      sink(b0, 0L)
      assert(admitted(outDir, 0) == Set(2L), "replay changed committed output")
      assert(count("bands") == bands && count("sigs") == sigsN,
        "replay re-appended to the index")
      // crash between the data and index phases: batch 7's output is
      // on disk and logged `data`, but its index commit never ran.
      // The resumed apply() must index the COMMITTED output (doc C),
      // ignoring whatever the re-offered batch would now gate to.
      val won = s"batch=7~${graft.operators.WriterToken.next()}"
      Seq((7L, novelC)).toDF("doc_id", "text")
        .write.parquet(s"$outDir/$won")
      assert(graft.operators.CommitStore.forDir(outDir).putIfAbsent(
        java.nio.file.Path.of(outDir, "_phasemarks", "b7-data"),
        s"$won\n".getBytes("UTF-8")))
      sink(Seq((7L, novelC)).toDF("doc_id", "text"), 7L)
      assert(admitted(outDir, 7) == Set(7L))
      assert(sink.committed == Set(0L, 7L))
      // and doc C now gates the next batch
      sink(Seq((8L, novelC), (9L, novelB)).toDF("doc_id", "text"), 8L)
      assert(admitted(outDir, 8) == Set(9L),
        "the resumed index phase did not commit doc C's signatures")
    }
  }
}
