package graft.streaming

import org.apache.spark.sql.SparkSession

/** Sustained-throughput measurement for the word-count topology over
  * the rate spout — the load-test the reference drives with its Kafka
  * emitter sample (WordCountKafkaEmitter.hs), here against both top-N
  * sink modes.
  *
  * The rate source produces `targetRps` rows/s regardless of
  * processing speed, so a topology that can't keep up accumulates
  * backlog and its measured `sustainedRps` (processed rows over
  * trigger-execution time) falls below target — the honest "how fast
  * does the engine actually drain" number. Per-batch latency comes
  * from the same [[org.apache.spark.sql.streaming.StreamingQueryProgress]]
  * feed (the reference's progress vector, see [[Clock]]).
  */
object ThroughputHarness {

  final case class Result(mode: String, targetRps: Int, vocab: Int,
                          sustainedRps: Double, meanBatchMs: Double,
                          batches: Int, rows: Long) {
    // Double.toString, not the f-interpolator: %f is locale-sensitive
    // and a comma decimal separator would corrupt the one-line JSON
    def json: String =
      s"""{"mode":"$mode","target_rps":$targetRps,"vocab":$vocab,""" +
        s""""sustained_rps":${math.round(sustainedRps)},""" +
        s""""mean_batch_ms":${math.round(meanBatchMs * 10) / 10.0},""" +
        s""""batches":$batches,"rows":$rows}"""
  }

  /** Run one (mode, rate) configuration until `minBatches`
    * data-carrying micro-batches completed (query startup is multiple
    * seconds and produces empty batches — a fixed sleep measures
    * nothing) and report sustained rows/s + mean per-batch latency
    * over those batches.
    */
  def run(spark: SparkSession, update: Boolean, targetRps: Int,
          vocab: Int = 100000, minBatches: Int = 3,
          timeoutMs: Long = 20000, topN: Int = 20): Result = {
    val out = java.nio.file.Files.createTempDirectory("thr-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("thr-ckpt").toString
    val spout = WordCountTopology.rateSpout(targetRps, vocab = vocab)
    val topo =
      if (update) WordCountTopology.updateMode(spout, out, ckpt, topN)
      else WordCountTopology(spout, out, ckpt, topN)
    val q =
      try {
        val q = topo.run(spark)
        val t0 = System.currentTimeMillis()
        try
          while (q.exception.isEmpty &&
                 q.recentProgress.count(_.numInputRows > 0) < minBatches &&
                 System.currentTimeMillis() - t0 < timeoutMs)
            Thread.sleep(100)
        finally q.stop()
        q
      } finally {
        // the measurement only needs the in-memory progress — reclaim
        // the parquet snapshots + checkpoint, also when the query
        // fails to start (/tmp dirs never shrink after entry peaks)
        Seq(out, ckpt).foreach(d =>
          scala.util.Try(graft.IndexLifecycle.deleteRecursively(d)))
      }
    // a dead query must fail the measurement, not report 0 rows/s
    q.exception.foreach(throw _)
    // keep only entries that carry BOTH rows and a triggerExecution
    // duration: durationMs is a Java map, so a missing key is null
    // (NPE on unboxing), and counting such an entry's rows against
    // zero time would inflate the measured throughput
    val progs = q.recentProgress.filter(p =>
      p.numInputRows > 0 && p.durationMs.get("triggerExecution") != null)
    val rows = progs.map(_.numInputRows).sum
    val execMs = progs.map(_.durationMs.get("triggerExecution").toLong).sum
    Result(
      mode = if (update) "update" else "complete",
      targetRps = targetRps, vocab = vocab,
      sustainedRps = if (execMs > 0) rows * 1000.0 / execMs else 0.0,
      meanBatchMs = if (progs.nonEmpty) execMs.toDouble / progs.length else 0.0,
      batches = progs.length, rows = rows)
  }
}
