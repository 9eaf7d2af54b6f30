package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The reference's flagship sample (WordCountSample.hs): words spout →
  * count bolt (hash-grouped) → top-N bolt → merge-sort bolt → file
  * sink, with exactly-once recovery.
  *
  * Spark-first shape: ONE streaming aggregation. The count bolt is
  * `groupBy(word).count()` (hash exchange = fields grouping, partial
  * agg = monoid merge); top-N + global merge-sort collapse into the
  * per-batch `sort.limit(n)` of the sink stage (global grouping =
  * single-partition final stage, exactly the `const 0` edge of
  * WordCountSample.hs:251); exactly-once comes from the checkpoint +
  * idempotent batch-logged sink instead of ZK snapshots.
  */
object WordCountTopology {

  /** words bolt: lines → lowercase word tokens (the spout convertFn). */
  val tokenize: Bolt = Bolt("words", df =>
    df.select(explode(split(lower(col("value")), "\\W+")).as("word"))
      .filter(col("word") =!= ""))

  /** count bolt: keyed streaming count (incremental, state-store backed). */
  val countBolt: Bolt = Bolt("count", df =>
    df.groupBy("word").agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt")))

  /** Build the full topology over any line-typed spout. */
  def apply(spout: Spout, outDir: String, checkpoint: String, topN: Int = 20): Topology =
    Topology(spout, Seq(tokenize, countBolt),
      Sink("top_words", (df, trigger) => {
        val w = df.writeStream
          .outputMode(OutputMode.Complete())
          .option("checkpointLocation", checkpoint)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // topn + merge_sort bolts: per-batch global sort + limit,
            // idempotently committed by batchId
            val top = batch.orderBy(col("cnt").desc, col("word")).limit(topN)
            ExactlyOnceSink.toDir(outDir)(top, batchId)
          }
        trigger.foreach(w.trigger)
        w.start()
      }))

  /** Update-mode variant of [[apply]]: the aggregation emits only
    * CHANGED (word, count) rows per micro-batch and the top-N lives
    * in a [[TopNUpdateSink]] bounded monoid — per-batch sink work is
    * O(changed keys + N) where the Complete-mode sink re-sorts the
    * entire accumulated vocabulary every batch. Same final output
    * (spec-verified parity); this is the shape that survives an
    * unbounded vocabulary.
    */
  def updateMode(spout: Spout, outDir: String, checkpoint: String,
                 topN: Int = 20): Topology =
    Topology(spout, Seq(tokenize, countBolt),
      Sink("top_words_update", (df, trigger) => {
        val sink = new TopNUpdateSink(outDir, topN)
        val w = df.writeStream
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", checkpoint)
          .foreachBatch { (batch: DataFrame, batchId: Long) => sink(batch, batchId) }
        trigger.foreach(w.trigger)
        w.start()
      }))

  /** File-lines spout (the reference's FileSource); `limit` bounds
    * how many files each micro-batch admits.
    */
  def fileSpout(dir: String, limit: RateLimit = RateLimit()): Spout =
    Spout("lines", s =>
      s.readStream.format("text").options(limit.options).load(dir))

  /** Synthetic load-generator spout (rate source) — the throughput
    * harness analog of the reference's WordCountKafkaEmitter. `vocab`
    * sets the key cardinality, the lever that separates the two top-N
    * sink modes (Complete re-sorts the whole vocabulary per batch;
    * the update sink's work is bounded by contenders).
    */
  def rateSpout(rowsPerSecond: Int = 1000, limit: RateLimit = RateLimit(),
                vocab: Int = 100): Spout =
    Spout("rate", s => s.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .options(limit.options).load()
      .selectExpr(s"concat('w', CAST(value % $vocab AS STRING)) AS value"))
}

/** Event-time operators over streams — watermarks are the low-water
  * marks the reference floods through payloads
  * (Payload.hs:payloadLowWaterMarkMap), maintained by the engine.
  */
object EventTimeOps {

  /** Tumbling-window keyed aggregation with a watermark bound on
    * state (the streaming analog of batch q18_time_window).
    */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("total"))

  /** Gap-based session windows per user (streaming analog of batch
    * q17_sessionize) via the native session_window operator.
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("ws"), col("w.end").as("we"),
        col("user_id"), col("n_events"))
}
