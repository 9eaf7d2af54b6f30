package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** The reference's topology model (Topology.hs, HardcodedTopology.hs)
  * re-expressed Spark-first: a topology is a named chain
  * spout → bolts → sink that compiles to ONE streaming DataFrame
  * plan, so Catalyst plans the whole DAG (instead of hand-wired
  * processes + sockets as in Processor/Pool.hs).
  *
  * What the reference wires explicitly, Spark provides declaratively:
  *  - fields grouping (hash of tuple key, WordCountSample.hs:243-252)
  *    → the hash exchange under any `groupBy`
  *  - global grouping (`const 0`) → single-partition sort / global agg
  *  - bolt parallelism → spark.sql.shuffle.partitions / AQE
  *  - low-water-mark maps (Payload.hs) → watermarks
  *  - partition/offset clocks + snapshots (Clock.hs, SnapshotStore)
  *    → checkpointed offset log + state store, surfaced as [[Clock]]
  */
final case class Spout(name: String, open: SparkSession => DataFrame)

final case class Bolt(name: String, transform: DataFrame => DataFrame)

final case class Sink(name: String,
                      start: (DataFrame, Option[Trigger]) => StreamingQuery)

/** Spout flow control — the reference negotiator's pause/throttle
  * levers (MasterState.hs SpoutsPaused / Negotiator.hs), expressed
  * as Structured Streaming's per-trigger admission limits: instead of
  * an external coordinator flipping spouts on and off, each
  * micro-batch admits a bounded amount of input, so a backlog drains
  * at a rate state stores and sinks can absorb. The keys are source
  * options: `maxFilesPerTrigger` (file spouts),
  * `maxOffsetsPerTrigger` (kafka/rate spouts).
  */
final case class RateLimit(maxFilesPerTrigger: Option[Int] = None,
                           maxOffsetsPerTrigger: Option[Long] = None) {
  def options: Map[String, String] =
    maxFilesPerTrigger.map(n => "maxFilesPerTrigger" -> n.toString).toMap ++
      maxOffsetsPerTrigger.map(n => "maxOffsetsPerTrigger" -> n.toString).toMap
}

object RateLimit {
  def files(n: Int): RateLimit = RateLimit(maxFilesPerTrigger = Some(n))
  def offsets(n: Long): RateLimit = RateLimit(maxOffsetsPerTrigger = Some(n))
}

/** Stock bolts composable into any topology. */
object Bolts {
  /** Streaming exact dedup — the streaming analog of dd01's
    * fingerprint groupBy: re-deliveries of the same key are dropped
    * via the state store, with state EXPIRED once the watermark
    * passes (dropDuplicatesWithinWatermark) — bounded state on an
    * unbounded stream, which plain dropDuplicates does not give.
    */
  def dedup(keys: Seq[String], eventTimeCol: String, delay: String): Bolt =
    Bolt("dedup", df =>
      df.withWatermark(eventTimeCol, delay)
        .dropDuplicatesWithinWatermark(keys))

  /** Streaming ingest-time dedup against a PERSISTED corpus index —
    * dd10's delta-batch shape, streamed: each micro-batch anti-joins
    * the historical fingerprint set (e.g. `spark.table(<dd10 index>)`,
    * the bucketed table `Dedup.buildFpIndex` maintains), so only
    * never-seen fingerprints pass downstream. Unlike [[dedup]] this
    * holds NO stream state: the "state" is the index on disk, which
    * an ingest pipeline appends to per committed batch — the state
    * store never grows with corpus history. Stream-static `left_anti`
    * is outside Structured Streaming's supported-join matrix, so this
    * composes the supported `left_outer` with an IS NULL filter —
    * the same rows, batch-planned per micro-batch with the static
    * side's pushdown intact.
    */
  def dedupAgainstIndex(index: DataFrame, fpCol: String): Bolt = {
    import org.apache.spark.sql.functions.{col, lit}
    Bolt("dedup-index", df =>
      df.join(index.select(col(fpCol)).withColumn("__seen", lit(1)),
          Seq(fpCol), "left_outer")
        .filter(col("__seen").isNull).drop("__seen"))
  }

  /** [[dedupAgainstIndex]] with a bloom fast path — the 100 TB
    * composition of q53's pruning with the ingest gate. A bloom of
    * the index's fingerprints (hashed to 64 bits first, so string
    * fps bloom fine) is built ONCE at wiring time; per micro-batch,
    * rows the bloom REJECTS are definitely-unseen and pass straight
    * through — no join, no index IO — and only might-contain rows
    * (true dups + the fp-rate sliver) take the exact anti-join. On
    * a mostly-fresh stream (the common ingest case) that converts
    * ~the whole batch from a stream-static join against a
    * corpus-sized index into a narrow codegen'd filter. False
    * positives cost only a redundant exact check; false negatives
    * are impossible AGAINST THE WIRING-TIME SNAPSHOT, so the kept
    * set is identical to dedupAgainstIndex over the same snapshot
    * (spec-asserted).
    *
    * SNAPSHOT contract, unlike the exact bolt: dedupAgainstIndex
    * re-reads the index every micro-batch, so fps appended by a
    * concurrent committer start gating mid-stream; here the bloom is
    * fixed at wiring, and a later-appended fp would take the
    * definitely-unseen fast path unchecked. For an appending index,
    * re-wire the bolt on the commit cycle (the ingest loop's
    * natural cadence — NearDupIngestSink re-derives its gate per
    * batch for exactly this reason) and compose with [[dedup]] for
    * within-stream duplicates; in production the bloom would be the
    * sketch PERSISTED beside the index by the same transaction that
    * appends to it.
    */
  def dedupAgainstIndexBloom(index: DataFrame, fpCol: String,
                             numBits: Int = 1 << 22,
                             numHashes: Int = 5): Bolt = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val bloom = index
      .select(xxhash64(col(fpCol)).as("__k"))
      .agg(graft.functions.GraftFunctions.bloomAgg("__k", numBits, numHashes).as("bf"))
      .head().getAs[Array[Byte]](0)
    val exact = dedupAgainstIndex(index, fpCol)
    Bolt("dedup-index-bloom", df => {
      val tagged = df.withColumn("__k", xxhash64(col(fpCol)))
        .withColumn("__maybe", graft.functions.GraftFunctions
          .bloomMightContain("__k", bloom, numHashes))
        .drop("__k")
      val fresh = tagged.filter(!col("__maybe")).drop("__maybe")
      val checked = exact.transform(tagged.filter(col("__maybe")).drop("__maybe"))
      // the exact path's using-join reorders columns — align by name
      fresh.unionByName(checked)
    })
  }

  /** [[dedupAgainstIndex]] with an EXACT bitmap64 gate — the 100 TB
    * composition where the index's fingerprint domain is 64-bit and
    * range-shaped (sequence ids, snowflake ids): q58's sparse sketch
    * replaces the bloom, membership is exact in BOTH directions, and
    * the bolt needs NO residual join at all — contains → seen →
    * drop; not-contains → definitely-unseen → keep. The whole
    * micro-batch is one narrow codegen'd filter (ThreadLocal-probed
    * unboxed binary search per row; the exact probe measured 5.5×
    * over the bloom path at 1B rows on a range-shaped dim —
    * PLANS.md R6 semi-join probe), where the bloom bolt must still
    * exact-join its might-contain sliver every batch. Sketch size is
    * the dial that picks between the two: run containers make a
    * range-shaped domain ~8 B per contiguous chunk (measured: 25M
    * contiguous keys → 8.3 KB), but a uniformly RANDOM 64-bit domain
    * degrades toward ~2 B/key — there the bloom's fixed bits win and
    * [[dedupAgainstIndexBloom]] is the right gate.
    *
    * SNAPSHOT contract: identical to the bloom bolt — the sketch is
    * fixed at wiring time, so fps a concurrent committer appends to
    * the index do not gate until the bolt is re-wired on the commit
    * cadence (NearDupIngestSink re-derives its gate per batch for
    * exactly this reason); in production the sketch would be
    * PERSISTED beside the index by the appending transaction (q58's
    * sketch-table pattern). Compose with [[dedup]] for within-stream
    * duplicates. The kept set over the wiring-time snapshot is
    * identical to [[dedupAgainstIndex]]'s (spec-asserted).
    */
  def dedupAgainstIndexBitmap64(index: DataFrame, fpCol: String): Bolt = {
    import org.apache.spark.sql.functions.col
    val sketch = index
      .agg(graft.functions.GraftFunctions.bitmap64Agg(fpCol).as("sk"))
      .head().getAs[Array[Byte]](0)
    // null fps pass: Bitmap64Contains is null-safe (null in → null
    // out), and filter(!null) would silently DROP the row — while
    // dedupAgainstIndex's left_anti shape keeps it (a null key joins
    // nothing). The kept-set contract between the bolts covers null
    // fingerprints too.
    Bolt("dedup-index-bitmap64", df =>
      df.filter(col(fpCol).isNull ||
        !graft.functions.GraftFunctions.bitmap64Contains(fpCol, sketch)))
  }

  /** Streaming heavy hitters — the reference topNBolt generalized to
    * UNBOUNDED vocabulary (q47's Misra–Gries summary as stream
    * state). Streaming word count keeps one state row per distinct
    * key ever seen — vocabulary-sized, unbounded on a web-scale
    * token stream. This bolt's state is the single ≤`capacity`-entry
    * mergeable summary (graft_heavy_hitters is a
    * TypedImperativeAggregate, so the state store holds one
    * serialized buffer row TOTAL — spec-asserted via
    * stateOperators.numRowsTotal == 1), and the guarantee line
    * n/(cap+1) degrades gracefully as the stream grows. Update mode
    * emits the summary (total, items[(tok, lb)]) each micro-batch;
    * exact verification, where needed, is a batch re-count over the
    * archived stream (q47's pass 2).
    */
  def heavyHitters(itemCol: String, capacity: Int): Bolt = {
    import org.apache.spark.sql.functions.col
    Bolt("heavy-hitters", df => df.groupBy()
      .agg(graft.functions.GraftFunctions.heavyHitters(itemCol, capacity).as("hh"))
      .select(col("hh.total").as("total"), col("hh.items").as("items")))
  }

  /** Streaming EXACT distinct count via q58's sparse bitmap sketch as
    * stream state: ONE state row holding the mergeable sketch,
    * regardless of how the keys arrive across micro-batches — where
    * `dropDuplicates` holds one STATE ROW per distinct key (row
    * overhead ≫ the ~1.5 B/key the sketch pays, and no watermark can
    * expire state that must stay exact). State grows with the true
    * distinct count — that is what "exact" costs — but as the compact
    * canonical sketch, and the RocksDB backend keeps it off-heap.
    * Update mode emits (n_rows, n_distinct) per micro-batch; the
    * merge is the same associative OR as the batch rollup, so the
    * stream's count after any number of batches equals one batch
    * pass over the archive (spec-asserted).
    */
  def distinctCount(keyCol: String): Bolt = {
    import org.apache.spark.sql.functions.{col, count, lit}
    Bolt("distinct-count", df => df
      .groupBy()
      .agg(graft.functions.GraftFunctions.bitmap64Agg(keyCol).as("sk"),
        count(lit(1)).as("n_rows"))
      .select(col("n_rows"),
        graft.functions.GraftFunctions.bitmap64Count("sk").as("n_distinct")))
  }

  /** Streaming quantile telemetry via q52's bottom-k sampling sketch
    * as stream state: ONE bounded sample row in the state store
    * regardless of rows seen (a per-value streaming aggregate would
    * hold value-cardinality state). The sketch is the k rows with
    * smallest xxhash64 over `idCols` — graft_topk pointed at −hash,
    * whose buffer Structured Streaming merges across micro-batches
    * under the same associative monoid as the batch rollup, so after
    * any number of batches the sample (and thus the estimate) is
    * IDENTICAL to running the bolt's transform over the archived
    * stream in batch (spec-asserted). Values carried at `scale`×
    * fixed point (graft_topk ids are longs); rank error ~1/√k.
    * Update mode emits (n_rows, p50_est, p95_est) each micro-batch.
    */
  def quantileSketch(valueCol: String, idCols: Seq[String], k: Int,
                     scale: Int = 100): Bolt = {
    import org.apache.spark.sql.functions._
    Bolt("quantile-sketch", df => df
      .select((col(valueCol) * scale).cast("long").as("v"),
        (-xxhash64(idCols.map(col): _*).cast("double")).as("nh"))
      .groupBy()
      .agg(graft.functions.GraftFunctions.topK("nh", "v", k).as("sk"),
        count(lit(1)).as("n_rows"))
      .withColumn("vals", array_sort(expr("transform(sk, x -> x.id)")))
      .withColumn("n", size(col("vals")))
      .select(col("n_rows"),
        (element_at(col("vals"),
          greatest(lit(1), ceil(col("n") * 0.5).cast("int"))) / scale.toDouble).as("p50_est"),
        (element_at(col("vals"),
          greatest(lit(1), ceil(col("n") * 0.95).cast("int"))) / scale.toDouble).as("p95_est")))
  }
}

/** State-store backend for a topology's stateful bolts. The default
  * HDFS-backed provider keeps every state row on the executor HEAP —
  * fine for bounded-state bolts (heavyHitters / quantileSketch hold
  * one summary row), but a 100 TB-ingest session/dedup workload holds
  * key-cardinality state, and heap-resident maps of that size mean
  * GC pauses and OOM. RocksDB is the production posture there: state
  * lives off-heap/on-disk with incremental checkpointing, so state
  * size is bounded by local disk, not executor memory. Same
  * exactly-once semantics (the provider slots under the same
  * checkpointed commit protocol); results are identical by contract
  * (spec-asserted), only the storage engine changes.
  */
sealed trait StateBackend { def providerClass: Option[String] }
object StateBackend {
  /** HDFSBackedStateStoreProvider — Spark's heap-resident default. */
  case object Default extends StateBackend {
    val providerClass: Option[String] = None
  }
  /** RocksDB provider (in-tree since Spark 3.2; rocksdbjni ships in
    * the distribution's jars).
    */
  case object RocksDB extends StateBackend {
    val providerClass: Option[String] = Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }
}

final case class Topology(spout: Spout, bolts: Seq[Bolt], sink: Sink,
                          trigger: Option[Trigger] = None,
                          stateBackend: StateBackend = StateBackend.Default) {
  def withBolt(b: Bolt): Topology = copy(bolts = bolts :+ b)

  /** Micro-batch scheduling policy (ProcessingTime cadence,
    * AvailableNow backfill, …) — Structured Streaming's analog of the
    * reference's negotiator-paced snapshot/advance cycle.
    */
  def withTrigger(t: Trigger): Topology = copy(trigger = Some(t))

  /** Run this topology's stateful bolts on a different state-store
    * engine (see [[StateBackend]]).
    */
  def withStateBackend(b: StateBackend): Topology = copy(stateBackend = b)

  /** Compile and launch: the returned query is the running topology.
    * It runs on [[Topology.streamingSession]]'s private clone of
    * `spark`, which carries graft's checkpoint manager and this
    * topology's state backend; the caller's session conf is never
    * touched. The spout opens on the clone, so a source's own log
    * commits through the same manager; the wired plan is transplanted
    * because spouts may close over DataFrames of the caller's session
    * (e.g. a MemoryStream). A temp view the sink registers (a memory
    * sink's result) is shared back to `spark`.
    */
  def run(spark: SparkSession): StreamingQuery = {
    val session = Topology.streamingSession(spark,
      stateBackend.providerClass.map(Topology.StateStoreProviderKey -> _).toSeq: _*)
    val wired = bolts.foldLeft(spout.open(session))((df, b) => b.transform(df))
    SessionBridge.sharingTempViews(session, spark)(
      sink.start(SessionBridge.transplant(session, wired), trigger))
  }
}

object Topology {
  private val StateStoreProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** The session every graft-started stream runs on: a private clone
    * of `s` whose checkpoint commits through
    * [[GraftCheckpointFileManager]] (unless `s` already names a
    * manager, which the clone then keeps), with `confs` overlaid.
    * Query-start confs are captured when the query starts, so they
    * live on the clone: the caller's session conf is never touched,
    * not even transiently, and a concurrent query started on it can
    * never capture them (an earlier set→start→restore under a lock
    * still had that window). The clone shares the SparkContext and
    * catalog and inherits the runtime conf. Streaming listeners
    * registered on `s` by then are added to the clone too, so they
    * keep hearing the streams graft starts for the caller.
    */
  def streamingSession(s: SparkSession, confs: (String, String)*): SparkSession = {
    val manager = GraftCheckpointFileManager.ConfKey -> s.conf
      .getOption(GraftCheckpointFileManager.ConfKey)
      .getOrElse(classOf[GraftCheckpointFileManager].getName)
    val c = SessionBridge.cloneWithConf(s, manager +: confs: _*)
    s.streams.listListeners().foreach(c.streams.addListener)
    c
  }
}

/** The reference's progress vector (Clock.hs:14-15): partition → offset.
  * Here partitions are the streaming source's partition descriptors and
  * offsets come from the checkpointed offset log — the same "how far
  * has every input advanced" contract, maintained transactionally by
  * Structured Streaming instead of a Zookeeper negotiator.
  */
final case class Clock(offsets: Map[String, String]) {
  /** clockGt (Clock.hs:18-24): element-wise strictly-greater with
    * identical key sets — comparable only for numeric offsets.
    */
  def gt(other: Clock): Boolean =
    // an empty clock (no progress yet) is strictly greater than
    // nothing — forall over zero offsets must not read as advancement
    offsets.nonEmpty &&
      offsets.keySet == other.offsets.keySet && offsets.forall { case (k, v) =>
      (for (a <- toLong(v); b <- other.offsets.get(k).flatMap(toLong))
        yield a > b).getOrElse(false)
    }
  private def toLong(s: String): Option[Long] = s.toLongOption
}

object Clock {
  /** Extract the topology's clock from the latest progress. */
  def fromProgress(p: StreamingQueryProgress): Clock =
    if (p == null) Clock(Map.empty)
    else Clock(p.sources.zipWithIndex.map { case (s, i) =>
      s"source-$i" -> String.valueOf(s.endOffset)
    }.toMap)

  def of(q: StreamingQuery): Clock = fromProgress(q.lastProgress)
}
