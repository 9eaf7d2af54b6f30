package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** Exactly-once output, the reference's central claim (README;
  * Negotiator.hs + SnapshotStore.hs implement it with ZK-coordinated
  * clock-keyed snapshots).
  *
  * Structured Streaming already gives exactly-once state: offsets and
  * state-store versions commit atomically per micro-batch in the
  * checkpoint (the clock+snapshot pair). The remaining seam is the
  * SINK: on recovery a batch may be re-offered. The built-in file
  * sink closes it with its _spark_metadata commit log; for arbitrary
  * sinks the contract is an IDEMPOTENT foreachBatch keyed by batchId
  * — this helper implements that transaction log.
  */
object ExactlyOnceSink {

  private def commitsDir(outDir: String) = Paths.get(outDir, "_commits")

  private def markerOf(outDir: String, batchId: Long) =
    commitsDir(outDir).resolve(s"b$batchId")

  /** The winning write-once dir NAME (`batch=<id>~<token>`) that the
    * commit `marker` of `batchId` names. A missing marker, or a body
    * that is path-shaped or names another batch, raises: a corrupted
    * marker must never alias outside the batch's own namespace, and
    * a sweep must never take the real winner for an orphan. Shared
    * with [[NearDupIngestSink]]'s data phase.
    */
  private[streaming] def winnerOf(outDir: String, marker: java.nio.file.Path,
                                  batchId: Long): String = {
    val body = graft.operators.CommitStore.forDir(outDir).read(marker)
      .map(b => new String(b, "UTF-8").trim)
      .getOrElse(throw new IllegalStateException(
        s"batch $batchId has no commit marker $marker"))
    if (!body.startsWith(s"batch=$batchId~") ||
        body.contains('/') || body.contains('\\'))
      throw new IllegalStateException(
        s"commit marker $marker names '$body', not a batch=$batchId~<token> dir")
    body
  }

  /** The committed data dir for `batchId`: the dir its marker names
    * (see [[winnerOf]] for the failure modes).
    */
  def batchDir(outDir: String, batchId: Long): String =
    s"$outDir/${winnerOf(outDir, markerOf(outDir, batchId), batchId)}"

  /** Returns a foreachBatch function writing each micro-batch under
    * `outDir` exactly once: a batch already recorded in the commit
    * log is skipped on redelivery, so replays after a crash cannot
    * duplicate output. WRITE-ONCE discipline (r17): each attempt
    * lands in its own tokened `batch=<id>~<token>` dir and one
    * putIfAbsent of that NAME commits it — a zombie replay that
    * loses the race deletes its OWN attempt and can never touch the
    * winner's bytes (the pre-r17 in-place overwrite of `batch=<id>`
    * let a zombie dying mid-write tear an already-committed batch).
    * The winner sweeps earlier crashed attempts' orphan dirs; a
    * zombie's attempt swept mid-write just fails the zombie's job.
    *
    * The log is one marker FILE per batch (`_commits/b<id>`) through
    * the [[graft.operators.CommitStore]] seam — not an append-only
    * line file, because APPEND is the other POSIX-only primitive
    * (object stores have no append, and a torn concurrent append can
    * corrupt every earlier line). Readers resolve dirs via [[batchDir]].
    */
  def toDir(outDir: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      Files.createDirectories(Paths.get(outDir))
      val store = graft.operators.CommitStore.forDir(outDir)
      val marker = markerOf(outDir, batchId)
      // O(1) fast path on the batch's own marker — the full
      // committed() listing grows with stream lifetime and was being
      // paid per micro-batch
      if (!store.exists(marker)) {
        val name = s"batch=$batchId~${graft.operators.WriterToken.next()}"
        batch.write.parquet(s"$outDir/$name")
        if (store.putIfAbsent(marker, (name + "\n").getBytes("UTF-8")))
          sweepAttempts(outDir, batchId, keep = name)
        else graft.IndexLifecycle.deleteRecursively(s"$outDir/$name")
      } else {
        // Opportunistic sweep on the redelivery path: a crashed LOSER
        // (finished its parquet write, died before its self-delete)
        // is invisible to the winner's commit-time sweep — this batch
        // id never commits again, so redelivery is the one later
        // moment anyone looks at it. Redeliveries only happen at
        // recovery, so the listing is paid per restart, not per batch.
        sweepAttempts(outDir, batchId, keep = winnerOf(outDir, marker, batchId))
      }
    }

  /** Reclaim `batch=<id>~*` dirs of crashed earlier attempts once a
    * winner is named — keeps debris bounded without a per-batch
    * directory listing on the skip path. Shared with
    * [[NearDupIngestSink]]'s data phase.
    */
  private[streaming] def sweepAttempts(outDir: String, batchId: Long, keep: String): Unit = {
    val p = Paths.get(outDir)
    if (!Files.isDirectory(p)) return
    val ls = Files.list(p)
    try ls.iterator().asScala.foreach { e =>
      val n = e.getFileName.toString
      if (n.startsWith(s"batch=$batchId~") && n != keep)
        graft.IndexLifecycle.deleteRecursively(e.toString)
    } finally ls.close()
  }

  /** Committed batch ids (the sink-side clock): the `_commits/b<id>`
    * markers.
    */
  def committed(outDir: String): Set[Long] =
    graft.operators.CommitStore.forDir(outDir)
      .list(commitsDir(outDir))
      .flatMap(n => if (n.startsWith("b")) n.drop(1).toLongOption else None)
      .toSet

  /** Drop a batch's commit (marker or data dirs may outlive the other
    * by a crash; all are removed, marker first so the id leaves the
    * committed clock before its bytes do). ALL of the id's dirs go:
    * the winner's tokened dir and any crashed-loser attempt orphans —
    * so retiring an id cannot strand a loser dir whose id never
    * commits again. For retention sweeps of snapshot-style sinks.
    */
  private[streaming] def retire(outDir: String, batchId: Long): Unit = {
    graft.operators.CommitStore.forDir(outDir).delete(markerOf(outDir, batchId))
    sweepAttempts(outDir, batchId, keep = "") // "" matches no tokened name
  }

  /** Reclaim every `batch=*` dir that is not the committed winner of
    * an id in `keep` — crashed-retire leftovers (marker deleted, dir
    * delete never ran) and loser orphans of kept ids alike. Only for
    * BOUNDED snapshot-style sinks ([[TopNUpdateSink]]'s retention
    * keeps the dir at ~`keepSnapshots` entries, so the listing is
    * O(keep), not O(stream lifetime)); delta-style sinks keep every
    * batch and never call this. Deleting a live zombie attempt for a
    * kept id just fails the zombie's job — the documented posture. A
    * kept id whose marker fails [[winnerOf]] raises before anything
    * is deleted.
    */
  private[streaming] def sweepOrphans(outDir: String, keep: Set[Long]): Unit = {
    val p = Paths.get(outDir)
    if (!Files.isDirectory(p)) return
    val winners: Map[Long, String] = keep.iterator.map { id =>
      id -> Paths.get(batchDir(outDir, id)).getFileName.toString
    }.toMap
    val ls = Files.list(p)
    try ls.iterator().asScala.foreach { e =>
      val n = e.getFileName.toString
      val doomed = n.startsWith("batch=") &&
        n.stripPrefix("batch=").takeWhile(_ != '~').toLongOption
          .exists(id => !winners.get(id).contains(n))
      if (doomed) graft.IndexLifecycle.deleteRecursively(e.toString)
    } finally ls.close()
  }
}

/** The reference topNBolt as a SINK-side bounded state machine for
  * UPDATE-mode count streams: each micro-batch delivers only the keys
  * whose counts changed (each row carrying its full current total),
  * which are max-merged into a [[TopN]] monoid of size `n` — so
  * per-batch sink work is O(changed keys + n), not a re-sort of the
  * whole vocabulary as in the Complete-mode path.
  *
  * Exactness: update rows carry full totals and totals only grow, so
  * an evicted key re-enters the moment its total beats the current
  * minimum — the same bounded-PSQueue argument as the reference's
  * topNBolt (WordCountSample.hs:118-216). The same monotonicity makes
  * redelivered batches idempotent (max-merge of already-seen totals
  * is a no-op), and recovery restores state from the last committed
  * top file before replay.
  */
final class TopNUpdateSink(outDir: String, n: Int) extends Serializable {
  require(n > 0, s"TopNUpdateSink wants n > 0, got $n") // n=0 would
  // select the pruning branch on an EMPTY state map and die on
  // .values.min at the first batch — fail at construction instead
  private val monoid = TopN(n)
  @transient private var state: Map[String, Long] = null
  /** Rows the last batch actually delivered to the driver (after the
    * threshold pushdown) — observability for the bounded-intake spec.
    */
  @transient private[streaming] var lastIntakeRows: Long = -1L

  def apply(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (state == null) state = restore(spark)
    // Threshold pushdown: once the bounded state is FULL, a row can
    // only change the top-N by beating its minimum ELEMENT under the
    // result ordering (cnt desc, word asc) — strictly more count, or
    // equal count and the word tie-break. Every such row has
    // cnt ≥ min, so `cnt >= min` is a conservative SUPERSET filter:
    // exact (the driver-side monoid applies the full ordering to
    // whatever arrives) without comparing strings on the executors,
    // where Spark's UTF8String binary order can disagree with the
    // driver's UTF-16 String order outside the BMP. A refresh of an
    // in-state key always qualifies (totals only grow). Filtered on
    // the EXECUTORS, so driver intake is O(contenders + min-count
    // ties), not O(changed keys) — a backlog replay with a
    // million-key vocabulary delivers only its contenders.
    val pruned =
      if (state.size >= n)
        batch.filter(org.apache.spark.sql.functions.col("cnt") >= state.values.min)
      else batch
    val collected = pruned.collect()
    lastIntakeRows = collected.length.toLong
    val updates = collected.map(r => r.getString(0) -> r.getLong(1)).toMap
    state = monoid.combine(state, updates)
    import spark.implicits._
    val top = state.toSeq.sortBy { case (k, v) => (-v, k) }.toDF("word", "cnt")
    ExactlyOnceSink.toDir(outDir)(top, batchId)
    // retention: each batch writes a FULL top-N snapshot and only the
    // newest is ever restored, so the older (marker, dir) pairs are
    // reclaimed — otherwise a 1 s-trigger stream accretes ~86k
    // snapshot dirs/day, and ext4 directories never shrink after
    // such entry peaks. Delta-style sinks (toDir users whose batches
    // are each real output) keep everything; snapshots don't.
    val ids = ExactlyOnceSink.committed(outDir).toSeq.sorted
    ids.dropRight(keepSnapshots).foreach(ExactlyOnceSink.retire(outDir, _))
    // heal crash debris the per-id paths can't see: a retire that died
    // between marker-delete and dir-delete stranded a dir whose id is
    // no longer committed (and never will be again). The dir is
    // retention-bounded, so this listing is O(keepSnapshots + debris).
    ExactlyOnceSink.sweepOrphans(outDir, ids.takeRight(keepSnapshots).toSet)
  }

  private val keepSnapshots = 8

  private def restore(spark: org.apache.spark.sql.SparkSession): Map[String, Long] = {
    val ids = ExactlyOnceSink.committed(outDir)
    if (ids.isEmpty) monoid.empty
    else spark.read.parquet(ExactlyOnceSink.batchDir(outDir, ids.max))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}

/** Streaming ingest with NEAR-dup admission and index commit — the
  * full ingest-time loop the dedup family builds toward, streamed:
  * each micro-batch of (doc_id, text) documents is gated against the
  * PERSISTED LSH band index ([[graft.dedup.Dedup.buildLshIndex]]'s two
  * MergeTables under one root — every index commit rides the table
  * log's generation CAS since the r19 migration), admitted docs are
  * written exactly-once, and the admitted docs' signatures+band keys
  * are COMMITTED BACK to the index so the next batch is gated by this
  * one. [[Bolts.dedupAgainstIndex]]
  * is this loop's exact-fingerprint little sibling (gate only, no
  * commit); this sink closes the write→commit cycle on the
  * approximate path. Like that bolt it holds ZERO stream state — all
  * history lives in the on-disk index, so state-store size is
  * independent of corpus age, and per-batch cost is
  * ∝ batch × band collisions ([[graft.dedup.Dedup.neardupDelta]]'s
  * contract — corpus text is never rescanned).
  *
  * Exactly-once: a TWO-PHASE batch log (`data` then `index` markers
  * per batchId — the clock-keyed snapshot discipline of the
  * reference's Negotiator.hs, applied to a sink with two effects). On replay a
  * batch past `data` skips re-gating (the gate would otherwise see
  * the batch's OWN signatures in the index and drop everything) and
  * resumes at the index phase, re-reading the committed output as the
  * source of truth; a batch past `index` is a no-op. The only
  * post-crash artifact is possible duplicate index rows (append ran,
  * crash before the `index` mark) — harmless to gating: duplicate
  * band/sig rows re-yield the same candidate pairs.
  *
  * Semantics notes (both inherited from the dd04/dd11 design): docs
  * under 3 tokens have no signature — they are admitted unexamined
  * and never indexed; and docs WITHIN one batch are not gated against
  * each other, only against the committed index (an intra-batch
  * near-dup pair lands together, like the reference's bolts, which
  * see one tuple at a time against committed state).
  */
final class NearDupIngestSink(indexDir: String, outDir: String,
                              tau: Double = 0.5) extends Serializable {
  import org.apache.spark.sql.functions.col

  // one marker FILE per (batch, phase) through the CommitStore seam —
  // see ExactlyOnceSink.toDir's rationale (append is POSIX-only)
  private def marksDir = Paths.get(outDir, "_phasemarks")

  private def phases(batchId: Long): Set[String] = {
    // O(1) exact-name existence probes (marker names are exactly
    // b<id>-<phase>, so PosixCommitStore's crash-staging debris
    // `b<id>-data.tmp-<nonce>` can never match); the pre-r17 full
    // listing of _phasemarks grew with stream lifetime and was paid
    // per micro-batch
    val store = graft.operators.CommitStore.forDir(outDir)
    Set("data", "index")
      .filter(ph => store.exists(marksDir.resolve(s"b$batchId-$ph")))
  }

  private def mark(batchId: Long, phase: String, body: String = ""): Unit =
    graft.operators.CommitStore.forDir(outDir)
      .putIfAbsent(marksDir.resolve(s"b$batchId-$phase"),
        body.getBytes("UTF-8")): Unit

  /** The committed admitted-docs dir for `batchId`: the `data` marker
    * body names the winning tokened dir (write-once, and failing
    * loudly on a missing or corrupted marker, as in
    * [[ExactlyOnceSink.batchDir]]).
    */
  def dataDirOf(batchId: Long): String = s"$outDir/${dataWinner(batchId)}"

  private def dataWinner(batchId: Long): String =
    ExactlyOnceSink.winnerOf(outDir, marksDir.resolve(s"b$batchId-data"), batchId)

  /** Redelivery-path orphan sweep (ExactlyOnceSink.toDir's r18
    * discipline): a crashed data-phase LOSER — which re-gated against
    * an index already holding this batch's signatures and so wrote a
    * near-EMPTY admitted set — postdates the winner's commit-time
    * sweep and would otherwise survive forever; a consumer listing
    * this delta-style sink's `batch=*` dirs would read it alongside
    * the winner. Paid only at recovery (redeliveries), never per
    * live batch.
    */
  private def sweepLosers(batchId: Long): Unit =
    ExactlyOnceSink.sweepAttempts(outDir, batchId, keep = dataWinner(batchId))

  def apply(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    Files.createDirectories(Paths.get(outDir))
    val done = phases(batchId)
    if (done.contains("index")) { sweepLosers(batchId); return } // replay no-op
    if (done.contains("data")) sweepLosers(batchId)
    if (!done.contains("data")) {
      val dupes = graft.dedup.Dedup
        .neardupDelta(s, graft.dedup.Dedup.sigsOf(batch), indexDir, tau)
        .select(col("delta_id").as("doc_id")).distinct()
      // write-once: this attempt's own tokened dir; the data marker's
      // putIfAbsent names the winner. The pre-r17 in-place overwrite
      // let a ZOMBIE replay racing a new driver re-gate against an
      // index that already holds this batch's signatures — judging
      // every doc a self-near-dup and overwriting the committed
      // output with an EMPTY admitted set under green markers.
      val name = s"batch=$batchId~${graft.operators.WriterToken.next()}"
      batch.join(dupes, Seq("doc_id"), "left_anti")
        .write.parquet(s"$outDir/$name")
      if (graft.operators.CommitStore.forDir(outDir)
          .putIfAbsent(marksDir.resolve(s"b$batchId-data"),
            (name + "\n").getBytes("UTF-8")))
        ExactlyOnceSink.sweepAttempts(outDir, batchId, keep = name)
      else graft.IndexLifecycle.deleteRecursively(s"$outDir/$name")
    }
    // index phase reads the COMMITTED output back, never the live
    // batch — so a replay resuming here indexes exactly what phase 1
    // admitted, even if the in-flight batch could re-gate differently
    graft.dedup.Dedup.appendToLshIndex(s, indexDir,
      graft.dedup.Dedup.sigsOf(s.read.parquet(dataDirOf(batchId))))
    mark(batchId, "index")
  }

  /** Committed (fully ingested) batch ids. */
  def committed: Set[Long] =
    graft.operators.CommitStore.forDir(outDir)
      .list(marksDir)
      .collect { case n if n.startsWith("b") && n.endsWith("-index") =>
        n.stripPrefix("b").stripSuffix("-index") }
      .flatMap(_.toLongOption).toSet
}

object NearDupIngestSink {
  /** Topology-composable form. */
  def sink(indexDir: String, outDir: String, checkpoint: String,
           tau: Double = 0.5): Sink = {
    val s = new NearDupIngestSink(indexDir, outDir, tau)
    Sink("neardup-ingest", (df, trigger) => {
      val w = df.writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: DataFrame, batchId: Long) => s(batch, batchId) }
      trigger.foreach(w.trigger)
      w.start()
    })
  }
}
