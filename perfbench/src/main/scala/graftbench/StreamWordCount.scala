package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{ExactlyOnceSink, RateLimit, WordCountTopology}

/** Seeded Zipf text: a fixed vocabulary whose spellings the seed
  * shuffles, drawn with weight 1/rank. Keeps the exact count of every
  * word it emits, so the stream's final top-N can be checked.
  */
final class ZipfCorpus(seed: Long, val vocab: Int = 50000, wordsPerLine: Int = 10) {
  // 4-letter spellings: rank -> (rank * 7919 + offset) mod 26^4 is a
  // bijection (7919 is coprime with 26), so the spellings are distinct
  private val space = 26 * 26 * 26 * 26
  private val offset = java.lang.Math.floorMod(seed * 104729L, space.toLong).toInt
  val words: Array[String] = Array.tabulate(vocab) { r =>
    var x = ((r.toLong * 7919L + offset) % space).toInt
    val c = new Array[Char](4)
    var i = 3
    while (i >= 0) { c(i) = ('a' + x % 26).toChar; x /= 26; i -= 1 }
    new String(c)
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocab)(r => 1.0 / (r + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  val counts = new Array[Long](vocab)

  private def draw(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, vocab - 1)
  }

  /** Write file number `k` with `lines` lines to `staged`, then move it
    * into `dir` atomically; returns the final path.
    */
  def writeFile(dir: String, staging: String, k: Int, lines: Int): String = {
    val rng = new SplittableRandom(seed * 1000003L + k)
    val sb = new java.lang.StringBuilder(lines * wordsPerLine * 5)
    var l = 0
    while (l < lines) {
      var w = 0
      while (w < wordsPerLine) {
        val r = draw(rng)
        counts(r) += 1
        if (w > 0) sb.append(' ')
        sb.append(words(r))
        w += 1
      }
      sb.append('\n')
      l += 1
    }
    val name = f"part-$k%06d.txt"
    val tmp = Paths.get(staging, name)
    Files.writeString(tmp, sb)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE).toString
  }

  /** The exact top-`n` as (word, count), ordered by count desc, word. */
  def topN(n: Int): Seq[(String, Long)] =
    words.indices.filter(counts(_) > 0).map(r => (words(r), counts(r)))
      .sortBy { case (w, c) => (-c, w) }.take(n)
}

/** Workload `stream-wordcount`: the shipped word-count topology
  * (`WordCountTopology.apply` over `fileSpout`, Complete-mode top-20
  * into `ExactlyOnceSink`), one file admitted per trigger.
  *
  *  - drain: a fixed backlog of files; gives rows per second;
  *  - live: one generator thread drops a file every `periodMs` on a
  *    fixed schedule (open loop, under half the drain capacity); the
  *    emit latency of a result runs from the due time of the newest
  *    file it contains to the end of the trigger that committed it;
  *  - restart: the query stops and restarts from its checkpoint while
  *    the generator keeps going, then drains what is left.
  * Checks: the final committed top-20 equals the generator's exact
  * counts, and the sink holds one marker per trigger with no gaps.
  */
object StreamWordCount {
  val topN = 20
  val drainFiles = 10
  val drainLines = 20000
  val liveLines = 5000
  val periodMs = 1000
  // drain-sized warm files: with fewer, drain triggers were still
  // speeding up (JIT) through the drain
  val warmFiles = 3

  private def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L).longValue

  /** Data-carrying progress events, one per batch id. */
  private def batches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)

  private def rowsSoFar(q: StreamingQuery): Long = batches(q).map(_.numInputRows).sum

  private def awaitRows(q: StreamingQuery, target: Long, base: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (base + rowsSoFar(q) < target) {
      q.exception.foreach(e => throw e)
      if (System.currentTimeMillis() > deadline)
        sys.error(s"stream stalled at ${base + rowsSoFar(q)} of $target rows")
      Thread.sleep(10)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    import spark.implicits._

    // ---- set-up: input generation three times, then one warm pass ----
    var corpus: ZipfCorpus = null
    var inDir, staging = ""
    val gens = (1 to 3).map { rep =>
      val t = System.nanoTime()
      if (inDir.nonEmpty) graft.IndexLifecycle.deleteRecursively(inDir)
      corpus = new ZipfCorpus(ctx.seed)
      inDir = ctx.dir(s"in$rep"); staging = ctx.dir(s"staging$rep")
      Seq(inDir, staging).foreach(d => Files.createDirectories(Paths.get(d)))
      (0 until drainFiles).foreach(k => corpus.writeFile(inDir, staging, k, drainLines))
      (System.nanoTime() - t) / 1e9
    }
    // warm pass: the same topology over a private input
    val tw = System.nanoTime()
    val wIn = ctx.dir("warm/in"); val wStage = ctx.dir("warm/staging")
    Seq(wIn, wStage).foreach(d => Files.createDirectories(Paths.get(d)))
    val warmCorpus = new ZipfCorpus(ctx.seed + 7919L)
    (0 until warmFiles).foreach(k => warmCorpus.writeFile(wIn, wStage, k, drainLines))
    val wq = WordCountTopology(WordCountTopology.fileSpout(wIn, RateLimit.files(1)),
      ctx.dir("warm/out"), ctx.dir("warm/ckpt"), topN).run(spark)
    try awaitRows(wq, warmFiles.toLong * drainLines, 0L, 120000L) finally wq.stop()
    graft.IndexLifecycle.deleteRecursively(ctx.dir("warm"))
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = Stats.lowerMedian(gens) + warmS
    val out = ctx.dir("out"); val ckpt = ctx.dir("ckpt")
    def topology() = WordCountTopology(
      WordCountTopology.fileSpout(inDir, RateLimit.files(1)), out, ckpt, topN)

    // ---- drain ----
    val drainTotal = drainFiles.toLong * drainLines
    val windowStart = ctx.beginMeasure()
    val q1 = tr.span("stream.start", "drain")(topology().run(spark))
    tr.span("stream.drain", "drain")(awaitRows(q1, drainTotal, 0L, 150000L))
    val drained = batches(q1)
    // one file per trigger, so a trigger's rows over the gap since the
    // previous trigger ended is its rate; the median gap resists one
    // slow trigger, and the first trigger (it also pays query start-up)
    // has no gap
    val drainRate = {
      val ends = drained.map(endMs)
      val gaps = ends.zip(ends.tail).map { case (a, b) => (b - a).toDouble }
      drainLines / (Stats.lowerMedian(gaps) / 1000.0)
    }

    // ---- live (open loop), then stop / restart while it runs ----
    val liveMs = ctx.seconds * 1000L * 80 / 100
    val liveFiles = math.max(3, (liveMs / periodMs).toInt)
    val restartFiles = math.max(2, (ctx.seconds * 1000L * 10 / 100 / periodMs).toInt)
    val totalLive = liveFiles + restartFiles
    val placed = new Array[Long](totalLive)
    val placedCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val liveStart = System.currentTimeMillis() + periodMs
    def due(i: Int): Long = liveStart + i.toLong * periodMs
    val genErr = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val gen = new Thread(() => {
      try {
        var i = 0
        while (i < totalLive) {
          val wait = due(i) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          corpus.writeFile(inDir, staging, drainFiles + i, liveLines)
          placed(i) = System.currentTimeMillis()
          placedCount.incrementAndGet()
          i += 1
        }
      } catch { case e: Throwable => genErr.set(e) }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    // rows of every file in admission order
    val fileRows = IndexedSeq.fill(drainFiles)(drainLines.toLong) ++
      IndexedSeq.fill(totalLive)(liveLines.toLong)

    // backlog sampling: files placed minus files consumed, at each batch
    var backlogMax = 0
    val liveRowsTarget = drainTotal + liveFiles.toLong * liveLines
    tr.span("stream.live", "live") {
      val deadline = System.currentTimeMillis() + liveMs + 60000L
      while (rowsSoFar(q1) < liveRowsTarget) {
        q1.exception.foreach(e => throw e)
        if (System.currentTimeMillis() > deadline) sys.error("live phase stalled")
        val consumed = Stats.newestFile(fileRows, rowsSoFar(q1)) + 1
        backlogMax = math.max(backlogMax, drainFiles + placedCount.get - consumed)
        Thread.sleep(10)
      }
    }
    tr.span("stream.stop", "restart")(q1.stop())
    // read after the stop: a batch that finished during it still counts
    val firstRun = batches(q1)
    val rowsBeforeStop = firstRun.map(_.numInputRows).sum
    val tRestart = System.currentTimeMillis()
    val q2 = tr.span("stream.restart", "restart")(topology().run(spark))
    val allRows = drainTotal + totalLive.toLong * liveLines
    var restartMs = -1.0
    try {
      tr.span("stream.recover", "restart") {
        val deadline = System.currentTimeMillis() + 120000L
        while (batches(q2).isEmpty) {
          q2.exception.foreach(e => throw e)
          if (System.currentTimeMillis() > deadline) sys.error("restart produced no batch")
          Thread.sleep(5)
        }
        restartMs = (endMs(batches(q2).head) - tRestart).toDouble
        gen.join(ctx.seconds * 1000L + 60000L)
        Option(genErr.get).foreach(e => throw e)
        awaitRows(q2, allRows, rowsBeforeStop, 120000L)
      }
    } finally q2.stop()
    val secondRun = batches(q2)
    val windowEnd = tr.nowUs

    // ---- emit latency of the live results (first incarnation) ----
    val cum = firstRun.scanLeft(0L)(_ + _.numInputRows).tail
    val latencies = firstRun.zip(cum).flatMap { case (p, c) =>
      val f = Stats.newestFile(fileRows, c)
      if (f >= drainFiles) Some((endMs(p) - due(f - drainFiles)).toDouble) else None
    }
    val genLate = (0 until totalLive).map(i => (placed(i) - due(i)).toDouble)

    // ---- checks ----
    val all = firstRun ++ secondRun
    val ids = all.map(_.batchId)
    val committed = ExactlyOnceSink.committed(out)
    var failed = 0L
    val gapFree = ids == (0L until ids.size.toLong) && committed == ids.toSet
    if (!gapFree) {
      ctx.log(s"sink markers ${committed.toSeq.sorted.mkString(",")} != batches ${ids.mkString(",")}")
      failed += 1
    }
    val got = spark.read.parquet(ExactlyOnceSink.batchDir(out, ids.last))
      .as[(String, Long)].collect().toSeq.sortBy { case (w, c) => (-c, w) }
    val want = corpus.topN(topN)
    if (got != want) {
      ctx.log(s"top-$topN mismatch: got ${got.take(5)} want ${want.take(5)}")
      failed += 1
    }

    // ---- layers (engine-reported, so also available untraced) ----
    def phaseP50(k: String) =
      Stats.lowerMedian(all.map(_.durationMs.getOrDefault(k, 0L).longValue.toDouble))
    val state = all.last.stateOperators.headOption
    val stateCommit = all.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)
    val (emitTail, _, _) = Stats.tail(latencies)
    val layers = Map(
      "streaming.add_batch_ms" -> phaseP50("addBatch"),
      "streaming.wal_commit_ms" -> phaseP50("walCommit"),
      "streaming.commit_offsets_ms" -> phaseP50("commitOffsets"),
      "streaming.latest_offset_ms" -> phaseP50("latestOffset"),
      "streaming.query_planning_ms" -> phaseP50("queryPlanning"),
      "streaming.get_batch_ms" -> phaseP50("getBatch"),
      "streaming.trigger_p50_ms" -> phaseP50("triggerExecution"),
      "streaming.triggers" -> all.size.toDouble,
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mem_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.state_commit_ms" -> (if (stateCommit.isEmpty) 0.0 else Stats.lowerMedian(stateCommit)),
      "streaming.restart_ms" -> restartMs,
      "spout.backlog_files_max" -> backlogMax.toDouble,
      "spout.gen_late_ms" -> genLate.max,
      "sink.committed_batches" -> committed.size.toDouble,
      "stream.drain_rows_per_s" -> drainRate,
      "stream.emit_p50_ms" -> Stats.lowerMedian(latencies),
      "stream.emit_tail_ms" -> emitTail)
    Outcome(
      setupS = setupS,
      attempted = all.size.toLong,
      failed = failed,
      throughput = drainRate,
      latenciesMs = latencies,
      windowUs = (windowStart, windowEnd),
      layers = layers,
      untouched = Seq("mergetable.", "table.", "query.", "batch."),
      detail = Seq(
        "gen_reps_s" -> gens, "warm_s" -> warmS, "drain_files" -> drainFiles, "drain_lines" -> drainLines,
        "live_files" -> liveFiles, "restart_files" -> restartFiles,
        "live_lines" -> liveLines, "period_ms" -> periodMs,
        "emit_latencies_ms" -> latencies, "restart_ms" -> restartMs,
        "trigger_ms" -> all.map(_.durationMs.getOrDefault("triggerExecution", 0L).longValue),
        "batches" -> all.size, "top_ok" -> (got == want), "markers_ok" -> gapFree))
  }
}
