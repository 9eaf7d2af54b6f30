package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are microseconds since the epoch;
  * `parent` is 0 for a root span; `req` is the request id (op index,
  * query key or streaming batch id).
  */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long,
                      req: String)

/** Per-job task totals gathered by the listener. */
final class JobAgg(val id: Int, val parent: Long, val batch: Option[Long], val start: Long) {
  @volatile var end: Long = -1L
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val outputBytes = new AtomicLong
}

/** Spans and layer counters, kept in memory and written when the run
  * ends. With `enabled = false` every hook is a no-op and no listener
  * is registered, so the untraced run measures the program alone.
  */
final class Tracer(val enabled: Boolean) {
  private val wall0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = wall0 + (System.nanoTime() - nano0) / 1000L

  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile private var spark: SparkSession = _

  val jobs = new ConcurrentHashMap[Int, JobAgg]()
  private val stageJob = new ConcurrentHashMap[Int, JobAgg]()
  val progress = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  /** (received at, analysis ms, optimization ms, planning ms) */
  val catalyst = new ConcurrentLinkedQueue[(Long, Double, Double, Double)]()
  private val lastEvent = new AtomicLong

  def newId(): Long = ids.incrementAndGet()

  /** Time `body` as a span under the calling thread's current span.
    * The span id rides on the Spark local property `graftbench.span`,
    * so jobs the body launches become its children.
    */
  def span[T](name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      setProp(id)
      val s = nowUs
      try body
      finally {
        spans.add(Span(id, parent, name, s, nowUs, req))
        stack.set(stack.get.tail)
        setProp(parent)
      }
    }

  private def setProp(id: Long): Unit =
    if (spark != null) spark.sparkContext.setLocalProperty("graftbench.span",
      if (id == 0L) null else id.toString)

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(sparkListener)
    s.streams.addListener(streamListener)
    s.listenerManager.register(qeListener)
  }

  /** A newSession() shares the SparkContext but not the query-execution
    * listener manager; register the catalyst hook on each one.
    */
  def attachSession(s: SparkSession): Unit =
    if (enabled) s.listenerManager.register(qeListener)

  /** Wait until the listener bus has delivered every job end seen so
    * far and stayed quiet briefly (events arrive asynchronously).
    */
  def quiesce(maxMs: Long = 5000L): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + maxMs
    def open = jobs.values.asScala.exists(_.end < 0)
    while (System.currentTimeMillis() < deadline &&
      (open || System.currentTimeMillis() - lastEvent.get < 200)) Thread.sleep(20)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      lastEvent.set(System.currentTimeMillis())
      val props = Option(js.properties)
      val parent = props.flatMap(p => Option(p.getProperty("graftbench.span")))
        .flatMap(_.toLongOption).getOrElse(0L)
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .flatMap(_.toLongOption)
      val agg = new JobAgg(js.jobId, parent, batch, js.time * 1000L)
      jobs.put(js.jobId, agg)
      js.stageIds.foreach(sid => stageJob.put(sid, agg))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      lastEvent.set(System.currentTimeMillis())
      Option(jobs.get(je.jobId)).foreach(_.end = je.time * 1000L)
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(sc.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      lastEvent.set(System.currentTimeMillis())
      val agg = stageJob.get(te.stageId)
      val m = te.taskMetrics
      if (agg != null && m != null) {
        agg.tasks.incrementAndGet()
        agg.runMs.addAndGet(m.executorRunTime)
        agg.cpuNs.addAndGet(m.executorCpuTime)
        agg.gcMs.addAndGet(m.jvmGCTime)
        agg.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        agg.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        agg.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        agg.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        agg.inputRecords.addAndGet(m.inputMetrics.recordsRead)
        agg.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      catalyst.add((nowUs, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((nowUs, e.progress))
  }

  /** Jobs whose start falls in [from, to] (microseconds). */
  def jobsIn(from: Long, to: Long): Seq[JobAgg] =
    jobs.values.asScala.toSeq.filter(j => j.start >= from && j.start <= to)

  /** Child spans for a streaming trigger: the trigger itself and its
    * engine-reported phases laid end to end in execution order (the
    * phase durations are exact; their offsets inside the trigger are
    * approximate). Jobs of the batch are linked by batch id.
    */
  private def addTrigger(p: StreamingQueryProgress): Unit = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue * 1000L }
    val total = d.getOrElse("triggerExecution", 0L)
    val id = newId()
    val req = p.batchId.toString
    spans.add(Span(id, 0L, "streaming.trigger", start, start + total, req))
    var t = start
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { k =>
        val dur = d.getOrElse(k, 0L)
        if (dur > 0) spans.add(Span(newId(), id, s"streaming.$k", t, t + dur, req))
        t += dur
      }
    jobs.values.asScala.filter(_.batch.contains(p.batchId)).foreach { j =>
      if (j.end > 0) spans.add(Span(newId(), id, "spark.job", j.start, j.end, req))
    }
  }

  /** Spark jobs become spans under the span that launched them, and
    * each streaming progress event becomes a trigger span.
    */
  def addJobSpans(): Unit = if (enabled) {
    jobs.values.asScala.filter(j => j.batch.isEmpty && j.end > 0).foreach { j =>
      spans.add(Span(newId(), j.parent, "spark.job", j.start, j.end, s"job${j.id}"))
    }
    progress.asScala.map(_._2).filter(_.numInputRows > 0).foreach(addTrigger)
  }

  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    val all = spans.asScala.toSeq.sortBy(s => (s.start, s.id))
    val self = Stats.selfTimes(all)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(Main.json.writeValueAsString(ListMap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end, "req" -> s.req,
        "self_us" -> self.getOrElse(s.id, 0L))))
      w.write("\n")
    } finally w.close()
  }
}
