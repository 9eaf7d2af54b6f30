package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What a workload hands back to [[Main]]. Latencies are in ms; the
  * measured window is in tracer microseconds. `untouched` names the
  * per-layer prefixes the workload never exercises: those layers read 0
  * (its no-change prediction), and any other layer it leaves out fails
  * the run.
  */
final case class Outcome(
    setupS: Double,
    attempted: Long,
    failed: Long,
    throughput: Double,
    latenciesMs: Seq[Double],
    windowUs: (Long, Long),
    layers: Map[String, Double],
    untouched: Seq[String],
    detail: Seq[(String, Any)])

/** Everything a workload needs: the session, the tracer, its seed and
  * run length, a private scratch directory under the checkout, and the
  * batch corpus shipped with the benchmark (read-only).
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Int, val work: Path, val data: String) {
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** The host calibration stamp taken when set-up ends (its first run
    * compiles the plan; the second is the stamp).
    */
  var calibBefore: Double = 0.0

  /** Call when set-up ends: stamps the host and opens the measured
    * window (and the heap peak), returning its start in tracer time.
    */
  def beginMeasure(): Long = {
    Main.calib(spark)
    calibBefore = Main.calib(spark)
    Heap.reset()
    tracer.nowUs
  }
}

/** One workload for one seed:
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --bench <BENCHMARK.json> --data <corpus dir>
  *                   --work <scratch dir> --out <record dir>
  * The last stdout line is the result JSON, with the metrics BENCHMARK.json
  * names in its order; a failed op or check exits 1.
  */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "stream-wordcount" -> StreamWordCount.run,
    "table-dml" -> TableDml.run,
    "batch-suite" -> BatchSuite.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = opts.get("seed").map(_.toLong).getOrElse(1L)
    val seconds = opts.get("seconds").map(_.toInt).getOrElse(10)
    val trace = opts.get("trace").contains("1")
    val work = Paths.get(opts.getOrElse("work", sys.error("--work is required"))).toAbsolutePath
    val out = Paths.get(opts.getOrElse("out", sys.error("--out is required"))).toAbsolutePath
    val data = opts.getOrElse("data", sys.error("--data is required"))
    val bench = json.readTree(Paths.get(opts.getOrElse("bench", sys.error("--bench is required"))).toFile)
    def declared(key: String): Seq[(String, String)] =
      bench.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    SelfCheck.run()
    Files.createDirectories(work)
    Files.createDirectories(out)
    val cpus = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(trace)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    tracer.attach(spark)
    val ctx = new Ctx(spark, tracer, seed, seconds, work, data)

    var rc = 0
    try {
      val o = wl(ctx)
      val heapMb = Heap.peakMb()
      val calibBefore = ctx.calibBefore
      val calibAfter = calib(spark)
      tracer.quiesce()
      tracer.addJobSpans()
      val setupS = sessionS + o.setupS
      val p50 = Stats.lowerMedian(o.latenciesMs)
      val (tailV, tailP, tailN) = Stats.tail(o.latenciesMs)
      val e2e = Map(
        "setup_s" -> setupS,
        "throughput_per_s" -> o.throughput,
        "latency_p50_ms" -> p50,
        "latency_tail_ms" -> tailV)
      val layers = o.layers ++ sparkLayers(tracer, o.windowUs) ++ Map(
        "jvm.heap_peak_mb" -> heapMb,
        "host.calib_before_ms" -> calibBefore,
        "host.calib_after_ms" -> calibAfter)
      val values = if (trace) layers else e2e
      val metrics = ListMap(declared(if (trace) "per_layer" else "end_to_end").map { case (k, unit) =>
        val v = values.getOrElse(k,
          if (trace && o.untouched.exists(k.startsWith)) 0.0
          else sys.error(s"$name measured no value for metric $k"))
        k -> ListMap("value" -> v, "unit" -> unit)
      }: _*)
      val correct = o.failed == 0
      val detail = ListMap[String, Any](
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "cpus" -> cpus, "session_s" -> sessionS,
        "tail_percentile" -> tailP, "latency_samples" -> tailN,
        "end_to_end" -> ListMap(e2e.toSeq.sortBy(_._1): _*),
        "per_layer" -> ListMap(layers.toSeq.sortBy(_._1): _*)) ++ o.detail
      // tracing overhead: this traced run's end-to-end figures over those
      // of the untraced run of the same workload and seed, when one exists
      val untraced = out.resolve(s"$name-seed$seed-trace0.json")
      val overhead = if (trace && Files.exists(untraced)) {
        val base = json.readTree(untraced.toFile).get("end_to_end")
        Seq("tracing_overhead" -> ListMap(e2e.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> v / base.get(k).asDouble() }: _*))
      } else Nil
      val tag = s"$name-seed$seed-trace${if (trace) 1 else 0}"
      Files.writeString(out.resolve(s"$tag.json"), json.writeValueAsString(detail ++ overhead) + "\n")
      tracer.writeSpans(out.resolve(s"$tag.spans.jsonl"))
      ctx.log(f"$name seed=$seed: tail is p$tailP%.1f of $tailN samples; " +
        f"calib ${calibBefore}%.0f -> ${calibAfter}%.0f ms; detail in $out")
      if (!correct) rc = 1
      println(json.writeValueAsString(ListMap("correct" -> correct, "attempted" -> o.attempted,
        "failed" -> o.failed, "metrics" -> metrics)))
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        rc = 1
    } finally {
      spark.stop()
      graft.IndexLifecycle.deleteRecursively(work.toString)
    }
    System.out.flush()
    sys.exit(rc)
  }

  /** Reads BENCHMARK.json and writes the result line, the detail record
    * and the spans; Scala maps keep their order (ListMap).
    */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Host calibration stamp: a fixed-plan, zero-IO job (generated
    * range, hashing, one shuffle). A diagnostic of the machine's state
    * beside the metrics, never an end-to-end metric.
    */
  def calib(spark: SparkSession): Double = {
    val t = System.nanoTime()
    val base = spark.range(0L, 4L * 1000 * 1000, 1L, 16)
    val hashed = (1 to 4).foldLeft(base.select(col("id"), col("id").as("h"))) {
      (df, _) => df.withColumn("h", xxhash64(col("h"), col("id")))
    }
    hashed.groupBy(pmod(col("h"), lit(256)).as("b"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t) / 1e6
  }

  /** The `spark.*` and `catalyst.*` layers over the measured window. */
  def sparkLayers(tr: Tracer, window: (Long, Long)): Map[String, Double] = {
    val (from, to) = window
    val js = tr.jobsIn(from, to)
    def sum(f: JobAgg => Long): Double = js.map(f).sum.toDouble
    val cat = tr.catalyst.asScala.toSeq.filter { case (t, _, _, _) => t >= from && t <= to }
    val jobSpans = js.filter(_.end > 0).map(j => (j.start, j.end))
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> sum(_.stages.get),
      "spark.tasks" -> sum(_.tasks.get),
      "spark.task_run_ms" -> sum(_.runMs.get),
      "spark.task_cpu_ms" -> sum(_.cpuNs.get) / 1e6,
      "spark.gc_ms" -> sum(_.gcMs.get),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite.get),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead.get),
      "spark.spill_bytes" -> sum(_.spill.get),
      "spark.input_bytes" -> sum(_.inputBytes.get),
      "spark.output_bytes" -> sum(_.outputBytes.get),
      "spark.driver_only_ms" -> (if (tr.enabled) Stats.uncovered(from, to, jobSpans) / 1000.0 else 0.0),
      "catalyst.analysis_ms" -> cat.map(_._2).sum,
      "catalyst.optimization_ms" -> cat.map(_._3).sum,
      "catalyst.planning_ms" -> cat.map(_._4).sum)
  }
}

/** Peak heap since the measured window opened, from the JVM's heap pools. */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb(): Double = pools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
