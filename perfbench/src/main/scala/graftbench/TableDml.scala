package graftbench

import java.util.SplittableRandom
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.MergeTable

/** The reference model of the keyed table: keys are dense from 0, so
  * plain arrays hold it. Every op applied to the table is applied here
  * too, and every read is checked against it.
  */
final class TableModel(n: Int, capacity: Int) {
  val alive = new java.util.BitSet(capacity)
  alive.set(0, n)
  val v: Array[Long] = Array.tabulate(capacity)(k => TableDml.baseV(k.toLong))
  var nextKey: Long = n.toLong

  def live(lo: Long, hi: Long): Iterator[Int] =
    (lo.toInt to math.min(hi, nextKey - 1).toInt).iterator.filter(alive.get)

  /** (count, sum k, sum v) over keys in [lo, hi]. */
  def band(lo: Long, hi: Long): (Long, Long, Long) =
    live(lo, hi).foldLeft((0L, 0L, 0L)) { case ((c, sk, sv), k) => (c + 1, sk + k, sv + v(k)) }

  /** (count, sum k, sum v, sum (k*v mod p)) over the whole table. */
  def digest: (Long, Long, Long, Long) = {
    var c, sk, sv, kv = 0L
    var k = alive.nextSetBit(0)
    while (k >= 0) {
      c += 1; sk += k; sv += v(k); kv += Math.floorMod(k.toLong * v(k), TableDml.P)
      k = alive.nextSetBit(k + 1)
    }
    (c, sk, sv, kv)
  }
}

/** Workload `table-dml`: one closed-loop client against a keyed
  * MergeTable (`MergeTable.write`, 16 files). Ops come in rounds of a
  * fixed mix whose order and key bands the seed draws: append, banded
  * merge, updateWhere, deleteWhere, compact, 4 scanRange and 3
  * readTable aggregates. Each read is checked against [[TableModel]];
  * so is the final table.
  */
object TableDml {
  val rows = 1000000
  val files = 16
  val P = 1000000007L
  val appendRows = 20000
  val mergeBand = 20000
  val mergeInserts = 2000
  val updateBand = 20000
  val deleteBand = 5000
  val scanBand = 50000
  // 7 of 12 ops are reads, so the median op latency lies inside the
  // read cluster instead of on its edge
  val roundOps: Seq[String] = Seq("append", "merge", "update_where", "delete_where",
    "compact") ++ Seq.fill(4)("scan_range") ++ Seq.fill(3)("read_table")
  val writeOps = Set("append", "merge", "update_where", "delete_where", "compact")

  def baseV(k: Long): Long = k % 997

  private def frame(keys: org.apache.spark.sql.Dataset[_], vExpr: org.apache.spark.sql.Column) =
    keys.toDF().select(col("id").as("k"), vExpr.as("v"),
      concat(lit("s"), (col("id") % 1000).cast("string")).as("s"),
      (col("id") * 0.5).as("d"))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer

    // ---- set-up: write the base table (once: it is the costly input) ----
    val dir = ctx.dir("table")
    val tw0 = System.nanoTime()
    MergeTable.write(spark, frame(spark.range(0L, rows.toLong), col("id") % 997), "k", dir, files)
    val writeS = (System.nanoTime() - tw0) / 1e9
    val baseBytes = dirBytes(dir)
    val bytesPerRow = baseBytes.toDouble / rows
    val rng = new SplittableRandom(ctx.seed)
    // a fixed number of measured rounds for the run length, so every run
    // has the same op mix (a round takes about 3 s on 4 cores)
    val rounds = math.max(1, math.ceil(ctx.seconds / 3.0).toInt)
    // the warm round and the measured rounds add keys past the base rows
    val model = new TableModel(rows, rows + (rounds + 1) * (appendRows + mergeInserts))
    val fallbacks0 = MergeTable.statsJobFallbackCount

    var attempted, failed = 0L
    val lat = collection.mutable.ArrayBuffer.empty[(String, Double, Long)] // op, ms, change rows
    val scanFiles = collection.mutable.ArrayBuffer.empty[Double]
    val scanRows = collection.mutable.ArrayBuffer.empty[Long]

    def bandLo(width: Int): Long = rng.nextLong(math.max(1L, model.nextKey - width))

    def check(what: String, got: Any, want: Any): Boolean =
      if (got == want) true else { ctx.log(s"$what: got $got want $want"); false }

    // the op's span and latency cover the graft call and its action
    // only, never the model's own bookkeeping
    var opMs = 0.0
    def timed[T](kind: String, idx: Int)(body: => T): T = {
      val t = System.nanoTime()
      try tr.span(s"mergetable.$kind", s"op$idx")(body)
      finally opMs = (System.nanoTime() - t) / 1e6
    }

    /** Run one op; returns (ok, change rows). */
    def op(kind: String, idx: Int): (Boolean, Long) = {
      def call[T](body: => T): T = timed(kind, idx)(body)
      kind match {
        case "append" =>
          val lo = model.nextKey
          val hi = lo + appendRows
          call(MergeTable.append(spark, dir, frame(spark.range(lo, hi), col("id") % 997), "k"))
          (lo until hi).foreach(k => model.alive.set(k.toInt))
          model.nextKey = hi
          (true, appendRows.toLong)
        case "merge" =>
          val lo = bandLo(mergeBand)
          val hi = lo + mergeBand
          val salt = idx.toLong
          // U for k % 3 == 0, D for k % 7 == 1 (U wins where both hold),
          // I for a run of new keys; U carries only v (null keeps s, d)
          val band = spark.range(lo, hi).filter(col("id") % 3 === 0 || col("id") % 7 === 1)
            .select(col("id").as("k"),
              when(col("id") % 3 === 0, lit("U")).otherwise(lit("D")).as("op"),
              when(col("id") % 3 === 0, (col("id") * 31 + salt) % 1000).as("v"),
              lit(null).cast("string").as("s"), lit(null).cast("double").as("d"))
          val ins = spark.range(model.nextKey, model.nextKey + mergeInserts)
            .select(col("id").as("k"), lit("I").as("op"), (col("id") % 997).as("v"),
              concat(lit("s"), (col("id") % 1000).cast("string")).as("s"),
              (col("id") * 0.5).as("d"))
          call(MergeTable.merge(spark, dir, band.unionByName(ins), "k"))
          var changed = 0L
          (lo until hi).foreach { k =>
            val i = k.toInt
            if (model.alive.get(i)) {
              if (k % 3 == 0) { model.v(i) = (k * 31 + salt) % 1000; changed += 1 }
              else if (k % 7 == 1) { model.alive.clear(i); changed += 1 }
            }
          }
          (model.nextKey until model.nextKey + mergeInserts).foreach(k => model.alive.set(k.toInt))
          model.nextKey += mergeInserts
          (true, changed + mergeInserts)
        case "update_where" =>
          val lo = bandLo(updateBand)
          val hi = lo + updateBand - 1
          call(MergeTable.updateWhere(spark, dir, "k", "k", Some(lo), Some(hi),
            Map("v" -> (col("v") + 1))))
          val ks = model.live(lo, hi).toSeq
          ks.foreach(k => model.v(k) += 1)
          (true, ks.size.toLong)
        case "delete_where" =>
          val lo = bandLo(deleteBand)
          val hi = lo + deleteBand - 1
          call(MergeTable.deleteWhere(spark, dir, "k", "k", Some(lo), Some(hi)))
          val ks = model.live(lo, hi).toSeq
          ks.foreach(k => model.alive.clear(k))
          (true, ks.size.toLong)
        case "compact" =>
          call(MergeTable.compact(spark, dir, "k", (rows / files).toLong))
          (true, 0L)
        case "scan_range" =>
          val lo = bandLo(scanBand)
          val hi = lo + scanBand - 1
          val r = call(MergeTable.scanRange(spark, dir, "k", lo, hi)
            .agg(count(lit(1)), coalesce(sum("k"), lit(0L)), coalesce(sum("v"), lit(0L))).head())
          // traced only, and outside the timed call: the files the scan plans
          if (tr.enabled)
            scanFiles += MergeTable.scanRange(spark, dir, "k", lo, hi).inputFiles.length.toDouble
          val got = (r.getLong(0), r.getLong(1), r.getLong(2))
          scanRows += got._1
          (check(s"scanRange[$lo,$hi]", got, model.band(lo, hi)), 0L)
        case "read_table" =>
          val r = call(MergeTable.readTable(spark, dir)
            .agg(count(lit(1)), sum("k"), sum("v")).head())
          val got = (r.getLong(0), r.getLong(1), r.getLong(2))
          val (c, sk, sv, _) = model.digest
          (check("readTable", got, (c, sk, sv)), 0L)
      }
    }

    /** `ops` in the seed's order; each op's latency goes to `into`. */
    def run(ops: Seq[String], into: collection.mutable.Buffer[(String, Double, Long)]): Unit =
      shuffle(ops, rng).foreach { kind =>
        val idx = attempted.toInt
        attempted += 1
        opMs = 0.0
        val (ok, changed) =
          try op(kind, idx)
          catch { case e: Exception => ctx.log(s"op $idx $kind failed: $e"); (false, 0L) }
        into += ((kind, opMs, changed))
        if (!ok) failed += 1
      }

    // warm pass (set-up): one full round, unmeasured but checked; with each
    // kind of op once, the first measured round still ran about 30% slower
    val tw = System.nanoTime()
    run(roundOps, collection.mutable.ArrayBuffer.empty)
    val warmS = (System.nanoTime() - tw) / 1e9
    scanFiles.clear(); scanRows.clear()

    // ---- measured ----
    val windowStart = ctx.beginMeasure()
    (1 to rounds).foreach(_ => run(roundOps, lat))
    val windowEnd = tr.nowUs

    // ---- final check: the whole table against the model ----
    attempted += 1
    val fin = MergeTable.readTable(spark, dir).agg(count(lit(1)), sum("k"), sum("v"),
      sum(pmod(col("k") * col("v"), lit(P))), sum("d"),
      sum(col("s").substr(2, 10).cast("long")), sum(col("k") % 1000)).head()
    val (c, sk, sv, kv) = model.digest
    val finalOk = check("final table", (fin.getLong(0), fin.getLong(1), fin.getLong(2),
      fin.getLong(3)), (c, sk, sv, kv)) &&
      check("final d", fin.getDouble(4), sk * 0.5) &&
      check("final s", fin.getLong(5), fin.getLong(6))
    if (!finalOk) failed += 1
    val filesLive = MergeTable.manifest(spark, dir).count().toDouble
    graft.IndexLifecycle.deleteRecursively(dir)

    // ---- per-op layers ----
    tr.quiesce()
    def msOf(kinds: Set[String]) = lat.filter(l => kinds(l._1)).map(_._2).toSeq
    def p50Of(kinds: Set[String]) = Stats.lowerMedian(msOf(kinds))
    def tailOf(kinds: Set[String]) = Stats.tail(msOf(kinds))._1
    val reads = Set("scan_range", "read_table")
    val opSpans = tr.spans.asScala.toSeq
      .filter(s => s.start >= windowStart && s.name.startsWith("mergetable."))
    val jobsByParent = tr.jobs.values.asScala.toSeq.groupBy(_.parent)
    val writeSpans = opSpans.filter(s => writeOps(s.name.stripPrefix("mergetable.")))
    val writeJobs = writeSpans.flatMap(s => jobsByParent.getOrElse(s.id, Nil))
    val nWrites = math.max(1, writeSpans.size)
    val driverOnly = writeSpans.map { s =>
      Stats.uncovered(s.start, s.end,
        jobsByParent.getOrElse(s.id, Nil).filter(_.end > 0).map(j => (j.start, j.end)))
    }.sum / 1000.0
    val changeRows = lat.filter(l => writeOps(l._1)).map(_._3).sum.toDouble
    val scanSpans = opSpans.filter(_.name == "mergetable.scan_range")
    val rowsRead = scanSpans.flatMap(s => jobsByParent.getOrElse(s.id, Nil))
      .map(_.inputRecords.get).sum.toDouble
    val rowsReturned = scanRows.sum.toDouble
    val layers = Map(
      "mergetable.append_ms" -> p50Of(Set("append")),
      "mergetable.merge_ms" -> p50Of(Set("merge")),
      "mergetable.update_where_ms" -> p50Of(Set("update_where")),
      "mergetable.delete_where_ms" -> p50Of(Set("delete_where")),
      "mergetable.compact_ms" -> p50Of(Set("compact")),
      "mergetable.scan_range_ms" -> p50Of(Set("scan_range")),
      "mergetable.read_table_ms" -> p50Of(Set("read_table")),
      "mergetable.jobs_per_write" -> writeJobs.size.toDouble / nWrites,
      "mergetable.driver_only_ms_per_write" -> driverOnly / nWrites,
      "mergetable.bytes_written_per_change_byte" ->
        (if (changeRows > 0) writeJobs.map(_.outputBytes.get).sum / (changeRows * bytesPerRow) else 0.0),
      "mergetable.stats_fallbacks" -> (MergeTable.statsJobFallbackCount - fallbacks0).toDouble,
      "mergetable.files_live" -> filesLive,
      "mergetable.files_read_per_scan" ->
        (if (scanFiles.isEmpty) 0.0 else scanFiles.sum / scanFiles.size),
      "mergetable.rows_returned_per_row_read" -> (if (rowsRead > 0) rowsReturned / rowsRead else 0.0),
      "table.write_p50_ms" -> p50Of(writeOps),
      "table.write_tail_ms" -> tailOf(writeOps),
      "table.read_p50_ms" -> p50Of(reads),
      "table.read_tail_ms" -> tailOf(reads))
    val secs = lat.map(_._2).sum / 1000.0
    Outcome(
      setupS = writeS + warmS,
      attempted = attempted,
      failed = failed,
      throughput = lat.size / secs,
      latenciesMs = lat.map(_._2).toSeq,
      windowUs = (windowStart, windowEnd),
      layers = layers,
      untouched = Seq("streaming.", "spout.", "sink.", "stream.", "query.", "batch."),
      detail = Seq(
        "write_s" -> writeS, "warm_s" -> warmS, "rounds" -> rounds, "rows" -> rows,
        "files" -> files, "base_bytes" -> baseBytes, "final_ok" -> finalOk,
        "ops" -> lat.map { case (k, ms, ch) =>
          ListMap("op" -> k, "ms" -> ms, "change_rows" -> ch) }.toSeq))
  }

  /** Fisher-Yates with the workload's seeded generator. */
  def shuffle[T: scala.reflect.ClassTag](xs: Seq[T], rng: SplittableRandom): Seq[T] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }

  private def dirBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }
}
