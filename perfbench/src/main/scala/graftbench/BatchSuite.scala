package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.SparkEntry

/** Workload `batch-suite`: the 13 registered queries of [[suite]] over
  * graft's sf0.01 test corpus, shipped with the benchmark. Each query
  * runs on a fresh session with the cache cleared (warm code, cold
  * data); the seed only permutes the query order. One warm pass belongs
  * to set-up; measured passes repeat while another one fits in the run
  * length (at least one).
  */
object BatchSuite {

  /** The 13 suite queries, keyed as `SparkEntry.queries` names them. */
  val suite: Seq[String] = Seq(
    "q01_wordcount", "q03_topn_group", "q04_agg", "q07_join_shuffle",
    "q17_sessionize", "q23_percentiles", "dd02_ngram_jaccard",
    "dd08_embed_neardup_ivf", "ann02_ivf_topk", "tx17_bigram_lp",
    "pp11_full_build", "pr01_pagerank", "pr02_triangles")

  /** The corpus tables the suite reads. */
  val tables: Seq[String] = Seq("orders", "lineitem", "documents", "embeddings", "events")

  /** Order-insensitive digest of a result: row count and a hash of the
    * sorted rendered rows.
    */
  def digest(rows: Array[Row]): String =
    s"${rows.length}:${scala.util.hashing.MurmurHash3.seqHash(rows.map(_.toString).sorted.toSeq)}"

  /** Digests pinned from a run on the shipped corpus whose outputs matched
    * DuckDB through the queries' oracle SQL (`tools/check.py` passed all 11
    * that have one); dd08 and ann02 have no oracle and pin their row counts.
    */
  val pinned: Map[String, String] = Map(
    "q01_wordcount" -> "31:-818020674",
    "q03_topn_group" -> "25:2044905091",
    "q04_agg" -> "6:700033708",
    "q07_join_shuffle" -> "5:1679088564",
    "q17_sessionize" -> "150:-269603642",
    "q23_percentiles" -> "3:-1786617367",
    "dd02_ngram_jaccard" -> "25:2045188949",
    "dd08_embed_neardup_ivf" -> "228",
    "ann02_ivf_topk" -> "50",
    "tx17_bigram_lp" -> "500:891054373",
    "pp11_full_build" -> "3:-595287946",
    "pr01_pagerank" -> "25:-1484437333",
    "pr02_triangles" -> "2000:-882298601")

  def matches(q: String, got: String): Boolean = {
    val pin = pinned(q)
    if (pin.contains(':')) pin == got else got.takeWhile(_ != ':') == pin
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer

    // ---- set-up: a private copy of the corpus, so no query can touch the
    // shipped files ----
    val tc = System.nanoTime()
    val dir = ctx.dir("corpus")
    Files.createDirectories(Paths.get(dir))
    tables.foreach(t => Files.copy(Paths.get(ctx.data, s"$t.parquet"), Paths.get(dir, s"$t.parquet")))
    val copyS = (System.nanoTime() - tc) / 1e9
    val rng = new java.util.SplittableRandom(ctx.seed)
    val order = TableDml.shuffle(suite, rng)
    var failed = 0L
    var attempted = 0L
    val digests = collection.mutable.LinkedHashMap.empty[String, String]

    /** One query on a fresh session: (seconds, digest or error). */
    def once(q: String, pass: Int): (Double, Either[String, String]) = {
      val sess = spark.newSession()
      tr.attachSession(sess)
      sess.catalog.clearCache()
      val t = System.nanoTime()
      val rows = try Right(tr.span(s"query.$q", s"$q#$pass") {
        SparkEntry.queries(q)(sess, dir).collect()
      }) catch { case e: Exception => Left(e.toString) }
      val secs = (System.nanoTime() - t) / 1e9
      val r = rows.map(digest)
      graft.operators.MergeTable.cleanupFixtures()
      graft.IndexLifecycle.evictAll(sess)
      (secs, r)
    }

    // warm pass: every query once, three at a time, each on its own session;
    // it compiles the plans and warms the JIT in less wall time than one at
    // a time (a cold pass one query at a time takes about 1.3 times as long)
    val tw = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try order.map(q => q -> pool.submit(() => once(q, 0))).foreach { case (q, f) =>
      attempted += 1
      f.get()._2.left.foreach { err => failed += 1; ctx.log(s"warm $q failed: $err") }
    } finally pool.shutdown()
    val warmS = (System.nanoTime() - tw) / 1e9

    // ---- measured passes ----
    val windowStart = ctx.beginMeasure()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val times = collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    var passes = 0
    var lastPassNs = 0L
    // a pass starts only if one more of the last one's length still fits
    while (passes == 0 || System.nanoTime() + lastPassNs < deadline) {
      passes += 1
      val tp = System.nanoTime()
      order.foreach { q =>
        attempted += 1
        // every query starts from a collected heap, so none pays for the
        // garbage of the one the seed's order put before it
        System.gc()
        Thread.sleep(100)
        val (secs, r) = once(q, passes)
        times(q) = times.getOrElse(q, Seq.empty) :+ secs
        r match {
          case Left(err) => failed += 1; ctx.log(s"$q failed: $err")
          case Right(d) =>
            digests(q) = d
            if (!matches(q, d)) {
              failed += 1
              ctx.log(s"$q digest $d != pinned ${pinned(q)}")
            }
        }
      }
      lastPassNs = System.nanoTime() - tp
    }
    val windowEnd = tr.nowUs
    graft.IndexLifecycle.deleteRecursively(dir)

    tr.quiesce()
    val perQuery = times.map { case (q, ts) => q -> Stats.lowerMedian(ts) }
    val jobsByQuery = {
      val spans = tr.spans.asScala.toSeq.filter(s => s.start >= windowStart && s.name.startsWith("query."))
      val byParent = tr.jobs.values.asScala.toSeq.groupBy(_.parent)
      spans.groupBy(_.name.stripPrefix("query.")).map { case (q, ss) =>
        q -> Stats.lowerMedian(ss.map(s => byParent.getOrElse(s.id, Nil).size.toDouble))
      }
    }
    val layers = perQuery.flatMap { case (q, s) =>
      Seq(s"query.${q}_s" -> s, s"query.${q}_jobs" -> jobsByQuery.getOrElse(q, 0.0))
    }.toMap ++ Map(
      "batch.suite_s" -> perQuery.values.sum,
      "batch.geomean_s" -> Stats.geomean(perQuery.values.toSeq))
    Outcome(
      setupS = copyS + warmS,
      attempted = attempted,
      failed = failed,
      throughput = perQuery.size / perQuery.values.sum,
      latenciesMs = perQuery.values.map(_ * 1000).toSeq,
      windowUs = (windowStart, windowEnd),
      layers = layers,
      untouched = Seq("streaming.", "spout.", "sink.", "stream.", "mergetable.", "table."),
      detail = Seq("corpus_copy_s" -> copyS, "warm_s" -> warmS, "passes" -> passes, "order" -> order,
        "query_s" -> times, "digests" -> digests))
  }
}
