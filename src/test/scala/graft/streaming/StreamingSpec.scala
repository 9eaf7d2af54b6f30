package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("word-count topology: counts accumulate across micro-batches with exactly-once sink") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    val out = tmpDir("wc-out")
    val ckpt = tmpDir("wc-ckpt")
    val topo = WordCountTopology(
      Spout("mem", _ => mem.toDF()), out, ckpt, topN = 3)
    val q = topo.run(spark)
    try {
      mem.addData("the cat and the hat", "the bat")
      q.processAllAvailable()
      mem.addData("the cat again")
      q.processAllAvailable()

      val committed = ExactlyOnceSink.committed(out)
      assert(committed.nonEmpty)
      val last = committed.max
      val top = spark.read.parquet(ExactlyOnceSink.batchDir(out, last))
        .orderBy(col("cnt").desc, col("word"))
        .as[(String, Long)].collect().toList
      // totals over both batches: the=4, cat=2, rest=1 (top3 tie-break asc)
      assert(top == List(("the", 4L), ("cat", 2L), ("again", 1L)))

      // clock advanced and is comparable
      val clock = Clock.of(q)
      assert(clock.offsets.nonEmpty)
    } finally q.stop()
  }

  test("exactly-once sink: redelivered batch id is not rewritten") {
    val out = tmpDir("eo-out")
    val sink = ExactlyOnceSink.toDir(out)
    sink(Seq(("a", 1L)).toDF("k", "v"), 0L)
    // redelivery with different (stale) content must be a no-op
    sink(Seq(("DUPLICATE", 99L)).toDF("k", "v"), 0L)
    sink(Seq(("b", 2L)).toDF("k", "v"), 1L)
    assert(ExactlyOnceSink.committed(out) == Set(0L, 1L))
    val b0 = spark.read.parquet(ExactlyOnceSink.batchDir(out, 0)).as[(String, Long)].collect().toList
    assert(b0 == List(("a", 1L)))
  }

  test("exactly-once sink: write-once attempts — crash debris swept, committed bytes never rewritten") {
    val out = tmpDir("eo-attempts")
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(out))
    // a crashed earlier attempt's orphan (write ran, marker never
    // landed): the next successful commit must sweep it
    val orphan = java.nio.file.Path.of(out, "batch=0~deadattempt")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("junk.parquet"), Array[Byte](1))
    val sink = ExactlyOnceSink.toDir(out)
    sink(Seq(("a", 1L)).toDF("k", "v"), 0L)
    assert(!java.nio.file.Files.exists(orphan), "crashed attempt not swept")
    val winner = ExactlyOnceSink.batchDir(out, 0)
    assert(winner.contains("batch=0~"), s"marker body did not name a tokened dir: $winner")
    assert(spark.read.parquet(winner).as[(String, Long)].collect().toList ==
      List(("a", 1L)))
    // replay with different data: the committed dir is untouched —
    // write-once means no code path ever opens the winner for write
    val mt = java.nio.file.Files.getLastModifiedTime(java.nio.file.Path.of(winner))
    sink(Seq(("REWRITE", 9L)).toDF("k", "v"), 0L)
    assert(spark.read.parquet(ExactlyOnceSink.batchDir(out, 0))
      .as[(String, Long)].collect().toList == List(("a", 1L)))
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Path.of(winner)) == mt, "committed dir bytes touched on replay")
  }

  test("exactly-once sink: crashed-loser orphan planted AFTER commit is reclaimed") {
    // the r17 gap: a replay attempt that loses the putIfAbsent race
    // self-deletes — but if it crashes between finishing its write
    // and that delete, the orphan postdates the winner's commit-time
    // sweep and the id never commits again. Redelivery (the recovery
    // path) must reclaim it.
    val out = tmpDir("eo-loser")
    val sink = ExactlyOnceSink.toDir(out)
    sink(Seq(("a", 1L)).toDF("k", "v"), 0L)
    val winner = ExactlyOnceSink.batchDir(out, 0)
    val orphan = java.nio.file.Path.of(out, "batch=0~crashedloser")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("junk.parquet"), Array[Byte](1))
    sink(Seq(("STALE", 9L)).toDF("k", "v"), 0L) // redelivery skip path
    assert(!java.nio.file.Files.exists(orphan),
      "post-commit loser orphan not swept on redelivery")
    assert(spark.read.parquet(ExactlyOnceSink.batchDir(out, 0))
      .as[(String, Long)].collect().toList == List(("a", 1L)),
      "winner bytes disturbed by the redelivery sweep")
    assert(ExactlyOnceSink.batchDir(out, 0) == winner)
  }

  test("retire reclaims all of an id's dirs; sweepOrphans heals a crashed retire") {
    val out = tmpDir("eo-retire")
    val sink = ExactlyOnceSink.toDir(out)
    sink(Seq(("a", 1L)).toDF("k", "v"), 0L)
    sink(Seq(("b", 2L)).toDF("k", "v"), 1L)
    // batch 0 carries a post-commit loser orphan — retire must take
    // the winner and the orphan together with the marker
    val orphan = java.nio.file.Path.of(out, "batch=0~crashedloser")
    java.nio.file.Files.createDirectories(orphan)
    ExactlyOnceSink.retire(out, 0L)
    assert(ExactlyOnceSink.committed(out) == Set(1L))
    locally {
      import scala.jdk.CollectionConverters._
      val ls = java.nio.file.Files.list(java.nio.file.Path.of(out))
      val left = try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch=0")).toList finally ls.close()
      assert(left.isEmpty, s"retire left batch-0 dirs behind: $left")
    }
    // crashed retire of batch 1: marker went, dir delete never ran —
    // the id is off the clock forever, so only sweepOrphans can heal
    val b1dir = java.nio.file.Path.of(ExactlyOnceSink.batchDir(out, 1))
    graft.operators.CommitStore.forDir(out).delete(
      java.nio.file.Path.of(out, "_commits", "b1"))
    assert(java.nio.file.Files.exists(b1dir))
    ExactlyOnceSink.sweepOrphans(out, keep = Set.empty)
    assert(!java.nio.file.Files.exists(b1dir),
      "crashed-retire debris not healed by sweepOrphans")
    // and sweepOrphans keeps the winner of a kept id while taking its losers
    sink(Seq(("c", 3L)).toDF("k", "v"), 2L)
    val w2 = java.nio.file.Path.of(ExactlyOnceSink.batchDir(out, 2))
    val loser2 = java.nio.file.Path.of(out, "batch=2~anotherloser")
    java.nio.file.Files.createDirectories(loser2)
    ExactlyOnceSink.sweepOrphans(out, keep = Set(2L))
    assert(java.nio.file.Files.exists(w2), "kept winner swept")
    assert(!java.nio.file.Files.exists(loser2), "kept id's loser survived")
  }

  test("sweepOrphans raises on a kept id with a corrupted marker body and keeps its winner") {
    val out = tmpDir("eo-garbage")
    val sink = ExactlyOnceSink.toDir(out)
    sink(Seq(("a", 1L)).toDF("k", "v"), 0L)
    val winner = java.nio.file.Path.of(ExactlyOnceSink.batchDir(out, 0))
    graft.operators.CommitStore.forDir(out).putReplace(
      java.nio.file.Path.of(out, "_commits", "b0"), "garbage\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      ExactlyOnceSink.sweepOrphans(out, keep = Set(0L)))
    assert(e.getMessage.contains("b0"), e.getMessage)
    assert(java.nio.file.Files.exists(winner),
      "the committed winner was swept as an orphan")
    // batchDir fails the same way, and on a missing marker
    intercept[IllegalStateException](ExactlyOnceSink.batchDir(out, 0))
    intercept[IllegalStateException](ExactlyOnceSink.batchDir(out, 1))
  }

  test("exactly-once sink: the batch log rides the CommitStore") {
    // markers through a registered store: nothing log-shaped on the
    // filesystem (the object-store deployment shape — no append)
    val out = tmpDir("eo-store")
    val store = new graft.operators.InMemoryCommitStore
    graft.operators.CommitStore.register(out, store)
    try {
      val sink = ExactlyOnceSink.toDir(out)
      sink(Seq(("a", 1L)).toDF("k", "v"), 0L)
      sink(Seq(("DUPLICATE", 9L)).toDF("k", "v"), 0L)
      assert(ExactlyOnceSink.committed(out) == Set(0L))
      assert(java.nio.file.Files.notExists(
        java.nio.file.Path.of(out, "_commits")),
        "batch markers leaked onto the filesystem past the store")
      assert(spark.read.parquet(ExactlyOnceSink.batchDir(out, 0))
        .as[(String, Long)].collect().toList == List(("a", 1L)))
    } finally graft.operators.CommitStore.unregister(out)
  }

  test("monoid bolt: keyed LongSum state accumulates like the countBolt") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val updated = MonoidBolt.updates[String, Long, Long](LongSum, identity)(mem.toDS())
    val q = updated.writeStream.format("memory").queryName("mb")
      .outputMode(MonoidBolt.outputMode).start()
    try {
      mem.addData(("x", 2L), ("y", 1L))
      q.processAllAvailable()
      mem.addData(("x", 3L))
      q.processAllAvailable()
      val state = spark.table("mb").as[(String, Long)].collect()
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(state == Map("x" -> 5L, "y" -> 1L))
    } finally q.stop()
  }

  test("TopN aggregator: agg() result equals global sort+limit") {
    import graft.Tables
    val words = Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), "\\W+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
    val viaAgg = words.select(new TopNAggregator(10).toColumn).collect()(0)
    val viaSort = words.orderBy(col("cnt").desc, col("word")).limit(10)
      .collect().toSeq
    assert(viaAgg == viaSort)
  }

  test("TopN monoid: bounded, keeps largest, deterministic tie-break") {
    val m = TopN(2)
    val merged = m.combine(Map("a" -> 5L, "b" -> 3L), Map("c" -> 4L, "a" -> 1L))
    assert(merged == Map("a" -> 5L, "c" -> 4L))
    assert(m.combine(m.empty, merged) == merged)
  }

  test("streaming heavy hitters: bounded summary state, guarantee holds across batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    val cap = 8
    // skewed stream split across two micro-batches: item i appears
    // (21-i)^2 times over 20 distinct items + a unique-token tail
    val truth = (1 to 20).map(i => s"item$i" -> (21 - i) * (21 - i)).toMap
    val all = new scala.util.Random(7)
      .shuffle(truth.toSeq.flatMap { case (t, c) => Seq.fill(c)(t) } ++
        (1 to 500).map(i => s"tail$i"))
    val (b1, b2) = all.splitAt(all.size / 2)
    val q = Bolts.heavyHitters("tok", cap)
      .transform(mem.toDF().toDF("tok"))
      .writeStream.outputMode(OutputMode.Update).format("memory")
      .queryName("hhstream").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val rows = spark.table("hhstream").collect()
      val last = rows.last
      val n = all.size.toLong
      assert(last.getLong(0) == n, "total must be the exact stream length")
      val items = last.getSeq[org.apache.spark.sql.Row](1)
        .map(r => r.getString(0) -> r.getLong(1))
      assert(items.size <= cap)
      val maxErr = n.toDouble / (cap + 1)
      items.foreach { case (t, lb) =>
        val c = truth.getOrElse(t, 1)
        assert(lb <= c, s"$t: lower bound $lb exceeds true count $c")
      }
      val present = items.map(_._1).toSet
      truth.filter(_._2 > maxErr).keys.foreach(t =>
        assert(present.contains(t), s"guaranteed heavy hitter $t missing after restart-free two-batch run"))
      // THE scale claim: state is ONE summary row, not one row per
      // distinct key (a streaming wordcount on this stream would hold
      // 520 state rows and grow with the vocabulary forever)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 1L, s"heavy-hitter state is not bounded: $stateRows rows")
    } finally q.stop()
  }

  test("streaming quantile sketch: bounded state, stream ≡ batch over the archive") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    // deterministic skewed values over unique row ids
    val all = (1L to 2000L).map(i => (i, ((i * 37) % 1000) / 7.0 + (if (i % 13 == 0) 400.0 else 0.0)))
    val (b1, b2) = all.splitAt(all.size / 2)
    val bolt = Bolts.quantileSketch("v", Seq("id"), k = 128)
    val q = bolt.transform(mem.toDF().toDF("id", "v"))
      .writeStream.outputMode(OutputMode.Update).format("memory")
      .queryName("qsketch").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val last = spark.table("qsketch").collect().last
      assert(last.getLong(0) == all.size.toLong, "n_rows must be the exact stream length")
      // the monoid merge across micro-batches must land on the SAME
      // sample as one batch pass over the archived stream — q52's
      // lossless-merge property, through the state store
      import spark.implicits._
      val batch = bolt.transform(all.toDF("id", "v")).collect().head
      assert(last.getDouble(1) == batch.getDouble(1) &&
        last.getDouble(2) == batch.getDouble(2),
        s"stream estimate (${last.getDouble(1)}, ${last.getDouble(2)}) != " +
          s"batch (${batch.getDouble(1)}, ${batch.getDouble(2)})")
      // rank sanity vs the true distribution
      val vs = all.map(_._2).sorted
      def rankOf(x: Double) = vs.count(_ <= x).toDouble / vs.length
      assert(math.abs(rankOf(last.getDouble(1)) - 0.5) <= 0.2,
        s"p50 est ${last.getDouble(1)} at rank ${rankOf(last.getDouble(1))}")
      // THE scale claim: one bounded sample row of state, not
      // value-cardinality rows
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 1L, s"quantile-sketch state is not bounded: $stateRows rows")
    } finally q.stop()
  }

  test("streaming exact distinct: one sketch state row, stream ≡ batch over the archive") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Long]
    // 64-bit-spread keys with heavy cross-batch overlap
    val all = (1L to 3000L).map(i => (i % 1100) * 4294967311L)
    val (b1, b2) = all.splitAt(all.size / 2)
    val bolt = Bolts.distinctCount("k")
    val q = bolt.transform(mem.toDF().toDF("k"))
      .writeStream.outputMode(OutputMode.Update).format("memory")
      .queryName("dcount").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val last = spark.table("dcount").collect().last
      assert(last.getLong(0) == all.size.toLong, "n_rows must be the exact stream length")
      // EXACT across batches — the OR merge through the state store
      // equals one batch pass over the archived stream
      assert(last.getLong(1) == all.distinct.size.toLong,
        s"stream distinct ${last.getLong(1)} != exact ${all.distinct.size}")
      import spark.implicits._
      val batch = bolt.transform(all.toDF("k")).collect().head
      assert(last.getLong(1) == batch.getLong(1), "stream diverges from batch")
      // THE scale claim: one sketch state row, not one row per key
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 1L, s"distinct-count state is not bounded to one row: $stateRows")
    } finally q.stop()
  }

  test("RocksDB state backend: identical topology results, provider engaged, conf scoped") {
    implicit val sql = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    // getOption surfaces the config's DEFAULT (the HDFS provider), so
    // "scoped" is observable as before == after, not as emptiness
    val before = spark.conf.getOption(key)
    assert(!before.exists(_.contains("RocksDB")), "test precondition: default provider")
    def runWordCount(backend: StateBackend): List[(String, Long)] = {
      val mem = MemoryStream[String]
      val out = tmpDir("rocks-out")
      val topo = WordCountTopology(
        Spout("mem", _ => mem.toDF()), out, tmpDir("rocks-ckpt"), topN = 5)
        .withStateBackend(backend)
      val q = topo.run(spark)
      try {
        mem.addData("the cat and the hat", "the bat")
        q.processAllAvailable()
        mem.addData("the cat again and again")
        q.processAllAvailable()
        if (backend == StateBackend.RocksDB) {
          // the provider must actually be engaged, not silently the
          // heap default: RocksDB reports its own custom state metrics
          import scala.jdk.CollectionConverters._
          val metrics = q.lastProgress.stateOperators
            .flatMap(_.customMetrics.asScala.keys)
          assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
            s"no rocksdb state metrics in progress: ${metrics.mkString(",")}")
        }
        val last = ExactlyOnceSink.committed(out).max
        spark.read.parquet(ExactlyOnceSink.batchDir(out, last))
          .orderBy(col("cnt").desc, col("word"))
          .as[(String, Long)].collect().toList
      } finally q.stop()
    }
    val onRocks = runWordCount(StateBackend.RocksDB)
    // the backend choice must not leak into the session after start
    assert(spark.conf.getOption(key) == before,
      "RocksDB provider conf leaked into the shared session")
    val onDefault = runWordCount(StateBackend.Default)
    assert(onRocks == onDefault,
      s"state backends disagree: rocksdb=$onRocks default=$onDefault")
    assert(onRocks.head == ("the", 4L), s"got $onRocks")
  }

  test("event-time ops: tumbling windows and sessions over a stream") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "user_id", "value")
    val q = EventTimeOps.tumblingCounts(events, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("tw")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1L, 1.0),
        (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2L, 2.0),
        (Timestamp.valueOf("2024-01-01 11:05:00"), "view", 1L, 3.0))
      q.processAllAvailable()
      val rows = spark.table("tw")
        .select(date_format(col("ws"), "HH:mm").as("w"), col("event_type"), col("n"))
        .as[(String, String, Long)].collect().toSet
      assert(rows == Set(("10:00", "click", 2L), ("11:00", "view", 1L)))
    } finally q.stop()

    val mem2 = MemoryStream[(Timestamp, String, Long, Double)]
    val ev2 = mem2.toDF().toDF("ts", "event_type", "user_id", "value")
    // session windows emit in Append mode once the watermark passes
    // the session end, so advance it with later flush events
    val q2 = EventTimeOps.sessionize(ev2, "30 minutes", "1 second")
      .writeStream.format("memory").queryName("sw")
      .outputMode(OutputMode.Append()).start()
    try {
      mem2.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 1L, 1.0),
        (Timestamp.valueOf("2024-01-01 10:10:00"), "click", 1L, 1.0),
        // > 30 min gap: new session for user 1
        (Timestamp.valueOf("2024-01-01 11:00:00"), "click", 1L, 1.0))
      q2.processAllAvailable()
      mem2.addData((Timestamp.valueOf("2024-01-01 14:00:00"), "flush", 9L, 0.0))
      q2.processAllAvailable()
      mem2.addData((Timestamp.valueOf("2024-01-01 18:00:00"), "flush", 9L, 0.0))
      q2.processAllAvailable()
      val sessions = spark.table("sw").filter(col("user_id") === 1L)
        .select(col("user_id"), col("n_events"))
        .as[(Long, Long)].collect().toList.sorted
      assert(sessions == List((1L, 1L), (1L, 2L)))
    } finally q2.stop()
  }

  test("recovery: restart from checkpoint resumes state without loss or duplication") {
    val in = tmpDir("rec-in")
    val out = tmpDir("rec-out")
    val ckpt = tmpDir("rec-ckpt")
    def writeFile(name: String, text: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name), text.getBytes)
    val spout = Spout("files", s =>
      s.readStream.format("text").option("maxFilesPerTrigger", "1").load(in))
    val topo = WordCountTopology(spout, out, ckpt, topN = 10)

    writeFile("f1.txt", "alpha alpha beta")
    val q1 = topo.run(spark)
    q1.processAllAvailable()
    q1.stop() // simulated crash/stop after committing batch(es)

    writeFile("f2.txt", "alpha gamma")
    val q2 = topo.run(spark) // restart: same checkpoint, state recovers
    q2.processAllAvailable()
    q2.stop()

    val last = ExactlyOnceSink.committed(out).max
    val counts = spark.read.parquet(ExactlyOnceSink.batchDir(out, last))
      .as[(String, Long)].collect().toMap
    // state accumulated ACROSS the restart: alpha=3 (2 pre + 1 post)
    assert(counts == Map("alpha" -> 3L, "beta" -> 1L, "gamma" -> 1L))
  }

  test("checkpoint manager: a default-manager checkpoint restarts under Topology.run and back, exactly-once; the caller's conf is untouched") {
    implicit val sql = spark.sqlContext
    val key = GraftCheckpointFileManager.ConfKey
    assert(spark.conf.getOption(key).isEmpty, "test precondition: no manager set")
    val mem = MemoryStream[String]
    val out = tmpDir("ckm-out")
    val ckpt = tmpDir("ckm-ckpt")
    val topo = WordCountTopology(Spout("mem", _ => mem.toDF()), out, ckpt, topN = 5)
    // Spark's default manager: a plain writeStream on the caller's session
    def plainRun() = topo.sink.start(
      topo.bolts.foldLeft(topo.spout.open(spark))((df, b) => b.transform(df)), None)
    def drain(q: org.apache.spark.sql.streaming.StreamingQuery, lines: String*): Unit = {
      mem.addData(lines); q.processAllAvailable()
    }
    val offsets = java.nio.file.Path.of(ckpt, "offsets")
    def hadoopSidecar(batch: Long) = java.nio.file.Files.exists(offsets.resolve(s".$batch.crc"))
    val batches = Seq(
      Seq("the cat and the hat", "the bat"), Seq("a cat a hat"),
      Seq("the end of the cat"), Seq("bat bat the"))

    val q1 = plainRun()
    try drain(q1, batches(0): _*) finally q1.stop()
    assert(hadoopSidecar(0), "test precondition: the default manager writes .crc sidecars")
    val q2 = topo.run(spark)
    try { drain(q2, batches(1): _*); drain(q2, batches(2): _*) } finally q2.stop()
    val graftLast = ExactlyOnceSink.committed(out).max
    assert(!hadoopSidecar(graftLast), "Topology.run committed through the default manager")
    assert(spark.conf.getOption(key).isEmpty, "Topology.run set the manager on the caller's session")
    val q3 = plainRun()
    try drain(q3, batches(3): _*) finally q3.stop()

    val committed = ExactlyOnceSink.committed(out)
    assert(committed == (0L to committed.max).toSet, s"gap in sink markers: $committed")
    assert(committed.max > graftLast)
    val top = spark.read.parquet(ExactlyOnceSink.batchDir(out, committed.max))
      .orderBy(col("cnt").desc, col("word")).as[(String, Long)].collect().toList
    val oneShot = WordCountTopology.countBolt.transform(WordCountTopology.tokenize
      .transform(batches.flatten.toDF("value")))
      .orderBy(col("cnt").desc, col("word")).limit(5).as[(String, Long)].collect().toList
    assert(top == oneShot)
    val leftovers = java.nio.file.Files.walk(java.nio.file.Path.of(ckpt))
    try assert(!leftovers.iterator().asScala.exists(p =>
      graft.operators.PosixCommitStore.isStagingName(p.getFileName.toString)),
      "staging files left in the checkpoint")
    finally leftovers.close()

    // a manager the caller names is kept, on the caller's session too
    val s2 = spark.newSession()
    val fileContext = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileContextBasedCheckpointFileManager"
    s2.conf.set(key, fileContext)
    val mem2 = MemoryStream[String](s2)
    val ckpt2 = tmpDir("ckm-ckpt2")
    val q4 = WordCountTopology(Spout("mem", _ => mem2.toDF()), tmpDir("ckm-out2"), ckpt2)
      .run(s2)
    try { mem2.addData("kept manager"); q4.processAllAvailable() } finally q4.stop()
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(ckpt2, "offsets", ".0.crc")),
      "the caller's manager was replaced")
    assert(s2.conf.get(key) == fileContext)
  }

  test("a streaming listener on the caller's session hears Topology.run's progress") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val heard = new java.util.concurrent.ConcurrentLinkedQueue[(java.util.UUID, String)]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        heard.add((e.progress.runId, s"${e.progress.batchId}@${e.progress.timestamp}"))
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val mem = MemoryStream[String]
      val q = WordCountTopology(Spout("mem", _ => mem.toDF()), tmpDir("lst-out"),
        tmpDir("lst-ckpt")).run(spark)
      try {
        mem.addData("heard once"); q.processAllAvailable()
        def ours = heard.iterator().asScala.filter(_._1 == q.runId).map(_._2).toList
        val deadline = System.currentTimeMillis() + 10000L
        while (ours.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
        assert(ours.nonEmpty, "no progress event reached the caller's listener")
        Thread.sleep(200) // let a duplicate delivery land, if there is one
        assert(ours.distinct == ours, s"progress heard twice: $ours")
      } finally q.stop()
    } finally spark.streams.removeListener(listener)
  }

  test("streaming top-N bolt: bounded TopN monoid state across batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, (String, Long))]
    // single global key = the reference's `const 0` global grouping
    val updated = MonoidBolt.updates[String, (String, Long), Map[String, Long]](
      TopN(2), kv => Map(kv._1 -> kv._2))(
      mem.toDS().map(x => ("all", x._2)))
    val q = updated.writeStream.format("memory").queryName("topn")
      .outputMode(MonoidBolt.outputMode).start()
    try {
      mem.addData(("all", ("alpha", 5L)), ("all", ("beta", 3L)))
      q.processAllAvailable()
      mem.addData(("all", ("gamma", 9L)), ("all", ("alpha", 1L)))
      q.processAllAvailable()
      val last = spark.table("topn").as[(String, Map[String, Long])]
        .collect().last._2
      // bounded at 2: gamma=9 and alpha=5 survive, beta evicted
      assert(last == Map("gamma" -> 9L, "alpha" -> 5L))
    } finally q.stop()
  }

  test("session bolt: custom state machine emits gap-closed sessions") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val ev = mem.toDF().toDF("ts", "user_id")
    val q = SessionBolt.sessions(ev, gapSeconds = 1800)
      .writeStream.format("memory").queryName("sb")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (Timestamp.valueOf("2024-01-01 10:10:00"), 1L),
        (Timestamp.valueOf("2024-01-01 11:00:00"), 1L)) // gap > 30min
      q.processAllAvailable()
      // second session still open; first emitted on the gap break
      mem.addData((Timestamp.valueOf("2024-01-01 15:00:00"), 9L))
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2024-01-01 20:00:00"), 9L))
      q.processAllAvailable() // watermark sweep flushes user 1's tail
      val got = spark.table("sb").filter(col("user_id") === 1L)
        .select("n_events").as[Long].collect().toList.sorted
      assert(got == List(1L, 2L))
    } finally q.stop()
  }

  test("session bolt: a straggler hours before the open session never merges into it") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val ev = mem.toDF().toDF("ts", "user_id")
    // a WIDE watermark delay: the operator filters rows behind the
    // watermark, so the hazardous shape is late-but-ABOVE-watermark —
    // hours before the open session, inside the allowed lateness
    val q = SessionBolt.sessions(ev, gapSeconds = 1800, watermark = "12 hours")
      .writeStream.format("memory").queryName("sb_late")
      .outputMode(OutputMode.Append()).start()
    try {
      // open session [10:00, 10:05]
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (Timestamp.valueOf("2024-01-01 10:05:00"), 1L))
      q.processAllAvailable()
      // two stragglers from 07:xx (flatMapGroupsWithState does NOT
      // drop late rows): the old `us - lastUs <= gap` test merged
      // them into the OPEN session — counting events 3 hours outside
      // its emitted [start, end] — because the difference is negative.
      // They must instead form their own (gap-closed) session, and
      // merge with EACH OTHER.
      mem.addData(
        (Timestamp.valueOf("2024-01-01 07:00:00"), 1L),
        (Timestamp.valueOf("2024-01-01 07:10:00"), 1L))
      q.processAllAvailable()
      // close user 1's open session via the watermark
      mem.addData((Timestamp.valueOf("2024-01-01 20:00:00"), 9L))
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2024-01-02 09:00:00"), 9L))
      q.processAllAvailable()
      def us(t: String) = Timestamp.valueOf(t).getTime * 1000L
      val got = spark.table("sb_late").filter(col("user_id") === 1L)
        .select("start_us", "end_us", "n_events")
        .as[(Long, Long, Long)].collect().toSet
      assert(got.contains((us("2024-01-01 07:00:00"),
        us("2024-01-01 07:10:00"), 2L)),
        s"straggler pair did not form its own session: $got")
      assert(got.contains((us("2024-01-01 10:00:00"),
        us("2024-01-01 10:05:00"), 2L)),
        s"open session's boundaries were disturbed by the straggler: $got")
    } finally q.stop()
  }

  test("session bolt: a mid-batch close folds the chained straggler interval (r20)") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val ev = mem.toDF().toDF("ts", "user_id")
    val q = SessionBolt.sessions(ev, gapSeconds = 1800, watermark = "12 hours")
      .writeStream.format("memory").queryName("sb_chain")
      .outputMode(OutputMode.Append()).start()
    try {
      // open session [10:00, 10:50] (steps within the 30-min gap)
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (Timestamp.valueOf("2024-01-01 10:25:00"), 1L),
        (Timestamp.valueOf("2024-01-01 10:50:00"), 1L))
      q.processAllAvailable()
      // one batch: stragglers 09:00/09:15 build the old interval; a
      // late 09:40 sits ABOVE cur.start - gap (09:30), so it MERGES
      // into the open session and lowers its start to within gap of
      // the interval (09:40 - 09:15 = 25 min); then 13:00 closes it —
      // the emitted session must be the CHAINED [09:00, 10:50] with
      // all six events, not a [09:40,10:50] + [09:00,09:15] split
      mem.addData(
        (Timestamp.valueOf("2024-01-01 09:00:00"), 1L),
        (Timestamp.valueOf("2024-01-01 09:15:00"), 1L),
        (Timestamp.valueOf("2024-01-01 09:40:00"), 1L),
        (Timestamp.valueOf("2024-01-01 13:00:00"), 1L))
      q.processAllAvailable()
      def us(t: String) = Timestamp.valueOf(t).getTime * 1000L
      val got = spark.table("sb_chain").filter(col("user_id") === 1L)
        .select("start_us", "end_us", "n_events")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((us("2024-01-01 09:00:00"),
        us("2024-01-01 10:50:00"), 6L)),
        s"mid-batch close split or mis-bounded the chained session: $got")
    } finally q.stop()
  }

  test("streaming exact dedup: duplicates across micro-batches are dropped") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val deduped = mem.toDF().toDF("doc_id", "fp").dropDuplicates("fp")
    val q = deduped.writeStream.format("memory").queryName("dedupe")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, "aaa"), (2L, "bbb"), (3L, "aaa"))
      q.processAllAvailable()
      mem.addData((4L, "bbb"), (5L, "ccc")) // dup of batch-1 state
      q.processAllAvailable()
      val fps = spark.table("dedupe").select("fp").as[String].collect().sorted
      assert(fps.toList == List("aaa", "bbb", "ccc"))
    } finally q.stop()
  }

  test("streaming dedup against a persisted index: only never-seen fingerprints pass") {
    implicit val sql = spark.sqlContext
    // the "historical corpus" — in production this is the bucketed
    // table dd10's buildFpIndex maintains; the bolt only needs the
    // static DataFrame
    val seen = spark.createDataFrame(Seq(Tuple1("aaa"), Tuple1("bbb"))).toDF("fp")
    val mem = MemoryStream[(Long, String)]
    val topo = Topology(
      Spout("mem", _ => mem.toDF().toDF("doc_id", "fp")),
      Seq(Bolts.dedupAgainstIndex(seen, "fp")),
      Sink("memory", (df, _) => df.writeStream.format("memory")
        .queryName("idx_dedup").outputMode(OutputMode.Append()).start()))
    val q = topo.run(spark)
    try {
      mem.addData((1L, "aaa"), (2L, "ccc"), (3L, "bbb"), (4L, "ddd"))
      q.processAllAvailable()
      // no stream state: a repeat of "ccc" in a later batch passes
      // again (within-stream dedup is Bolts.dedup's job; this bolt's
      // contract is purely "not in the historical index")
      mem.addData((5L, "ccc"), (6L, "aaa"))
      q.processAllAvailable()
      val got = spark.table("idx_dedup").select("doc_id", "fp").as[(Long, String)]
        .collect().toSet
      assert(got == Set((2L, "ccc"), (4L, "ddd"), (5L, "ccc")))
    } finally q.stop()
  }

  test("streaming index dedup with bloom fast path: kept set identical to the exact bolt") {
    implicit val sql = spark.sqlContext
    // an index big enough that true-negatives dominate (the fast path
    // actually exercises) plus known members for the slow path
    val seen = spark.createDataFrame(
      (1 to 2000).map(i => Tuple1(s"idx$i")) :+ Tuple1("aaa") :+ Tuple1("bbb")).toDF("fp")
    val mem = MemoryStream[(Long, String)]
    val topo = Topology(
      Spout("mem", _ => mem.toDF().toDF("doc_id", "fp")),
      Seq(Bolts.dedupAgainstIndexBloom(seen, "fp")),
      Sink("memory", (df, _) => df.writeStream.format("memory")
        .queryName("idx_dedup_bloom").outputMode(OutputMode.Append()).start()))
    val q = topo.run(spark)
    try {
      mem.addData((1L, "aaa"), (2L, "ccc"), (3L, "bbb"), (4L, "ddd"), (5L, "idx500"))
      q.processAllAvailable()
      // same stateless contract as the exact bolt: a later repeat of a
      // non-indexed fp passes again
      mem.addData((6L, "ccc"), (7L, "aaa"), (8L, "idx1999"))
      q.processAllAvailable()
      val got = spark.table("idx_dedup_bloom").select("doc_id", "fp").as[(Long, String)]
        .collect().toSet
      assert(got == Set((2L, "ccc"), (4L, "ddd"), (6L, "ccc")),
        s"bloom-gated kept set diverges from the exact contract: $got")
    } finally q.stop()
  }

  test("streaming index dedup, bitmap64-gated: kept set = exact bolt, pure filter") {
    implicit val sql = spark.sqlContext
    // a range-shaped 64-bit fp domain (sequence ids at a high offset)
    // — the shape the exact gate exists for
    val base = 3L << 40
    val seen = spark.createDataFrame((0L to 2000L).map(i => Tuple1(base + i))).toDF("fp")
    // unlike the bloom gate there is NO residual join: the bolt's
    // whole transform is one narrow filter
    val planStr = Bolts.dedupAgainstIndexBitmap64(seen, "fp")
      .transform(spark.createDataFrame(Seq((1L, base))).toDF("doc_id", "fp"))
      .queryExecution.executedPlan.toString
    Seq("Join", "Exchange").foreach(op =>
      assert(!planStr.contains(op), s"bitmap64 gate is not a pure filter:\n$planStr"))
    // the kept-set contract covers NULL fingerprints: the exact bolt's
    // left_anti keeps them (a null key joins nothing), so the pure
    // filter must too — Bitmap64Contains is null-safe and filter(!null)
    // silently dropped such rows pre-r18
    locally {
      val withNull = spark.createDataFrame(
        Seq((1L, Some(base)), (2L, None: Option[Long]))).toDF("doc_id", "fp")
      val keptB64 = Bolts.dedupAgainstIndexBitmap64(seen, "fp")
        .transform(withNull).select("doc_id").as[Long].collect().toSet
      val keptExact = Bolts.dedupAgainstIndex(seen, "fp")
        .transform(withNull).select("doc_id").as[Long].collect().toSet
      assert(keptB64 == keptExact && keptB64 == Set(2L),
        s"null-fp kept sets diverge: bitmap64=$keptB64 exact=$keptExact")
    }
    val mem = MemoryStream[(Long, Long)]
    val topo = Topology(
      Spout("mem", _ => mem.toDF().toDF("doc_id", "fp")),
      Seq(Bolts.dedupAgainstIndexBitmap64(seen, "fp")),
      Sink("memory", (df, _) => df.writeStream.format("memory")
        .queryName("idx_dedup_b64").outputMode(OutputMode.Append()).start()))
    val q = topo.run(spark)
    try {
      mem.addData((1L, base + 5), (2L, base + 5000), (3L, base + 1999), (4L, base + 9999))
      q.processAllAvailable()
      // same stateless contract as the exact bolt: a later repeat of a
      // non-indexed fp passes again
      mem.addData((5L, base + 5000), (6L, base + 7))
      q.processAllAvailable()
      val got = spark.table("idx_dedup_b64").select("doc_id", "fp").as[(Long, Long)]
        .collect().toSet
      assert(got == Set((2L, base + 5000), (4L, base + 9999), (5L, base + 5000)),
        s"bitmap64-gated kept set diverges from the exact contract: $got")
    } finally q.stop()
  }

  test("clock: element-wise strictly-greater comparison (clockGt)") {
    val c1 = Clock(Map("p0" -> "5", "p1" -> "7"))
    val c2 = Clock(Map("p0" -> "3", "p1" -> "6"))
    val c3 = Clock(Map("p0" -> "9"))
    assert(c1.gt(c2))
    assert(!c2.gt(c1))
    assert(!c1.gt(c3)) // different partition sets are incomparable
    assert(!c1.gt(c1)) // strict
  }
}
