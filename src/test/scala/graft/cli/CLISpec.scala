package graft.cli

import graft.SparkSpecBase
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class CLISpec extends SparkSpecBase {

  test("run_sample: file -> word-count topology -> top_words.txt (reference CLI flow)") {
    val in = Files.createTempDirectory("cli-in")
    Files.write(in.resolve("sample.txt"),
      "hotel bravo\nhotel alpha\nhotel bravo\n".getBytes)
    val out = tmpDir("cli-out")
    GraftCLI.runSample(spark, in.resolve("sample.txt").toString, out)
    val lines = Files.readAllLines(Paths.get(out, "top_words.txt"))
    assert(lines.get(0) == "hotel,3")
    assert(lines.contains("bravo,2"))
    assert(lines.contains("alpha,1"))
  }

  test("build: raw documents -> committed curated shards matching pp11's manifest") {
    import org.apache.spark.sql.functions.col
    val out = tmpDir("cli-build")
    GraftCLI.build(spark, sfDir, out)
    // committed via the pointer flip, and the WRITTEN manifest is
    // pp11's declarative manifest bit for bit (same selection — the
    // shared trainSet — same rank/shard rule, same shardSize)
    assert(graft.pipeline.Pipeline.shardDataRoot(out).isDefined, "build did not commit")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("shard", "n_docs", "sum_chars", "min_id", "max_id")
      .orderBy("shard").collect().toSeq
    val root = graft.pipeline.Pipeline.shardDataRoot(out).get
    assert(rows(spark.read.parquet(s"$root/manifest")) ==
      rows(graft.pipeline.Pipeline.pp11_full_build(spark, sfDir)),
      "written manifest diverges from pp11's declarative manifest")
    // the shard DATA carries exactly the curated train set
    val shardIds = graft.pipeline.Pipeline.readShards(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val trainIds = graft.pipeline.Pipeline.trainSet(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(shardIds == trainIds, "shard data != curated train set")
    // replay short-circuits on the committed marker (writeShardsOf's
    // writeShards-inherited contract)
    GraftCLI.build(spark, sfDir, out)
    assert(graft.pipeline.Pipeline.shardDataRoot(out).get == root,
      "a replayed build rewrote a committed dir")
  }

  test("build: refuses a non-corpus input and refuses to clobber a non-shard outDir") {
    // not a corpus dir → refused BEFORE anything destructive runs
    val notCorpus = tmpDir("cli-build-nocorpus")
    intercept[GraftCLI.Usage] {
      GraftCLI.build(spark, notCorpus, tmpDir("cli-build-out1"))
    }
    // an existing dir with unrelated content must survive untouched:
    // writeShardsOf's delete-first replay is for library-owned derived
    // dirs, never a raw user path (the swapped-arguments case)
    val precious = tmpDir("cli-build-precious")
    val keepsake = Paths.get(precious, "keepsake.txt")
    Files.createDirectories(keepsake.getParent)
    Files.write(keepsake, "do not delete".getBytes)
    intercept[GraftCLI.Usage] { GraftCLI.build(spark, sfDir, precious) }
    assert(Files.exists(keepsake), "build clobbered an unrelated directory")
    // a plain FILE at outDir must refuse too: File.list() is null on a
    // non-directory, which the guard must not read as "empty dir"
    val plainFile = Paths.get(tmpDir("cli-build-filedir"), "target.bin")
    Files.write(plainFile, "user bytes".getBytes)
    intercept[GraftCLI.Usage] { GraftCLI.build(spark, sfDir, plainFile.toString) }
    assert(Files.exists(plainFile) &&
      new String(Files.readAllBytes(plainFile)) == "user bytes",
      "build clobbered an existing plain file")
  }

  test("emit: rate-spout load run reports a measured result") {
    // session-scoped variant of the `emit` verb (run_sample_emitter
    // analog): must produce at least one data-carrying batch and a
    // positive sustained rate
    val r = graft.streaming.ThroughputHarness.run(
      spark, update = true, targetRps = 20000, minBatches = 2, timeoutMs = 30000)
    assert(r.batches >= 2 && r.rows > 0 && r.sustainedRps > 0, r.json)
    assert(r.json.contains("\"mode\":\"update\""))
  }

  test("emit: a query that fails to start leaks neither temp dir") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def harnessDirs(): Set[String] = {
      val ls = Files.list(tmp)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("thr-out") || n.startsWith("thr-ckpt")).toSet
      finally ls.close()
    }
    val before = harnessDirs()
    // the rate source rejects a non-positive rate when the query starts
    intercept[IllegalArgumentException] {
      graft.streaming.ThroughputHarness.run(spark, update = false, targetRps = 0)
    }
    assert(harnessDirs() -- before == Set.empty[String])
  }

  test("table verbs: history/restore/clone/vacuum against a real table dir") {
    import graft.operators.MergeTable
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("cli-table")
    MergeTable.write(spark,
      (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("k", "bal"), "k", dir, nFiles = 4)
    MergeTable.merge(spark, dir,
      Seq((5L, "U", 9.9)).toDF("k", "op", "bal"), "k")
    val hist = GraftCLI.table(spark, "history", List(dir))
    assert(hist.size == 2 && hist.head.startsWith("g1 merge ts=") &&
      hist(1).startsWith("g0 write ts="), hist.mkString("\n"))
    val cloned = GraftCLI.table(spark, "clone", List(dir, s"$dir-copy"))
    assert(cloned.head.contains("shallow") &&
      MergeTable.readTable(spark, s"$dir-copy").count() == 100)
    val restored = GraftCLI.table(spark, "restore", List(dir, "0"))
    assert(restored.head.endsWith("as generation 2"))
    assert(MergeTable.readTable(spark, dir)
      .filter(col("k") === 5L).select("bal").as[Double].head() == 10.0)
    assert(GraftCLI.table(spark, "history", List(dir)).head
      .startsWith("g2 restore ts="))
    val vac = GraftCLI.table(spark, "vacuum", List(dir))
    assert(vac.head.startsWith("vacuumed "))
  }

  test("table verbs: recluster/bloom-index/constraints") {
    import graft.operators.MergeTable
    import spark.implicits._
    val dir = tmpDir("cli-table2")
    MergeTable.write(spark,
      (1 to 200).map(i => (i.toLong, (i % 7).toLong, s"t$i", i * 2.0))
        .toDF("k", "g", "tag", "bal"), "k", dir, nFiles = 4)

    val rc = GraftCLI.table(spark, "recluster", List(dir, "k", "k,g"))
    assert(rc.head.contains("generation 1") && rc.head.contains("4 files"), rc)

    val bi = GraftCLI.table(spark, "bloom-index", List(dir, "tag", "1024"))
    assert(bi.head.contains("generation 1") && bi.head.contains("1024 bits"))
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", "t42")
      .select("k").as[Long].collect().toSeq == Seq(42L))
    assert(GraftCLI.table(spark, "stats", List(dir))
      .exists(_.contains("bloom sidecars: tag (covers g1)")),
      "stats must surface the live sidecar")

    assert(GraftCLI.table(spark, "constraints", List(dir)).head
      .startsWith("no CHECK constraints"))
    val added = GraftCLI.table(spark, "constraints",
      List(dir, "add", "bal-pos", "bal", ">", "0"))
    assert(added.head.contains("bal-pos"))
    assert(GraftCLI.table(spark, "constraints", List(dir)) ==
      Seq("bal-pos CHECK (bal > 0)"))
    intercept[IllegalStateException] {
      MergeTable.merge(spark, dir,
        Seq((999L, "I", 0L, "tX", -1.0)).toDF("k", "op", "g", "tag", "bal"), "k")
    }
    assert(GraftCLI.table(spark, "constraints", List(dir, "drop", "bal-pos")).head
      .contains("dropped"))
    assert(GraftCLI.table(spark, "constraints", List(dir, "drop", "bal-pos")).head
      .contains("no constraint"))

    val dc = GraftCLI.table(spark, "drop-column", List(dir, "k", "tag"))
    assert(dc.head.contains("'tag'") && dc.head.contains("metadata-only"), dc)
    assert(!MergeTable.readTable(spark, dir).columns.contains("tag"))
    assert(MergeTable.droppedColumns(dir) == Set("tag"))

    // --partial against the same-column baseline: nothing degraded
    // since the gen-1 recluster (the drop was metadata-only) → no-op
    val pr = GraftCLI.table(spark, "recluster", List(dir, "k", "k,g", "--partial"))
    assert(pr.head.contains("0 files rewritten"), pr)

    // the one-screen stats read reflects everything attached
    MergeTable.registerCdcHorizon(dir, "replica-z", 1)
    val st = GraftCLI.table(spark, "stats", List(dir))
    assert(st.exists(_.contains("at generation 2")), st.mkString("\n"))
    assert(st.exists(_.contains("200 rows")), st.mkString("\n"))
    assert(st.exists(_.contains("retired columns: tag")), st.mkString("\n"))
    // drop-column swept the tag sidecar (its bytes are invisible now)
    assert(st.exists(_.contains("bloom sidecars: none")), st.mkString("\n"))
    assert(st.exists(_.contains("replica-z at g1")), st.mkString("\n"))
    assert(MergeTable.releaseCdcHorizon(dir, "replica-z"))
  }

  test("table verbs: mv-create / mv-refresh run the persisted-spec view lifecycle") {
    import graft.operators.{IncrementalView, MergeTable}
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val src = tmpDir("cli-mv-src")
    val mv = tmpDir("cli-mv")
    MergeTable.write(spark,
      (1 to 100).map(i => (i.toLong, s"g${i % 3}", i * 1.0)).toDF("k", "g", "bal"),
      "k", src, nFiles = 2)
    val created = GraftCLI.table(spark, "mv-create",
      List(src, "k", mv, "g", "sb=cast(bal as decimal(18,2))"))
    assert(created.head.contains("materialized"), created)
    assert(GraftCLI.table(spark, "mv-refresh", List(src, mv)).head
      .contains("already current"))
    MergeTable.merge(spark, src,
      Seq((5L, "D", null, 0.0)).toDF("k", "op", "g", "bal"), "k")
    assert(GraftCLI.table(spark, "mv-refresh", List(src, mv)).head
      .contains("to " + src + "@g1"))
    // the refreshed view equals recomputation, via the PERSISTED spec
    val got = MergeTable.readTable(spark, mv)
      .select("g", "mv_count", "sb").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toString)).toSeq.sorted
    val want = IncrementalView.compute(MergeTable.readTable(spark, src),
        IncrementalView.specOf(mv))
      .select("g", "mv_count", "sb").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toString)).toSeq.sorted
    assert(got == want)
  }

  test("table verbs: delete-where / update-where / merge drive the DML surface") {
    import graft.operators.MergeTable
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("cli-dml")
    MergeTable.write(spark,
      (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("k", "bal"), "k", dir, nFiles = 4)

    val del = GraftCLI.table(spark, "delete-where", List(dir, "k", "k", "10", "40"))
    assert(del.head.contains("generation 1"), del)
    assert(MergeTable.readTable(spark, dir).count() == 69)
    assert(GraftCLI.table(spark, "history", List(dir)).head.startsWith("g1 delete "),
      "history must show the console-driven delete")

    val upd = GraftCLI.table(spark, "update-where",
      List(dir, "k", "k", "50", "60", "bal=bal + 1000"))
    assert(upd.head.contains("generation 2"), upd)
    assert(MergeTable.readTable(spark, dir).filter(col("k") === 55L)
      .select("bal").as[Double].head() == 1110.0)
    assert(GraftCLI.table(spark, "history", List(dir)).head.startsWith("g2 update "))

    val ch = tmpDir("cli-dml-changes")
    Seq((99L, "U", 0.5), (500L, "I", 7.0)).toDF("k", "op", "bal")
      .write.mode("overwrite").parquet(ch)
    val mg = GraftCLI.table(spark, "merge", List(dir, "k", ch))
    assert(mg.head.contains("generation 3"), mg)
    assert(MergeTable.readTable(spark, dir).filter(col("k") === 500L).count() == 1)

    // one-sided bound: `_` = unbounded (retention-delete shape)
    GraftCLI.table(spark, "delete-where", List(dir, "k", "k", "_", "5"))
    assert(MergeTable.readTable(spark, dir)
      .agg(org.apache.spark.sql.functions.min(col("k"))).head().getLong(0) == 6L)
  }

  test("table verbs: cdc-horizons / cdc-release gate the console vacuum") {
    import graft.operators.MergeTable
    import spark.implicits._
    val dir = tmpDir("cli-cdc")
    MergeTable.write(spark,
      (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("k", "bal"), "k", dir, nFiles = 2)
    MergeTable.merge(spark, dir, Seq((5L, "U", 9.9)).toDF("k", "op", "bal"), "k")
    assert(GraftCLI.table(spark, "cdc-horizons", List(dir)).head
      .startsWith("no registered"))
    MergeTable.registerCdcHorizon(dir, "replica-a", 0)
    val hz = GraftCLI.table(spark, "cdc-horizons", List(dir))
    assert(hz.size == 1 && hz.head.startsWith("replica-a at generation 0 (lag 1 of current 1;"),
      hz.toString)
    intercept[IllegalStateException] {
      GraftCLI.table(spark, "vacuum", List(dir))
    }
    assert(GraftCLI.table(spark, "vacuum", List(dir, "--force")).head
      .startsWith("vacuumed "))
    assert(GraftCLI.table(spark, "cdc-release", List(dir, "replica-a")).head
      .contains("released"))
    assert(GraftCLI.table(spark, "cdc-release", List(dir, "replica-a")).head
      .contains("no registered"))
  }

  test("delete-keys verb hides scattered keys and stats reports the hidden count") {
    import graft.operators.MergeTable
    import spark.implicits._
    val dir = tmpDir("cli-dv")
    MergeTable.write(spark,
      (1 to 200).map(i => (i.toLong, i * 1.0)).toDF("k", "bal"), "k", dir, nFiles = 2)
    val out = GraftCLI.table(spark, "delete-keys", List(dir, "k", "5,105,199"))
    assert(out.head.startsWith("hid 3 row(s)") &&
      out.head.contains("generation 1"), out.toString)
    assert(MergeTable.readTable(spark, dir).count() == 197)
    // no matching visible rows → nothing commits
    assert(GraftCLI.table(spark, "delete-keys", List(dir, "k", "5,99999"))
      .head.startsWith("no matching"))
    assert(MergeTable.committedGen(dir).contains(1))
    val stats = GraftCLI.table(spark, "stats", List(dir))
    assert(stats.exists(_.contains("(3 dv-hidden, 197 visible)")), stats.toString)
    intercept[GraftCLI.Usage] {
      GraftCLI.table(spark, "delete-keys", List(dir, "nope", "1"))
    }
    // a typo'd literal must fail loudly, not read as "already gone"
    val e = intercept[GraftCLI.Usage] {
      GraftCLI.table(spark, "delete-keys", List(dir, "k", "1O1,7"))
    }
    assert(e.getMessage.contains("1O1"), e.getMessage)
    assert(MergeTable.committedGen(dir).contains(1), "bad batch committed")
  }

  test("cdc-horizons flags an abandoned slot by lag + age; caught-up slots never") {
    import graft.operators.MergeTable
    import spark.implicits._
    val dir = tmpDir("cli-cdc-stale")
    MergeTable.write(spark,
      (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("k", "bal"), "k", dir, nFiles = 2)
    MergeTable.merge(spark, dir, Seq((5L, "U", 9.9)).toDF("k", "op", "bal"), "k")
    MergeTable.registerCdcHorizon(dir, "replica-lag", 0)   // lagging
    MergeTable.registerCdcHorizon(dir, "replica-cur", 1)   // caught up
    // age the registrations past the threshold (mtime IS the
    // last-advanced stamp — atomic replace on every registration)
    Seq("replica-lag", "replica-cur").foreach { c =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Path.of(dir, s"_cdc_horizon-$c"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 3600 * 1000))
    }
    val out = GraftCLI.table(spark, "cdc-horizons", List(dir, "60"))
    assert(out.size == 2, out.toString)
    val lagLine = out.find(_.startsWith("replica-lag")).get
    val curLine = out.find(_.startsWith("replica-cur")).get
    assert(lagLine.contains("lag 1 of current 1") &&
      lagLine.contains("STALE: candidate for cdc-release"), lagLine)
    // an old-but-caught-up consumer is idle, not abandoned
    assert(curLine.contains("lag 0 of current 1") &&
      !curLine.contains("STALE"), curLine)
    // within the (default) threshold nothing is flagged
    MergeTable.registerCdcHorizon(dir, "replica-lag", 0) // fresh stamp
    assert(!GraftCLI.table(spark, "cdc-horizons", List(dir, "60"))
      .exists(_.contains("STALE")))
  }

  test("malformed table invocations raise Usage (exit-2 path), not stack traces") {
    val dir = tmpDir("cli-usage")
    intercept[GraftCLI.Usage] { GraftCLI.table(spark, "bogus", List(dir)) }
    intercept[GraftCLI.Usage] {
      GraftCLI.table(spark, "recluster", List(dir, "k", "k,bal", "lots"))
    }
    intercept[GraftCLI.Usage] {
      GraftCLI.table(spark, "bloom-index", List(dir, "tag", "many"))
    }
    intercept[GraftCLI.Usage] { GraftCLI.table(spark, "vacuum", List(dir, "soon")) }
    // a typo'd threshold ('6O0') must not silently fall back to the
    // 24h default and report an abandoned slot as healthy
    intercept[GraftCLI.Usage] {
      GraftCLI.table(spark, "cdc-horizons", List(dir, "6O0"))
    }
    intercept[GraftCLI.Usage] { GraftCLI.table(spark, "restore", List(dir, "x")) }
    intercept[GraftCLI.Usage] { GraftCLI.table(spark, "history", Nil) }
    // a typo'd flag must be an error, not silently change WHICH
    // operation runs (--partail → a full 100 TB rewrite "succeeding")
    val e = intercept[GraftCLI.Usage] {
      GraftCLI.table(spark, "recluster", List(dir, "k", "k,bal", "--partail"))
    }
    assert(e.getMessage.contains("--partail"), e.getMessage)
    intercept[GraftCLI.Usage] {
      GraftCLI.table(spark, "vacuum", List(dir, "--froce"))
    }
    intercept[GraftCLI.Usage] {
      GraftCLI.table(spark, "history", List(dir, "--force"))
    }
  }

  test("index verbs: stats / tombstone / vacuum / compact / sweep against a real index") {
    import graft.similarity.Similarity
    import org.apache.spark.sql.functions.{col, expr, lit}
    import spark.implicits._
    val corpus = tmpDir("cli-ix-corpus")
    spark.range(150).select(col("id").as("vec_id"))
      .withColumn("embedding", expr("transform(sequence(1, 16), j -> " +
        "cast(pmod(xxhash64(vec_id * 16 + j), 1000) as float) / 1000.0)"))
      .withColumn("label", lit("c"))
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val dir = tmpDir("cli-ix-idx")
    Similarity.buildIvfIndex(spark, corpus, dir, nCells = 4, iters = 2, sampleMod = 1)
    val st0 = GraftCLI.index(spark, "stats", List(dir))
    assert(st0.head.startsWith("generation 0 ("), st0.mkString("\n"))
    assert(st0.exists(_.contains("4 cells, 150 vectors")), st0.mkString("\n"))
    assert(st0.last == "no live tombstones")
    // a fresh build sits under the rebuild floor: the dial reads, and
    // the verdict says no action
    assert(!st0.exists(_.contains("REBUILD-RECOMMENDED")), st0.mkString("\n"))
    assert(st0.exists(_.contains("no action needed")), st0.mkString("\n"))
    // tombstone two ids: stats flags them, vacuum removes them
    val tomb = GraftCLI.index(spark, "tombstone", List(dir, "3,7"))
    assert(tomb.head.startsWith("tombstoned 2 vec_id(s)"), tomb.head)
    assert(GraftCLI.index(spark, "stats", List(dir))
      .last.contains("2 live tombstone(s)"))
    val vac = GraftCLI.index(spark, "vacuum", List(dir))
    assert(vac.head.startsWith("vacuumed 2 tombstoned"), vac.head)
    assert(Similarity.indexVectors(spark, dir)
      .filter(col("vec_id").isin(3L, 7L)).isEmpty)
    assert(GraftCLI.index(spark, "vacuum", List(dir)).head
      .startsWith("no tombstones"))
    // fragment with an append, fold, and confirm the no-op form
    Similarity.appendToIvfIndex(spark, dir,
      spark.range(1000, 1040).select(col("id").as("vec_id"))
        .withColumn("embedding", expr("transform(sequence(1, 16), j -> " +
          "cast(pmod(xxhash64(vec_id * 16 + j), 1000) as float) / 1000.0)")))
    val cpt = GraftCLI.index(spark, "compact", List(dir))
    assert(cpt.head.startsWith("folded"), cpt.head)
    assert(GraftCLI.index(spark, "compact", List(dir)).head
      .contains("already compact"))
    // the fold RETIRES its input fragments (reader-safe; see the
    // compact spec) — reclaim them first so the orphan sweep below
    // counts exactly the planted file
    assert(GraftCLI.index(spark, "sweep", List(dir, "0"))
      .head.startsWith("reclaimed"), "retired-fragment sweep failed")
    // a planted uncommitted orphan is invisible and sweepable via CLI
    val orphan = Paths.get(dir, "vectors", "seg-dead", "pcell=0")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    val n = Similarity.indexVectors(spark, dir).count()
    assert(n == 148 + 40)
    val sw = GraftCLI.index(spark, "sweep", List(dir, "0"))
    assert(sw.head.startsWith("reclaimed 1 uncommitted"), sw.head)
    assert(!Files.exists(orphan))
    // malformed invocations raise Usage, not stack traces
    Seq(
      GraftCLI.index(spark, _: String, _: List[String])).foreach { f =>
      intercept[GraftCLI.Usage](f("stats", Nil))
      intercept[GraftCLI.Usage](f("tombstone", List(dir, "3,x")))
      intercept[GraftCLI.Usage](f("compact", List(dir, "two")))
      intercept[GraftCLI.Usage](f("nope", List(dir)))
    }
  }

  test("index stats: drifted appends cross the skew floor and flag REBUILD-RECOMMENDED") {
    import graft.similarity.Similarity
    import org.apache.spark.sql.functions.{col, expr, lit}
    // fresh 8-cell build over spread-out vectors: under the floor
    val corpus = tmpDir("cli-drift-corpus")
    spark.range(200).select(col("id").as("vec_id"))
      .withColumn("embedding", expr("transform(sequence(1, 16), j -> " +
        "cast(pmod(xxhash64(vec_id * 16 + j), 1000) as float) / 1000.0)"))
      .withColumn("label", lit("c"))
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val dir = tmpDir("cli-drift-idx")
    Similarity.buildIvfIndex(spark, corpus, dir, nCells = 8, iters = 2, sampleMod = 1)
    val fresh = GraftCLI.index(spark, "stats", List(dir))
    assert(!fresh.exists(_.contains("REBUILD-RECOMMENDED")), fresh.mkString("\n"))
    // append a drifted batch — 800 vectors whose DIRECTION is pinned
    // to the first axis (dim 1 dominates; routing is cosine, so a
    // tight direction cone — not a positional ball — is what lands in
    // one cell), which the FIXED build-time centroids (append never
    // retrains) route together: the drift signature the r18 probe
    // measured (6.6x drifted vs 1.1x retrained)
    Similarity.appendToIvfIndex(spark, dir,
      spark.range(10000, 10800).select(col("id").as("vec_id"))
        .withColumn("embedding", expr("transform(sequence(1, 16), j -> " +
          "cast(CASE WHEN j = 1 THEN 100.0 " +
          "ELSE pmod(xxhash64(vec_id * 16 + j), 1000) / 1000.0 END as float))")))
    val drifted = GraftCLI.index(spark, "stats", List(dir))
    val flag = drifted.find(_.startsWith("REBUILD-RECOMMENDED"))
    assert(flag.isDefined, drifted.mkString("\n"))
    // the flag carries the threshold and the remedy — an operator
    // acting on stats output alone has everything needed
    assert(flag.get.contains(">= 4.0x floor") && flag.get.contains("index rebuild"),
      flag.get)
    // the remedy IS a command (r20): rebuild retrains from the
    // index's own vectors, swaps under the CAS, and the flag clears
    val probeBefore = Similarity.indexVectors(spark, dir).count()
    val reb = GraftCLI.index(spark, "rebuild", List(dir))
    assert(reb.head.startsWith("rebuilt"), reb.mkString("\n"))
    val after = GraftCLI.index(spark, "stats", List(dir))
    assert(!after.exists(_.contains("REBUILD-RECOMMENDED")),
      after.mkString("\n"))
    // probes answer through the NEW generation: every vector
    // (original + drifted appends) survived the retrain-and-swap
    assert(Similarity.indexVectors(spark, dir).count() == probeBefore,
      "rebuild lost vectors")
    val q1 = Similarity.indexVectors(spark, dir)
      .filter(col("vec_id") === 10000L)
      .select(col("vec_id").as("q_id"), col("v").as("va"), col("nrm").as("na"))
    val probed = Similarity.probeIvf(spark, dir, q1, nProbe = 3, k = 5)
    assert(probed.count() == 5, "post-rebuild probe returned no neighbors")
  }

  test("run_sample --update: bounded-state top-N path writes the same file") {
    val in = Files.createTempDirectory("cli-in-u")
    Files.write(in.resolve("sample.txt"),
      "hotel bravo\nhotel alpha\nhotel bravo\n".getBytes)
    val out = tmpDir("cli-out-u")
    GraftCLI.runSample(spark, in.resolve("sample.txt").toString, out, update = true)
    val lines = Files.readAllLines(Paths.get(out, "top_words.txt"))
    assert(lines.get(0) == "hotel,3")
    assert(lines.contains("bravo,2"))
    assert(lines.contains("alpha,1"))
  }
}
