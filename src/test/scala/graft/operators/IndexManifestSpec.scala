package graft.operators

import graft.SparkSpecBase
import graft.similarity.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ANN index's r18 graduation from the quiesced-maintenance
  * contract: appendToIvfIndex / compactIvfCells /
  * vacuumVectorTombstones publish through [[IndexManifest]]'s
  * CAS-committed generation manifests, so concurrent writers race
  * SAFELY — the same OCC discipline MergeTable's 6-writer suite
  * proves for the table family, replayed here for the index family
  * against BOTH CommitStores (POSIX link-CAS and the in-memory
  * object-store stand-in).
  */
class IndexManifestSpec extends SparkSpecBase {

  // ---- pure manifest protocol (no Spark) ----

  test("manifest: adoption, append, replace-abort, retention") {
    val dir = tmpDir("ixman")
    // first commit sees no head and starts from an empty live set
    val h0 = IndexManifest.commitAppend(dir,
      Seq("seg-o/pcell=0/old1", "seg-o/pcell=1/old2", "seg-a/pcell=1/f1"))
    assert(h0.gen == 0L)
    assert(h0.files.toSet == Set("seg-o/pcell=0/old1", "seg-o/pcell=1/old2", "seg-a/pcell=1/f1"))
    // later appends build on the head
    val h1 = IndexManifest.commitAppend(dir, Seq("seg-b/pcell=0/f2"))
    assert(h1.gen == 1L && h1.files.size == 4)
    // replace: swap two files for one, atomically
    val h2 = IndexManifest.commitReplace(dir,
      Set("seg-o/pcell=0/old1", "seg-b/pcell=0/f2"), Seq("seg-c/pcell=0/fold"))
    assert(h2.exists(_.files.toSet ==
      Set("seg-o/pcell=1/old2", "seg-a/pcell=1/f1", "seg-c/pcell=0/fold")))
    // replace-abort: an input that already left the manifest (a
    // concurrent maintenance pass won) must refuse, not resurrect
    assert(IndexManifest.commitReplace(dir,
      Set("seg-o/pcell=0/old1"), Seq("seg-d/pcell=0/x")).isEmpty)
    assert(IndexManifest.head(dir).map(_.gen).contains(2L),
      "aborted replace must not mint a generation")
    // retention: old generations are reclaimed, head always resolves
    (1 to IndexManifest.keepGens.toInt + 4).foreach(i =>
      IndexManifest.commitAppend(dir, Seq(s"seg-r$i/pcell=0/f")))
    val head = IndexManifest.head(dir).get
    assert(head.gen == 2L + IndexManifest.keepGens + 4)
    assert(IndexManifest.committedGen(dir).contains(head.gen))
    val gens = java.nio.file.Files.list(java.nio.file.Path.of(dir, "_gens"))
    val names = try {
      import scala.jdk.CollectionConverters._
      gens.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("^g\\d+$")).toSeq
    } finally gens.close()
    assert(names.size <= IndexManifest.keepGens + 1,
      s"retention did not bound the manifest dir: $names")
    assert(!names.contains("g0"), "g0 survived retention")
  }

  // ---- the index family under concurrency, against both stores ----

  private def synthCorpus(n: Int, off: Long = 0L): DataFrame =
    spark.range(n).select((col("id") + off).as("vec_id"))
      .withColumn("embedding", expr("transform(sequence(1, 16), j -> " +
        "cast(pmod(xxhash64(vec_id * 16 + j), 1000) as float) / 1000.0)"))
      .withColumn("label", lit("c"))

  private def freshIndex(tag: String): (String, String) = {
    val corpus = tmpDir(s"ixman-$tag-corpus")
    synthCorpus(120).write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val idx = tmpDir(s"ixman-$tag-idx")
    Similarity.buildIvfIndex(spark, corpus, idx, nCells = 4, iters = 2, sampleMod = 1)
    (corpus, idx)
  }

  private def withBothStores(tag: String)(body: (String, String) => Unit): Unit = {
    Seq("posix", "inmemory").foreach { flavor =>
      val pre = tmpDir(s"ixman-$tag-$flavor")
      if (flavor == "inmemory") CommitStore.register(pre, new InMemoryCommitStore)
      try {
        val corpus = s"$pre/corpus"
        synthCorpus(120).write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
        val idx = s"$pre/idx"
        Similarity.buildIvfIndex(spark, corpus, idx, nCells = 4, iters = 2, sampleMod = 1)
        if (flavor == "inmemory")
          assert(!java.nio.file.Files.exists(
            java.nio.file.Path.of(idx, "_gens", "g0")),
            "in-memory store leaked its manifest to the filesystem")
        body(flavor, idx)
      } finally if (flavor == "inmemory") CommitStore.unregister(pre)
    }
  }

  test("trained artifacts version with the manifest: set by rebuild, carried by appends") {
    val (corpus, idx) = freshIndex("retrain")
    val t0 = Similarity.trainedDir(idx)
    assert(t0 != idx && t0.contains("/trained-"), t0)
    assert(IndexManifest.head(idx).get.meta.get("trained")
      .exists(n => s"$idx/$n" == t0))
    // appends carry the trained pointer forward untouched
    Similarity.appendToIvfIndex(spark, idx,
      synthCorpus(10, 555000L).select("vec_id", "embedding"))
    assert(Similarity.trainedDir(idx) == t0, "append moved the trained pointer")
    assert(Similarity.indexVectors(spark, idx).count() == 130)
    // a rebuild swaps the vector files AND the routing/codebook
    // artifacts in ONE generation — no probe can pair new centroids
    // with old cells — and retires the superseded trained dir
    Similarity.buildIvfIndex(spark, corpus, idx, nCells = 4, iters = 2, sampleMod = 1)
    val t1 = Similarity.trainedDir(idx)
    assert(t1 != t0, "rebuild did not version the trained artifacts")
    // the superseded trained dir is RETIRED, not deleted: a probe that
    // pinned the pre-rebuild head still loads these centroids — the
    // bytes stay under a fresh grace clock until the sweep reclaims
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(t0)),
      "superseded trained dir should be retired (still loadable), not deleted")
    Similarity.sweepUncommittedVectorFiles(idx, graceMs = 0L)
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(t0)),
      "retired trained dir survived the grace-expired sweep")
    // the rebuild re-indexed the CORPUS: the appended rows (not part
    // of it) retired with the old generation, and probes run clean
    assert(Similarity.indexVectors(spark, idx).count() == 120)
    val q = synthCorpus(3).select(
      (col("vec_id") + 900000L).as("q_id"),
      col("embedding").cast("array<double>").as("va"))
      .withColumn("na", graft.functions.GraftFunctions.l2norm("va"))
    assert(Similarity.probeIvf(spark, idx, q).count() > 0)
  }

  test("6 concurrent appenders: every batch committed, no lost update, both stores") {
    withBothStores("app6") { (flavor, idx) =>
      val base = Similarity.indexVectors(spark, idx).count()
      val writers = 6
      val per = 20
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (1 to writers).foreach { i =>
        pool.execute { () =>
          try Similarity.appendToIvfIndex(spark, idx,
            synthCorpus(per, 1000L * i).select("vec_id", "embedding"))
          catch { case t: Throwable => failures.add(t) }
        }
      }
      pool.shutdown()
      assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(failures.isEmpty, s"[$flavor] appenders failed: ${failures.peek()}")
      val got = Similarity.indexVectors(spark, idx)
      assert(got.count() == base + writers * per,
        s"[$flavor] lost or duplicated an append")
      assert(got.select("vec_id").distinct().count() == base + writers * per)
      // every appender minted its own generation on top of the build's
      assert(IndexManifest.head(idx).map(_.gen).contains(writers.toLong),
        s"[$flavor] expected gen $writers after $writers appends on g0")
    }
  }

  test("append racing compaction: the fold rebases or restages, rows never lost") {
    withBothStores("race") { (flavor, idx) =>
      // pre-fragment so the compactor has real work
      (1 to 3).foreach(i => Similarity.appendToIvfIndex(spark, idx,
        synthCorpus(30, 1000L * i).select("vec_id", "embedding")))
      val base = Similarity.indexVectors(spark, idx).count()
      val appenders = 3
      val per = 25
      val pool = java.util.concurrent.Executors.newFixedThreadPool(appenders + 1)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      pool.execute { () =>
        try { Similarity.compactIvfCells(spark, idx); () }
        catch { case t: Throwable => failures.add(t) }
      }
      (1 to appenders).foreach { i =>
        pool.execute { () =>
          try Similarity.appendToIvfIndex(spark, idx,
            synthCorpus(per, 100000L * i).select("vec_id", "embedding"))
          catch { case t: Throwable => failures.add(t) }
        }
      }
      pool.shutdown()
      assert(pool.awaitTermination(180, java.util.concurrent.TimeUnit.SECONDS))
      assert(failures.isEmpty, s"[$flavor] race failed: ${failures.peek()}")
      val got = Similarity.indexVectors(spark, idx)
      assert(got.count() == base + appenders * per,
        s"[$flavor] append-vs-compact race lost rows")
      assert(got.select("vec_id").distinct().count() == base + appenders * per)
      // quiesced follow-up fold converges the layout to one file/cell
      Similarity.compactIvfCells(spark, idx)
      val perCell = IndexManifest.head(idx).get.files
        .groupBy(Similarity.cellOfPath).values.map(_.size)
      assert(perCell.forall(_ == 1), s"[$flavor] post-race fold incomplete: $perCell")
      assert(Similarity.indexVectors(spark, idx).count() == base + appenders * per)
    }
  }

  test("vacuum racing an append of a tombstoned id: clear only after provably gone") {
    val (_, idx) = freshIndex("vacrace")
    import spark.implicits._
    val doomed = Similarity.indexVectors(spark, idx)
      .orderBy("vec_id").limit(3).select("vec_id").as[Long].collect().toSeq
    Similarity.tombstoneVectors(spark, idx, doomed.toDF("vec_id"))
    // an append re-delivers one tombstoned vector CONCURRENTLY with
    // the vacuum (worst legal interleaving: it lands after discovery)
    val redelivered = synthCorpus(200).filter(col("vec_id") === doomed.head)
      .select("vec_id", "embedding")
    val t = new Thread(() => Similarity.appendToIvfIndex(spark, idx, redelivered))
    t.start()
    val n = Similarity.vacuumVectorTombstones(spark, idx)
    t.join()
    assert(n == doomed.size.toLong)
    // whatever the interleaving, the contract holds: after vacuum
    // returns, the tombstone set is empty ONLY if no tombstoned row is
    // live; if the redelivery won the last discovery, tombstones are
    // gone AND so is the row (the final pass rewrote it out)
    if (Similarity.vectorTombstones(spark, idx).isEmpty)
      assert(Similarity.indexVectors(spark, idx)
        .filter(col("vec_id") === doomed.head).count() <= 1,
        "vacuum cleared tombstones while duplicates of a tombstoned id linger")
    assert(Similarity.indexVectors(spark, idx)
      .filter(col("vec_id").isin(doomed.tail: _*)).isEmpty,
      "undisputed tombstoned ids survived the vacuum")
    // convergence, deterministically: whatever the interleaving left
    // (a legitimate post-fence re-add included), a fresh registration
    // plus a quiesced vacuum removes it
    Similarity.tombstoneVectors(spark, idx, Seq(doomed.head).toDF("vec_id"))
    Similarity.vacuumVectorTombstones(spark, idx)
    assert(Similarity.indexVectors(spark, idx)
      .filter(col("vec_id") === doomed.head).isEmpty)
    assert(Similarity.vectorTombstones(spark, idx).isEmpty)
  }

  test("takedown registered during a vacuum is never silently dropped") {
    val (_, idx) = freshIndex("tombrace")
    import spark.implicits._
    val ids = Similarity.indexVectors(spark, idx).orderBy("vec_id")
      .select("vec_id").as[Long].collect()
    val batchA = ids.take(3).toSeq
    val batchB = ids.slice(3, 6).toSeq
    Similarity.tombstoneVectors(spark, idx, batchA.toDF("vec_id"))
    // register batch B concurrently with the vacuum of batch A — the
    // pre-r18 whole-dir clear could tear B's registration down with
    // A's snapshot
    val t = new Thread(() =>
      Similarity.tombstoneVectors(spark, idx, batchB.toDF("vec_id")))
    t.start()
    Similarity.vacuumVectorTombstones(spark, idx)
    t.join()
    // batch A was in the snapshot: physically gone, always
    assert(Similarity.indexVectors(spark, idx)
      .filter(col("vec_id").isin(batchA: _*)).isEmpty)
    // batch B, under ANY interleaving: either its file made the
    // snapshot (rows physically gone) or it survives as LIVE
    // tombstones still governing probes — never dropped
    val stillTomb = Similarity.vectorTombstones(spark, idx)
      .as[Long].collect().toSet
    val stillLive = Similarity.indexVectors(spark, idx)
      .filter(col("vec_id").isin(batchB: _*))
      .select("vec_id").as[Long].collect().toSet
    assert(stillLive.subsetOf(stillTomb),
      s"takedown dropped: live $stillLive not covered by tombstones $stillTomb")
    // the follow-up vacuum converges to fully clean
    Similarity.vacuumVectorTombstones(spark, idx)
    assert(Similarity.indexVectors(spark, idx)
      .filter(col("vec_id").isin((batchA ++ batchB): _*)).isEmpty)
    assert(Similarity.vectorTombstones(spark, idx).isEmpty)
  }
}
