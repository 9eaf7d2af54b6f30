package graft

/** The unified session-artifact lifecycle: every memoized family
  * (pair caches, fp/LSH index tables, IVF dir, PQ codebooks) runs
  * through [[IndexLifecycle]], and one `evictAll` sweeps them all.
  */
class IndexLifecycleSpec extends SparkSpecBase {

  test("evictAll sweeps every family's artifacts: caches, tables, files") {
    // build one artifact in each of the five lifecycle families
    dedup.Dedup.jaccardPairs(spark, sfDir).count()
    dedup.Dedup.minhashPairs(spark, sfDir).count()
    val fpTable = dedup.Dedup.fpIndexFor(spark, sfDir)
    val lshDir = dedup.Dedup.lshIndexFor(spark, sfDir)
    val ivfDir = similarity.Similarity.ivfIndexFor(spark, sfDir)
    similarity.Similarity.pqBooksFor(spark, sfDir)

    assert(spark.catalog.tableExists(fpTable))
    assert(graft.operators.MergeTable.committedGen(lshDir + "/bands").isDefined)
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(ivfDir)))
    val registered = IndexLifecycle.all.map(l => l.name -> l.registered(spark)).toMap
    Seq("dd02-jaccard-pairs", "dd04-minhash-pairs", "dd10-fp-index",
      "dd11-lsh-index", "ann02-ivf-index", "ann05-pq-books").foreach(n =>
      assert(registered.getOrElse(n, Set.empty).contains(sfDir),
        s"$n did not register $sfDir (have: $registered)"))

    val released = IndexLifecycle.evictAll(spark)
    assert(released >= 6, s"expected >= 6 artifacts released, got $released")
    // memos empty, catalog clean, files gone
    IndexLifecycle.all.foreach(l =>
      assert(l.registered(spark).isEmpty, s"${l.name} still holds entries"))
    assert(!spark.catalog.tableExists(fpTable), "fp index table survived evictAll")
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(lshDir)),
      "lsh index root survived evictAll")
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(ivfDir)),
      "ivf index files survived evictAll")
    // idempotent: a second sweep has nothing to release
    assert(IndexLifecycle.evictAll(spark) == 0)
  }

  test("evictAll deletes the session's pp12 shard dir") {
    import scala.jdk.CollectionConverters._
    val s = spark.newSession()
    val suffix = s"-p${ProcessHandle.current().pid()}-s" +
      Integer.toHexString(System.identityHashCode(s))
    def shardDirs(): List[String] = {
      val ls = java.nio.file.Files.list(java.nio.file.Path.of(sys.props("java.io.tmpdir")))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("graft-shards-") && n.endsWith(suffix)).toList
      finally ls.close()
    }
    pipeline.Pipeline.pp12_shard_files(s, sfDir).count()
    assert(shardDirs().size == 1, s"expected one shard dir, got ${shardDirs()}")
    assert(IndexLifecycle.evictAll(s) >= 1)
    assert(shardDirs().isEmpty, s"shard dir survived evictAll: ${shardDirs()}")
  }

  test("stale hits re-validate: an index deleted out from under the memo rebuilds") {
    val dir1 = similarity.Similarity.ivfIndexFor(spark, sfDir)
    // simulate external disposal (another process cleaned the tmp dir)
    IndexLifecycle.deleteRecursively(dir1)
    val dir2 = similarity.Similarity.ivfIndexFor(spark, sfDir)
    assert(dir2 != dir1, "stale IVF memo hit was trusted after its files vanished")
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(dir2, "vectors")))
    // PARTIAL invalidation must not leak the survivors: delete only
    // the centroids and the stale-hit release must sweep the
    // corpus-sized vectors before rebuilding at a fresh location
    IndexLifecycle.deleteRecursively(
      java.nio.file.Path.of(
        similarity.Similarity.trainedDir(dir2), "centroids").toString)
    val dir3 = similarity.Similarity.ivfIndexFor(spark, sfDir)
    assert(dir3 != dir2, "half-deleted IVF memo hit was trusted")
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(dir2)),
      "partially-invalidated index dir leaked its surviving files")
    similarity.Similarity.evictIndex(spark, sfDir)
  }
}
