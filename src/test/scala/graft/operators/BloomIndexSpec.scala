package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Per-file Bloom sidecar: pruning power on a layout-uncorrelated
  * column, zero false negatives, soundness when the index is stale
  * (post-build commits), and rebuild supersession.
  */
class BloomIndexSpec extends SparkSpecBase {
  import spark.implicits._

  /** tag is a keyed hash rendered as text — high-cardinality and
    * UNcorrelated with the key-range layout, so min/max stats (which
    * aren't kept for non-key strings anyway) could never prune it.
    */
  private def table(n: Int) =
    (1 to n).map { k =>
      (k.toLong, f"tag-${(k * 2654435761L) % 1000003}%07d", k * 1.5)
    }.toDF("k", "tag", "bal")

  private def tagOf(k: Long) = f"tag-${(k * 2654435761L) % 1000003}%07d"

  test("bloom lookup prunes most files and never false-negatives") {
    val dir = tmpDir("bloomidx")
    MergeTable.write(spark, table(2000), "k", dir, nFiles = 16)
    assert(MergeTable.buildBloomIndex(spark, dir, "tag") == 0)

    val probes = (1 to 2000 by 83).map(k => (k.toLong, tagOf(k.toLong)))
    var candTotal = 0
    probes.foreach { case (k, tag) =>
      val (cands, pruned, total) = MergeTable.bloomCandidatePaths(spark, dir, "tag", tag)
      assert(total == 16)
      assert(cands.size + pruned == total)
      candTotal += cands.size
      val got = MergeTable.scanEqualsBloom(spark, dir, "tag", tag)
        .select("k", "tag", "bal").as[(Long, String, Double)].collect().toSeq
      assert(got == Seq((k, tag, k * 1.5)), s"probe $tag: got $got")
    }
    // 2^17 bits / ~125 keys per file → fp ≈ 0; expect ~1 candidate per
    // probe. Anything ≤ 2 on average proves the sidecar is doing the
    // pruning (a no-op index would sit at 16).
    assert(candTotal <= probes.size * 2,
      s"weak pruning: $candTotal candidates over ${probes.size} probes")

    // absent needle: exact empty result
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", "tag-nope").count() == 0)
  }

  test("probe literal coerces to the column type — no Int-vs-Long false negatives") {
    val dir = tmpDir("bloomtyped")
    MergeTable.write(spark, table(400), "k", dir, nFiles = 8)
    MergeTable.buildBloomIndex(spark, dir, "k", numBits = 1 << 14)
    // k is LongType; probe with a plain Int — XxHash64 hashes the two
    // types differently, so an uncast literal would rule out every file
    val got = MergeTable.scanEqualsBloom(spark, dir, "k", 42)
      .select("k").as[Long].collect().toSeq
    assert(got == Seq(42L), s"typed-probe false negative: $got")
    val (cands, pruned, total) = MergeTable.bloomCandidatePaths(spark, dir, "k", 42)
    assert(total == 8 && pruned >= 6 && cands.nonEmpty, s"$cands/$total")
  }

  /** Logical segment names as discovery resolves them (pointer-
    * published under `_bloomptr/` or legacy root dirs) — the asserts
    * below pin the NAME scheme; where the segment's parquet lives is
    * [[segDataDir]]'s business.
    */
  private def bloomDirNames(dir: String): Seq[String] =
    MergeTable.bloomDirs(dir).map(_.name).sorted

  private def segDataDir(dir: String, name: String): String =
    MergeTable.bloomDirs(dir).find(_.name == name)
      .getOrElse(sys.error(s"no committed segment $name under $dir")).dataDir

  test("merge maintains the sidecar: pruning stays ~1 candidate across merges, no rebuild") {
    val dir = tmpDir("bloommaint")
    MergeTable.write(spark, table(2000), "k", dir, nFiles = 16)
    MergeTable.buildBloomIndex(spark, dir, "tag")
    (1 to 4).foreach { round =>
      // a banded merge: 50 low keys updated with brand-new tags plus
      // one insert — all land in the committing generation's new files
      val batch =
        (1 to 50).map(k => (k.toLong, "U", s"tag-r$round-$k", 0.5)) :+
          ((100000L + round, "I", s"tag-ins-$round", 1.0))
      MergeTable.merge(spark, dir, batch.toDF("k", "op", "tag", "bal"), "k")
      // fold invariant: exactly ONE sidecar dir, named for the
      // committing generation — no rebuild ran, maintenance did this
      assert(bloomDirNames(dir) == Seq(s"_bloom-g$round~7b131072~tag"),
        s"round $round: ${bloomDirNames(dir)}")
      // a tag that exists ONLY in this round's new files still prunes
      // to ~1 candidate: without the fold those files would be
      // uncovered and EVERY probe would admit them, decaying the
      // index toward admit-all under a steady merge diet
      val (cands, pruned, total) =
        MergeTable.bloomCandidatePaths(spark, dir, "tag", s"tag-r$round-25")
      assert(total == 16 && cands.size <= 2 && pruned >= 14,
        s"round $round: candidates $cands of $total")
      assert(MergeTable.scanEqualsBloom(spark, dir, "tag", s"tag-r$round-25")
        .select("k").as[Long].collect().toSeq == Seq(25L))
      // untouched carried rows keep pruning + resolving through the fold
      val (c2, _, _) = MergeTable.bloomCandidatePaths(spark, dir, "tag", tagOf(1500L))
      assert(c2.size <= 2, s"round $round: carried-file pruning decayed: $c2")
      assert(MergeTable.scanEqualsBloom(spark, dir, "tag", tagOf(1500L))
        .select("k").as[Long].collect().toSeq == Seq(1500L))
    }
  }

  test("deleteWhere / compact / recluster keep the sidecar folded and exact") {
    val dir = tmpDir("bloomdml")
    MergeTable.write(spark, table(800), "k", dir, nFiles = 8)
    MergeTable.buildBloomIndex(spark, dir, "tag")
    // banded delete: interior files drop metadata-only, boundary files
    // rewrite; the fold prunes dead paths and covers the rewrites
    MergeTable.deleteWhere(spark, dir, "k", "k", Some(1L), Some(150L))
    assert(bloomDirNames(dir) == Seq("_bloom-g1~7b131072~tag"))
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", tagOf(100L)).count() == 0)
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", tagOf(400L))
      .select("k").as[Long].collect().toSeq == Seq(400L))
    // compact folds every small file; the sidecar follows
    MergeTable.compact(spark, dir, "k", targetRows = 1000L)
    assert(bloomDirNames(dir) == Seq("_bloom-g2~7b131072~tag"))
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", tagOf(400L))
      .select("k").as[Long].collect().toSeq == Seq(400L))
    // recluster rewrites everything; sketches rebuild from the staged
    // files inside the same maintenance hook
    MergeTable.recluster(spark, dir, "k", Seq("k", "bal"), nFiles = 8)
    assert(bloomDirNames(dir) == Seq("_bloom-g3~7b131072~tag"))
    val (cands, _, total) = MergeTable.bloomCandidatePaths(spark, dir, "tag", tagOf(400L))
    assert(total == 8 && cands.size <= 2, s"$cands of $total")
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", tagOf(400L))
      .select("k").as[Long].collect().toSeq == Seq(400L))
  }

  test("shallow clone carries the sidecar: pruning from the first probe, then diverges") {
    val dir = tmpDir("bloomclone")
    MergeTable.write(spark, table(800), "k", dir, nFiles = 8)
    MergeTable.buildBloomIndex(spark, dir, "tag")
    val clone = dir + "-c"
    graft.IndexLifecycle.deleteRecursively(clone)
    MergeTable.cloneTable(spark, dir, clone)
    // the clone's manifest references the SOURCE's files, and sketch
    // rows are keyed by absolute path — the copied sidecar prunes
    // immediately instead of starting uncovered
    val (cands, pruned, total) =
      MergeTable.bloomCandidatePaths(spark, clone, "tag", tagOf(400L))
    assert(total == 8 && pruned >= 6, s"clone did not inherit pruning: $cands")
    assert(MergeTable.scanEqualsBloom(spark, clone, "tag", tagOf(400L))
      .select("k").as[Long].collect().toSeq == Seq(400L))
    // a clone-side merge maintains the CLONE's sidecar only
    MergeTable.merge(spark, clone,
      Seq((10L, "U", "c-tag", 0.1)).toDF("k", "op", "tag", "bal"), "k")
    assert(MergeTable.scanEqualsBloom(spark, clone, "tag", "c-tag")
      .select("k").as[Long].collect().toSeq == Seq(10L))
    val (cc, _, _) = MergeTable.bloomCandidatePaths(spark, clone, "tag", "c-tag")
    assert(cc.size <= 2, s"clone-side fold missing: $cc")
    assert(bloomDirNames(clone) == Seq("_bloom-g1~7b131072~tag"))
    // source untouched: no c-tag row, its sidecar still the original
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", "c-tag").count() == 0)
    assert(bloomDirNames(dir) == Seq("_bloom-g0~7b131072~tag"))
  }

  test("crashed maintenance stays sound: uncovered new files are admitted, results exact") {
    val dir = tmpDir("bloomstale")
    MergeTable.write(spark, table(400), "k", dir, nFiles = 8)
    MergeTable.buildBloomIndex(spark, dir, "tag")
    // simulate a maintenance crash: snapshot the gen-0 sidecar, merge
    // (which folds to gen 1), then restore the STALE gen-0 sidecar —
    // the merge's new file is now uncovered, exactly the documented
    // degradation mode
    val g0 = MergeTable.bloomDirs(dir).head
    val saved = java.nio.file.Files.createTempDirectory("bloomstale-saved")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(g0.dataDir), saved.resolve("seg").toFile)
    MergeTable.merge(spark, dir,
      Seq((50L, "U", "fresh-tag", 0.5)).toDF("k", "op", "tag", "bal"), "k")
    MergeTable.bloomDirs(dir).foreach { seg =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Path.of(dir, "_bloomptr", seg.name))
      graft.IndexLifecycle.deleteRecursively(seg.dataDir)
    }
    // the stale restore publishes exactly as a (resurrected) pointer
    // segment would: data under a tokened dir, pointer naming it
    org.apache.commons.io.FileUtils.copyDirectory(
      saved.resolve("seg").toFile,
      new java.io.File(s"$dir/_bloomseg-restored"))
    java.nio.file.Files.write(
      java.nio.file.Path.of(dir, "_bloomptr", g0.name),
      "_bloomseg-restored\n".getBytes("UTF-8"))

    val (cands, _, total) = MergeTable.bloomCandidatePaths(spark, dir, "tag", "fresh-tag")
    assert(cands.nonEmpty, "uncovered rewritten file must be admitted")
    assert(total == 8)
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", "fresh-tag")
      .select("k").as[Long].collect().toSeq == Seq(50L))
    // the OLD tag of k=50 no longer exists; bloom admits its old file's
    // replacement or not — either way the residual filter keeps it exact
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", tagOf(50L)).count() == 0)
    // a key untouched by the merge still resolves through the stale index
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", tagOf(333L))
      .select("k").as[Long].collect().toSeq == Seq(333L))
  }

  test("property: lookups never false-negative across a random merge/rebuild lifecycle") {
    val rnd = new scala.util.Random(7)
    val dir = tmpDir("bloomprop")
    var live = (1 to 300).map(k => k.toLong -> s"tag-${rnd.nextInt(1000000)}-$k").toMap
    var gone = Set.empty[String]
    MergeTable.write(spark,
      live.toSeq.map { case (k, t) => (k, t, k * 1.0) }.toDF("k", "tag", "bal"),
      "k", dir, nFiles = 6)
    MergeTable.buildBloomIndex(spark, dir, "tag", numBits = 1 << 14)
    var nextKey = 1000L
    (1 to 4).foreach { round =>
      val dels = rnd.shuffle(live.keys.toSeq).take(rnd.nextInt(10))
      val upds = rnd.shuffle((live.keySet -- dels).toSeq).take(rnd.nextInt(10))
        .map(k => k -> s"tag-r$round-$k")
      val inss = (0 until rnd.nextInt(8)).map { _ =>
        nextKey += 1; nextKey -> s"tag-new$round-$nextKey"
      }
      val batch =
        dels.map(k => (k, "D", null: String, 0.0)) ++
          upds.map { case (k, t) => (k, "U", t, 0.5) } ++
          inss.map { case (k, t) => (k, "I", t, 1.5) }
      MergeTable.merge(spark, dir, batch.toDF("k", "op", "tag", "bal"), "k")
      gone = gone ++ dels.map(live) ++ upds.flatMap { case (k, _) => live.get(k) }
      live = (live -- dels) ++ upds ++ inss
      if (round == 2) MergeTable.buildBloomIndex(spark, dir, "tag", numBits = 1 << 14)
      // every probed CURRENT tag must resolve to exactly its row —
      // covered or not by the (possibly stale) sidecar
      rnd.shuffle(live.toSeq).take(12).foreach { case (k, t) =>
        val got = MergeTable.scanEqualsBloom(spark, dir, "tag", t)
          .select("k").as[Long].collect().toSeq
        assert(got == Seq(k), s"round $round: tag $t gave $got, want $k")
      }
      // and tags that left the table resolve to nothing
      rnd.shuffle(gone.toSeq).take(4).foreach { t =>
        assert(MergeTable.scanEqualsBloom(spark, dir, "tag", t).count() == 0,
          s"round $round: departed tag $t still resolves")
      }
    }
  }

  test("custom numBits rides the dir name and sizes every maintained fresh sketch") {
    val dir = tmpDir("bloombits")
    MergeTable.write(spark, table(400), "k", dir, nFiles = 8)
    MergeTable.buildBloomIndex(spark, dir, "tag", numBits = 1 << 14)
    assert(bloomDirNames(dir) == Seq("_bloom-g0~7b16384~tag"))
    MergeTable.merge(spark, dir,
      Seq((50L, "U", "fresh-tag", 0.5)).toDF("k", "op", "tag", "bal"), "k")
    // the fold's FRESH sketches are sized by the recorded numBits, not
    // the build default — every row (carried and fresh) is 2048 word
    // bytes + the r18 9-byte (magic + k) header
    assert(bloomDirNames(dir) == Seq("_bloom-g1~7b16384~tag"))
    val lens = spark.read.parquet(segDataDir(dir, "_bloom-g1~7b16384~tag"))
      .agg(min(length(col("bloom"))), max(length(col("bloom")))).head()
    assert(lens.getInt(0) == 2057 && lens.getInt(1) == 2057, lens.toString)
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", "fresh-tag")
      .select("k").as[Long].collect().toSeq == Seq(50L))
  }

  test("a different-numHashes segment survives the fold and keeps pruning its files") {
    val dir = tmpDir("bloomkmix")
    MergeTable.write(spark, table(800), "k", dir, nFiles = 8)
    MergeTable.buildBloomIndex(spark, dir, "tag", numHashes = 7)
    MergeTable.merge(spark, dir,
      Seq((50L, "U", "mid-tag", 0.5)).toDF("k", "op", "tag", "bal"), "k")
    // a same-generation rebuild with a DIFFERENT numHashes lands beside
    // the k=7 segment (documented torn window of a crashed k-change)
    MergeTable.buildBloomIndex(spark, dir, "tag", numHashes = 5)
    assert(bloomDirNames(dir).toSet ==
      Set("_bloom-g1~7b131072~tag", "_bloom-g1~5b131072~tag"))
    // the next DML folds ONE family (highest k on the tie) and leaves
    // the other ALIVE — its coverage is not silently discarded
    MergeTable.merge(spark, dir,
      Seq((60L, "U", "late-tag", 0.6)).toDF("k", "op", "tag", "bal"), "k")
    assert(bloomDirNames(dir).toSet ==
      Set("_bloom-g2~7b131072~tag", "_bloom-g1~5b131072~tag"),
      bloomDirNames(dir).toString)
    // the split is an observable condition (table stats), not a
    // per-commit stderr warning
    assert(MergeTable.bloomFamilySplit(dir) == Map("tag" -> 2))
    // probes consult EVERY family: exact results for carried, folded
    // and pre-fold tags, and pruning still beats admit-all
    Seq(50L -> "mid-tag", 60L -> "late-tag").foreach { case (k, t) =>
      assert(MergeTable.scanEqualsBloom(spark, dir, "tag", t)
        .select("k").as[Long].collect().toSeq == Seq(k), t)
    }
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", tagOf(700L))
      .select("k").as[Long].collect().toSeq == Seq(700L))
    val (cands, pruned, total) =
      MergeTable.bloomCandidatePaths(spark, dir, "tag", tagOf(700L))
    assert(total == 8 && pruned >= 5, s"pruning decayed: $cands of $total")
    // a HIGHER-generation full rebuild supersedes every family
    // (coverage now complete; a SAME-generation rebuild leaves a
    // different-k sibling — the documented concurrent-builder window)
    MergeTable.merge(spark, dir,
      Seq((70L, "U", "last-tag", 0.7)).toDF("k", "op", "tag", "bal"), "k")
    MergeTable.buildBloomIndex(spark, dir, "tag")
    assert(bloomDirNames(dir) == Seq("_bloom-g3~7b131072~tag"))
  }

  test("a same-generation rebuild with different numBits supersedes, never splits the family") {
    val dir = tmpDir("bloomrebits")
    MergeTable.write(spark, table(400), "k", dir, nFiles = 8)
    MergeTable.buildBloomIndex(spark, dir, "tag", numBits = 1 << 14)
    // re-tune the size without a new generation: the rebuild fully
    // covers the live set, so the old-bits sibling must go — leaving
    // it would hand the next fold two segments of ONE family and
    // compound duplicate rows per path forever
    MergeTable.buildBloomIndex(spark, dir, "tag", numBits = 1 << 17)
    assert(bloomDirNames(dir) == Seq("_bloom-g0~7b131072~tag"))
    assert(MergeTable.bloomFamilySplit(dir).isEmpty)
    MergeTable.merge(spark, dir,
      Seq((50L, "U", "fresh-tag", 0.5)).toDF("k", "op", "tag", "bal"), "k")
    val sidecar = spark.read.parquet(segDataDir(dir, "_bloom-g1~7b131072~tag"))
    assert(sidecar.groupBy("path").count()
      .filter(col("count") > 1).isEmpty, "duplicate rows per path")
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", "fresh-tag")
      .select("k").as[Long].collect().toSeq == Seq(50L))
  }

  test("crashed-build staging never reads as a committed segment, and vacuum sweeps it") {
    val dir = tmpDir("bloomstaged")
    MergeTable.write(spark, table(400), "k", dir, nFiles = 8)
    MergeTable.buildBloomIndex(spark, dir, "tag")
    // a pointer flip that died mid-write: the POSIX store's staged
    // pointer (its suffix lands in the column segment of the name)...
    val liveSeg = java.nio.file.Path.of(MergeTable.bloomDirs(dir).head.dataDir)
      .getFileName.toString
    val staged = java.nio.file.Path.of(dir, "_bloomptr",
      "_bloom-g0~7b131072~tag.tmp-1-deadbeef")
    java.nio.file.Files.write(staged, s"$liveSeg\n".getBytes("UTF-8"))
    // ...a builder that died between parquet write and flip: an
    // orphaned data dir no pointer references...
    val orphan = java.nio.file.Path.of(dir, "_bloomseg-deadtok")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-junk.parquet"), Array[Byte](3, 4))
    // ...and one that died the OTHER side of the flip on a column that
    // never landed: a dangling pointer whose target is gone
    val dangling = java.nio.file.Path.of(dir, "_bloomptr",
      "_bloom-g0~7b131072~ghost")
    java.nio.file.Files.write(dangling, "_bloomseg-gone\n".getBytes("UTF-8"))
    // all three are invisible to every sidecar consumer: no phantom
    // column in stats, no fold attempt, probes unaffected
    assert(MergeTable.bloomIndexedColumns(dir) == Map("tag" -> 0))
    assert(MergeTable.bloomFamilySplit(dir).isEmpty)
    MergeTable.merge(spark, dir,
      Seq((50L, "U", "fresh-tag", 0.5)).toDF("k", "op", "tag", "bal"), "k")
    assert(MergeTable.bloomIndexedColumns(dir) == Map("tag" -> 1))
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", "fresh-tag")
      .select("k").as[Long].collect().toSeq == Seq(50L))
    // DEFAULT vacuum spares fresh unreferenced index artifacts (the
    // orphan age floor): a concurrent builder's not-yet-flipped dir
    // must survive a 0-age data vacuum
    MergeTable.vacuum(spark, dir)
    assert(java.nio.file.Files.exists(orphan),
      "orphan floor failed: a FRESH _bloomseg- dir was swept — a " +
        "concurrent builder's unpublished segment would be lost")
    assert(java.nio.file.Files.exists(dangling),
      "orphan floor failed: a fresh dangling pointer was swept")
    // with the floor waived (provably quiesced / test), orphans go
    MergeTable.vacuum(spark, dir, orphanAgeMs = 0L)
    assert(!java.nio.file.Files.exists(staged), "staging survived vacuum")
    assert(!java.nio.file.Files.exists(orphan),
      "orphaned _bloomseg- data dir survived vacuum")
    assert(!java.nio.file.Files.exists(dangling),
      "dangling pointer survived vacuum")
    // the LIVE segment (pointer + referenced data dir) is untouched
    assert(MergeTable.bloomIndexedColumns(dir) == Map("tag" -> 1))
    val (_, pruned, total) =
      MergeTable.bloomCandidatePaths(spark, dir, "tag", tagOf(333L))
    assert(total == 8 && pruned >= 5, "live segment lost pruning after vacuum")
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", tagOf(333L))
      .select("k").as[Long].collect().toSeq == Seq(333L))
  }

  test("rebuild supersedes the old sidecar and restores full pruning") {
    val dir = tmpDir("bloomrebuild")
    MergeTable.write(spark, table(400), "k", dir, nFiles = 8)
    MergeTable.buildBloomIndex(spark, dir, "tag")
    MergeTable.merge(spark, dir,
      Seq((50L, "U", "fresh-tag", 0.5)).toDF("k", "op", "tag", "bal"), "k")
    assert(MergeTable.buildBloomIndex(spark, dir, "tag") == 1)

    // exactly one segment remains, named for generation 1 — and
    // exactly one data dir on disk (the superseded one was swept)
    val names = bloomDirNames(dir)
    assert(names.length == 1 && names.head.startsWith("_bloom-g1~"), names.toString)
    val segDirs = {
      val ls = java.nio.file.Files.list(java.nio.file.Path.of(dir))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_bloomseg-")).toSeq
      } finally ls.close()
    }
    assert(segDirs.length == 1, s"superseded data dirs survived: $segDirs")

    val (cands, pruned, total) = MergeTable.bloomCandidatePaths(spark, dir, "tag", "fresh-tag")
    assert(total == 8 && pruned >= 6, s"rebuilt index should prune again: $pruned/$total")
    assert(MergeTable.scanEqualsBloom(spark, dir, "tag", "fresh-tag")
      .select("k").as[Long].collect().toSeq == Seq(50L))
    assert(cands.size <= 2)
  }
}
