package graft.sources

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpecBase {

  test("every batch format round-trips the nation table losslessly") {
    val nation = Tables.nation(spark, sfDir)
    val expected = nation.orderBy("n_nationkey").collect().toSeq
    Sources.formats.foreach { fmt =>
      val path = tmpDir(s"src-$fmt")
      Sources.write(nation, fmt, path)
      val back = Sources.read(spark, fmt, path)
        .select(nation.columns.map(col): _*)
      // csv/json round-trip through text: compare on a normalized view
      val got = back.orderBy("n_nationkey").collect().toSeq
      assert(got.size == expected.size, s"$fmt: row count")
      assert(got.map(_.getAs[Any]("n_name")) == expected.map(_.getAs[Any]("n_name")),
        s"$fmt: names differ")
    }
  }

  test("resilient read: broken lines quarantined, clean rows parse, nothing lost") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("src-resilient")
    val lines = Seq(
      """{"id": 1, "name": "alpha"}""",
      """{"id": 2, "name": "beta"}""",
      """{"id": 3 "name": "broken-no-comma"}""",
      """not json at all""",
      """{"id": 5, "name": "gamma"}""")
    java.nio.file.Files.write(java.nio.file.Path.of(dir, "part.json"),
      String.join("\n", lines: _*).getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val df = Sources.readResilient(spark, "json", dir, schema)
    val q = Sources.quarantine(df)
    val (clean, bad) = (q.clean, q.quarantined)
    assert(clean.count() == 3, "clean rows")
    assert(clean.columns.toSeq == Seq("id", "name"), "rescue column leaked")
    assert(clean.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("alpha", "beta", "gamma"))
    val rescued = bad.collect().map(_.getString(0)).toSet
    assert(rescued.size == 2, s"quarantined: $rescued")
    // the raw line survives verbatim for reprocessing
    assert(rescued.contains("not json at all"))
    assert(rescued.exists(_.contains("broken-no-comma")))
    q.release() // the split pins a cached parse until released
  }

  test("persisted sketch table: monthly bitmap sketches round-trip parquet, rollup exact") {
    // the production form of q51's pattern: the monthly sketch table
    // is WRITTEN once and every later rollup reads it — prove the
    // binary sketches survive the parquet round-trip losslessly by
    // comparing the from-disk rollup against the direct computation
    val dir = tmpDir("sketch-table")
    val monthly = Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(graft.functions.GraftFunctions
        .bitmapAgg("o_custkey", maxKey = 1 << 24).as("sk"))
    monthly.write.mode("overwrite").parquet(dir)
    val rolled = spark.read.parquet(dir)
      .groupBy("y")
      .agg(graft.functions.GraftFunctions.bitmapUnion("sk").as("usk"))
      .select(col("y"),
        graft.functions.GraftFunctions.bitmapCount("usk").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val direct = Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(countDistinct("o_custkey").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rolled == direct,
      "rollup from the persisted sketch table diverges from exact distinct counts")
  }

  test("parquet bloom filters: footers carry the filter, probes hit present and reject absent keys") {
    val dir = tmpDir("src-bloom")
    val out = s"$dir/orders"
    // o_orderkey is unique per row: dictionary encoding falls back to
    // plain, which is exactly when parquet materializes the bloom (a
    // fully-dictionary-encoded column skips it by design — the
    // dictionary already prunes row groups exactly; helper scaladoc)
    Sources.writeWithBloomFilters(
      Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
      out, Seq("o_orderkey"), ndv = 10000L)
    // the written artifact must actually CARRY the filter — read the
    // parquet footer directly, not just our own options back
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.toString),
      spark.sessionState.newHadoopConf()))
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      val col = rg.getColumns.asScala
        .find(_.getPath.toDotString == "o_orderkey").get
      assert(col.getBloomFilterOffset >= 0, "no bloom filter in the footer")
      val bf = reader.getBloomFilterDataReader(rg).readBloomFilter(col)
      assert(bf != null, "bloom filter unreadable")
      // a key present in this file must hit; a far-out-of-domain key
      // must miss (fp probability at ndv=10k is negligible for one probe)
      val present = spark.read.parquet(out).select("o_orderkey")
        .head().getLong(0)
      assert(bf.findHash(bf.hash(present)), "present key missed the bloom")
      assert(!bf.findHash(bf.hash(Long.MaxValue - 12345L)),
        "absent key hit the bloom")
    } finally reader.close()
    // and the data itself is untouched by the option plumbing
    assert(spark.read.parquet(out).count() ==
      Tables.orders(spark, sfDir).count())
  }

  test("partitioned write produces a prunable layout") {
    val path = tmpDir("src-part")
    Sources.write(Tables.orders(spark, sfDir), "parquet", path,
      partitionBy = Seq("o_orderstatus"))
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("o_orderstatus="))
    assert(dirs.nonEmpty)
    // partition-pruned read only touches one directory: the partition
    // filter must reach the scan node (a full multi-dir scan would
    // still return rows, so count alone can't catch a pruning loss)
    val one = Sources.read(spark, "parquet", path).filter(col("o_orderstatus") === "F")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("o_orderstatus"),
      s"o_orderstatus filter did not reach PartitionFilters:\n$plan")
    assert(one.select(input_file_name()).distinct().collect()
      .forall(_.getString(0).contains("o_orderstatus=F")),
      "pruned read touched files outside the o_orderstatus=F directory")
    assert(one.count() > 0)
  }

  test("schema evolution: mergeSchema unions per-file schemas") {
    import spark.implicits._
    val path = tmpDir("src-evolve")
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$path/v1")
    Seq((2L, "b", 9.5)).toDF("id", "name", "score").write.parquet(s"$path/v2")
    val merged = Sources.readMerged(spark, s"$path/*")
    assert(merged.columns.toSet == Set("id", "name", "score"))
    val byId = merged.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(2) && byId(2L).getDouble(2) == 9.5)
  }

  test("compaction: many small files -> targetFiles via pointer flip, data intact") {
    val path = tmpDir("src-compact") + "/t"
    Tables.lineitem(spark, sfDir).repartition(64).write.parquet(path)
    val before = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 64)
    val rows = spark.read.parquet(path).count()
    Sources.compact(spark, path, targetFiles = 2)
    // migrated to the pointered layout: data lives once in the head's
    // generation dir, the legacy root files are retired
    val gen1 = Sources.compactedDataDir(path)
    assert(gen1 != path && gen1.contains("_gen-"))
    assert(new java.io.File(gen1).listFiles().count(_.getName.endsWith(".parquet")) == 2)
    assert(new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet")) == 0,
      "legacy root files survived the migration")
    assert(Sources.readCompacted(spark, "parquet", path).count() == rows)
    // a second compaction flips generation-to-generation and sweeps
    // the superseded one
    Sources.compact(spark, path, targetFiles = 1)
    val gen2 = Sources.compactedDataDir(path)
    assert(gen2 != gen1, "second compaction did not advance the head")
    assert(!new java.io.File(gen1).exists(), "superseded generation survived")
    assert(Sources.readCompacted(spark, "parquet", path).count() == rows)
    // crash BEFORE a flip, modeled exactly: an orphan generation dir —
    // readers resolve the committed head, and the next pass sweeps it
    val orphan = java.nio.file.Paths.get(path, "_gen-orphantok")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("junk.parquet"), Array[Byte](1))
    assert(Sources.compactedDataDir(path) == gen2)
    assert(Sources.readCompacted(spark, "parquet", path).count() == rows)
    Sources.compact(spark, path, targetFiles = 2)
    assert(!java.nio.file.Files.exists(orphan), "orphan generation not swept")
    assert(Sources.readCompacted(spark, "parquet", path).count() == rows)
  }

  test("compaction retainMs: superseded generation survives the grace window, then sweeps") {
    import java.nio.file.{Files, Paths}
    val path = tmpDir("src-compact-retain") + "/t"
    Tables.region(spark, sfDir).repartition(4).write.parquet(path)
    val rows = spark.read.parquet(path).count()
    val hour = 3600L * 1000
    Sources.compact(spark, path, targetFiles = 2, retainMs = hour)
    val gen1 = Sources.compactedDataDir(path)
    // generation-to-generation flip inside the grace window: the old
    // generation stays readable for an in-flight scan that resolved
    // the pre-flip pointer, and a `_retired-` marker records when it
    // was unlinked
    Sources.compact(spark, path, targetFiles = 1, retainMs = hour)
    val gen2 = Sources.compactedDataDir(path)
    assert(gen2 != gen1)
    val marker = Paths.get(path, "_retired-" + Paths.get(gen1).getFileName)
    assert(Files.exists(Paths.get(gen1)), "retired generation deleted inside grace")
    assert(Files.exists(marker), "no retirement marker for the superseded generation")
    assert(spark.read.parquet(gen1).count() == rows, "retiree unreadable inside grace")
    // the window travels WITH the marker: a later pass using the
    // DEFAULT retainMs (0) must still honor the hour gen1 was granted
    Sources.compact(spark, path, targetFiles = 2)
    assert(Files.exists(Paths.get(gen1)),
      "a default-retainMs pass cut short an earlier call's grace window")
    // age the marker past the window: next pass reclaims dir + marker
    Files.setLastModifiedTime(marker,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 2 * hour))
    Sources.compact(spark, path, targetFiles = 1, retainMs = hour)
    assert(!Files.exists(Paths.get(gen1)), "generation survived past its grace window")
    assert(!Files.exists(marker), "stale retirement marker survived the sweep")
    assert(Sources.readCompacted(spark, "parquet", path).count() == rows)
  }

  test("compaction: the head flip rides a registered CommitStore") {
    val path = tmpDir("src-compact-store") + "/t"
    Tables.region(spark, sfDir).repartition(4).write.parquet(path)
    val rows = spark.read.parquet(path).count()
    val store = new graft.operators.InMemoryCommitStore
    graft.operators.CommitStore.register(path, store)
    try {
      Sources.compact(spark, path, targetFiles = 1)
      // the pointer lives in the STORE (object-store shape): nothing
      // head-shaped on the filesystem, resolution still works
      assert(java.nio.file.Files.notExists(java.nio.file.Paths.get(path, "_head")),
        "head pointer leaked onto the filesystem past the store")
      assert(Sources.compactedDataDir(path).contains("_gen-"))
      assert(Sources.readCompacted(spark, "parquet", path).count() == rows)
      // crash on the far side of the flip: pointer gone (store lost /
      // never landed) — the dir degrades to LOUD failure on read, and
      // the uncompacted original would still be intact in real life
      // (here the retire already ran, so resolution falls back to the
      // plain dir which holds no visible data files)
      store.delete(java.nio.file.Paths.get(path, "_head"))
      assert(Sources.compactedDataDir(path) == path)
    } finally graft.operators.CommitStore.unregister(path)
  }

  test("binaryFile read: whole-file rows, glob pruning, exact bytes") {
    val path = tmpDir("src-bin")
    val dir = new java.io.File(path); dir.mkdirs()
    val payloads = Map("a.png" -> Array[Byte](137.toByte, 80, 78, 71, 13, 10),
      "b.png" -> Array[Byte](137.toByte, 80, 78, 71, 0, 1, 2),
      "c.txt" -> "not media".getBytes("UTF-8"))
    payloads.foreach { case (n, b) =>
      java.nio.file.Files.write(java.nio.file.Path.of(path, n), b)
    }
    val all = Sources.readBinaryFiles(spark, path)
    assert(all.count() == 3)
    assert(all.columns.toSet == Set("path", "modificationTime", "length", "content"))
    // glob filtering prunes at file listing (no content read for c.txt)
    val pngs = Sources.readBinaryFiles(spark, path, pathGlob = Some("*.png"))
      .select("path", "length", "content").collect()
    assert(pngs.length == 2)
    // bytes round-trip exactly and length matches the metadata column
    pngs.foreach { r =>
      val name = r.getString(0).split('/').last
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](2), payloads(name)))
      assert(r.getLong(1) == payloads(name).length.toLong)
    }
    // the shape feeds the decode seam directly (mm02's contract)
    val feat = pngs.map(r => graft.multimodal.Multimodal.aHash64(r.getAs[Array[Byte]](2)))
    assert(feat.distinct.length == 2)
  }

  test("streaming file spout reads with explicit schema") {
    val path = tmpDir("src-stream")
    Sources.write(Tables.nation(spark, sfDir), "json", path)
    val stream = Sources.fileStream(spark, "json", path, Tables.nation(spark, sfDir).schema)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("srcstream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("srcstream").count() == 25)
    } finally q.stop()
  }
}
