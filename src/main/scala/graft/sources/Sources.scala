package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.streaming.DataStreamReader

/** §2 sources/sinks: uniform batch + streaming IO over the formats
  * the Spark distribution ships (parquet, orc, avro, csv, json,
  * text), plus the Kafka spout contract.
  *
  * Scale posture: batch writers support partitioning columns
  * (directory-partitioned layout → partition pruning on read);
  * readers take explicit schemas where inference would scan data.
  */
object Sources {
  /** Supported batch formats (all round-trip tested in SourcesSpec /
    * AvroSourceSpec). avro routes through [[AvroSource]] — the native
    * fallback over the avro core library, since this distribution
    * doesn't bundle the spark-avro connector module.
    */
  val formats = Seq("parquet", "orc", "csv", "json", "avro")

  def read(spark: SparkSession, format: String, path: String,
           options: Map[String, String] = Map.empty): DataFrame =
    if (format == "avro") {
      // loud, not silent: the fallback reader takes no options, and a
      // caller tuning read behavior must know the knob didn't land
      require(options.isEmpty,
        s"the fallback avro reader supports no options, got ${options.keys}")
      AvroSource.read(spark, path)
    } else {
      // csv defaults apply FIRST so a caller's explicit options win —
      // the old order silently clobbered header=false/inferSchema=false
      // (losing a data row per file, or forcing the inference scan the
      // module doc promises to avoid)
      val r: DataFrameReader = format match {
        case "csv" => spark.read.format(format)
          .option("header", "true").option("inferSchema", "true")
          .options(options)
        case _ => spark.read.format(format).options(options)
      }
      r.load(path)
    }

  def write(df: DataFrame, format: String, path: String,
            partitionBy: Seq[String] = Nil,
            options: Map[String, String] = Map.empty): Unit =
    if (format == "avro") {
      require(partitionBy.isEmpty,
        "avro write partitioning isn't supported by the fallback writer")
      require(options.isEmpty,
        s"the fallback avro writer supports no options, got ${options.keys}")
      AvroSource.write(df, path)
    } else {
      // default-then-caller-options, like read: explicit options win
      var w = df.write.format(format).mode("overwrite")
      if (format == "csv") w = w.option("header", "true")
      w = w.options(options)
      if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
      w.save(path)
    }

  /** Parquet write with ROW-GROUP BLOOM FILTERS on selected columns —
    * scan-level skipping for point-lookup predicates (the fp-gating /
    * id-probe shape): at read time a `col = x` predicate consults the
    * row group's bloom before touching its pages, so a 100 TB table
    * answers needle queries by skipping most row groups outright.
    * Complements bucketing (exchange-free JOINS) with scan-level
    * pruning for FILTERS, needs no catalog table, and survives plain
    * `spark.read.parquet`. `ndv` sizes each filter (expected distinct
    * values per row group — overshooting costs bytes, undershooting
    * costs false-positive reads).
    *
    * Dictionary interplay (parquet-mr's adaptive behavior, measured):
    * a row group whose column stays FULLY dictionary-encoded gets NO
    * bloom — the dictionary already answers exact row-group pruning —
    * and the filter materializes exactly where encoding falls back to
    * plain, i.e. on the high-cardinality columns (fingerprints, ids)
    * point-lookup pruning is for. Low-cardinality columns therefore
    * silently (and correctly) skip the bloom bytes.
    */
  def writeWithBloomFilters(df: DataFrame, path: String, cols: Seq[String],
                            ndv: Long = 1000000L): Unit = {
    var w = df.write.mode("overwrite").format("parquet")
    cols.foreach { c =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    w.save(path)
  }

  /** Read raw media/blob files as rows — the ingest entry point for
    * the multimodal operators (graft.multimodal's decode seam
    * consumes exactly this shape): one row per file with
    * (path, modificationTime, length, content: binary). Spark's
    * binaryFile source pushes filters on the METADATA columns (path /
    * length / modificationTime) down to file listing — a
    * `length < 10MB` guard or a glob skips files without reading a
    * byte, which is the posture that matters when the media corpus is
    * the 100 TB. Content is read whole-file per row: cap file size at
    * the source (`spark.sql.sources.binaryFile.maxLength`) rather
    * than filtering after the read.
    */
  def readBinaryFiles(spark: SparkSession, path: String,
                      pathGlob: Option[String] = None,
                      recursive: Boolean = false): DataFrame = {
    var r = spark.read.format("binaryFile")
    pathGlob.foreach(g => r = r.option("pathGlobFilter", g))
    if (recursive) r = r.option("recursiveFileLookup", "true")
    r.load(path)
  }

  /** Read a parquet dir written across schema versions, unioning the
    * per-file schemas (new columns null-filled for old files) — the
    * data-lake schema-evolution path.
    */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Resilient semi-structured read — the ingest contract for dirty
    * data at scale: PERMISSIVE parsing keeps every input row alive,
    * a parse failure lands the raw line in the rescue column instead
    * of killing the job (a 100 TB crawl WILL contain broken lines;
    * FAILFAST turns one of them into a dead pipeline, DROPMALFORMED
    * silently loses data). Pair with [[quarantine]] to split clean
    * rows from rescued raw lines for reprocessing.
    */
  def readResilient(spark: SparkSession, format: String, path: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame = {
    require(format == "json" || format == "csv",
      s"resilient read supports json/csv, got $format")
    val rescued = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    spark.read.format(format).schema(rescued)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .load(path)
  }

  /** A [[readResilient]] frame split into clean rows (rescue column
    * dropped) and the raw text of every row that failed to parse —
    * written aside in production, never dropped. Call [[Quarantined.release]]
    * once both frames are consumed: the split caches the parse
    * (Spark refuses to query only the corrupt column straight off
    * the raw file — QUERY_ONLY_CORRUPT_RECORD_COLUMN — and one parse
    * feeding both outputs is what an ingest wants anyway), and a
    * long-lived driver looping over arriving directories would
    * otherwise pin one dead cached parse per directory forever.
    */
  final case class Quarantined(clean: DataFrame, quarantined: DataFrame,
                               private val parsed: DataFrame) {
    def release(): Unit = { parsed.unpersist(); () }
  }

  def quarantine(df: DataFrame): Quarantined = {
    import org.apache.spark.sql.functions.col
    val parsed = df.cache()
    Quarantined(
      parsed.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      parsed.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw")),
      parsed)
  }

  /** Rewrite a directory into `targetFiles` right-sized files — the
    * small-files compaction every long-running ingest needs — with
    * the write-once + pointer-flip commit the repo's table format
    * uses ([[graft.operators.CommitStore]]): the compacted rows land
    * ONCE in an immutable tokened generation dir `path/_gen-<token>`,
    * and `path/_head` — published by one atomic
    * [[graft.operators.CommitStore.putReplace]] — is the pointer
    * readers resolve through [[readCompacted]]/[[compactedDataDir]].
    * A concurrent reader therefore sees the old or the new
    * generation, never a missing directory, and on an object store
    * the commit is a single PUT instead of a directory copy. Crash-safety: before
    * the flip the live data is untouched and the fresh generation is
    * an orphan the next compaction sweeps; after it the superseded
    * generation (or the migrated plain dir's root files) is the
    * orphan, retired here and re-swept by the next pass.
    *
    * The FIRST compaction migrates a plain directory into this
    * layout. From then on, plain `spark.read.load(path)` fails
    * LOUDLY (the `_gen-` dirs are `_`-hidden — no data files to
    * infer a schema from), never silently half-reads: long-running
    * ingests read through [[readCompacted]].
    *
    * `retainMs` is the concurrent-reader grace window (the same
    * posture as MergeTable vacuum's `minAgeMs`): with a positive
    * value the superseded generation is NOT deleted at flip time —
    * a `_retired-<gen>` marker records when it was unlinked from
    * `_head` (mtime) and the granted window (body), and a later
    * pass's sweep reclaims it only once the marker has outlived ITS
    * OWN recorded window — the promise travels with the marker, so
    * a later compact with a different (or default) retainMs cannot
    * cut short a grace some earlier caller granted. So a reader that
    * resolved the old pointer just before the flip can finish. The
    * default 0 keeps immediate retirement, which is safe only for
    * quiesced directories (no scan in flight across the flip). The
    * window is generation-to-generation: the one-time plain-layout
    * migration still retires the root files immediately — quiesce
    * for that first pass. Crash between flip and marker write
    * degrades to no-grace for that one generation (the sweep sees an
    * unmarked orphan); data is never at risk.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int,
              format: String = "parquet", retainMs: Long = 0L): Unit = {
    // avro dirs are published by AvroSource's OWN _avroseg-/_head
    // pointer layout, which this compactor's _gen- resolution would
    // miss (and spark.read.format("avro") needs the absent connector);
    // an avro rewrite IS AvroSource.write — refuse loudly
    require(format != "avro",
      "compact does not handle the avro fallback layout — " +
        "rewrite via AvroSource.write (its publish already replaces " +
        "the whole segment atomically)")
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.operators.SegmentPointer
    val liveSeg = SegmentPointer.resolveName(path, "_head", "_gen-")
    val live = liveSeg.map(n => s"$path/$n").getOrElse(path)
    // one definition of "retire the plain-layout root files" — used
    // pre-write (migrated: crashed post-flip leftovers) and post-flip
    // (first migration's retire); a fix to one must not miss the other
    def sweepRootFiles(): Unit = {
      val ls = Files.list(Paths.get(path))
      try ls.iterator().asScala.foreach { p =>
        val n = p.getFileName.toString
        if (!n.startsWith("_") && !n.startsWith("."))
          graft.IndexLifecycle.deleteRecursively(p.toString)
      } finally ls.close()
    }
    // retire-with-grace bookkeeping: `_retired-<gen>` markers record
    // WHEN a generation was unlinked from `_head` (marker mtime =
    // retirement time) and carry the RETIRING call's window as their
    // body — the promise must travel with the marker, or a later
    // default-retainMs pass would sweep a generation still inside a
    // window some other caller granted. An unreadable/garbage body
    // reads as window 0 (no grace), the same degradation as a crash
    // between flip and marker write.
    def retiredMarker(gen: String) = Paths.get(path, s"_retired-$gen")
    def sweepGens(): Unit = {
      val now = System.currentTimeMillis()
      val ls = Files.list(Paths.get(path))
      val entries =
        try ls.iterator().asScala.map(_.getFileName.toString).toVector
        finally ls.close()
      val gens = entries.filter(_.startsWith("_gen-")).toSet
      // dangling markers (crash between gen delete and marker delete)
      entries.filter(_.startsWith("_retired-"))
        .filterNot(m => gens.contains(m.stripPrefix("_retired-")))
        .foreach(m => Files.deleteIfExists(Paths.get(path, m)))
      gens.filterNot(liveSeg.contains).foreach { g =>
        val mk = retiredMarker(g)
        val inGrace = Files.exists(mk) && {
          val window =
            try new String(Files.readAllBytes(mk), "UTF-8").trim.toLong
            catch { case _: Exception => 0L }
          now - Files.getLastModifiedTime(mk).toMillis < window
        }
        if (!inGrace) {
          graft.IndexLifecycle.deleteRecursively(s"$path/$g")
          Files.deleteIfExists(mk)
        }
      }
    }
    // sweep crash debris: orphan generations (a crashed pass's
    // not-yet-flipped dir; grace-marked retirees wait out retainMs)
    // and — once migrated — any root files a crashed post-flip retire
    // left behind
    sweepGens()
    val migrated = liveSeg.nonEmpty
    if (migrated) sweepRootFiles()
    val gen = SegmentPointer.newSegName("_gen-")
    // the same csv header discipline as read/write: the old raw read
    // ingested each file's header line as a DATA row and re-emitted no
    // header, so the next header=true read stripped an arbitrary data
    // row per file — silent corruption on a csv compact
    val rd = if (format == "csv")
      spark.read.format(format).option("header", "true").load(live)
    else spark.read.format(format).load(live)
    val wr = rd.repartition(targetFiles).write.format(format)
    (if (format == "csv") wr.option("header", "true") else wr)
      .save(s"$path/$gen")
    // the flip: one atomic pointer PUT
    SegmentPointer.publish(path, "_head", gen)
    // retire the superseded data (orphans if we crash before this —
    // the sweep above reclaims them on the next pass): immediately by
    // default, or via a timestamped grace marker when retainMs asks
    // for a concurrent-reader window
    if (migrated) {
      if (retainMs > 0L)
        Files.write(retiredMarker(liveSeg.get),
          (retainMs.toString + "\n").getBytes("UTF-8"))
      else graft.IndexLifecycle.deleteRecursively(live)
    } else sweepRootFiles()
  }

  /** The live data dir of a possibly-[[compact]]ed directory: the
    * `_head` pointer's target generation when one is published, else
    * the directory itself (never compacted — plain layout). A
    * dangling head (target swept) resolves to the plain dir, which
    * then fails loudly on read rather than half-reading.
    */
  def compactedDataDir(path: String): String =
    graft.operators.SegmentPointer.resolveName(path, "_head", "_gen-")
      .map(g => s"$path/$g").getOrElse(path)

  /** Read a directory that [[compact]] may have migrated to the
    * pointered layout — the reader half of the compaction contract.
    */
  def readCompacted(spark: SparkSession, format: String, path: String): DataFrame =
    spark.read.format(format).load(compactedDataDir(path))

  /** Streaming file spout: partition = file, offset = position within
    * the listing — the reference FileSource contract
    * (InputSource/FileSource.hs), maintained in the checkpoint.
    */
  def fileStream(spark: SparkSession, format: String, path: String,
                 schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.format(format).schema(schema).load(path)

  /** Kafka spout (the reference KafkaSource,
    * InputSource/KafkaSource.hs): topic partitions/offsets become the
    * streaming clock. Requires the spark-sql-kafka connector jar on
    * the cluster classpath (not bundled in this container, so the
    * contract — format, connection/subscription options, admission
    * limit, offset semantics — is locked by KafkaContractSpec rather
    * than an embedded-broker round trip). `maxOffsetsPerTrigger`
    * bounds per-batch admission — the backpressure lever the
    * reference implements by pausing spouts.
    */
  def kafkaStream(spark: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "earliest",
                  limit: graft.streaming.RateLimit = graft.streaming.RateLimit()
                 ): DataStreamReader =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .options(limit.options)

  /** The Kafka reader as a Topology spout: value bytes decoded to
    * lines, ready for the word-count bolts (the reference's
    * KafkaSource feeding its words spout).
    */
  def kafkaSpout(bootstrap: String, topic: String,
                 startingOffsets: String = "earliest",
                 limit: graft.streaming.RateLimit = graft.streaming.RateLimit()
                ): graft.streaming.Spout =
    graft.streaming.Spout(s"kafka:$topic", s =>
      kafkaStream(s, bootstrap, topic, startingOffsets, limit).load()
        .selectExpr("CAST(value AS STRING) AS value"))
}
