package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The commit log and its checkpointing: OCC generation CAS through
  * the [[CommitStore]], `_log/` layout, checkpoint rollups and the
  * `_last_checkpoint` pointer, committedGen/metaAt resolution.
  * Implementation partition of [[MergeTable]] (one trait per internal
  * seam; see the object's scaladoc for the format design) — the
  * self-type makes this exactly the MergeTable object's code,
  * relocated: no new behavior, no new API surface.
  */
trait MergeTableLog { this: MergeTable.type =>
  // ---- commit log ----
  //
  // Log entries live in a `_log/` SUBDIR (Delta's `_delta_log`
  // layout), not the table root — deliberately. The root's listing
  // cost is what every auxiliary resolution pays (bloom sidecar
  // discovery, CDC horizon registry, governance version reads, the
  // vacuum sweep), and commit markers are the one UNBOUNDED
  // population: a streaming upsert sink mints one per micro-batch,
  // so markers in the root would turn every bloom point-probe and
  // every merge's governance read into an O(commits) listing at
  // 10^5–10^6 generations. With markers (and checkpoint rollups)
  // under `_log/`, the root holds only vacuum-bounded data/manifest
  // dirs and small aux files — listings stay flat forever, and the
  // log itself is never listed on the hot path (committedGen probes
  // the dense tail by name; history/metaAt read by generation
  // number).

  private[operators] def logDirOf(dir: String) = java.nio.file.Path.of(dir, "_log")

  /** The control-plane store for a table (see [[CommitStore]]): POSIX
    * by default, spec-pinned alternatives by registered prefix. Every
    * marker/checkpoint/governance/horizon byte flows through it; data
    * and manifest parquet stay on the filesystem Spark writes to.
    */
  private[operators] def store(dir: String): CommitStore = CommitStore.forDir(dir)

  /** A generation's commit marker — the link target of its CAS. */
  private def markerOf(dir: String, gen: Int) =
    logDirOf(dir).resolve(s"_commit-g$gen")

  private def markerExists(dir: String, gen: Int): Boolean =
    store(dir).exists(markerOf(dir, gen))

  /** The newest committed generation. Fast path: the `_last_checkpoint`
    * pointer names a rolled-up generation, and generations are DENSE
    * (every commit is prev+1), so probing `_commit-g<N+1>, <N+2>, …`
    * until the first miss resolves the head in O(tail) stat calls —
    * flat in total commit count, where the listing fallback (no or
    * corrupt checkpoint) pays O(commits) directory entries. A STALE
    * pointer (crashed checkpoint writer, lost pointer race) only
    * lengthens the probe, never changes the answer.
    */
  def committedGen(dir: String): Option[Int] =
    lastCheckpointGen(dir) match {
      case Some(ck) =>
        var g = ck
        while (markerExists(dir, g + 1)) g += 1
        Some(g)
      case None =>
        store(dir).list(logDirOf(dir))
          .filter(_.matches("_commit-g\\d+"))
          .map(_.stripPrefix("_commit-g").toInt).maxOption
    }

  /** One commit-log entry's `k=v` lines (always includes `token`;
    * the streaming upsert sink's batch watermark rides here too, so
    * generation and watermark commit in the SAME atomic link).
    */
  /** The `k=v`-lines file format shared by commit-log entries and
    * checkpoint rollups — one parser, so the two can't drift.
    */
  private def readKvFile(st: CommitStore, p: java.nio.file.Path): Map[String, String] =
    st.read(p) match {
      case None => Map.empty
      case Some(bytes) =>
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator.filter(_.contains('='))
          .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    }

  def metaAt(dir: String, gen: Int): Map[String, String] =
    readKvFile(store(dir), markerOf(dir, gen))

  def committedMeta(dir: String): Map[String, String] =
    committedGen(dir).map(metaAt(dir, _)).getOrElse(Map.empty)

  // ---- commit-log checkpointing ----
  //
  // Every metadata resolution above is a directory listing plus tiny
  // per-generation reads — correct, but O(commits), and a streaming
  // upsert sink mints a commit per micro-batch: at 10^5–10^6
  // generations the driver would pay seconds per committedGen /
  // reflectedGen where Delta pays one checkpoint read. Delta's exact
  // fix at this layer: every [[checkpointInterval]] commits, the
  // committing writer rolls the log up into `_checkpoint-g<N>`
  // (generation, its commit meta, the newest view-watermark meta at
  // or below it, a CDC-horizon snapshot) and points
  // `_last_checkpoint` at it; readers resolve from the pointer plus
  // the SHORT tail of newer `_commit-g*` markers, never the whole
  // log. The rollup itself is O(interval): the writer folds the tail
  // since the PREVIOUS checkpoint into that checkpoint's rollup.
  //
  // Failure isolation: checkpoints are best-effort observers of a
  // commit that has already linked — a checkpoint/pointer write
  // failure logs loudly and costs resolution speed only (committedGen
  // falls back to the listing; the view-watermark walk goes deeper).
  // The pointer is advanced forward-only (a delayed writer of an
  // OLDER checkpoint skips rather than regresses; the remaining
  // read-then-move window can at worst re-point at the older rollup,
  // which lengthens the tail probe, never changes an answer). The
  // `_commit-g*` log stays the single source of truth, still survives
  // vacuum, and [[history]] still reads it entry by entry.

  private[graft] val checkpointInterval = 16

  private def checkpointFileOf(dir: String, gen: Int) =
    logDirOf(dir).resolve(s"_checkpoint-g$gen")
  private def lastCheckpointPtr(dir: String) =
    logDirOf(dir).resolve("_last_checkpoint")

  /** The generation the `_last_checkpoint` pointer names, validated
    * against both the checkpoint file and the commit log (a corrupt
    * or dangling pointer yields None → readers use the listing path).
    */
  private[graft] def lastCheckpointGen(dir: String): Option[Int] =
    store(dir).read(lastCheckpointPtr(dir))
      .flatMap(b => scala.util.Try(new String(b,
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt).toOption)
      .filter(g => g >= 0 &&
        store(dir).exists(checkpointFileOf(dir, g)) &&
        markerExists(dir, g))

  /** One checkpoint's `k=v` lines: `gen`, `meta.<k>` (the generation's
    * own commit meta), optional `mv.<k>` (newest view-watermark meta
    * at or below the checkpoint) and `horizon.<consumer>` snapshot.
    * Resolution consumes only existence + `mv.*`; the `meta.*` copy
    * and the horizon snapshot are the rollup's OBSERVABILITY surface
    * — `cat` one file to see where the table stood at the rollup
    * instead of stitching log entries and horizon files by hand.
    */
  private[graft] def checkpointAt(dir: String, gen: Int): Map[String, String] =
    readKvFile(store(dir), checkpointFileOf(dir, gen))

  /** The sink-batch rollup a checkpoint carries (the upsert sink's
    * watermark at or below it).
    */
  private[graft] def checkpointSinkBatch(dir: String, gen: Int): Option[Long] =
    checkpointAt(dir, gen).get("sink.batch").flatMap(_.toLongOption)

  /** The newest-cluster-commit rollup a checkpoint carries:
    * (generation, cluster_cols).
    */
  private[graft] def checkpointClusterOf(dir: String, gen: Int): Option[(Int, String)] = {
    val m = checkpointAt(dir, gen)
    m.get("cluster.gen").flatMap(_.toIntOption)
      .map(g => (g, m.getOrElse("cluster.cols", "")))
  }

  /** The newest sink batch watermark at or below the head — FLAT in
    * generation count: the short tail above the last checkpoint, then
    * the checkpoint's rollup. Reading only the HEAD's meta was the
    * r20 review's duplicate-apply hole: any interleaved maintenance
    * commit (compact/recluster/dvdelete) hid the watermark and a
    * restarted stream re-merged an already-applied batch.
    */
  private[graft] def newestSinkBatch(dir: String): Option[Long] =
    committedGen(dir).flatMap { cur =>
      val ckpt = lastCheckpointGen(dir)
      val floor = ckpt.map(_ + 1).getOrElse(0)
      (cur to floor by -1).iterator
        .map(g => metaAt(dir, g).get("batch"))
        .collectFirst { case Some(b) => b }
        .flatMap(_.toLongOption)
        .orElse(ckpt.flatMap(g => checkpointSinkBatch(dir, g)))
    }

  /** The view-watermark rollup a checkpoint carries: the newest commit
    * meta at or below it containing `mv_src_gen` (None when the table
    * had no view watermark anywhere in gens 0..checkpoint).
    */
  private[graft] def checkpointMvMeta(dir: String, gen: Int): Option[Map[String, String]] = {
    val mv = checkpointAt(dir, gen).collect {
      case (k, v) if k.startsWith("mv.") => k.stripPrefix("mv.") -> v }
    if (mv.isEmpty) None else Some(mv)
  }

  /** Roll the log up at `gen` (a multiple of [[checkpointInterval]])
    * and advance the pointer. Called by the winner of `gen` AFTER the
    * commit link landed; any failure is the caller's to log — the
    * commit itself is durable either way.
    */
  private def writeCheckpoint(dir: String, gen: Int): Unit = {
    // previous checkpoint: descending multiples of the interval (a
    // failed writer may have skipped one — probe further back)
    val prevCkpt = Iterator.from(1).map(i => gen - i * checkpointInterval)
      .takeWhile(_ > 0)
      .find(g => store(dir).exists(checkpointFileOf(dir, g)))
    // the "newest meta at or below the checkpoint carrying KEY"
    // rollup, shared by every watermark family below (mv_src_gen for
    // views, batch for the upsert sink, op=cluster for partial
    // reclustering): fold the tail since the previous checkpoint,
    // fall back to the previous checkpoint's own rollup, cover gen 0
    // when there is no previous checkpoint
    def newestWith(pred: Map[String, String] => Boolean,
                   fromPrev: Int => Option[(Int, Map[String, String])])
        : Option[(Int, Map[String, String])] =
      (gen to (prevCkpt.getOrElse(0) + 1) by -1).iterator
        .map(g => g -> metaAt(dir, g))
        .collectFirst { case (g, m) if pred(m) => (g, m) }
        .orElse(prevCkpt.flatMap(fromPrev))
        .orElse(
          if (prevCkpt.isEmpty && pred(metaAt(dir, 0))) Some((0, metaAt(dir, 0)))
          else None)
    val mvMeta = newestWith(_.contains("mv_src_gen"),
      g => checkpointMvMeta(dir, g).map((-1, _))).map(_._2)
    val sinkBatch = newestWith(_.contains("batch"),
      g => checkpointSinkBatch(dir, g).map(b => (-1, Map("batch" -> b.toString))))
      .flatMap(_._2.get("batch"))
    val cluster = newestWith(_.get("op").contains("cluster"),
      g => checkpointClusterOf(dir, g).map { case (cg, cols) =>
        (cg, Map("op" -> "cluster", "cluster_cols" -> cols, "__gen" -> cg.toString)) })
      .map { case (g, m) =>
        (m.get("__gen").flatMap(_.toIntOption).getOrElse(g),
          m.getOrElse("cluster_cols", "")) }
    val body = (Seq("gen" -> gen.toString) ++
      metaAt(dir, gen).toSeq.sorted.map { case (k, v) => s"meta.$k" -> v } ++
      mvMeta.toSeq.flatMap(_.toSeq.sorted.map { case (k, v) => s"mv.$k" -> v }) ++
      sinkBatch.map(b => "sink.batch" -> b).toSeq ++
      cluster.toSeq.flatMap { case (cg, cols) =>
        Seq("cluster.gen" -> cg.toString, "cluster.cols" -> cols) } ++
      cdcHorizons(dir).toSeq.sorted.map { case (c, g) => s"horizon.$c" -> g.toString })
      .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
    store(dir).putReplace(checkpointFileOf(dir, gen), body.getBytes("UTF-8"))
    // forward-only pointer advance (see the section comment)
    if (!lastCheckpointGen(dir).exists(_ >= gen))
      store(dir).putReplace(lastCheckpointPtr(dir), s"$gen\n".getBytes("UTF-8"))
  }

  /** The table schema recorded in a generation's commit-log entry
    * (Delta keeps schema in the log for the same reason): readers get
    * the authoritative union schema WITHOUT a footer-merge job, and
    * an explicit read schema makes pre-evolution files surface
    * missing columns as null exactly like mergeSchema would.
    */
  def schemaAt(dir: String, gen: Int): Option[org.apache.spark.sql.types.StructType] =
    metaAt(dir, gen).get("schema").map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Parquet reader for a generation: log-recorded schema when
    * present (no footer pass), mergeSchema fallback otherwise.
    */
  private[operators] def readerFor(s: SparkSession, dir: String, gen: Int) =
    schemaAt(dir, gen).map(s.read.schema)
      .getOrElse(s.read.option("mergeSchema", "true"))

  /** Per-writer staging discriminator ([[WriterToken]]: pid +
    * nanotime + JVM-wide sequence). Two writers — threads OR
    * processes — never share staging paths; nanotime alone did not
    * guarantee that for threads (coarse clocks tie).
    */
  private[operators] def newToken(): String = WriterToken.next()

  private[operators] def dataDirOf(dir: String, gen: Int, token: String) =
    s"$dir/files-g$gen~$token"
  private[operators] def manifestDirOf(dir: String, gen: Int, token: String) =
    s"$dir/manifest-g$gen~$token"

  /** Publish generation `gen` via the store's put-if-absent — a true
    * compare-and-swap on the generation number (`link(2)` on the
    * POSIX store, a conditional put on an object store; neither ever
    * replaces an existing name) — so the loser of a race gets
    * [[java.util.ConcurrentModificationException]] and must retry
    * its whole merge on the new base.
    */
  private[operators] def commitGen(dir: String, gen: Int, token: String,
                        meta: Map[String, String]): Unit = {
    // wall-clock stamp for [[history]] — observability only, nothing
    // replays or compares on it (generation numbers are the ordering)
    val stamped =
      if (meta.contains("ts")) meta
      else meta + ("ts" -> System.currentTimeMillis().toString)
    // line-safety: the entry format is k=v LINES, so a newline in a
    // value would smuggle arbitrary control keys (dv, schema, token)
    // into the parse and a '=' in a KEY would shift the split — one
    // hostile or sloppy metadata string must not brick the table head
    // (IndexManifest.commitWithMeta's existing discipline)
    (("token" -> token) +: stamped.toSeq).foreach { case (k, v) =>
      require(k.nonEmpty && !k.exists(c => c == '=' || c == '\n' || c == '\r'),
        s"commit meta key '$k' must be non-empty without '=' or newlines")
      require(!v.exists(c => c == '\n' || c == '\r'),
        s"commit meta value for '$k' must be single-line")
    }
    val body = (("token" -> token) +: stamped.toSeq.sorted)
      .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
    if (!store(dir).putIfAbsent(markerOf(dir, gen), body.getBytes))
      throw new java.util.ConcurrentModificationException(
        s"generation $gen of $dir was committed by a concurrent writer; " +
          "recompute from the new committed base and retry")
    // the commit is durable; the rollup is an observer of it (see the
    // checkpointing section) — a failure here costs resolution speed,
    // never correctness, so it must not make the commit look failed
    if (gen > 0 && gen % checkpointInterval == 0) {
      try writeCheckpoint(dir, gen)
      catch {
        case scala.util.control.NonFatal(e) => System.err.println(
          s"[graft] commit-log checkpoint at $dir g$gen failed " +
            s"(resolution falls back to the listing path): $e")
      }
    }
  }

  /** Per-file stats computed from the WRITTEN files themselves
    * (input_file_name grouping) — the manifest can't drift from the
    * bytes on disk the way writer-side bookkeeping could. min/max
    * keep each column's NATIVE type (long, string, date, …): range
    * pruning is ordering-based, not numeric, so a string-keyed
    * dimension prunes exactly like a numeric one (range-partitioned
    * writes give contiguous lexicographic spans per file).
    *
    * Columns statted: the key (as `min_<key>`/`max_<key>`) plus every
    * numeric/date/timestamp/string column — Delta's per-column
    * data-skipping stats at this layer, consumed by [[scanWhere]] and
    * [[GraftFileIndex]]. Non-key STRING columns joined the statted
    * set in r20 so range and StartsWith predicates on tags / uuids /
    * names prune files (point equality stays the bloom sidecar's
    * job): the truncation discipline below caps every stored string
    * stat at [[statsTruncLen]] chars, so a text-valued column costs
    * the manifest two short bounds per file, never its content.
    * Binary/array/struct columns stay unstatted (no useful order).
    *
    * String-typed stats (a string KEY — urls, composite names) are
    * TRUNCATED to a [[statsTruncLen]]-char bound (Delta's discipline):
    * a 2 kB url must not ride every manifest row and broadcast twice
    * over. min truncates to the prefix (a prefix is ≤ its string —
    * still a lower bound); max becomes [[truncUpperBound]] — the
    * prefix with its rightmost ASCII char incremented and the tail
    * dropped, an upper bound for EVERY string sharing the prefix.
    * Both only ever WIDEN the file's [min, max] band, so every
    * consumer stays sound by the null-admits argument: scanWhere /
    * GraftFileIndex / merge banding include a file they could have
    * pruned (never the reverse), and deleteWhere's all-match proof
    * demands [minT, maxT] ⊆ band, which a widened band only makes
    * harder to satisfy.
    *
    * `nn_<c>` is the per-file NON-NULL count (Delta's nullCount,
    * inverted): min/max ignore nulls, so [min, max] ⊆ band proves
    * every NON-NULL value matches but says nothing about null rows —
    * [[deleteWhere]]'s metadata-only drop additionally needs
    * `nn_c == n_rows` to prove the file has no null (hence no
    * predicate-unknown, hence surviving) row, and (r20) the same two
    * counts prove IS NULL / IS NOT NULL skips in [[GraftFileIndex]]
    * and [[scanWhereNull]] (`nn == n_rows` → no nulls, `nn == 0` →
    * no values). A manifest predating this column simply never proves
    * full coverage and falls back to the rewrite path — sound, just
    * less pruned.
    */
  private[operators] def statsOf(s: SparkSession, dataDir: String, keyCol: String): DataFrame =
    footerStatsRows(s, dataDir, keyCol)
      .map { case (schema, rows) => s.createDataFrame(rows.asJava, schema) }
      .getOrElse {
        statsJobFallbacks.incrementAndGet()
        statsOfJob(s, dataDir, keyCol)
      }

  /** [[statsOf]] as LOCAL rows — what the driver-side manifest writer
    * consumes; the scan-based fallback collects (file-count-sized,
    * like every stats relation here).
    */
  private[operators] def statsRowsOf(s: SparkSession, dataDir: String, keyCol: String)
      : (org.apache.spark.sql.types.StructType, IndexedSeq[org.apache.spark.sql.Row]) =
    footerStatsRows(s, dataDir, keyCol).getOrElse {
      statsJobFallbacks.incrementAndGet()
      val df = statsOfJob(s, dataDir, keyCol)
      (df.schema, df.collect().toIndexedSeq)
    }

  /** How many commits this JVM paid the scan-based stats fallback —
    * a footer-stats fallback re-scans every just-written byte, so a
    * drift here (a schema change flipping a statted column outside
    * the proven footer type set, or a footer surprise) must not
    * masquerade as a plain regression; BENCH_DETAIL surfaces the
    * count per run (r22 — the r21 verdict's "silent fallback" item).
    */
  private val statsJobFallbacks = new java.util.concurrent.atomic.AtomicLong
  def statsJobFallbackCount: Long = statsJobFallbacks.get()

  /** Write a generation's manifest from LOCAL rows: driver-side
    * parquet when provable (zero Spark jobs — see
    * [[ManifestReader.writeRows]]), the Spark write otherwise.
    */
  private[operators] def writeManifestParquet(s: SparkSession, mdir: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row]): Unit =
    if (!ManifestReader.writeRows(s, mdir, schema, rows))
      s.createDataFrame(rows.asJava, schema)
        .coalesce(1).write.parquet(mdir)

  /** The rewriting-commit manifest write: carried rows ∪ fresh stats
    * under unionByName(allowMissingColumns) semantics, driver-side
    * when provable; Spark owns the union when a shared column's types
    * disagree (the reconciliation unionByName implements).
    */
  private[operators] def writeManifestUnion(s: SparkSession, mdir: String,
      carried: (org.apache.spark.sql.types.StructType, Seq[org.apache.spark.sql.Row]),
      fresh: (org.apache.spark.sql.types.StructType, Seq[org.apache.spark.sql.Row])): Unit =
    ManifestReader.unionRows(carried, fresh) match {
      case Some((schema, rows)) => writeManifestParquet(s, mdir, schema, rows)
      case None =>
        s.createDataFrame(carried._2.asJava, carried._1)
          .unionByName(s.createDataFrame(fresh._2.asJava, fresh._1),
            allowMissingColumns = true)
          .coalesce(1).write.parquet(mdir)
    }

  /** Footer-derived manifest stats — the zero-extra-scan fast path of
    * [[statsOf]] (r21). The written parquet files' footers already
    * carry exactly what the manifest stores (per-row-group min/max/
    * null-count in the writer's unsigned UTF8/native order, the same
    * order Spark's own min/max aggregates use), so the stats pass
    * reads K footers driver-side instead of re-scanning every data
    * byte through a groupBy(input_file_name) shuffle — at 100 TB the
    * difference between "a merge writes the changed files" and "a
    * merge reads everything it just wrote a second time". Bytes on
    * disk stay authoritative (footers ARE the written bytes — the
    * metadata-drift argument for the job path holds unchanged).
    *
    * Sound by the same null-admits contract as every stats consumer:
    * a column chunk whose footer stats are absent/invalid (dropped
    * oversized binary stats, NaN-poisoned float stats, a pre-1.8
    * writer) yields null min/max (and null nn when the null count is
    * unset) — can't-prune, never wrong. Statistics semantics the job
    * path relies on are reproduced exactly: string bounds truncate
    * through the same [[StatsTrunc]] pair (min via UTF8String's own
    * substring so code-point semantics match Spark's `substring`),
    * zero-row files contribute no manifest row, and `path` uses
    * input_file_name's URI form so bloom-sidecar joins and cross-
    * generation carries stay bit-identical. Types outside the proven
    * set (decimal, timestamp, boolean keys) or any footer surprise
    * fall back wholesale to [[statsOfJob]] — behavior, not speed, is
    * the invariant.
    */
  private def footerStatsRows(s: SparkSession, dataDir: String, keyCol: String)
      : Option[(org.apache.spark.sql.types.StructType,
                IndexedSeq[org.apache.spark.sql.Row])] = try {
    import org.apache.spark.sql.types._
    val hconf = s.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dataDir)
    val fs = dirPath.getFileSystem(hconf)
    if (!fs.exists(dirPath)) return None // canonical error via the job path
    val files = fs.listStatus(dirPath)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    if (files.isEmpty) return None
    val footers = files.toIndexedSeq.map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, hconf))
      try (st.getPath, r.getFooter) finally r.close()
    }
    // the Spark schema the writer recorded — the exact type set the
    // job path would stat. ALL files must agree (r22, mirroring
    // ManifestReader.readRows' drift check): a mixed-schema data dir
    // would stat columns positionally against the wrong layout — fall
    // back to the job path, whose mergeSchema read reconciles.
    val schemaJsons = footers.iterator
      .map(_._2.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .filter(_ != null).toIndexedSeq.distinct
    if (schemaJsons.size != 1) return None
    val schema = DataType.fromJson(schemaJsons.head).asInstanceOf[StructType]
    val statted = schema.fields.filter { f =>
      f.name == keyCol || (f.dataType match {
        case _: NumericType | DateType | TimestampType | StringType => true
        case _ => false
      })
    }.toIndexedSeq
    // proven type set only — anything else takes the job path whole.
    // TimestampType joined in r22: Spark 4 writes it as INT64 micros
    // (or millis under outputTimestampType=TIMESTAMP_MILLIS), a fixed
    // monotone mapping to java.sql.Timestamp — the physical layout is
    // verified per column chunk below, and any surprise (INT96 legacy
    // writer, NTZ annotation) falls back wholesale.
    val supported = statted.forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | DateType | TimestampType => true
      case _ => false
    })
    if (!supported) return None
    // TimestampType is proven only on the INT64 micros/millis layout
    // (isAdjustedToUTC): Spark's DEFAULT writer still produces INT96
    // (spark.sql.parquet.outputTimestampType=INT96), whose deprecated
    // binary statistics parquet-mr does not expose reliably — INT96
    // files take the job path wholesale, exactly the pre-r22 behavior
    if (statted.exists(_.dataType == TimestampType)) {
      val msg = footers.head._2.getFileMetaData.getSchema
      val int64Ts = statted.filter(_.dataType == TimestampType).forall { f =>
        msg.containsField(f.name) && {
          val t = msg.getType(msg.getFieldIndex(f.name))
          t.isPrimitive &&
            t.asPrimitiveType().getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 &&
            (t.getLogicalTypeAnnotation match {
              case a: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                a.isAdjustedToUTC &&
                  (a.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS ||
                   a.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MILLIS)
              case _ => false
            })
        }
      }
      if (!int64Ts) return None
    }
    val rows = footers.flatMap { case (path, footer) =>
      val blocks = footer.getBlocks.asScala.toIndexedSeq
      val nRows = blocks.map(_.getRowCount).sum
      // a zero-row staged part file contributes NO manifest row — the
      // job path's groupBy(input_file_name) semantics, which append()
      // uses as its authoritative emptiness check
      if (nRows == 0L) None
      else {
        val statCells = statted.flatMap { f =>
          val chunks = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString == f.name).orNull)
          foldFooterStats(chunks, nRows, f.dataType)
        }
        Some(org.apache.spark.sql.Row.fromSeq(
          manifestPathOf(path) +: nRows +: statCells))
      }
    }
    val outSchema = StructType(
      StructField("path", StringType, nullable = false) +:
        StructField("n_rows", LongType, nullable = false) +:
        statted.flatMap(f => Seq(
          StructField(s"min_${f.name}", f.dataType),
          StructField(s"max_${f.name}", f.dataType),
          StructField(s"nn_${f.name}", LongType))))
    Some((outSchema, rows))
  } catch {
    case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] footer stats for $dataDir failed " +
        s"(falling back to the scan-based stats pass): $e")
      None
  }

  /** A data file's manifest `path` string — input_file_name()'s exact
    * form: Spark's scan publishes `SparkPath.fromPath(status.getPath)`
    * whose url-encoded form is `getPath.toUri.toString`, so building
    * the string the same way keeps footer-written manifests
    * bit-compatible with scan-written ones (bloom-sidecar joins,
    * cross-generation carries and reclusterPartial's baseline sets
    * all compare these strings verbatim).
    */
  private def manifestPathOf(p: org.apache.hadoop.fs.Path): String =
    p.toUri.toString

  /** One statted column's (min, max, nn) cells for one file, folded
    * across its row groups. Any absent/invalid chunk statistics yield
    * the null can't-prune cells (and an unset null count yields null
    * nn) — the same "missing stats admit" value every consumer
    * honors. String bounds truncate through [[StatsTrunc]] exactly
    * like the job path's post-aggregation projection.
    */
  private def foldFooterStats(
      chunks: Seq[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData],
      nRows: Long,
      dt: org.apache.spark.sql.types.DataType): Seq[Any] = {
    import org.apache.spark.sql.types._
    if (chunks.exists(c => c == null || c.getStatistics == null ||
        c.getStatistics.isEmpty))
      return Seq(null, null, null)
    val stats = chunks.map(_.getStatistics)
    val nn: Any =
      if (stats.forall(_.isNumNullsSet)) nRows - stats.map(_.getNumNulls).sum
      else null
    val withValues = stats.filter(_.hasNonNullValue)
    if (withValues.isEmpty) return Seq(null, null, nn) // all-null column
    val cmp = withValues.head.comparator
      .asInstanceOf[java.util.Comparator[Any]]
    val rawMin = withValues.map(_.genericGetMin.asInstanceOf[Any])
      .reduce((a, b) => if (cmp.compare(a, b) <= 0) a else b)
    val rawMax = withValues.map(_.genericGetMax.asInstanceOf[Any])
      .reduce((a, b) => if (cmp.compare(a, b) >= 0) a else b)
    // timestamp physical-layout guard (r22): the INT64 micros/millis
    // mapping below is only valid for the annotation Spark's writer
    // produces for TimestampType (isAdjustedToUTC=true). Anything
    // else (INT96 legacy, NTZ) throws — caught by footerStatsRows'
    // guard, falling back WHOLESALE to the job path, so behavior
    // (not speed) stays the invariant.
    lazy val tsUnit: java.util.concurrent.TimeUnit = {
      val lt = chunks.head.getPrimitiveType.getLogicalTypeAnnotation
      lt match {
        case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if t.isAdjustedToUTC =>
          t.getUnit match {
            case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS =>
              java.util.concurrent.TimeUnit.MICROSECONDS
            case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MILLIS =>
              java.util.concurrent.TimeUnit.MILLISECONDS
            case u => sys.error(s"unsupported timestamp unit $u")
          }
        case other => sys.error(s"unsupported timestamp annotation $other")
      }
    }
    def cvt(v: Any, isMin: Boolean): Any = dt match {
      case LongType => v.asInstanceOf[Long]
      case IntegerType => v.asInstanceOf[Int]
      case ShortType => v.asInstanceOf[Int].toShort
      case ByteType => v.asInstanceOf[Int].toByte
      case DoubleType =>
        val d = v.asInstanceOf[Double]; if (d.isNaN) null else d
      case FloatType =>
        val f = v.asInstanceOf[Float]; if (f.isNaN) null else f
      case DateType => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaDate(v.asInstanceOf[Int])
      case TimestampType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(
          java.util.concurrent.TimeUnit.MICROSECONDS.convert(
            v.asInstanceOf[Long], tsUnit))
      case StringType =>
        val str = v.asInstanceOf[org.apache.parquet.io.api.Binary]
          .toStringUsingUTF8
        if (isMin) org.apache.spark.unsafe.types.UTF8String.fromString(str)
          .substringSQL(1, statsTruncLen).toString
        else truncUpperBound(str)
      case other => sys.error(s"unreachable: unsupported stat type $other")
    }
    val mn = cvt(rawMin, isMin = true)
    val mx = cvt(rawMax, isMin = false)
    // a NaN bound poisons the pair (the job path's min/max never see
    // NaN ordering artifacts) — degrade both to can't-prune
    if ((mn == null || mx == null) && (dt == DoubleType || dt == FloatType))
      Seq(null, null, nn)
    else Seq(mn, mx, nn)
  }

  /** The original scan-based stats pass — [[statsOf]]'s fallback for
    * types/footers outside the footer path's proven set (and the
    * equivalence oracle FooterStatsSpec holds the footer path to).
    */
  private[operators] def statsOfJob(s: SparkSession, dataDir: String, keyCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val df = s.read.parquet(dataDir)
    val statted = df.schema.fields.filter { f =>
      f.name == keyCol || (f.dataType match {
        case _: NumericType | DateType | TimestampType | StringType => true
        case _ => false
      })
    }.map(_.name).distinct.toSeq
    val aggs = count(lit(1)).as("n_rows") +:
      statted.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        count(col(c)).as(s"nn_$c")))
    val base = df.groupBy(input_file_name().as("path"))
      .agg(aggs.head, aggs.tail: _*)
    // string stats carry truncated BOUNDS, not values (scaladoc above);
    // a driver-side UDF is fine here — the manifest is file-count-sized
    val stringStatted = df.schema.fields
      .filter(f => statted.contains(f.name) && f.dataType == StringType)
      .map(_.name)
    stringStatted.foldLeft(base) { (acc, c) =>
      acc.withColumn(s"min_$c", substring(col(s"min_$c"), 1, statsTruncLen))
        .withColumn(s"max_$c", truncUpperUdf(col(s"max_$c")))
    }
  }

  /** Truncated UPPER bound for string stats: identity when the value
    * already fits [[statsTruncLen]]; otherwise the prefix with its
    * RIGHTMOST char < 0x7f incremented and everything after it
    * dropped — comparison against any string sharing the prefix is
    * decided at that position, so the bound dominates all of them.
    * Increment stays inside ASCII, where code-point order equals the
    * UTF-8 byte order Spark's UTF8String comparisons use (bumping
    * into 0x80+, or splitting a surrogate pair, could produce a bound
    * that mis-sorts); a prefix with no incrementable char (degenerate
    * non-ASCII key) yields NULL — the can't-prune-but-sound value
    * every stats consumer already honors for missing stats.
    */
  private[operators] def statsTruncLen: Int = StatsTrunc.statsTruncLen
  private[operators] def truncUpperBound(v: String): String =
    StatsTrunc.truncUpperBound(v)
  private def truncUpperUdf = StatsTrunc.truncUpperUdf

  private[operators] def hasParquetFiles(dataDir: String): Boolean = {
    val p = java.nio.file.Path.of(dataDir)
    java.nio.file.Files.exists(p) && {
      val s = java.nio.file.Files.list(p)
      try s.anyMatch(f => f.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
  }

  /** Metadata-only commit: carry the current manifest forward
    * UNCHANGED (per-file COPIES — the manifest is file-count-sized
    * KBs, the data is untouched) under a fresh generation whose
    * commit meta is `meta`. The no-op maintenance-commit shape — a
    * governance stamp, an empty micro-batch — and the ckpt scale
    * probe's generator: it exercises the real [[commitGen]] path
    * (OCC link, checkpoint rollups) at metadata-only cost. Copies,
    * not hard links, deliberately: consecutive carries would pile
    * link counts onto ONE inode until the filesystem's EMLINK cap
    * (~65k on ext4 — the 10^5-commit probe found it), and copies are
    * what an object-store port does anyway. Returns the new
    * generation.
    */
  private[graft] def commitCarryForward(dir: String,
                                        meta: Map[String, String]): Int = {
    // the unfenced form IS the fenced one against the current head —
    // one body (token resolve, manifest copy loop, CME cleanup), two
    // loss behaviors (throw here, false there)
    val prev = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    if (!commitCarryForwardFenced(dir, prev, meta))
      throw new java.util.ConcurrentModificationException(
        s"generation ${prev + 1} of $dir was committed by a concurrent " +
          "writer; recompute from the new committed base and retry")
    prev + 1
  }

  /** Verbatim manifest carry as a DRIVER-SIDE file copy — manifests
    * are file-count-sized parquet, so copying the bytes is strictly
    * cheaper than a Spark read-rewrite job AND preserves the source
    * rows bit-exactly. Shared by the fenced carry-forward and (r21)
    * every metadata-only commit that previously re-wrote the manifest
    * through a Spark job (restore, shallow clone, dropColumn).
    */
  private[operators] def copyManifestFiles(src: java.nio.file.Path,
                                           dst: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(dst)
    val ls = java.nio.file.Files.list(src)
    try ls.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .foreach(f => java.nio.file.Files.copy(f, dst.resolve(f.getFileName)))
    finally ls.close()
  }

  /** [[copyManifestFiles]] between two generations of one table —
    * with the canonical uncommitted/vacuumed diagnostics (r22): a
    * metadata-only commit (restore, clone, dropColumn) byte-copies
    * the source manifest, so without these requires a vacuumed source
    * surfaced as a raw NoSuchFileException from the copy loop and an
    * out-of-range gen as a misleading 'lacks a token' error.
    */
  private[operators] def copyManifestGen(dir: String, fromGen: Int,
                                         toGen: Int, token: String): Unit = {
    val committed = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    require(fromGen <= committed,
      s"generation $fromGen not committed yet (table is at $committed)")
    val prevToken = metaAt(dir, fromGen).getOrElse("token",
      sys.error(s"commit-log entry for generation $fromGen lacks a token"))
    val src = manifestDirOf(dir, fromGen, prevToken)
    require(java.nio.file.Files.exists(java.nio.file.Path.of(src)),
      s"generation $fromGen unavailable: its manifest was vacuumed")
    copyManifestFiles(
      java.nio.file.Path.of(src),
      java.nio.file.Path.of(manifestDirOf(dir, toGen, token)))
  }

  /** [[commitCarryForward]] FENCED on an expected head: carries
    * `expectedPrev`'s manifest to `expectedPrev + 1` and returns true
    * only when that exact CAS wins — false when any other writer
    * committed since (the caller re-resolves and re-checks). This is
    * the linearization primitive a takedown clear needs (see
    * Dedup.vacuumLshTombstones): "no tombstoned rows at generation G"
    * plus a won fence AT G means every later commit is, by
    * definition, after the clear — the legitimate re-add the dd14
    * contract allows — while a commit that slipped in between loses
    * the fence and gets re-discovered instead of resurrected.
    */
  private[graft] def commitCarryForwardFenced(
      dir: String, expectedPrev: Int, meta: Map[String, String]): Boolean = {
    val prevToken = metaAt(dir, expectedPrev).getOrElse("token",
      sys.error(s"commit-log entry for generation $expectedPrev lacks a token"))
    val token = newToken()
    val dst = java.nio.file.Path.of(manifestDirOf(dir, expectedPrev + 1, token))
    copyManifestFiles(
      java.nio.file.Path.of(manifestDirOf(dir, expectedPrev, prevToken)), dst)
    try {
      commitGen(dir, expectedPrev + 1, token,
        inheritDvMeta(dir, expectedPrev) ++ meta ++
          schemaAt(dir, expectedPrev).map(s => "schema" -> s.json))
      true
    } catch {
      case _: java.util.ConcurrentModificationException =>
        graft.IndexLifecycle.deleteRecursively(dst.toString)
        false
    }
  }

}

/** The string-stats truncation bound in its own SERIALIZABLE holder,
  * deliberately OUTSIDE the partition traits: `udf(...)`'s lambda
  * captures its enclosing instance, and MergeTable's partition traits
  * are not Serializable — a lambda capturing one dies at task
  * serialization (q63 found this the day the object split into
  * traits; as a single `object MergeTable` the eta-expansion had
  * compiled capture-free). Scala serializes module singletons via
  * ModuleSerializationProxy, so executors resolve the one instance.
  */
private[operators] object StatsTrunc extends Serializable {
  val statsTruncLen = 32
  def truncUpperBound(v: String): String =
    if (v == null || v.length <= statsTruncLen) v
    else {
      val p = v.substring(0, statsTruncLen).toCharArray
      var i = p.length - 1
      while (i >= 0 && p(i) >= 0x7f) i -= 1
      if (i < 0) null
      else new String(p, 0, i) + (p(i) + 1).toChar
    }
  val truncUpperUdf = udf(truncUpperBound _)
}
