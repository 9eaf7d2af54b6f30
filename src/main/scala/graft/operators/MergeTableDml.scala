package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The DML and lineage surface: restore, shallow clone, history,
  * the file-pruned merge, compaction, predicate DELETE/UPDATE,
  * metadata-only DROP COLUMN and the streaming upsert sink.
  * Implementation partition of [[MergeTable]] — see
  * [[MergeTableLog]]'s header note.
  */
trait MergeTableDml { this: MergeTable.type =>
  // ---- restore & shallow clone ----

  /** RESTORE: roll the table BACK to generation `toGen` by committing
    * a NEW generation whose manifest is `toGen`'s manifest verbatim
    * (Delta's RESTORE semantics — history only moves forward, the
    * rollback is itself a commit, racing writers lose via the same
    * OCC link). Nothing is copied: the new manifest re-references the
    * old files, which also re-protects them from [[vacuum]] (whose
    * live set is the current manifest). Requires `toGen`'s manifest
    * AND every file it references to still exist — a vacuumed restore
    * point fails loudly, listing what's missing. The restore lands in
    * the CDC feed like any commit: [[changesBetween]](cur, restored)
    * is the net inverse of everything since `toGen`, so replicas and
    * indexes tailing the feed revert without special-casing. Returns
    * the new generation number.
    *
    * Bloom sidecars DECAY across a restore (sound, not maintained):
    * the re-referenced old files' sketch rows were dropped by
    * maintenance folds when those files died, so they re-enter as
    * UNCOVERED (admitted on every probe) — re-sketching them would
    * cost a read of the restored data, which a metadata-only rollback
    * must not pay. Rebuild with [[buildBloomIndex]] if the rolled-back
    * table stays hot under point lookups.
    */
  def restore(s: SparkSession, dir: String, toGen: Int): Int = {
    val cur = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    // memoized path resolution; raises the canonical vacuumed/
    // uncommitted diagnostics exactly like a manifest read
    val missing = livePathsAt(s, dir, toGen)
      .filterNot(p => java.nio.file.Files.exists(
        java.nio.file.Path.of(java.net.URI.create(p))))
    require(missing.isEmpty,
      s"cannot restore $dir to generation $toGen: ${missing.length} referenced " +
        s"file(s) no longer exist (vacuumed), e.g. ${missing.take(3).mkString(", ")}")
    // a restore point's deletion vector is part of its visible state:
    // re-reference every segment (loud when vacuumed, like the manifest)
    dvSegments(dir, toGen).foreach(n => require(
      java.nio.file.Files.exists(java.nio.file.Path.of(s"$dir/$n")),
      s"cannot restore $dir to generation $toGen: its deletion-vector " +
        s"segment $n was vacuumed"))
    val next = cur + 1
    val token = newToken()
    // verbatim manifest re-reference: a driver-side byte copy (r21 —
    // see copyManifestFiles), no Spark job for a metadata-only commit
    copyManifestGen(dir, toGen, next, token)
    val schemaJson = schemaAt(dir, toGen).map(_.json)
      .orElse(schemaAt(dir, cur).map(_.json))
    commitGen(dir, next, token, schemaJson.map("schema" -> _).toMap +
      ("op" -> "restore") + ("restore_of" -> toGen.toString) ++
      inheritDvMeta(dir, toGen))
    next
  }

  /** SHALLOW CLONE: materialize `dstDir` as a NEW keyed table whose
    * generation-0 manifest references `srcDir`'s current files — zero
    * data copied (Delta's SHALLOW CLONE). Writes against the clone
    * land in ITS OWN `files-g*` dirs while untouched files stay
    * shared by reference, so a 100 TB table forks for an experiment
    * or a backfill rehearsal at manifest cost. The clone's [[vacuum]]
    * sweeps only `files-g*` under `dstDir` and can never delete
    * shared source files; the SOURCE's vacuum, though, doesn't know
    * about clones — vacuuming the source once the clone has diverged
    * can drop files the clone still references (the documented
    * shallow-clone trade; [[restore]]'s existence check and the
    * parquet reader both fail loudly rather than return partial
    * rows). Returns the source generation the clone was cut from.
    */
  def cloneTable(s: SparkSession, srcDir: String, dstDir: String): Int = {
    val g = committedGen(srcDir).getOrElse(
      sys.error(s"$srcDir is not a committed keyed table (no commit log)"))
    require(committedGen(dstDir).isEmpty,
      s"clone target $dstDir is already a committed table")
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(dstDir))
    val token = newToken()
    // the clone's gen-0 manifest is the source's verbatim — a driver-
    // side byte copy (r21), not a Spark read-rewrite job
    val srcToken = metaAt(srcDir, g).getOrElse("token",
      sys.error(s"commit-log entry for generation $g lacks a token"))
    copyManifestFiles(
      java.nio.file.Path.of(manifestDirOf(srcDir, g, srcToken)),
      java.nio.file.Path.of(manifestDirOf(dstDir, 0, token)))
    val meta = schemaAt(srcDir, g).map(sch => "schema" -> sch.json).toMap +
      ("op" -> "clone") + ("cloned_from" -> s"$srcDir@g$g")
    // governance state rides the clone: the clone shares the source's
    // carried files, so a retired column name (bytes still buried in
    // shared files) must stay guarded on the clone too, and Delta's
    // CLONE copies table constraints — both are tiny atomic files
    writeDroppedCols(dstDir, droppedColumns(srcDir))
    writeConstraintsFile(dstDir, checkConstraints(srcDir))
    // bloom sidecars ride too: their rows are keyed by ABSOLUTE file
    // path and the clone's gen-0 manifest references exactly the
    // source's files, so the newest segment per column (per k-family —
    // a surviving different-numHashes segment's coverage rides along)
    // is valid for the clone verbatim — copied (sidecar-sized, not
    // data-sized) into a clone-side tokened dir and pointer-published
    // under the clone's generation-0 name, so its probes prune from
    // the first read instead of starting uncovered (and a crash
    // mid-copy leaves an unpublished orphan, never a torn segment)
    bloomDirs(srcDir).groupBy(t => (t.col, t.k)).values
      .map(_.maxBy(_.gen)).foreach { seg =>
        // keep the name's k/numBits segment verbatim
        val dstName = seg.name.replaceFirst("^_bloom-g\\d+", "_bloom-g0")
        val dataName = s"_bloomseg-${newToken()}"
        try {
          org.apache.commons.io.FileUtils.copyDirectory(
            new java.io.File(seg.dataDir), new java.io.File(s"$dstDir/$dataName"))
          publishBloomSeg(dstDir, dstName, dataName)
        } catch { case e: java.io.IOException => System.err.println(
          s"[graft] clone of bloom sidecar ${seg.name} failed (clone starts " +
            s"uncovered, sound; rebuild with buildBloomIndex): $e")
        }
      }
    // the deletion vector is part of the cloned visible state: COPIED
    // (vector-sized), not referenced — the source's vacuum after
    // divergence must not be able to blind the clone's reads. Entries
    // name the SOURCE's file paths, which is exactly what the clone's
    // gen-0 manifest references. Segments collapse into ONE clone-side
    // dir (a clone is a natural rollup point, same as a pruning
    // rewrite).
    val dvCloneMeta: Map[String, String] = dvSegments(srcDir, g) match {
      case Nil => Map.empty
      case segs =>
        val dst = dvNameOf(0, token)
        s.read.parquet(segs.map(n => s"$srcDir/$n"): _*)
          .coalesce(4).write.parquet(s"$dstDir/$dst")
        Map("dv" -> dst) ++ metaAt(srcDir, g).get("dv_rows").map("dv_rows" -> _)
    }
    commitGen(dstDir, 0, token, meta ++ dvCloneMeta)
    g
  }

  /** The commit history (Delta's DESCRIBE HISTORY): one row per
    * committed generation, newest first — (gen, op, ts, detail),
    * where `op` is the writer's tag (write/cluster/merge/compact/
    * delete/update/restore/clone; null for pre-tag commits), `ts`
    * the commit's wall-clock stamp, and `detail` every other
    * commit-log line except the bulky schema JSON (so restore_of /
    * cloned_from / a sink's batchId read straight off the row).
    * Driver-sized by construction: one head resolution plus one tiny
    * log-entry read per generation (O(generations) deliberately —
    * this IS the full-lineage read), no Spark job over data.
    * History survives vacuum — the log entries are the table's
    * lineage and are never swept, only manifests/files are.
    */
  def history(s: SparkSession, dir: String): DataFrame = {
    val cur = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    import s.implicits._
    (cur to 0 by -1).map { g =>
      val m = metaAt(dir, g)
      (g, m.get("op").orNull, m.get("ts").map(_.toLong).getOrElse(0L),
        m.removedAll(Seq("op", "ts", "schema", "token")))
    }.toDF("gen", "op", "ts", "detail")
  }

  // ---- the merge ----

  /** Apply a CDC change batch to the table at `dir`. `changes` caries
    * the key column, an `op` column (`U` update-if-matched overlay /
    * `D` delete-if-matched / `I` unconditional insert), and the
    * table's value columns (null value columns on a `U` leave the
    * target's value in place — q56's coalesce overlay, per column).
    *
    * Phases:
    *  1. PRUNE — only U/D rows must find resident keys; the
    *     file-count-sized manifest broadcasts against the change
    *     batch and every file whose [min_k, max_k] contains a U/D
    *     key is `touched`. The collected result is ≤ file-count
    *     paths (driver-sized by definition, like a probed-cell list).
    *  2. REWRITE — q56's plan over ONLY the touched files: left
    *     overlay join with U, anti join with D, union I; range-write
    *     into `files-g<next>` (inserts land key-sorted beside the
    *     rewritten rows).
    *  3. COMMIT — new manifest = untouched entries carried by
    *     reference + stats of the new files; the commit-log link
    *     lands last. A crashed predecessor's staging is invisible
    *     (token-suffixed, never referenced by a log entry) and
    *     vacuumable; a CONCURRENT writer that committed this
    *     generation first surfaces as
    *     `ConcurrentModificationException` after this writer's own
    *     staging is cleaned up — recompute on the new base and retry.
    */
  def merge(s: SparkSession, dir: String, changes0: DataFrame,
            keyCol: String, meta: Map[String, String] = Map.empty): MergeStats = {
    val prevGen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val next = prevGen + 1
    val token = newToken()
    // materialize the change batch ONCE (r21 — Delta's
    // merge.materializeSource posture): the batch subtree feeds the
    // validation/pruning probe plus the U/D/I routing filters, and the
    // range write evaluates those again for its sampling pass — an
    // unbarriered batch derived from a scan was re-computed up to ~7×
    // per merge. localCheckpoint is lazy (first action pays it), the
    // storage is spillable, and — the correctness half — a
    // NON-DETERMINISTIC source (a sampled or rand-salted batch) now
    // yields ONE consistent view across all phases instead of
    // re-drawing per phase.
    val changes = changes0.localCheckpoint(false)
    // ONE pass over the change batch (r21) serves all three openers
    // that each cost a batch-sized job before: the null-key identity
    // gate, the op-vocabulary gate, and the manifest-range pruning
    // probe. The manifest is collected ONCE driver-side (file-count-
    // sized, the same bound every path list here already assumes) and
    // re-enters the plans below as a local relation, so neither the
    // probe nor the final manifest write re-reads manifest parquet.
    val (manSchema, manRows) = manifestRowsAt(s, dir, prevGen)
    val manLocal = s.createDataFrame(manRows.asJava, manSchema)
    // manifest path under a reserved alias — a table legitimately
    // keyed by a column NAMED 'path' must not make the post-join
    // projection ambiguous
    val ranges = manLocal.select(col("path").as("__mf_path"),
      col(s"min_$keyCol").as("__mn"), col(s"max_$keyCol").as("__mx"))
    // null-admits, like every other stats consumer: a null bound (a
    // pre-evolution carry, or a truncated string stat whose prefix
    // had no ASCII char to increment) proves nothing, so the file is
    // TOUCHED for any U/D key — dropping it would silently discard
    // the change. The left-outer keeps every batch row visible to the
    // two gates (a U/D key can match several files — harmless: the
    // gates' rows can't match, and collect_set dedups paths).
    // keyCol.isNotNull in the join condition (r22): a null-key U/D row
    // must never select files into __touched (it matched any file with
    // null bounds before — safe only through the fragile ordering of
    // the __null_keys require below); the left-outer still preserves
    // the row once, so the null-key count stays exact
    val probe = changes.join(broadcast(ranges),
        col(keyCol).isNotNull && col("op").isin("U", "D") &&
          (col("__mn").isNull || col(keyCol) >= col("__mn")) &&
          (col("__mx").isNull || col(keyCol) <= col("__mx")),
        "left_outer")
      .agg(
        count(when(col(keyCol).isNull, lit(1))).as("__null_keys"),
        collect_set(when(!coalesce(col("op").isin("U", "D", "I"), lit(false)),
          coalesce(col("op").cast("string"), lit("null")))).as("__bad_ops"),
        collect_set(col("__mf_path")).as("__touched"))
      .head()
    // a null key can never be matched by the overlay's equality joins
    // and would poison every later CDC diff of a rewritten file as a
    // spurious D+I pair — refuse the batch loudly. Together with the
    // gen-0 write guard this makes null keys unreachable table-wide,
    // the invariant changesBetween's full-outer key join relies on.
    require(probe.getLong(0) == 0L,
      s"merge batch carries null '$keyCol' keys — a keyed table's key " +
        "is row identity; null keys can never be matched or diffed")
    // ops outside {U, D, I} (or null) must refuse, not silently
    // vanish: the filter-based routing below would drop them while
    // the commit still lands and the feed's watermark advances —
    // permanent silent data loss from one sloppy producer ('u',
    // 'UPDATE', ...)
    val badOps = probe.getSeq[String](1).sorted.take(4)
    require(badOps.isEmpty,
      s"merge batch contains unsupported op value(s) ${badOps.mkString(", ")} " +
        "— the change column must be exactly 'U', 'D' or 'I'")
    val touched = probe.getSeq[String](2).toIndexedSeq
    val touchedSet = touched.toSet // Seq.contains over 10^5 paths is quadratic
    val pathIdx = manSchema.fieldIndex("path")
    val untouched = manRows.map(_.getString(pathIdx))
      .filterNot(touchedSet.contains).toIndexedSeq

    // Schema evolution: valueCols is the UNION of the table's existing
    // value columns and the batch's. A batch may introduce NEW columns
    // (rewritten/insert files carry them; carried files surface them
    // as null through the mergeSchema reads) and may OMIT existing
    // ones (preserved untouched through the overlay) — Delta's
    // mergeSchema semantics on this layer.
    val changeVals = changes.columns.filterNot(c => c == keyCol || c == "op").toSeq
    val changeType = changes.schema.fields.map(f => f.name -> f.dataType).toMap
    // table schema from the commit log (no footer pass); fallback =
    // mergeSchema over the LIVE file set — a single-file sample could
    // predate an earlier evolution and silently drop its columns
    val livePaths = (touched ++ untouched).toIndexedSeq
    val tableVals: Seq[(String, org.apache.spark.sql.types.DataType)] =
      schemaAt(dir, prevGen) match {
        case Some(sch) => sch.fields.toSeq.filterNot(_.name == keyCol)
          .map(f => f.name -> f.dataType)
        case None if livePaths.isEmpty => Seq.empty
        case None => s.read.option("mergeSchema", "true").parquet(livePaths: _*)
          .schema.fields.toSeq.filterNot(_.name == keyCol)
          .map(f => f.name -> f.dataType)
      }
    val tableType = tableVals.toMap
    // a case-VARIANT of an existing column must refuse loudly: treated
    // as new it would log duplicate-modulo-case fields (poisoning
    // every later read under Spark's case-insensitive analysis), and
    // silently mapping it onto the existing column would need a rename
    // the caller didn't ask for — append's discipline, merge's overlay
    changeVals.foreach { c =>
      tableVals.map(_._1).find(t => t.equalsIgnoreCase(c) && t != c).foreach(t =>
        throw new IllegalArgumentException(
          s"merge batch column '$c' is a case-variant of table column '$t' " +
            "— rename the batch column to match exactly"))
    }
    val valueCols = tableVals.map(_._1) ++
      changeVals.filterNot(tableVals.map(_._1).contains)
    // retired-name guard (see dropColumn): a batch re-introducing a
    // dropped column name would resurrect bytes still buried in
    // carried files (parquet resolves by name) — allowed only once no
    // live file physically carries it, checked with one footer pass
    // paid only on this rare collision. Comparison is CASE-INSENSITIVE
    // like Spark's own field resolution: a batch's 'NOTE' would clip
    // onto a buried physical 'note' exactly the same way
    val retiredLower = droppedColumns(dir).map(_.toLowerCase)
    val reintroduced = changeVals.filterNot(tableVals.map(_._1).contains)
      .filter(c => retiredLower.contains(c.toLowerCase))
    if (reintroduced.nonEmpty) {
      val physical =
        if (livePaths.isEmpty) Set.empty[String]
        else s.read.option("mergeSchema", "true").parquet(livePaths: _*)
          .schema.fieldNames.map(_.toLowerCase).toSet
      val blocked = reintroduced.filter(c => physical.contains(c.toLowerCase))
      if (blocked.nonEmpty) throw new IllegalStateException(
        s"merge on $dir re-introduces dropped column(s) ${blocked.mkString(", ")} " +
          "still physically present in live files — rewrite the table first " +
          "(compact everything) or use a fresh column name")
    }
    val ins = changes.filter(col("op") === "I")
      .select(col(keyCol) +: valueCols.map { c =>
        if (changeVals.contains(c)) col(c)
        else lit(null).cast(tableType(c)).as(c) }: _*)
    val rewritten: Option[DataFrame] = if (touched.nonEmpty) {
      // vector-filtered: a rewritten file's replacement bytes must not
      // resurrect rows a deletion-vector commit already hid
      val t = readVisible(s, dir, prevGen, touched)
      val overlay = changes.filter(col("op") === "U")
        .select(col(keyCol) +: changeVals.map(c => col(c).as(s"__u_$c")): _*)
      val del = changes.filter(col("op") === "D").select(col(keyCol))
      Some(t.join(overlay, Seq(keyCol), "left_outer")
        .join(del, Seq(keyCol), "left_anti")
        .select(col(keyCol) +: valueCols.map { c =>
          val tcol = if (t.columns.contains(c)) col(c)
                     else lit(null).cast(tableType.getOrElse(c, changeType(c)))
          (if (changeVals.contains(c)) coalesce(col(s"__u_$c"), tcol)
           else tcol).as(c)
        }: _*))
    } else None
    val newRows = (rewritten.toSeq :+ ins).reduce(_ unionByName _)
    val staging = dataDirOf(dir, next, token)
    // one evaluation of the rewrite join + inserts (r22): the range
    // write's sampling pass previously re-ran the touched-file read
    // and overlay joins a second time — the touched files' own
    // manifest stats supply the bounds instead (out-of-band inserts
    // fold into the edge buckets; see stageRangeWrite / statsSplitPoints)
    stageRangeWrite(newRows, touched.size, Seq(col(keyCol)), staging,
      splits = statsSplitPoints(s, manSchema, manRows, touched, keyCol, touched.size))
    enforceConstraintsStaged(s, dir, staging, Seq(staging), "merge")

    val newStats =
      if (hasParquetFiles(staging)) statsRowsOf(s, staging, keyCol)
      else (manSchema, IndexedSeq.empty[org.apache.spark.sql.Row]) // all deleted
    // allowMissingColumns semantics: a schema evolution adds stat
    // columns the carried entries don't have — they union as null,
    // and every stats consumer treats null as "can't prune, include".
    // Carried rows + footer stats are both local, so the manifest
    // write is driver-side (zero Spark jobs — see writeManifestUnion).
    val untouchedSet = untouched.toSet
    writeManifestUnion(s, manifestDirOf(dir, next, token),
      (manSchema, manRows.filter(r => untouchedSet(r.getString(pathIdx)))),
      newStats)
    // the union schema rides the commit-log entry (schema-in-log).
    // Nullability is UNIONED with the previous schema: carried files
    // may hold nulls in a column the batch supplied non-null (and a
    // NEW column is null in every carried file), so logging the
    // batch's narrower nullability would let Catalyst fold IS NULL
    // over those rows to an empty relation — append's r20 lesson,
    // applied to the whole field set
    val prevNullable = schemaAt(dir, prevGen)
      .map(_.fields.map(f => f.name.toLowerCase -> f.nullable).toMap)
      .getOrElse(Map.empty[String, Boolean])
    val loggedSchema = org.apache.spark.sql.types.StructType(
      newRows.schema.fields.map(f => f.copy(nullable =
        f.nullable || prevNullable.getOrElse(f.name.toLowerCase, true))))
    // the deletion vector carries minus the rewritten files' entries
    val dvMeta = dvMetaForCommit(s, dir, prevGen, next, token, touched)
    try commitGen(dir, next, token,
      Map("op" -> "merge") ++ meta ++ dvMeta + ("schema" -> loggedSchema.json))
    catch {
      case e: java.util.ConcurrentModificationException =>
        Seq(staging, manifestDirOf(dir, next, token), s"$dir/${dvNameOf(next, token)}")
          .foreach(graft.IndexLifecycle.deleteRecursively)
        throw e
    }
    // un-retire only AFTER the commit landed: an aborted merge
    // (constraint rejection, lost OCC race) must not strip the guard —
    // a later restore could resurface physical carriers the footer
    // check above no longer sees. Fresh read-modify-write (not a
    // pre-computed snapshot) so a concurrent drop of a DIFFERENT
    // column isn't clobbered.
    if (reintroduced.nonEmpty) {
      // un-retire only names STILL IN THE COMMITTED SCHEMA, the check
      // re-read inside the CAS transform (fresh on every lost-race
      // retry): a concurrent dropColumn of the same name that already
      // committed must keep its retirement — and for the ms-window
      // where that drop has retired but not yet committed, dropColumn
      // re-asserts its retirement post-commit, so no interleaving
      // leaves a committed drop unguarded.
      val gone = reintroduced.map(_.toLowerCase).toSet
      updateDroppedCols(dir) { cur =>
        val sch = committedGen(dir).flatMap(g => schemaAt(dir, g))
        cur.filterNot { n =>
          gone.contains(n.toLowerCase) &&
            sch.exists(_.fieldNames.exists(_.equalsIgnoreCase(n)))
        }
      }
    }
    maintainBloomSidecars(s, dir, next, staging)
    MergeStats(next, touched, untouched)
  }

  // ---- compaction ----

  /** Bin-pack small files into a new generation: every live file
    * under `targetRows` is rewritten, range-packed into
    * ⌈Σrows / targetRows⌉ files; every file already at size is
    * carried by reference, bytes untouched. A no-op (< 2 small
    * files) commits nothing — the generation only advances when
    * there is something to gain. This is the maintenance half of the
    * merge loop at 100 TB: repeated banded merges and insert batches
    * strew band-sized files across generations, and compaction folds
    * them back toward the write-time layout in time ∝ the SMALL
    * files, never the table.
    */
  def compact(s: SparkSession, dir: String, keyCol: String,
              targetRows: Long): MergeStats = {
    val prevGen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    // ONE driver-side manifest collect serves the triage, the path
    // list and the carried-rows side of the new manifest (r21 — the
    // separate filter/select jobs each re-read manifest parquet)
    val (manSchema, manRows) = manifestRowsAt(s, dir, prevGen)
    val pathIdx = manSchema.fieldIndex("path")
    val nRowsIdx = manSchema.fieldIndex("n_rows")
    val small = manRows.filter(r =>
      !r.isNullAt(nRowsIdx) && r.getLong(nRowsIdx) < targetRows)
    val all = manRows.map(_.getString(pathIdx))
    if (small.length < 2)
      return MergeStats(prevGen, Nil, all) // nothing to fold together
    val next = prevGen + 1
    val token = newToken()
    val touched = small.map(_.getString(pathIdx)).toIndexedSeq
    val touchedSet = touched.toSet // Seq.contains over 10^5 paths is quadratic
    val untouched = all.filterNot(touchedSet.contains)
    val outFiles = math.max(1,
      math.ceil(small.map(_.getLong(nRowsIdx)).sum.toDouble / targetRows).toInt)
    val staging = dataDirOf(dir, next, token)
    // log-schema read: the fold set may span an evolution; the
    // compacted files must carry the union schema. Vector-filtered:
    // compaction is also the deletion-vector MATERIALIZATION pass —
    // folded files shed their hidden rows physically
    stageRangeWrite(readVisible(s, dir, prevGen, touched), outFiles,
      Seq(col(keyCol)), staging,
      splits = statsSplitPoints(s, manSchema, manRows, touched, keyCol, outFiles))
    val untouchedSet = untouched.toSet
    writeManifestUnion(s, manifestDirOf(dir, next, token),
      (manSchema, manRows.filter(r => untouchedSet(r.getString(pathIdx)))),
      statsRowsOf(s, staging, keyCol))
    val dvMeta = dvMetaForCommit(s, dir, prevGen, next, token, touched)
    try commitGen(dir, next, token, Map("op" -> "compact") ++ dvMeta ++
      schemaAt(dir, prevGen).map(sch => Map("schema" -> sch.json)).getOrElse(Map.empty))
    catch {
      case e: java.util.ConcurrentModificationException =>
        Seq(staging, manifestDirOf(dir, next, token), s"$dir/${dvNameOf(next, token)}")
          .foreach(graft.IndexLifecycle.deleteRecursively)
        throw e
    }
    maintainBloomSidecars(s, dir, next, staging)
    MergeStats(next, touched, untouched)
  }

  // ---- append-only / whole-set commits (fact tables, postings) ----

  /** Append-only commit: `rows` land as NEW key-sorted files under a
    * fresh generation whose manifest carries every current file by
    * reference — no key matching, no rewrite, and NO uniqueness
    * assumption on `keyCol` (facts and postings accumulate; the key
    * only drives layout and stats, which is why [[merge]]'s overlay
    * can't serve this shape). The one coordination point is the
    * generation CAS, so concurrent appenders serialize exactly like
    * concurrent merges: the loser's staging is deleted and
    * ConcurrentModificationException thrown for the caller to retry.
    * An empty batch is a no-op returning the current generation —
    * generations only advance when bytes landed. Returns the new
    * (or unchanged) generation.
    *
    * CDC boundary: changesBetween's key-diff assumes UNIQUE keys for
    * spans whose OLD side carries rewritten files — a pure-append
    * span diffs correctly (empty old side: each appended row one I),
    * but tailing a duplicate-keyed table across a rewriteAll/compact
    * multiplies the key join. Posting/fact tables built on this
    * primitive are not CDC-tailed; keep it that way or keep keys
    * unique.
    */
  def append(s: SparkSession, dir: String, rows: DataFrame, keyCol: String,
             nFiles: Int = 1, meta: Map[String, String] = Map.empty): Int = {
    val prevGen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    // schema evolution admits NEW columns only — a batch re-supplying
    // an existing column at a DIFFERENT type would commit data files
    // whose physical type conflicts with the logged schema, so later
    // explicit-schema reads of the new files fail or misread; refuse
    // BEFORE staging, the fail-loud half of mergeSchema's contract
    schemaAt(dir, prevGen).foreach(prev => rows.schema.fields.foreach { f =>
      prev.fields.find(_.name.equalsIgnoreCase(f.name)).foreach(p =>
        require(p.dataType == f.dataType,
          s"append batch re-supplies column '${f.name}' as " +
            s"${f.dataType.simpleString} but $dir logs it as " +
            s"${p.dataType.simpleString} — cast the batch (schema " +
            "evolution adds columns, it never retypes them)"))
    })
    val next = prevGen + 1
    val token = newToken()
    val staging = dataDirOf(dir, next, token)
    stageRangeWrite(requireKeysNotNull(rows, keyCol), nFiles,
      Seq(col(keyCol)), staging)
    if (!hasParquetFiles(staging)) {
      graft.IndexLifecycle.deleteRecursively(staging)
      return prevGen
    }
    // a zero-row batch can still stage an empty part file — the stats
    // pass (zero-row files contribute no manifest row) is the
    // authoritative emptiness check; rows are local, so the check and
    // the union below share one computation
    val newStats = statsRowsOf(s, staging, keyCol)
    if (newStats._2.isEmpty) {
      graft.IndexLifecycle.deleteRecursively(staging)
      return prevGen
    }
    enforceConstraintsStaged(s, dir, staging, Seq(staging), "append")
    writeManifestUnion(s, manifestDirOf(dir, next, token),
      manifestRowsAt(s, dir, prevGen), newStats)
    // schema-in-log: the logged schema plus any columns the batch adds
    // (mergeSchema semantics — carried files surface new columns null,
    // so an added column is logged NULLABLE regardless of the batch's
    // own nullability: a non-null field would let Catalyst fold
    // `IS NULL` over pre-evolution rows to an empty relation)
    // case-INSENSITIVE existence test, matching the type guard above:
    // a case-variant of an existing column must be treated as THAT
    // column, not logged as a duplicate that poisons every later read
    // under Spark's case-insensitive analysis
    val sch = schemaAt(dir, prevGen) match {
      case Some(prev) => org.apache.spark.sql.types.StructType(
        prev.fields ++ rows.schema.fields.filterNot(f =>
          prev.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          .map(_.copy(nullable = true)))
      case None => rows.schema
    }
    // deletion-vector state rides forward untouched: appends add
    // files, they never resurrect rows a vector commit hid
    try commitGen(dir, next, token, Map("op" -> "append") ++
      inheritDvMeta(dir, prevGen) ++ meta + ("schema" -> sch.json))
    catch {
      case e: java.util.ConcurrentModificationException =>
        Seq(staging, manifestDirOf(dir, next, token))
          .foreach(graft.IndexLifecycle.deleteRecursively)
        throw e
    }
    maintainBloomSidecars(s, dir, next, staging)
    next
  }

  /** Whole-set functional rewrite: stage `transform(live rows)` and
    * commit it as the complete next generation. The takedown/vacuum
    * shape for tables whose rows are facts keyed NON-uniquely (a
    * set-delete there is inexpressible through [[merge]]'s key
    * overlay and [[deleteWhere]]'s single band). Concurrency is the
    * generation CAS itself: the rewrite reads generation G's files
    * and commits at G+1, so a racing append/rewrite that takes G+1
    * first costs this pass a ConcurrentModificationException — the
    * caller re-runs against the new head and thereby re-reads
    * whatever the racer added (the only sound resumption: the staged
    * output came from a superseded snapshot). Rows hidden by
    * deletion vectors are excluded from the read and materialize out
    * physically, like [[compact]]. Returns the new generation.
    */
  def rewriteAll(s: SparkSession, dir: String, keyCol: String,
                 transform: DataFrame => DataFrame, nFiles: Int = 4,
                 meta: Map[String, String] = Map.empty): Int = {
    val prevGen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val next = prevGen + 1
    val token = newToken()
    val staging = dataDirOf(dir, next, token)
    stageRangeWrite(
      requireKeysNotNull(transform(readTable(s, dir, asOf = Some(prevGen))), keyCol),
      nFiles, Seq(col(keyCol)), staging)
    enforceConstraintsStaged(s, dir, staging, Seq(staging), "rewriteAll")
    val newStats =
      if (hasParquetFiles(staging)) statsRowsOf(s, staging, keyCol)
      else (manifestRowsAt(s, dir, prevGen)._1,
        IndexedSeq.empty[org.apache.spark.sql.Row])
    writeManifestParquet(s, manifestDirOf(dir, next, token),
      newStats._1, newStats._2)
    try commitGen(dir, next, token, Map("op" -> "rewrite") ++ meta ++
      schemaAt(dir, prevGen).map(sch => Map("schema" -> sch.json)).getOrElse(Map.empty))
    catch {
      case e: java.util.ConcurrentModificationException =>
        Seq(staging, manifestDirOf(dir, next, token))
          .foreach(graft.IndexLifecycle.deleteRecursively)
        throw e
    }
    maintainBloomSidecars(s, dir, next, staging)
    next
  }

  /** [[rewriteAll]] restricted to a file SUBSET: rewrite
    * `inputPaths`' visible rows as `transform(them)` and carry every
    * OTHER live file by reference, bytes untouched — the
    * affected-files-only takedown/maintenance shape (cost ∝ the files
    * actually holding the doomed rows, never the table; the ANN
    * family's affected-cells discipline on the table format). Same
    * CAS posture as rewriteAll, with one addition: inputs that are no
    * longer live files of the CURRENT generation (a racing vacuum or
    * compaction retired them between the caller's discovery and this
    * call) throw ConcurrentModificationException — semantically a
    * lost race, so the caller re-discovers against the new head
    * exactly as for a lost commit. Rewritten files' deletion-vector
    * entries are pruned like merge's touched files (the replacement
    * bytes are vector-filtered, so hidden rows materialize out).
    */
  def rewriteFiles(s: SparkSession, dir: String, keyCol: String,
                   inputPaths: Seq[String], transform: DataFrame => DataFrame,
                   nFiles: Int = 1, meta: Map[String, String] = Map.empty): Int = {
    require(inputPaths.nonEmpty, "rewriteFiles needs at least one input file")
    val prevGen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val (manSchema, manRows) = manifestRowsAt(s, dir, prevGen)
    val pathIdx = manSchema.fieldIndex("path")
    val all = manRows.map(_.getString(pathIdx))
    val allNorm = all.map(normPath).toSet
    if (!inputPaths.forall(p => allNorm.contains(normPath(p))))
      throw new java.util.ConcurrentModificationException(
        s"rewriteFiles inputs are not live files of $dir generation $prevGen — " +
          "a concurrent commit retired them; re-discover and retry")
    val inNorm = inputPaths.map(normPath).toSet
    val untouched = all.filterNot(p => inNorm.contains(normPath(p)))
    val next = prevGen + 1
    val token = newToken()
    val staging = dataDirOf(dir, next, token)
    stageRangeWrite(requireKeysNotNull(
      transform(readVisible(s, dir, prevGen, inputPaths.toIndexedSeq)), keyCol),
      nFiles, Seq(col(keyCol)), staging)
    enforceConstraintsStaged(s, dir, staging, Seq(staging), "rewriteFiles")
    val newStats =
      if (hasParquetFiles(staging)) statsRowsOf(s, staging, keyCol)
      else (manSchema, IndexedSeq.empty[org.apache.spark.sql.Row])
    val untouchedSet = untouched.toSet
    writeManifestUnion(s, manifestDirOf(dir, next, token),
      (manSchema, manRows.filter(r => untouchedSet(r.getString(pathIdx)))),
      newStats)
    val dvMeta = dvMetaForCommit(s, dir, prevGen, next, token,
      inputPaths.toIndexedSeq)
    try commitGen(dir, next, token, Map("op" -> "rewrite") ++ dvMeta ++ meta ++
      schemaAt(dir, prevGen).map(sch => Map("schema" -> sch.json)).getOrElse(Map.empty))
    catch {
      case e: java.util.ConcurrentModificationException =>
        Seq(staging, manifestDirOf(dir, next, token), s"$dir/${dvNameOf(next, token)}")
          .foreach(graft.IndexLifecycle.deleteRecursively)
        throw e
    }
    maintainBloomSidecars(s, dir, next, staging)
    next
  }

  // ---- predicate DML: DELETE WHERE / UPDATE WHERE ----

  /** One predicate-DML commit's file triage. `dropped` files left the
    * manifest WITHOUT being read (metadata-only); `rewritten` were
    * read and rewritten minus/with the change; `carried` moved to the
    * new manifest by reference, bytes untouched.
    */
  final case class DmlStats(gen: Int, dropped: Seq[String],
                            rewritten: Seq[String], carried: Seq[String])

  /** The band [lo, hi] on `colName` as a row predicate; an absent
    * bound is unbounded on that side (retention deletes are one-sided:
    * `ts < cutoff` ≡ hi = Some(cutoff), lo = None).
    */
  private def bandPredicate(colName: String, lo: Option[Any], hi: Option[Any]): Column = {
    val conds = lo.map(l => col(colName) >= lit(l)).toSeq ++
      hi.map(h => col(colName) <= lit(h)).toSeq
    conds.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Manifest-level triage of the committed files against the band:
    * (provably-disjoint → carry, provably-all-match → drop-eligible,
    * rest → rewrite). Soundness mirrors every other stats consumer:
    * null/missing stats prove nothing and land in `rewrite`; the
    * all-match proof additionally requires `nn_c == n_rows` (min/max
    * ignore nulls — a null-valued row's predicate is UNKNOWN, so SQL
    * DML must leave it alone, so a file holding one is never dropped
    * whole).
    */
  private def triage(man: DataFrame, colName: String,
                     lo: Option[Any], hi: Option[Any]): (Seq[String], Seq[String], Seq[String]) = {
    val (minC, maxC, nnC) = (s"min_$colName", s"max_$colName", s"nn_$colName")
    if (!man.columns.contains(minC)) { // unstatted column: no pruning at all
      val all = man.select("path").collect().map(_.getString(0)).toIndexedSeq
      return (Seq.empty, Seq.empty, all)
    }
    val disjoint = coalesce(
      lo.map(l => col(maxC) < lit(l)).getOrElse(lit(false)) ||
        hi.map(h => col(minC) > lit(h)).getOrElse(lit(false)),
      lit(false))
    val allMatch = coalesce(
      col(minC).isNotNull && col(maxC).isNotNull &&
        (if (man.columns.contains(nnC)) col(nnC) === col("n_rows") else lit(false)) &&
        lo.map(l => col(minC) >= lit(l)).getOrElse(lit(true)) &&
        hi.map(h => col(maxC) <= lit(h)).getOrElse(lit(true)),
      lit(false))
    val triaged = man.select(col("path"),
      when(disjoint, "carry").when(allMatch, "drop").otherwise("rewrite").as("cls"))
      .collect()
    def of(cls: String) = triaged.filter(_.getString(1) == cls)
      .map(_.getString(0)).toIndexedSeq
    (of("drop"), of("rewrite"), of("carry"))
  }

  /** `DELETE FROM table WHERE colName BETWEEN lo AND hi` (either bound
    * optional) — the predicate-driven half of the DML surface;
    * [[merge]] is the keyed-batch half. Three file classes from the
    * manifest stats, and the interesting one is the first: a file the
    * stats PROVE fully inside the band (all rows non-null and in
    * range) leaves the manifest without being opened — zero data IO.
    * A retention delete aligned with the write clustering (drop
    * everything before a cutoff on the key of a range-written table)
    * is therefore METADATA-ONLY except at the boundary file: at
    * 100 TB that is a directory-listing-sized commit, not a scan.
    * Boundary files rewrite with `NOT coalesce(band, false)` — a
    * null-valued row's predicate is UNKNOWN, so it survives, exactly
    * ANSI DELETE. Everything else carries by reference.
    *
    * CDC falls out for free: dropped and rewritten files differ
    * between the two manifests, so [[changesBetween]] reports the
    * deleted rows as `D` without any DML-side bookkeeping. A no-op
    * delete (band provably disjoint from every file) does NOT advance
    * the generation, like [[compact]].
    */
  def deleteWhere(s: SparkSession, dir: String, keyCol: String, colName: String,
                  lo: Option[Any], hi: Option[Any]): DmlStats = {
    val prevGen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    // one driver-side manifest read; the triage runs off the local
    // relation (Spark expression semantics for the band comparisons),
    // the manifest write off the rows (r21)
    val (manSchema, manRows) = manifestRowsAt(s, dir, prevGen)
    val man = s.createDataFrame(manRows.asJava, manSchema)
    val (dropped, rewrite, carried) = triage(man, colName, lo, hi)
    if (dropped.isEmpty && rewrite.isEmpty)
      return DmlStats(prevGen, Nil, Nil, carried) // provably no row matches
    val next = prevGen + 1
    val token = newToken()
    val staging = dataDirOf(dir, next, token)
    if (rewrite.nonEmpty) {
      // vector-filtered: the boundary rewrite must not resurrect rows
      // a deletion-vector commit already hid
      val survivors = readVisible(s, dir, prevGen, rewrite)
        .filter(!coalesce(bandPredicate(colName, lo, hi), lit(false)))
      stageRangeWrite(survivors, rewrite.size, Seq(col(keyCol)), staging,
        splits = statsSplitPoints(s, manSchema, manRows, rewrite, keyCol, rewrite.size))
    }
    val newStats =
      if (hasParquetFiles(staging)) statsRowsOf(s, staging, keyCol)
      else (manSchema, IndexedSeq.empty[org.apache.spark.sql.Row])
    val carriedSet = carried.toSet
    val pathIdx = manSchema.fieldIndex("path")
    writeManifestUnion(s, manifestDirOf(dir, next, token),
      (manSchema, manRows.filter(r => carriedSet(r.getString(pathIdx)))),
      newStats)
    // the all-match metadata drop stays sound under a vector: every
    // PHYSICAL row matching implies every VISIBLE row matches, and the
    // dropped file takes its vector entries with it
    val dvMeta = dvMetaForCommit(s, dir, prevGen, next, token, dropped ++ rewrite)
    try commitGen(dir, next, token, Map("op" -> "delete") ++ dvMeta ++
      schemaAt(dir, prevGen).map(sch => Map("schema" -> sch.json)).getOrElse(Map.empty))
    catch {
      case e: java.util.ConcurrentModificationException =>
        Seq(staging, manifestDirOf(dir, next, token), s"$dir/${dvNameOf(next, token)}")
          .foreach(graft.IndexLifecycle.deleteRecursively)
        throw e
    }
    maintainBloomSidecars(s, dir, next, staging)
    DmlStats(next, dropped, rewrite, carried)
  }

  /** `UPDATE table SET c = expr, … WHERE colName BETWEEN lo AND hi` —
    * each `set` value is a Column over the row (so `bal -> col("bal")
    * * 1.1` works). Files the stats prove disjoint from the band carry
    * by reference; everything else rewrites with
    * `when(band, expr).otherwise(old)` per set column — a null-valued
    * row's band is UNKNOWN and `when` falls to `otherwise`, exactly
    * ANSI UPDATE. No metadata-only class exists here (an updated row
    * must be written somewhere), so the win is the carry: a banded
    * update against a range-clustered table rewrites the band, not
    * the table. Set columns must already exist ([[merge]] is the
    * schema-evolution path). No-op (all files disjoint) does not
    * advance the generation; CDC reports the `U` rows from the file
    * diff for free.
    */
  def updateWhere(s: SparkSession, dir: String, keyCol: String, colName: String,
                  lo: Option[Any], hi: Option[Any],
                  set: Map[String, Column]): DmlStats = {
    val prevGen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val tableCols = schemaAt(dir, prevGen).map(_.fieldNames.toSeq).getOrElse(
      readTable(s, dir).columns.toSeq)
    val unknown = set.keySet.diff(tableCols.toSet)
    require(unknown.isEmpty,
      s"updateWhere set columns not in the table: ${unknown.mkString(", ")} " +
        "(schema evolution goes through merge)")
    require(!set.contains(keyCol),
      s"updateWhere cannot reassign the table key '$keyCol' — " +
        "model a key change as merge(D old, I new)")
    // same one-read discipline as deleteWhere (r21)
    val (manSchema, manRows) = manifestRowsAt(s, dir, prevGen)
    val man = s.createDataFrame(manRows.asJava, manSchema)
    val (inBand, rewrite0, carried) = triage(man, colName, lo, hi)
    val rewrite = (inBand ++ rewrite0).toIndexedSeq // all-match still rewrites
    if (rewrite.isEmpty)
      return DmlStats(prevGen, Nil, Nil, carried)
    val next = prevGen + 1
    val token = newToken()
    val staging = dataDirOf(dir, next, token)
    val band = bandPredicate(colName, lo, hi)
    val t = readVisible(s, dir, prevGen, rewrite)
    // cast each set expression to the column's existing type: the
    // rewritten files must stay physically readable under the
    // UNCHANGED log schema the commit carries forward
    val updated = t.select(t.columns.toIndexedSeq.map { c =>
      set.get(c).map(v =>
        when(band, v.cast(t.schema(c).dataType)).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }: _*)
    stageRangeWrite(updated, rewrite.size, Seq(col(keyCol)), staging,
      splits = statsSplitPoints(s, manSchema, manRows, rewrite, keyCol, rewrite.size))
    enforceConstraintsStaged(s, dir, staging, Seq(staging), "updateWhere")
    val carriedSet = carried.toSet
    val pathIdx = manSchema.fieldIndex("path")
    writeManifestUnion(s, manifestDirOf(dir, next, token),
      (manSchema, manRows.filter(r => carriedSet(r.getString(pathIdx)))),
      statsRowsOf(s, staging, keyCol))
    val dvMeta = dvMetaForCommit(s, dir, prevGen, next, token, rewrite)
    try commitGen(dir, next, token, Map("op" -> "update") ++ dvMeta ++
      schemaAt(dir, prevGen).map(sch => Map("schema" -> sch.json)).getOrElse(Map.empty))
    catch {
      case e: java.util.ConcurrentModificationException =>
        Seq(staging, manifestDirOf(dir, next, token), s"$dir/${dvNameOf(next, token)}")
          .foreach(graft.IndexLifecycle.deleteRecursively)
        throw e
    }
    maintainBloomSidecars(s, dir, next, staging)
    DmlStats(next, Nil, rewrite, carried)
  }

  // ---- DROP COLUMN (metadata-only) ----

  private def renderNames(names: Set[String]): String =
    if (names.isEmpty) "" else names.toSeq.sorted.mkString("", "\n", "\n")
  private def parseNames(content: String): Set[String] =
    content.linesIterator.filter(_.nonEmpty).toSet

  /** Column names retired by [[dropColumn]] and not yet physically
    * shed from the live files.
    */
  def droppedColumns(dir: String): Set[String] =
    parseNames(governRead(dir, "_dropped_cols")._2)

  /** Race-proof retire/un-retire (see the CAS block above). */
  private[operators] def updateDroppedCols(dir: String)(f: Set[String] => Set[String]): Unit = {
    governCas(dir, "_dropped_cols")(c => renderNames(f(parseNames(c)))); ()
  }

  private def writeDroppedCols(dir: String, names: Set[String]): Unit =
    updateDroppedCols(dir)(_ => names)

  /** DROP COLUMN as a METADATA-ONLY commit (Delta's drop-column-with-
    * column-mapping semantics at this layer): a new generation
    * re-referencing the SAME files under a log schema that no longer
    * carries the column — zero data IO on a 100 TB table; every
    * reader projects through the explicit log schema, so the buried
    * bytes are invisible immediately and vacuum never needs to know.
    * The name is RETIRED (`_dropped_cols`, atomic-replace like
    * `_constraints`): parquet resolves columns by NAME, so a same-name
    * re-add through merge's schema evolution would resurrect the old
    * bytes still buried in carried files — [[merge]] therefore refuses
    * a retired name unless no live file still physically carries it
    * (one mergeSchema footer pass, paid only on that rare collision;
    * after a full rewrite the name un-retires automatically). RENAME
    * is deliberately drop+add-as-new: without per-column ids a rename
    * that preserves values is a full rewrite — do that explicitly.
    * Constraints referencing the column must be dropped first (their
    * enforcement would fail analysis on every later mutation).
    * Time travel to pre-drop generations still sees the column;
    * [[restore]] to one resurrects it (the schema rides the log).
    */
  def dropColumn(s: SparkSession, dir: String, keyCol: String,
                 colName: String): Int = {
    require(colName != keyCol,
      s"cannot drop the table key '$keyCol'")
    val prevGen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val sch = schemaAt(dir, prevGen).getOrElse(
      sys.error(s"$dir generation $prevGen records no schema in its commit log"))
    require(sch.fieldNames.contains(colName),
      s"no column '$colName' in ${sch.fieldNames.mkString("[", ",", "]")}")
    checkConstraints(dir).foreach { case (n, e) =>
      // case-insensitive like Spark's resolution, last name part for
      // qualified refs — a 'BAL > 0' constraint must block dropping
      // 'bal', else every later mutation's enforcement fails analysis
      val refs = s.sessionState.sqlParser.parseExpression(e).collect {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          ua.nameParts.last.toLowerCase
      }
      require(!refs.contains(colName.toLowerCase),
        s"CHECK constraint '$n' ($e) references '$colName' — drop it first")
    }
    val next = prevGen + 1
    val token = newToken()
    // same files, re-manifested verbatim (driver-side byte copy, r21);
    // only the log schema changes
    copyManifestGen(dir, prevGen, next, token)
    val newSch = org.apache.spark.sql.types.StructType(
      sch.fields.filterNot(_.name == colName))
    // retire BEFORE the commit link: a crash between the two leaves a
    // retired-but-live column, which the merge guard ignores (the name
    // is still in the table schema, so nothing "re-introduces" it) —
    // the reverse order would leave a committed drop UNguarded. Both
    // the retire and the rollback are link(2)-CAS TRANSFORMS touching
    // only this column, so a concurrent winner's retirement of a
    // DIFFERENT column can never be clobbered by this writer's
    // rollback (a lost update is structurally impossible now — the
    // loser of the CAS race re-applies its single-name change to the
    // winner's state).
    updateDroppedCols(dir)(_ + colName)
    try commitGen(dir, next, token, Map("op" -> "dropcol",
      "dropped" -> colName, "schema" -> newSch.json) ++
      inheritDvMeta(dir, prevGen))
    catch {
      case e: java.util.ConcurrentModificationException =>
        rollbackRetirement(dir, colName)
        graft.IndexLifecycle.deleteRecursively(manifestDirOf(dir, next, token))
        throw e
    }
    // re-assert the retirement after the commit landed: a concurrent
    // merge's un-retire (or a racing loser's rollback) may have read
    // a PRE-commit schema and stripped it inside the narrow window
    // between this writer's retire and its commit link; the add is an
    // idempotent CAS, and once the post-drop schema is committed the
    // schema-checked strips can no longer fire — so every
    // interleaving leaves this committed drop guarded.
    updateDroppedCols(dir)(_ + colName)
    // a sidecar on the dropped column would keep sketching invisible
    // bytes; sweep it (probes on the column now fail analysis anyway)
    bloomDirsFor(dir, colName).foreach(seg => dropBloomSeg(dir, seg))
    next
  }

  /** Undo a dropColumn retirement after a LOST commit race — but only
    * when the COMMITTED schema still carries the column: the writer
    * that won the race may have been a concurrent dropColumn of the
    * SAME column, whose committed drop needs the (shared) retirement
    * this loser would otherwise strip, silently disabling the
    * byte-resurrection guard. When the committed schema is unknown
    * (pre-schema-log store) the retirement is conservatively KEPT — a
    * retired-but-live name is harmless (the merge guard ignores names
    * still in the table schema), an unguarded dropped one is not.
    */
  private[operators] def rollbackRetirement(dir: String, colName: String): Unit =
    updateDroppedCols(dir) { cur =>
      // re-read inside the transform: fresh on every lost-race retry,
      // and dropColumn's post-commit re-assert covers the remaining
      // retired-but-not-yet-committed window
      val colStillInSchema = committedGen(dir)
        .flatMap(g => schemaAt(dir, g))
        .exists(_.fieldNames.exists(_.equalsIgnoreCase(colName)))
      if (colStillInSchema) cur - colName else cur
    }

  // ---- streaming upsert sink ----

  /** An idempotent `foreachBatch` body applying each micro-batch of
    * CDC rows (`op` ∈ U/D/I, same contract as [[merge]]) to the keyed
    * table — the streaming write side of the table format. Replay
    * safety is the Sinks.scala contract: the last applied batchId
    * rides the commit marker's metadata, so the generation and the
    * batch watermark flip in one atomic commit-log link; a restarted query
    * re-offering an applied batch is a no-op, and a crash between
    * merge work and marker flip replays onto the intact previous
    * generation (merge sweeps the orphaned next-gen dirs itself).
    */
  def upsertSink(dir: String, keyCol: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      // a concurrent non-stream writer (merge/compact) can win a
      // generation under us — that is the OCC contract, not an
      // error; re-read the base and retry the batch (bounded, so a
      // genuinely stuck table still fails the query loudly)
      var attempts = 0
      var done = false
      while (!done) {
        // the watermark is the NEWEST batch meta at or below the head,
        // resolved flat via the checkpoint rollup — reading only the
        // head's meta let any interleaved maintenance commit (compact/
        // recluster/dvdelete carries no batch key) hide it, and a
        // restarted stream re-merged an already-applied batch,
        // duplicating its I rows (r20 review find)
        val applied = newestSinkBatch(dir)
        if (applied.exists(_ >= batchId)) done = true // replay: no-op
        else {
          attempts += 1
          try {
            merge(batch.sparkSession, dir, batch, keyCol,
              meta = Map("batch" -> batchId.toString))
            done = true
          } catch {
            case e: java.util.ConcurrentModificationException =>
              if (attempts >= 20) throw e
          }
        }
      }
    }

}
