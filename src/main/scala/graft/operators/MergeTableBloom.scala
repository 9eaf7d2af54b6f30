package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The per-file Bloom sidecar: pointer-published segments (write-once
  * tokened parquet + one CommitStore putReplace), build, per-commit
  * delta folds, probes and batched point lookups. Implementation
  * partition of [[MergeTable]] — see [[MergeTableLog]]'s header note.
  */
trait MergeTableBloom { this: MergeTable.type =>
  // ---- per-file Bloom sidecar (point-lookup pruning on ANY column) ----
  //
  // min/max stats prune RANGE predicates on clustered columns; they are
  // useless for `col = value` on a high-cardinality column uncorrelated
  // with the layout (a url, a content hash, a customer email) — every
  // file's [min, max] spans the whole domain. Delta solves this with
  // per-file Bloom filter indexes; same design here: one mergeable
  // graft_bloom sketch per live data file, built in ONE pass over the
  // table (map-side-combined groupBy on input_file_name), stored as a
  // parquet sidecar named for the generation it covers. A point lookup
  // consults the sidecar (file-count-sized, like the manifest), opens
  // only files whose sketch admits the value, and applies the exact
  // residual filter. No false negatives by construction (bloom + the
  // uncovered-file fallback below), so results are exact; false
  // positives only cost an extra file open. At 100 TB / 100k files a
  // needle lookup touches the sidecar + a handful of files instead of
  // scheduling 100k scan tasks.

  /** Sidecar segment NAME: `_bloom-g<gen>~<k>b<numBits>~<col>`.
    * numBits rides the name (like numHashes) so maintenance folds
    * size FRESH sketches exactly as buildBloomIndex chose, even after
    * the table emptied or mixed-size segments folded. The name is
    * the segment's logical identity: it is the pointer FILE name
    * under `_bloomptr/`, while the parquet lives in an immutable
    * tokened dir.
    */
  private def bloomNameOf(colName: String, gen: Int,
                          numHashes: Int, numBits: Int) =
    s"_bloom-g$gen~${numHashes}b$numBits~$colName"

  /** One committed sidecar segment. `dataDir` is where the sketch
    * parquet lives: the `<dir>/_bloomseg-<token>` its pointer names.
    */
  private[operators] final case class BloomSeg(
      name: String, dataDir: String, gen: Int, k: Int,
      bits: Int, col: String)

  private[operators] def bloomPtrDirOf(dir: String): java.nio.file.Path =
    java.nio.file.Path.of(dir, "_bloomptr")
  private[operators] def bloomPtrOf(dir: String, name: String): java.nio.file.Path =
    bloomPtrDirOf(dir).resolve(name)

  private def parseBloomName(n: String): Option[(Int, Int, Int, String)] =
    if (!n.startsWith("_bloom-g")) None
    else n.stripPrefix("_bloom-g").split("~", 3) match {
      // the POSIX store stages a pointer as `<committed name>.tmp-<nonce>`
      // — the suffix lands in the column segment, so reject it
      // explicitly or crashed staging would surface as a committed
      // segment for a phantom column (folded every commit, reported in
      // stats, copied by clones)
      case Array(g, kb, c) if !c.contains(".tmp") =>
        kb.split("b", 2) match {
          case Array(kStr, bStr) =>
            for (gi <- g.toIntOption; ki <- kStr.toIntOption;
                 bi <- bStr.toIntOption) yield (gi, ki, bi, c)
          case _ => None
        }
      case _ => None
    }

  /** Every committed sidecar segment under `dir` — the one discovery
    * point shared by probes, folds, sweeps, stats and clones so the
    * name/publication scheme lives in exactly one place. The segment
    * name is a file under `_bloomptr/` whose bytes name the immutable
    * tokened parquet dir. Publication was an atomic
    * [[CommitStore.putReplace]], so a reader sees the old or the new
    * pointer, never a torn one. A pointer whose target dir is missing
    * (crashed flip raced a vacuum, or the target was vacuumed as an
    * orphan) is skipped — degrades to uncovered-admit, and vacuum
    * reclaims the dangling pointer.
    */
  private[operators] def bloomDirs(dir: String): Seq[BloomSeg] = {
    val st = store(dir)
    st.list(bloomPtrDirOf(dir)).flatMap { n =>
      parseBloomName(n).flatMap { case (g, k, b, c) =>
        st.read(bloomPtrOf(dir, n)) // None = swept mid-list
          .map(bytes => new String(bytes, "UTF-8").trim)
          .filter(_.nonEmpty)
          .map(seg => BloomSeg(n, s"$dir/$seg", g, k, b, c))
          // target gone = crashed flip or vacuumed orphan; the pointer
          // is reclaimed by vacuum, the probe falls back to uncovered
          .filter(s => java.nio.file.Files.exists(
            java.nio.file.Path.of(s.dataDir)))
      }
    }
  }

  /** Publish a segment: flip its pointer to `dataName` through the
    * store's atomic replace. The parquet under `dataName` was written
    * directly to its final tokened dir (data never moves — the
    * property that keeps the format object-store-ready), so the flip
    * is the only publication step and a crash on either side of it
    * leaves a consistent index: before = old segment intact, after =
    * new segment live and the stale data dir awaits vacuum's
    * orphan sweep.
    *
    * Deliberately NOT [[SegmentPointer.publish]] (it was distilled
    * from this code): that protocol is one marker naming THE live
    * segment of a root, with an all-but-`keep` orphan sweep. The
    * bloom index is a FAMILY of pointers — one per (column, hash
    * config) segment name, many live at once — and its sweep keeps
    * the pointed SET (vacuum side), which the single-`keep` helper
    * cannot express without growing a second shape. Same store, same
    * atomic-replace flip, same name-not-path discipline; only the
    * cardinality is bespoke.
    */
  private[operators] def publishBloomSeg(dir: String, name: String,
                              dataName: String): Unit =
    store(dir).putReplace(bloomPtrOf(dir, name),
      (dataName + "\n").getBytes("UTF-8"))

  /** Retire a superseded segment: pointer first (readers stop
    * resolving it atomically), data dir second. A crash between the
    * two leaves an orphaned `_bloomseg-` dir that vacuum reclaims as
    * unreferenced. `keepPtr` is for the same-NAME republish, where
    * the pointer was already flipped to the successor and must not
    * be deleted out from under it.
    */
  private[operators] def dropBloomSeg(dir: String, seg: BloomSeg,
                           keepPtr: Boolean = false): Unit = {
    if (!keepPtr) { store(dir).delete(bloomPtrOf(dir, seg.name)); () }
    graft.IndexLifecycle.deleteRecursively(seg.dataDir)
  }

  // case-insensitive like Spark's own resolution (and the fold/probe
  // sides' type lookups) — dropColumn's sweep of 'tag' must find a
  // '_bloom-…~Tag' sidecar, and a probe on 'K' must find the segment
  // built as 'k', or maintenance keeps folding retired bytes forever
  private[operators] def bloomDirsFor(dir: String, colName: String): Seq[BloomSeg] =
    bloomDirs(dir).filter(_.col.equalsIgnoreCase(colName))

  /** Newest sidecar PER numHashes-family for `colName` at or below
    * `maxGen`: (dataDir, gen, numHashes). Normally one family; a
    * crashed rebuild that changed `numHashes` leaves two, and BOTH are
    * consulted by probes (each segment prunes its covered files
    * soundly with its own k) — coverage is never silently dropped.
    */
  private def bloomFamilyDirs(dir: String, colName: String,
                              maxGen: Int): Seq[(String, Int, Int)] =
    bloomDirsFor(dir, colName).filter(_.gen <= maxGen)
      .groupBy(_.k).values.toSeq
      .map(_.maxBy(_.gen))
      .map(s => (s.dataDir, s.gen, s.k))
      .sortBy(-_._2)

  /** XxHash64 of a probe value, computed with the SAME Catalyst
    * expression (and default seed) the build side's `xxhash64(col)`
    * uses — the two must agree bit-for-bit or pruning would lie. The
    * probe literal is first CAST to the column's type: XxHash64 hashes
    * an Int and a Long differently, so probing a long column with
    * `5: Int` would otherwise false-negative every sketch while the
    * residual `===` (which coerces) would have matched.
    */
  private def bloomProbeHash(value: Any,
      colType: Option[org.apache.spark.sql.types.DataType],
      timeZone: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    val lit0 = Literal(value)
    // cast under the SESSION time zone — the residual filter coerces a
    // string-vs-timestamp probe there, and sketch admission must probe
    // the same instant or timestamp lookups silently lose rows
    val e = colType.filter(_ != lit0.dataType)
      .map(t => Cast(lit0, t, Some(timeZone))).getOrElse(lit0)
    XxHash64(Seq(e), 42L)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Long]
  }

  /** Build (or rebuild) the Bloom sidecar for `colName` at the current
    * generation: one Spark job, one sketch per live file. Supersedes
    * any older sidecar for the column. Publication is the CommitStore
    * discipline (parquet written once to an immutable tokened dir,
    * then one atomic pointer flip — [[publishBloomSeg]]) so a crash
    * leaves either the old or the new index, never a torn one, on
    * POSIX and object stores alike. Returns the generation the index
    * covers. Files written by LATER commits are simply uncovered —
    * [[bloomCandidatePaths]] admits them, so a stale index degrades
    * to less pruning, never to wrong answers (rebuild on maintenance
    * windows, like compaction).
    */
  def buildBloomIndex(s: SparkSession, dir: String, colName: String,
                      numBits: Int = 1 << 17, numHashes: Int = 7): Int = {
    val gen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val idx = readTable(s, dir)
      .select(input_file_name().as("path"), xxhash64(col(colName)).as("__h"))
      .groupBy("path")
      .agg(graft.functions.GraftFunctions.bloomAgg("__h", numBits, numHashes)
        .as("bloom"))
    val segName = bloomNameOf(colName, gen, numHashes, numBits)
    val dataName = s"_bloomseg-${newToken()}"
    // NOT coalesced to one file: sketches are numBits/8 bytes each, so
    // a big table's sidecar is tens of MB — probes re-read it per
    // lookup and want the read parallel (the groupBy's partitioning
    // spreads entries across ≤ shuffle.partitions part files)
    idx.write.parquet(s"$dir/$dataName")
    // snapshot the superseded set BEFORE the flip (the same-name
    // replace needs the OLD target; after the flip the pointer names
    // the new one), publish, THEN sweep — a crash mid-build leaves the
    // old index intact (the fresh data dir is an orphan vacuum
    // reclaims), a crash mid-sweep leaves both (discovery takes the
    // pointer / the higher generation per family). The sweep is
    // restricted to STRICTLY LOWER generations plus this builder's own
    // replacements: a concurrent builder that already landed a fresher
    // index (higher gen) must not lose it to this builder's cleanup.
    // One torn window remains, sound (probes fall back to full
    // admission) but noted so operators don't schedule concurrent
    // rebuilds of one column: a same-generation build with a different
    // numHashes leaves both segments until the next higher-generation
    // build sweeps them. The r13 same-generation-rebuild no-index gap
    // is GONE — the pointer flip is atomic where delete-then-rename
    // was not.
    val superseded = bloomDirsFor(dir, colName)
      .filter(t => t.gen < gen ||
        // a SAME-generation same-k sibling with different numBits is
        // also superseded (this rebuild fully covers the live set) —
        // leaving it would make the next fold read two segments of one
        // family and carry duplicate rows per path forever; the
        // mutual-delete risk of two concurrent same-column rebuilds
        // rides the already-documented don't-schedule-concurrent-
        // rebuilds window above
        (t.gen == gen && t.k == numHashes && t.bits != numBits) ||
        t.name == segName)
    publishBloomSeg(dir, segName, dataName)
    superseded.foreach(seg =>
      dropBloomSeg(dir, seg, keepPtr = seg.name == segName))
    gen
  }

  /** Delta-maintain every existing Bloom sidecar at a DML commit:
    * sketch ONLY the committing generation's staged files (one pass
    * over files already in the page cache from being written), fold
    * them with the surviving entries of the current sidecar (a
    * file-count-sized parquet read — the sketch column is a monoid,
    * so old entries carry verbatim; dead files' rows are dropped),
    * and land the union as the generation-`newGen` sidecar under the
    * same write-once-then-pointer-flip discipline as
    * [[buildBloomIndex]]. Cost ∝ the
    * delta plus the sidecar, never the table — the same maintenance
    * discipline as appendToFpIndex/appendToIvfIndex, and the reason
    * the index stays ~fully covering under a steady merge diet
    * instead of decaying toward admit-all until a full rebuild.
    *
    * Runs AFTER the commit-log link has landed, so a failure here can
    * never un-commit data — it degrades to a stale (sound,
    * admit-uncovered) sidecar, is logged loudly, and
    * [[buildBloomIndex]] is the recovery. numHashes AND numBits ride
    * the newest segment's dir name, so fresh sketches are sized
    * exactly as the build chose; existing entries carry their own
    * byte length per-row, so segments built at different sizes still
    * fold. A segment with a DIFFERENT
    * numHashes (crashed rebuild that changed k) is left alive, not
    * swept — probes consult every k-family, so its coverage keeps
    * pruning instead of silently decaying to admit-all.
    * Crash-safety: a crash before the pointer flip leaves the old
    * sidecar intact (the staged data dir is an orphan vacuum
    * reclaims); a crash mid-sweep leaves both generations (probes
    * read the newest).
    */
  private[operators] def maintainBloomSidecars(s: SparkSession, dir: String,
                                    newGen: Int, staging: String): Unit = {
    val segs = bloomDirs(dir)
    if (segs.isEmpty) return
    // local relation (driver-side manifest read, r21): the broadcast
    // build below stops paying a manifest parquet job per fold
    val liveDf = manifestLocalAt(s, dir, newGen).select("path")
    val stagedDf =
      if (hasParquetFiles(staging)) Some(s.read.parquet(staging)) else None
    segs.map(_.col).distinct.foreach { c =>
      try {
        val colSegs = segs.filter(_.col == c)
        // deterministic on a same-generation tie (crashed k-change
        // rebuild): highest k wins, so repeated folds pick ONE family
        val newest = colSegs.maxBy(t => (t.gen, t.k))
        val (newestGen, k, bits) = (newest.gen, newest.k, newest.bits)
        if (newestGen < newGen) {
          // the fold family is the newest segment's numHashes — a
          // DIFFERENT-k segment (crashed rebuild that changed k) can't
          // fold in (admission probes with one k per segment), so it is
          // LEFT ALIVE, not swept: it still prunes its covered files
          // soundly, and bloomCandidatePathsIn consults every family
          val family = colSegs.filter(_.k == k)
          val foldDf = s.read.parquet(family.map(_.dataDir): _*)
          // one row per path: a crashed fold (new segment landed, old
          // not yet swept) leaves two same-k segments both covering
          // the carried files — every duplicate row is an equally
          // sound sketch of the same immutable file, so keep either,
          // but don't let duplicates compound through repeated folds
          val old = foldDf.join(broadcast(liveDf), Seq("path"), "left_semi")
            .dropDuplicates("path")
          // fresh sketches are sized by the numBits buildBloomIndex
          // recorded in the newest segment's name
          // case-insensitive like Spark's own resolution (and like the
          // probe side's type lookup) — a sidecar on 'Tag' must still
          // fold when the staged schema spells it 'tag'
          val fresh = stagedDf.filter(_.columns.exists(_.equalsIgnoreCase(c))).map { df =>
            df.select(input_file_name().as("path"),
                xxhash64(col(c)).as("__h"))
              .groupBy("path")
              .agg(graft.functions.GraftFunctions.bloomAgg("__h", bits, k)
                .as("bloom"))
          }
          val folded = fresh.fold(old)(f => old.unionByName(f))
          val segName = bloomNameOf(c, newGen, k, bits)
          val dataName = s"_bloomseg-${newToken()}"
          folded.write.parquet(s"$dir/$dataName")
          publishBloomSeg(dir, segName, dataName)
          family.filter(_.gen < newGen).foreach(seg =>
            dropBloomSeg(dir, seg, keepPtr = seg.name == segName))
          // surviving different-k segments are NOT logged per commit (a
          // streaming sink would print once per micro-batch, drowning
          // real maintenance errors) — the split is visible in
          // [[bloomFamilySplit]] / `table stats` until a full rebuild
          // collapses it
        }
      } catch {
        // the DML committed; a NON-FATAL maintenance failure must not
        // make it look failed (a retried merge would double-apply the
        // batch). The sidecar is merely stale — sound by the
        // uncovered-file fallback — and buildBloomIndex is the
        // recovery. Fatal VM errors and interruption still propagate:
        // the commit-is-durable argument doesn't justify masking a
        // dying JVM or breaking cooperative cancellation.
        case scala.util.control.NonFatal(e) => System.err.println(
          s"[graft] bloom sidecar maintenance for $dir.$c at g$newGen failed " +
            s"(index is stale-but-sound; rebuild with buildBloomIndex): $e")
      }
    }
  }

  /** The columns carrying a committed Bloom sidecar, with the
    * generation the newest segment covers (observability — the
    * `table stats` console verb and capacity planning; files written
    * after that generation are uncovered-admitted until the next
    * maintenance fold or rebuild).
    */
  def bloomIndexedColumns(dir: String): Map[String, Int] =
    bloomDirs(dir).groupBy(_.col).map { case (c, segs) => c -> segs.map(_.gen).max }

  /** Columns whose sidecar currently spans MORE than one numHashes
    * family (a crashed k-change rebuild's torn window): col → family
    * count. Probes stay sound — they consult every family — and a
    * full [[buildBloomIndex]] collapses the split; `table stats`
    * surfaces this instead of a per-commit warning (which would print
    * once per micro-batch under a streaming sink).
    */
  def bloomFamilySplit(dir: String): Map[String, Int] =
    bloomDirs(dir).groupBy(_.col).view
      .mapValues(_.map(_.k).distinct.size).filter(_._2 > 1).toMap

  /** The pruning decision for `colName = value`, exposed for specs and
    * probes: (candidate paths, pruned-file count, total live files).
    * Candidates = sidecar hits ∪ files the sidecar doesn't cover
    * (written after it, or no sidecar at all) — the sound fallback.
    * One tiny job over the file-count-sized sidecar; only (path,
    * boolean) rows reach the driver, never the sketches themselves.
    */
  def bloomCandidatePaths(s: SparkSession, dir: String, colName: String,
                          value: Any): (Seq[String], Int, Int) =
    bloomCandidatePathsIn(s, dir, colName, Seq(value))

  /** Batched admission: ONE sidecar pass decides per-file candidacy
    * for N values at once (the lookup-service shape — the index read
    * amortizes across the batch instead of being re-paid per needle).
    * Returns the UNION candidate set over all values. Batch size is
    * capped because the admission predicate is an N-term OR evaluated
    * per sketch row.
    */
  def bloomCandidatePathsIn(s: SparkSession, dir: String, colName: String,
                            values: Seq[Any]): (Seq[String], Int, Int) =
    bloomCandidatePathsInAt(s, dir, colName, values,
      committedGen(dir).getOrElse(
        sys.error(s"$dir is not a committed keyed table (no commit log)")))

  /** [[bloomCandidatePathsIn]] against an ALREADY-RESOLVED generation
    * — for callers that pair the candidate set with other reads of
    * the same generation (scanEqualsBloomIn's vector-aware read): a
    * separate head resolution could straddle a concurrent commit and
    * pair generation G's candidates with G+1's deletion-vector state.
    */
  private def bloomCandidatePathsInAt(s: SparkSession, dir: String, colName: String,
                                      values: Seq[Any], gen: Int): (Seq[String], Int, Int) = {
    require(values.nonEmpty && values.size <= 1024,
      s"bloom probe batch must be 1..1024 values, got ${values.size}")
    val live = livePathsAt(s, dir, gen) // memoized driver-side read (r21)
    // normally ONE segment; after a crashed rebuild that changed
    // numHashes, the newest segment per k-family — each is sound for
    // the files it covers, so a file is pruned when ANY covering
    // segment misses (intersection of admissions), and coverage from
    // the pre-crash family keeps pruning instead of being discarded
    val families = bloomFamilyDirs(dir, colName, gen)
    if (families.isEmpty) (live, 0, live.size)
    else {
      // case-insensitive like Spark's own resolution — a probe on
      // 'K' against schema field 'k' must still find the type
      val colType = schemaAt(dir, gen)
        .flatMap(_.fields.find(_.name.equalsIgnoreCase(colName)))
        .map(_.dataType)
      val tz = s.sessionState.conf.sessionLocalTimeZone
      val admitMaps = families.map { case (idxDir, _, k) =>
        val anyHit = values.map(v =>
          graft.functions.GraftFunctions.bloomColMightContain(
            "bloom", bloomProbeHash(v, colType, tz), k)).reduce(_ || _)
        s.read.parquet(idxDir)
          .select(col("path"), anyHit.as("hit"))
          .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      }
      val cands = live.filter(p => admitMaps.forall(_.getOrElse(p, true)))
      (cands, live.size - cands.size, live.size)
    }
  }

  /** Point lookup `colName = value` through the Bloom sidecar: open
    * only the candidate files, then apply the exact residual filter
    * (sketch admission is per-FILE; the row filter still runs, also
    * pushed into the parquet scan). Exact results always — with no
    * sidecar this degrades to a full (filtered) table read.
    */
  def scanEqualsBloom(s: SparkSession, dir: String, colName: String,
                      value: Any): DataFrame =
    scanEqualsBloomIn(s, dir, colName, Seq(value))

  /** Batched point lookup `colName IN (values…)`: one sidecar pass,
    * one read over the union candidate set, exact residual IN filter.
    */
  def scanEqualsBloomIn(s: SparkSession, dir: String, colName: String,
                        values: Seq[Any]): DataFrame = {
    // ONE generation for the whole probe: candidates and the
    // vector-aware read must come from the same commit (resolving the
    // head twice could pair G's file list with G+1's vector state and
    // resurrect dv-hidden rows mid-commit)
    val gen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val (cands, _, _) = bloomCandidatePathsInAt(s, dir, colName, values, gen)
    val base =
      if (cands.isEmpty) readTable(s, dir, asOf = Some(gen)).limit(0)
      else readVisible(s, dir, gen, cands)
    base.filter(col(colName).isin(values: _*))
  }

}
