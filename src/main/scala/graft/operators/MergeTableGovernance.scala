package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Governed reclamation and shared governance state: CDC retention
  * horizons, the guarded vacuum / vacuumRetaining sweeps, the
  * versioned governance CAS (_dropped_cols / _constraints) and CHECK
  * constraints. Implementation partition of [[MergeTable]] — see
  * [[MergeTableLog]]'s header note.
  */
trait MergeTableGovernance { this: MergeTable.type =>
  // ---- CDC retention horizons ----
  //
  // The retention contract ("don't vacuum past a stream's horizon")
  // used to be documentation-only: a vacuum could silently strand a
  // checkpointed stream until its next read failed. Consumers now
  // REGISTER their horizon — the oldest generation whose manifest (and
  // superseded files) a replay could still need — as one tiny file
  // per consumer (`_cdc_horizon-<consumer>`; per-consumer files, so
  // concurrent consumers never read-modify-write shared state), and
  // [[vacuum]] refuses to run while any registered horizon sits below
  // the committed generation unless forced. The graft-cdc streaming
  // source registers automatically (keyed by its checkpoint identity)
  // and advances its horizon as batches commit; pull consumers
  // ([[pollChanges]] loops) register explicitly.

  private def horizonFileOf(dir: String, consumer: String) = {
    require(consumer.matches("[A-Za-z0-9_\\-.]+"),
      s"consumer id '$consumer' must match [A-Za-z0-9_.-]+")
    // a consumer id whose file name would match the stores' EXACT
    // crash-staging nonce shape (`<final>.tmp-<pid>-<hexnanos>`,
    // [[PosixCommitStore.isStagingName]]) would be indistinguishable
    // from debris — invisible to [[cdcHorizons]] and swept by vacuum —
    // so it is refused HERE, loudly. Ids that merely CONTAIN `.tmp-`
    // (e.g. `nightly.tmp-replica`) are fine: the listing matches the
    // full nonce pattern, not the marker substring.
    require(!PosixCommitStore.isStagingName(s"_cdc_horizon-$consumer"),
      s"consumer id '$consumer' matches the stores' crash-staging nonce " +
        "pattern '.tmp-<pid>-<hexnanos>' and would read as debris")
    java.nio.file.Path.of(dir, s"_cdc_horizon-$consumer")
  }

  /** Record that `consumer` may still replay from generation `gen`
    * (atomic per-consumer write; later registrations replace earlier).
    */
  def registerCdcHorizon(dir: String, consumer: String, gen: Int): Unit =
    store(dir).putReplace(horizonFileOf(dir, consumer), s"$gen\n".getBytes("UTF-8"))

  /** Registered consumers and their horizons. A name matching the
    * stores' EXACT staging-nonce shape ([[PosixCommitStore
    * .isStagingName]] — `<final>.tmp-<pid>-<hexnanos>`) is a crashed
    * registration's debris, which this prefix filter would otherwise
    * parse as a live consumer with a frozen generation — permanently
    * tripping [[vacuum]]'s guard, which throws BEFORE the sweep that
    * cleans such debris; skipped here, reclaimed by vacuum's
    * crash-staging branch. The match is the full nonce pattern, not
    * `.tmp-` anywhere: a pre-r13 registration like
    * `nightly.tmp-replica` stays visible (and keeps refusing vacuums
    * it protects against) instead of being silently dropped and
    * swept.
    */
  def cdcHorizons(dir: String): Map[String, Int] = {
    val root = java.nio.file.Path.of(dir)
    store(dir).list(root)
      .filter(n => n.startsWith("_cdc_horizon-") &&
        !PosixCommitStore.isStagingName(n))
      .flatMap { n =>
      val c = n.stripPrefix("_cdc_horizon-")
      store(dir).read(root.resolve(n)) // None = deregistered mid-list
        .flatMap(b => new String(b, "UTF-8").trim.toIntOption).map(c -> _)
    }.toMap
  }

  /** Registered consumers with their horizon AND last-advanced wall
    * clock (the horizon file's mtime — every registration is an
    * atomic replace, so mtime IS the last advance; no format change,
    * legacy files report their real age). Horizon entries retain
    * storage FOREVER by replication-slot semantics — correctly — so
    * this is the observability an operator needs to spot an
    * ABANDONED slot (lagging horizon, old timestamp) without
    * archaeology; `table cdc-horizons` renders it with a staleness
    * flag, and [[releaseCdcHorizon]] is the decommission.
    */
  def cdcHorizonDetails(dir: String): Map[String, (Int, Long)] =
    cdcHorizons(dir).flatMap { case (c, g) =>
      // None = released mid-read
      store(dir).mtimeMillis(horizonFileOf(dir, c)).map(m => c -> (g, m))
    }

  /** Drop a consumer's registration (decommissioned stream); returns
    * whether it existed.
    */
  def releaseCdcHorizon(dir: String, consumer: String): Boolean =
    store(dir).delete(horizonFileOf(dir, consumer))

  /** Drop everything the COMMITTED manifest no longer references:
    * data files superseded by later rewrites, whole stale generation
    * dirs, and all non-current manifests. Time-travel to old
    * generations ends where vacuum begins (Delta/Iceberg's exact
    * trade); the committed generation is untouched, so readers
    * resolving the marker before/after a vacuum see identical rows.
    * Returns the deleted file count.
    *
    * CONCURRENT-WRITER safety is retention-based, Delta's VACUUM
    * semantics exactly: vacuum resolves "current" once, so a writer
    * committing MID-sweep would look stale to it — `minAgeMs` spares
    * anything modified within the window, which is precisely the
    * in-flight writer's staging and fresh commit. Run with
    * `minAgeMs` comfortably above the longest in-flight commit when
    * writers may be live; 0 (the default) is only safe quiesced.
    * UNREFERENCED index artifacts additionally honor `orphanAgeMs`
    * (default [[defaultOrphanAgeMs]]) even at `minAgeMs = 0`, so a
    * "quiesced" data vacuum racing concurrent index maintenance
    * degrades gracefully instead of deleting a builder's
    * not-yet-published segment.
    *
    * CDC-CONSUMER safety is registration-based: while any
    * [[cdcHorizons]] entry sits BELOW the committed generation, a
    * sweep would delete manifests/files that consumer's replay still
    * needs, so vacuum refuses loudly (naming the consumer) unless
    * `force = true` — catch the stream up, [[releaseCdcHorizon]] it,
    * reclaim AROUND it with [[vacuumRetaining]], or force (after
    * which the stranded stream still fails loudly at its next read,
    * as before).
    */
  def vacuum(s: SparkSession, dir: String, minAgeMs: Long = 0L,
             force: Boolean = false,
             orphanAgeMs: Long = defaultOrphanAgeMs): Int = {
    val gen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val lagging = cdcHorizons(dir).filter(_._2 < gen)
    if (lagging.nonEmpty && !force) {
      val (who, at) = lagging.minBy(_._2)
      throw new IllegalStateException(
        s"vacuum of $dir refused: ${lagging.size} registered CDC consumer(s) " +
          s"still need pre-current generations (e.g. '$who' at generation $at " +
          s"< committed $gen) — catch the stream up, releaseCdcHorizon(), " +
          "vacuumRetaining() to reclaim around them, or pass force = true to " +
          "strand them knowingly")
    }
    vacuumImpl(s, dir, minAgeMs, Set(gen), orphanAgeMs)
  }

  /** Retention-aware vacuum — the replication-slot semantic (Kafka
    * consumer groups hold log segments, Postgres slots hold WAL; a
    * lagging consumer RETAINS, it doesn't block): reclaims everything
    * no registered CDC horizon can still replay, without refusing and
    * without stranding. Keeps the manifests of every generation ≥ the
    * oldest registered horizon (plus current) and every file they
    * reference; sweeps the rest — on a table whose consumers trail by
    * a day, that reclaims all but the day. With no registered
    * horizons this IS [[vacuum]]. The stuck-consumer cost is storage
    * (visible in `table cdc-horizons`), never correctness; time
    * travel below the oldest horizon ends exactly like vacuum's.
    */
  def vacuumRetaining(s: SparkSession, dir: String, minAgeMs: Long = 0L,
                      orphanAgeMs: Long = defaultOrphanAgeMs): Int = {
    val gen = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val floor = cdcHorizons(dir).values.minOption.getOrElse(gen)
    vacuumImpl(s, dir, minAgeMs, (math.max(0, floor) to gen).toSet + gen,
      orphanAgeMs)
  }

  /** Retention floor for UNREFERENCED index artifacts (orphaned
    * `_bloomseg-` data dirs, dangling `_bloomptr` entries) — applied
    * even when `minAgeMs = 0`. Rationale: `minAgeMs = 0` is documented
    * quiesced-only for DATA sweeps, but the common operational slip is
    * a "quiesced" vacuum racing concurrent INDEX maintenance (a
    * builder's freshly written, not-yet-pointer-flipped `_bloomseg-`
    * dir is indistinguishable from a crashed build's orphan). A
    * Delta-style age floor makes that case degrade gracefully — the
    * in-flight build's dir survives, the flip lands, nothing dangles —
    * while true orphans are reclaimed by any vacuum run later than the
    * floor. Pass `orphanAgeMs = 0` to sweep fresh orphans immediately
    * (tests, or a provably quiesced maintenance window).
    */
  val defaultOrphanAgeMs: Long = 15L * 60L * 1000L

  private def vacuumImpl(s: SparkSession, dir: String, minAgeMs: Long,
                         protectedGens: Set[Int],
                         orphanAgeMs: Long): Int = {
    // the CURRENT generation is special: its manifest is the live
    // set's backbone, so a token-less log entry or an unreadable
    // manifest must ABORT the vacuum loudly — a best-effort read here
    // would silently empty `live` and the sweep would delete every
    // live data file. Best-effort applies only to NON-current
    // protected generations that an earlier (forced) vacuum already
    // swept: those protect nothing, and their consumer fails loudly
    // at read, as ever.
    val cur = committedGen(dir).getOrElse(
      sys.error(s"$dir is not a committed keyed table (no commit log)"))
    val curManifest = s"manifest-g$cur~" + metaAt(dir, cur).getOrElse("token",
      sys.error(s"commit-log entry for generation $cur lacks a token"))
    require(java.nio.file.Files.exists(java.nio.file.Path.of(s"$dir/$curManifest")),
      s"current manifest $curManifest of $dir is missing — refusing to vacuum")
    val keepManifests: Set[String] = (protectedGens - cur).flatMap { g =>
      metaAt(dir, g).get("token").map(t => s"manifest-g$g~$t")
    } + curManifest
    // deletion-vector dirs follow the manifests' lifecycle: keep every
    // segment a kept generation's meta references (a carried reference
    // may name an older generation's dirs, like manifests reference
    // older files-g dirs' files), sweep the superseded rest
    val keepDvs: Set[String] = (protectedGens + cur)
      .flatMap(g => dvSegments(dir, g))
    // governance log: only versions BELOW the current one are sweepable
    val governMax = Seq("_dropped_cols", "_constraints")
      .flatMap(b => governVersions(dir, b).maxOption.map(b -> _)).toMap
    // bloom-sidecar data dirs are published BY REFERENCE from pointer
    // files (like data files from manifests) — an unreferenced
    // `_bloomseg-` dir is a crashed build/fold/clone-copy's orphan, or
    // a replaced segment whose sweep died between pointer-delete and
    // dir-delete; either way dead weight. An IN-FLIGHT builder's
    // freshly written, not-yet-flipped dir is spared by the ORPHAN age
    // floor (max(minAgeMs, orphanAgeMs) — see [[defaultOrphanAgeMs]]),
    // which holds even for the 0-age quiesced-only data vacuum; and
    // even a builder that outlives the floor merely degrades to an
    // uncovered — sound — index, never a wrong answer.
    val bloomRefs: Set[String] = store(dir).list(bloomPtrDirOf(dir))
      .filter(!_.contains(".tmp-"))
      .flatMap(n => store(dir).read(bloomPtrOf(dir, n)))
      .map(b => new String(b, "UTF-8").trim).toSet
    // ONE batched read over every kept-and-present manifest (a
    // consumer lagging N generations must not cost N driver jobs);
    // schemas differ across generations but every manifest has
    // `path`. A CORRUPT kept manifest aborts the whole vacuum loudly
    // — conservative by design, never a silently-shrunken live set.
    val keptPresent = keepManifests.toSeq.map(n => s"$dir/$n")
      .filter(d => java.nio.file.Files.exists(java.nio.file.Path.of(d)))
    val live: Set[String] = s.read.parquet(keptPresent: _*).select("path")
      .collect()
      .map(r => java.nio.file.Path.of(java.net.URI.create(r.getString(0)))
        .toAbsolutePath.toString).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    // control-plane files may live behind the store rather than on the
    // filesystem: mtimes resolve store-first (the POSIX store reads the
    // filesystem anyway), a missing mtime reads as "too new to sweep",
    // and deletes try both homes
    def oldEnough(p: java.nio.file.Path): Boolean =
      minAgeMs <= 0L ||
        store(dir).mtimeMillis(p)
          .orElse(try Some(java.nio.file.Files.getLastModifiedTime(p).toMillis)
                  catch { case _: java.io.IOException => None })
          .exists(_ < cutoff)
    // unreferenced INDEX artifacts get their own floor (see
    // [[defaultOrphanAgeMs]]): max(minAgeMs, orphanAgeMs), so a 0-age
    // data vacuum still spares a concurrent builder's fresh dir, and a
    // missing mtime reads as "too new to sweep"
    val orphanFloor = math.max(minAgeMs, orphanAgeMs)
    val orphanCutoff = System.currentTimeMillis() - orphanFloor
    def orphanOldEnough(p: java.nio.file.Path): Boolean =
      orphanFloor <= 0L ||
        store(dir).mtimeMillis(p)
          .orElse(try Some(java.nio.file.Files.getLastModifiedTime(p).toMillis)
                  catch { case _: java.io.IOException => None })
          .exists(_ < orphanCutoff)
    def del(p: java.nio.file.Path): Boolean = {
      val a = store(dir).delete(p)
      val b = java.nio.file.Files.deleteIfExists(p)
      a || b
    }
    var deleted = 0
    val root = java.nio.file.Path.of(dir)
    val fsNames = PosixCommitStore.list(root)
    // the store may hold control files the filesystem listing can't
    // see (markers under _log/, governance versions, horizons)
    val storeNames = store(dir).list(root)
    val logVirtual =
      if (store(dir).list(logDirOf(dir)).nonEmpty) Seq("_log") else Nil
    // pointer files may live only in the store (in-memory/object
    // impls) — surface the dir to the loop the same way _log is
    val ptrVirtual =
      if (store(dir).list(bloomPtrDirOf(dir)).nonEmpty) Seq("_bloomptr") else Nil
    (fsNames ++ storeNames ++ logVirtual ++ ptrVirtual).distinct.foreach { name =>
      val p = root.resolve(name)
      // `_commit-g<N>` log entries are KEPT — they are the table's
      // history; a vacuumed generation fails loudly in manifestAt
      if (name.startsWith("manifest-g") && !keepManifests.contains(name) &&
          oldEnough(p)) {
        graft.IndexLifecycle.deleteRecursively(p.toString); deleted += 1
      } else if (name.startsWith("dv-g") && !keepDvs.contains(name) &&
          oldEnough(p)) {
        // a superseded deletion-vector dir — its generation's reads end
        // here exactly like a vacuumed manifest (dvFrameAt is loud)
        graft.IndexLifecycle.deleteRecursively(p.toString); deleted += 1
      } else if (name.startsWith("_commit.tmp") && oldEnough(p)) {
        // a crashed commit's staged log entry — never observed by readers
        del(p); deleted += 1
      } else if (((name.startsWith("_constraints") ||
          name.startsWith("_dropped_cols")) && name.contains(".tmp-") ||
          // horizon names embed USER-CHOSEN consumer ids, so only the
          // stores' exact staging-nonce shape is debris here — a
          // `.tmp-`-anywhere match would sweep a live registration
          // like `nightly.tmp-replica` (which cdcHorizons now lists)
          name.startsWith("_cdc_horizon") &&
            PosixCommitStore.isStagingName(name)) &&
          oldEnough(p)) {
        // a crashed constraint/drop-column/horizon staged file —
        // never observed by readers (checkpoint staging lives only
        // under _log/ and is swept by that branch).
        del(p); deleted += 1
      } else if (governMax.exists { case (b, mx) =>
          name.startsWith(s"$b-v") &&
            name.stripPrefix(s"$b-v").toIntOption.exists(_ < mx) } &&
          oldEnough(p)) {
        // superseded governance-log version (current one is kept)
        del(p); deleted += 1
      } else if (name.startsWith("_bloomseg-") && !bloomRefs.contains(name) &&
          orphanOldEnough(p)) {
        // an unreferenced sidecar data dir (see bloomRefs above) — on
        // the ORPHAN floor, not minAgeMs, so a concurrent builder's
        // not-yet-flipped dir survives even a 0-age vacuum
        graft.IndexLifecycle.deleteRecursively(p.toString); deleted += 1
      } else if (name == "_bloomptr") {
        // inside the pointer dir only crashed staging (`.tmp-` nonce
        // names from the POSIX store's putReplace) and DANGLING
        // pointers (target dir vacuumed/never landed) are sweepable;
        // live pointers are the index's publication record
        val ptrNames =
          (PosixCommitStore.list(p) ++ store(dir).list(p)).distinct
        ptrNames.foreach { n2 =>
          val e = p.resolve(n2)
          val dangling = !n2.contains(".tmp-") &&
            store(dir).read(e)
              .map(b => new String(b, "UTF-8").trim)
              .forall(t => t.isEmpty || !java.nio.file.Files.exists(
                java.nio.file.Path.of(dir, t)))
          // dangling pointers ride the orphan floor too: they are the
          // downstream debris of exactly the race the floor defuses
          if ((n2.contains(".tmp-") && oldEnough(e)) ||
              (dangling && orphanOldEnough(e))) {
            del(e); deleted += 1
          }
        }
      } else if (name == "_log") {
        // commit markers are NEVER swept (the table's lineage); inside
        // the log dir only crashed staging and superseded checkpoint
        // rollups go — the rollup population grows 1 per interval, so
        // vacuum bounds it to the newest two (the newest for readers,
        // one predecessor so a checkpoint writer's prev-rollup probe
        // stays O(interval) right after a vacuum)
        val logNames =
          (PosixCommitStore.list(p) ++ store(dir).list(p)).distinct
        val ckptGens = logNames
          .filter(_.matches("_checkpoint-g\\d+"))
          .map(_.stripPrefix("_checkpoint-g").toInt).sorted
        // newest two, plus whatever the pointer names (a pointer left
        // behind by failed advances must not lose its target to the
        // sweep — that would downgrade resolution to the listing path)
        val keepCkpts = ckptGens.takeRight(2).toSet ++ lastCheckpointGen(dir)
        logNames.foreach { n2 =>
          val e = p.resolve(n2)
          val sweep =
            // any `.tmp-` name is crashed staging (legacy `_commit.tmp-<t>`
            // or the POSIX store's `<final>.tmp-<n>` discipline)
            (n2.contains(".tmp-") ||
             (n2.matches("_checkpoint-g\\d+") &&
              !keepCkpts.contains(n2.stripPrefix("_checkpoint-g").toInt))) &&
            oldEnough(e)
          if (sweep) { del(e); deleted += 1 }
        }
      } else if (name.startsWith("files-g")) {
        val fs = java.nio.file.Files.list(p)
        val files = try fs.iterator().asScala.toSeq finally fs.close()
        files.foreach { f =>
          if (!live.contains(f.toAbsolutePath.toString) && oldEnough(f)) {
            java.nio.file.Files.deleteIfExists(f); deleted += 1
          }
        }
        // a generation dir emptied of data files can go entirely
        val rest = java.nio.file.Files.list(p)
        val empty = try !rest.iterator().hasNext finally rest.close()
        if (empty) java.nio.file.Files.deleteIfExists(p)
      }
    }
    deleted
  }

  // ---- governance files: versioned link(2)-CAS ----
  //
  // _dropped_cols and _constraints are tiny read-modify-write state
  // shared by concurrent writers (a merge un-retiring one name can
  // race a dropColumn retiring another; two operators can race
  // constraint edits). An atomic-replace file makes each WRITE atomic
  // but not the read-modify-write, so the loser of a race could
  // silently erase the winner's update — for _dropped_cols that means
  // a disabled byte-resurrection guard. They therefore get the commit
  // log's exact discipline: state lives in versioned files
  // `<base>-v<N>`, a writer reads the highest version, computes the
  // new content, and publishes by hard-linking to v<N+1> — link(2)
  // never replaces an existing name, so of two racing writers exactly
  // ONE wins and the loser retries its TRANSFORM on the fresh state; a
  // lost update is impossible. Old versions are left for [[vacuum]]
  // (a reader may still be mid-read). No version file yet reads as
  // version 0 with empty content.

  private def governFileOf(dir: String, base: String, v: Int) =
    java.nio.file.Path.of(dir, s"$base-v$v")

  private def governVersions(dir: String, base: String): Seq[Int] = {
    val prefix = s"$base-v"
    store(dir).list(java.nio.file.Path.of(dir)).flatMap(n =>
      if (n.startsWith(prefix)) n.stripPrefix(prefix).toIntOption else None)
  }

  /** (version, content) — highest version wins; retried when a
    * just-vacuumed version vanishes under the read.
    */
  private[operators] def governRead(dir: String, base: String): (Int, String) = {
    while (true) {
      val vs = governVersions(dir, base)
      if (vs.isEmpty) return (0, "")
      store(dir).read(governFileOf(dir, base, vs.max)) match {
        case Some(b) => return (vs.max, new String(b, "UTF-8"))
        case None    => () // swept under the read: retry
      }
    }
    sys.error("unreachable")
  }

  /** CAS-advance: apply `f` to the current content and publish via
    * the store's put-if-absent on the next version name, retrying on
    * a lost race with a FRESH read (so `f` always transforms the
    * winner's state, never a stale snapshot). Returns the published
    * content.
    */
  private[operators] def governCas(dir: String, base: String)(f: String => String): String = {
    while (true) {
      val (v, cur) = governRead(dir, base)
      val next = f(cur)
      // no-op: nothing to publish (e.g. cloning an ungoverned table
      // must not scatter empty version files)
      if (next == cur) return next
      if (store(dir).putIfAbsent(governFileOf(dir, base, v + 1),
          next.getBytes("UTF-8")))
        return next
      // lost the version CAS: retry f on the winner's state
    }
    sys.error("unreachable")
  }

  // ---- CHECK constraints ----
  //
  // Delta's table-constraint surface (ALTER TABLE ADD CONSTRAINT …
  // CHECK) on this layer: named boolean SQL expressions that every
  // mutation must uphold. ANSI CHECK semantics — a row passes when the
  // expression is TRUE or UNKNOWN (null), fails only on FALSE. NOT
  // NULL is just `c IS NOT NULL`. Enforcement reads the STAGED files
  // of the committing generation (one columnar pass over the band the
  // mutation rewrote, never the table) BEFORE the commit-log link, so
  // a violating batch leaves the table untouched at the previous
  // generation — readers never observe a constraint-breaking row.
  // [[restore]] and [[compact]] re-reference/rewrite rows that already
  // passed, so they skip the check (Delta's posture: constraints gate
  // NEW data).

  private def renderConstraints(m: Map[String, String]): String =
    if (m.isEmpty) ""
    else m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
  private def parseConstraints(dir: String, content: String): Map[String, String] =
    content.linesIterator.filter(_.nonEmpty).map { l =>
      val kv = l.split("=", 2)
      require(kv.length == 2, s"malformed _constraints line in $dir: '$l'")
      kv(0) -> kv(1)
    }.toMap

  /** Active CHECK constraints: name -> boolean SQL expression. */
  def checkConstraints(dir: String): Map[String, String] =
    parseConstraints(dir, governRead(dir, "_constraints")._2)

  private[operators] def writeConstraintsFile(dir: String, m: Map[String, String]): Unit = {
    governCas(dir, "_constraints")(_ => renderConstraints(m)); ()
  }

  /** ALTER TABLE ADD CONSTRAINT (Delta semantics): the EXISTING rows
    * must already satisfy the expression — one scan at add time, loud
    * failure with sample rows — then the constraint persists under
    * the governance CAS (the duplicate-name check re-runs inside the
    * transform, so two racing adds of one name can't both land) and
    * gates every subsequent [[merge]]/[[updateWhere]]/[[upsertSink]].
    */
  def addCheckConstraint(s: SparkSession, dir: String, name: String,
                         exprSql: String): Unit = {
    require(name.matches("[A-Za-z0-9_\\-]+"),
      s"constraint name '$name' must match [A-Za-z0-9_-]+")
    // the store is line-oriented; a multi-line expression would corrupt
    // it and brick every later mutation's checkConstraints parse
    require(!exprSql.exists(c => c == '\n' || c == '\r'),
      "constraint expression must be single-line")
    require(!checkConstraints(dir).contains(name),
      s"constraint '$name' already exists on $dir")
    val sample = readTable(s, dir)
      .filter(coalesce(expr(exprSql), lit(true)) === lit(false))
      .limit(3).collect()
    if (sample.nonEmpty) throw new IllegalStateException(
      s"cannot add CHECK constraint '$name' ($exprSql) on $dir: existing rows " +
        s"violate it, e.g. ${sample.mkString("; ")}")
    governCas(dir, "_constraints") { content =>
      val cur = parseConstraints(dir, content)
      require(!cur.contains(name), s"constraint '$name' already exists on $dir")
      renderConstraints(cur + (name -> exprSql))
    }
    ()
  }

  /** Returns whether the constraint existed. */
  def dropCheckConstraint(dir: String, name: String): Boolean = {
    var existed = false
    governCas(dir, "_constraints") { content =>
      val cur = parseConstraints(dir, content)
      existed = cur.contains(name)
      renderConstraints(cur - name)
    }
    existed
  }

  /** Validate a committing generation's staged files; on the first
    * violating constraint, delete the staged dirs and fail naming the
    * constraint + sample rows. Cost: one filter+limit job per
    * constraint over the STAGED band (columnar, ~always a small
    * fraction of the table); zero cost with no constraints.
    */
  private[operators] def enforceConstraintsStaged(s: SparkSession, dir: String,
                                       staging: String, cleanup: Seq[String],
                                       opName: String): Unit = {
    val cons = checkConstraints(dir)
    if (cons.isEmpty || !hasParquetFiles(staging)) return
    val df = s.read.parquet(staging)
    // ONE columnar pass for every constraint: tag each row with the
    // names it violates, keep any — k constraints don't cost k scans
    val viols = array(cons.toSeq.sorted.map { case (n, e) =>
      when(coalesce(expr(e), lit(true)) === lit(false), lit(n)) }: _*)
    val bad = df.withColumn("__viol", array_compact(viols))
      .filter(size(col("__viol")) > 0).limit(3).collect()
    if (bad.nonEmpty) {
      cleanup.foreach(graft.IndexLifecycle.deleteRecursively)
      val name = bad.head.getAs[scala.collection.Seq[String]]("__viol").head
      throw new IllegalStateException(
        s"$opName on $dir rejected by CHECK constraint '$name' " +
          s"(${cons(name)}); sample violating rows: ${bad.mkString("; ")}")
    }
  }

}
